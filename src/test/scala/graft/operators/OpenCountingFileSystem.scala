package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path}
import org.apache.spark.sql.SparkSession

/** The `file:` filesystem, counting how often ONE file is opened on ONE
  * thread — the probe behind "a commit reads its base record once" —
  * and how often any thread lists a directory under one root — the
  * probe behind "a log-planned read lists nothing". Bound only inside
  * [[OpenCountingFileSystem.opens]] / [[OpenCountingFileSystem.listings]]. */
class OpenCountingFileSystem extends graft.io.GraftLocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    OpenCountingFileSystem.seen(f)
    super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    OpenCountingFileSystem.listed(f)
    super.listStatus(f)
  }
}

object OpenCountingFileSystem {
  /** (thread id, absolute path) being counted, if any */
  @volatile private var watched: Option[(Long, String)] = None
  /** absolute directory whose listings (itself or below) are counted */
  @volatile private var listRoot: Option[String] = None
  private val count = new AtomicInteger

  private def seen(f: Path): Unit = watched.foreach { case (tid, file) =>
    if (Thread.currentThread.getId == tid && f.toUri.getPath == file)
      count.incrementAndGet()
  }

  private def listed(f: Path): Unit = listRoot.foreach { root =>
    val p = f.toUri.getPath
    if (p == root || p.startsWith(root + "/")) count.incrementAndGet()
  }

  /** Run `body` with `file:` bound to this filesystem (uncached, so every
    * `getFileSystem` — executor tasks' included — sees the binding) and
    * return the count `arm` started, with `body`'s result. */
  private def counting[T](spark: SparkSession, arm: => Unit)(
      body: => T): (Int, T) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[OpenCountingFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    count.set(0)
    arm
    try {
      val out = body
      (count.get, out)
    } finally {
      watched = None
      listRoot = None
      saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }
  }

  /** How many times the calling thread opened `file` during `body`. */
  def opens[T](spark: SparkSession, file: String)(body: => T): (Int, T) =
    counting(spark, { watched = Some((Thread.currentThread.getId,
      new java.io.File(file).getAbsolutePath)) })(body)

  /** How many `listStatus` calls, on any thread, named `dir` or a path
    * below it during `body`. */
  def listings[T](spark: SparkSession, dir: String)(body: => T): (Int, T) =
    counting(spark,
      { listRoot = Some(new java.io.File(dir).getAbsolutePath) })(body)
}
