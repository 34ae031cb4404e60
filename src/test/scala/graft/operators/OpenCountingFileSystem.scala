package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.spark.sql.SparkSession

/** The `file:` filesystem, counting how often ONE file is opened on ONE
  * thread — the probe behind "a commit reads its base record once".
  * Bound only inside [[OpenCountingFileSystem.opens]]. */
class OpenCountingFileSystem extends graft.io.GraftLocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    OpenCountingFileSystem.seen(f)
    super.open(f, bufferSize)
  }
}

object OpenCountingFileSystem {
  /** (thread id, absolute path) being counted, if any */
  @volatile private var watched: Option[(Long, String)] = None
  private val count = new AtomicInteger

  private def seen(f: Path): Unit = watched.foreach { case (tid, file) =>
    if (Thread.currentThread.getId == tid && f.toUri.getPath == file)
      count.incrementAndGet()
  }

  /** Run `body` with `file:` bound to this filesystem (uncached, so every
    * `getFileSystem` sees the binding) and return how many times the
    * calling thread opened `file` meanwhile, with `body`'s result. */
  def opens[T](spark: SparkSession, file: String)(body: => T): (Int, T) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[OpenCountingFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    count.set(0)
    watched = Some((Thread.currentThread.getId,
      new java.io.File(file).getAbsolutePath))
    try {
      val out = body
      (count.get, out)
    } finally {
      watched = None
      saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }
  }
}
