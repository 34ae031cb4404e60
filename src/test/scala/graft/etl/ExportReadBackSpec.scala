package graft.etl

import java.io.RandomAccessFile
import java.net.URI
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The export's read-back runs no Spark job of its own: the row count
  * comes from the written footers and the sample from a driver-side read
  * that must equal what a `limit(5)` scan of the output returns. */
class ExportReadBackSpec extends SparkSpec {

  /** four partitions of three rows whose values all encode to the same
    * length, so an uncompressed write gives four part files of one size */
  private def equalParts: DataFrame =
    spark.range(0, 12, 1, 4).selectExpr("id",
      "concat('r', lpad(cast(id AS STRING), 3, '0')) AS name",
      "CAST(id * 1.5 AS DOUBLE) AS score")

  /** six partitions of 1, 3, 5, 7, 9 and 10 rows: six part file lengths */
  private def unequalParts: DataFrame =
    spark.range(0, 60, 1, 6)
      .where("id % 10 <= 2 * floor(id / 10)").selectExpr("id",
        "concat('r', lpad(cast(id AS STRING), 3, '0')) AS name",
        "CAST(id * 1.5 AS DOUBLE) AS score")

  private val select = "SELECT id, name, score FROM climbs"

  private def export(df: DataFrame, name: String,
      singleFile: Boolean = false): ExportPipeline.Result =
    ExportPipeline.run(spark, df, GraftConfig(outputFilename = name,
      compression = "uncompressed"), select, tmpDir("graft-readback"),
      singleFile = singleFile)

  private def partFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq.filter(_.getName.startsWith("part-"))

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `body`'s result and the number of Spark jobs it started. A marker
    * job run after it flushes the listener bus: events arrive in order. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"readback-${System.nanoTime}"
    val jobs = new AtomicInteger
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == s"$group-marker" => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "export under test")
      val res = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (res, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("an export runs exactly one Spark job, with and without singleFile") {
    for (single <- Seq(false, true)) {
      val (res, jobs) = jobsOf(export(equalParts, s"jobs-$single.parquet", single))
      assert(jobs === 1, s"singleFile = $single")
      assert(res.rows === 12)
      assert(partFiles(res.outputPath).size === (if (single) 1 else 4))
    }
  }

  test("the sample equals a limit(5) scan of the output when part files " +
      "have equal or unequal lengths, unsplit and split") {
    val unequal = export(unequalParts, "lengths.parquet")
    assert(partFiles(unequal.outputPath).map(_.length).distinct.size === 6)
    assert(unequal.sample === Sinks.sample(spark.read.parquet(unequal.outputPath)))

    val res = export(equalParts, "ties.parquet")
    val lengths = partFiles(res.outputPath).map(_.length).distinct
    assert(partFiles(res.outputPath).size === 4 && lengths.size === 1, lengths)
    assert(res.sample === Sinks.sample(spark.read.parquet(res.outputPath)))
    assert(res.sample.linesIterator.size === 1 + Sinks.SampleRows)

    withConf("spark.sql.files.maxPartitionBytes" -> "128") {
      val split = export(equalParts, "split.parquet")
      val scan = spark.read.parquet(split.outputPath)
      assert(scan.rdd.getNumPartitions > 4) // every file split
      assert(split.sample === Sinks.sample(scan))
    }
  }

  test("without the vectorized reader the sample falls back to a limit(5) job") {
    withConf("spark.sql.parquet.enableVectorizedReader" -> "false") {
      val (res, jobs) = jobsOf(export(equalParts, "rowreader.parquet"))
      assert(jobs > 1) // the write, then the limit(5) scan's own jobs
      assert(res.sample === Sinks.sample(spark.read.parquet(res.outputPath)))
    }
  }

  test("footers read in one job above the discovery threshold count the " +
      "same rows as on the driver") {
    val onDriver = export(equalParts, "driver.parquet")
    val (parallel, jobs) = withConf(
        "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "0") {
      jobsOf(export(equalParts, "parallel.parquet"))
    }
    assert(jobs === 2) // the write and the footer job
    assert(parallel.rows === onDriver.rows)
    assert(parallel.rows === spark.read.parquet(parallel.outputPath).count())
  }

  test("a truncated part file fails the export") {
    val e = withConf(
        "fs.truncating.impl" -> classOf[TruncatingFileSystem].getName,
        "fs.truncating.impl.disable.cache" -> "true") {
      intercept[Exception] {
        ExportPipeline.run(spark, equalParts, GraftConfig(
          outputFilename = "cut.parquet"), select,
          "truncating://" + tmpDir("graft-truncated"))
      }
    }
    assert(e.getMessage.contains("part-") &&
      e.getMessage.contains("is not a Parquet file"), e.getMessage)
  }
}

/** The raw local filesystem under a `truncating:` scheme. It cuts the last
  * byte off every part file the job commit moves into place. */
class TruncatingFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("truncating:///")
  override def getScheme: String = "truncating"

  override def rename(src: Path, dst: Path): Boolean = {
    val ok = super.rename(src, dst)
    if (ok && dst.getName.startsWith("part-") &&
        !dst.toString.contains("_temporary")) {
      val f = new RandomAccessFile(pathToFile(dst), "rw")
      try f.setLength(f.length - 1) finally f.close()
    }
    ok
  }
}
