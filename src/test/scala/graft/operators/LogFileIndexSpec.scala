package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Log-planned scans ([[org.apache.spark.sql.graftshim.LogFileIndex]]):
  * versioned reads plan their parquet scan from the commit log's file
  * list (path + `!bytes=` size + `!mtime=` modification time) instead
  * of re-listing the filesystem. The index must be RESULT-INVISIBLE —
  * identical rows, schema, partition typing and `_metadata` columns to
  * the listed statuses `spark.graft.log.fileIndex=false` plans with —
  * and must honor the FileSourceStrategy contract that partition
  * filters prune inside the index (they are removed from the post-scan
  * Filter). */
class LogFileIndexSpec extends SparkSpec {

  import spark.implicits._

  private def listedRead[A](body: => A): A = {
    spark.conf.set("spark.graft.log.fileIndex", "false")
    try body finally spark.conf.unset("spark.graft.log.fileIndex")
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  /** The typed-layout / evolution / rename / DV table: v1 init, v2
    * append, v3 evolving append, v4 rename (column mapping), v5 DV
    * delete. */
  private def stageTyped(): String = {
    val t = tmpDir("logidx")
    val base = (1 to 120).map { i =>
      (i.toLong, java.sql.Date.valueOf(f"2024-${i % 4 + 1}%02d-01"),
        s"r${i % 3}", i * 1.0)
    }.toDF("id", "d", "r", "v")
    TimeTravel.init(spark, t, base.filter($"id" <= 60), "d,r")
    TimeTravel.append(spark, t, base.filter($"id" > 60), "d,r")
    TimeTravel.append(spark, t,
      Seq((1000L, java.sql.Date.valueOf("2024-01-01"), "r0", 0.5, "x"))
        .toDF("id", "d", "r", "v", "note"), "d,r",
      evolveSchema = true)
    TimeTravel.renameColumn(spark, t, "v", "val")
    TimeTravel.deleteWhereDv(spark, t, $"id" % 10 === 0, "d,r")
    t
  }

  private def declarative(t: String, v: Int): DataFrame =
    spark.read.format("graft-versioned").option("path", t)
      .option("versionAsOf", v.toString).load()

  /** Every row's file identity and position, keyed by its id. */
  private def metadata(df: DataFrame): Set[String] =
    rows(df.select($"id", $"_metadata.file_path", $"_metadata.file_name",
      $"_metadata.file_size", $"_metadata.file_modification_time",
      $"_metadata.row_index"))

  test("log-planned read ≡ listed read across typed layouts, evolution, rename and DV deletes") {
    val t = stageTyped()
    val tip = TimeTravel.latestVersion(spark, t)
    for (ver <- Seq(2, tip)) {
      val logPlanned = TimeTravel.readVersion(spark, t, ver)
      val listed = listedRead(TimeTravel.readVersion(spark, t, ver))
      assert(logPlanned.schema === listed.schema, s"schema at v$ver")
      assert(rows(logPlanned) === rows(listed), s"rows at v$ver")
    }
    // typed partition values survive the log-planned parse
    assert(TimeTravel.readVersion(spark, t, tip).schema("d").dataType ===
      org.apache.spark.sql.types.DateType)
  }

  test("_metadata file path, name, size, mtime and row index ≡ listed read, on both faces and on a clone") {
    val t = stageTyped()
    val clone = tmpDir("logidx-clone")
    TimeTravel.cloneAt(spark, t, clone, 3)
    // v5's DV delete rewrites no file, so v1–v4 cover every file it
    // binds; its union with the DV anti-join exposes no `_metadata`.
    // The declarative face reads plain versions as a file relation
    // (v4's column mapping goes merge-on-read, which has none either).
    val reads: Seq[(String, () => DataFrame)] =
      (1 to 4).map(v => s"readVersion v$v" ->
        (() => TimeTravel.readVersion(spark, t, v))) ++
      (1 to 3).map(v => s"graft-versioned v$v" ->
        (() => declarative(t, v))) ++
      Seq("clone readVersion" ->
          (() => TimeTravel.readVersion(spark, clone, 1)),
        "clone graft-versioned" -> (() => declarative(clone, 1)))
    for ((what, read) <- reads) {
      val logPlanned = metadata(read())
      assert(logPlanned.nonEmpty, what)
      assert(logPlanned === metadata(listedRead(read())), what)
    }
    // the log records the real mtime: nothing reads as epoch 0
    assert(TimeTravel.readVersion(spark, t, 2)
      .select($"_metadata.file_modification_time".cast("long")).collect()
      .forall(_.getLong(0) > 0))
  }

  test("a STRING partition value \"01\" stays \"01\" on both faces with partition type inference on") {
    val t = tmpDir("logidx-infer")
    TimeTravel.init(spark, t,
      Seq((1L, "01"), (2L, "02"), (3L, "10")).toDF("id", "p"), "p")
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    spark.conf.set(key, "true")
    try {
      for (df <- Seq(TimeTravel.readVersion(spark, t, 1), declarative(t, 1),
          listedRead(TimeTravel.readVersion(spark, t, 1)),
          listedRead(declarative(t, 1)))) {
        assert(df.schema("p").dataType ===
          org.apache.spark.sql.types.StringType)
        assert(df.select($"p").as[String].collect().toSet ===
          Set("01", "02", "10"))
      }
      // reads of a committed schema leave the session conf alone
      assert(spark.conf.get(key) === "true")
    } finally spark.conf.unset(key)
  }

  test("append windows, change windows and DESCRIBE DETAIL plan from the log: no listStatus under data/") {
    val t = tmpDir("logidx-list")
    // a commit writes one file per partition value: the two appends'
    // window holds 40, past Spark's 32-path threshold for a parallel
    // listing job
    def batch(from: Long) = spark.range(from, from + 240)
      .select($"id", ($"id" % 20).cast("string").as("p"))
    TimeTravel.init(spark, t, batch(0), "p")
    TimeTravel.append(spark, t, batch(1000), "p")
    TimeTravel.append(spark, t, batch(2000), "p")
    val (appendLists, appended) =
      OpenCountingFileSystem.listings(spark, s"$t/data") {
        val df = TimeTravel.readAppendsSince(spark, t, 1)
        assert(df.inputFiles.length === 40)
        df.count()
      }
    assert(appended === 480)
    assert(appendLists === 0, s"readAppendsSince listed $appendLists times")
    val (changeLists, changed) =
      OpenCountingFileSystem.listings(spark, s"$t/data") {
        TimeTravel.readChangesSince(spark, t, 1).count()
      }
    assert(changed === 480)
    assert(changeLists === 0, s"readChangesSince listed $changeLists times")
    val (detailLists, detail) =
      OpenCountingFileSystem.listings(spark, s"$t/data") {
        TimeTravel.detail(spark, t)
      }
    assert(detail.numFiles === TimeTravel.filesAt(spark, t, 3).size)
    assert(detail.sizeBytes > 0)
    assert(detailLists === 0, s"detail listed $detailLists times")
    // the kill switch lists: the counter sees the listed statuses
    val (killLists, _) =
      OpenCountingFileSystem.listings(spark, s"$t/data") {
        listedRead(TimeTravel.detail(spark, t))
      }
    assert(killLists > 0)
  }

  test("partition filters prune INSIDE the log-backed index (FileSourceStrategy drops them from the plan)") {
    val t = tmpDir("logidx-prune")
    val base = (1 to 120).map { i =>
      (i.toLong, java.sql.Date.valueOf(f"2024-${i % 4 + 1}%02d-01"),
        s"r${i % 3}", i * 1.0)
    }.toDF("id", "d", "r", "v")
    TimeTravel.init(spark, t, base, "d,r")
    val tip = TimeTravel.readVersion(spark, t, 1)
    val filtered = tip
      .filter($"d" === java.sql.Date.valueOf("2024-02-01") && $"r" === "r1")
    assert(filtered.count() === 10) // 120 rows / 4 dates / 3 r-buckets
    filtered.collect()
    val scan = filtered.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.head
    // 12 (d, r) leaf dirs, one file each: the index must serve exactly 1
    assert(scan.metrics("numFiles").value === 1,
      s"expected the partition filter to prune to one file, " +
        s"read ${scan.metrics("numFiles").value}")
  }
}
