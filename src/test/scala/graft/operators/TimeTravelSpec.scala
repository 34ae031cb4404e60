package graft.operators

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Versioned-table invariants: every committed version stays readable
  * after later commits, untouched partitions carry over by file name,
  * emptied partitions vanish from the manifest without physical deletes,
  * commits are exclusive-create, and diffs come from manifests alone. */
class TimeTravelSpec extends SparkSpec {

  import spark.implicits._

  private def stage(): String = {
    val dir = tmpDir("tt-base")
    TimeTravel.init(spark,
      dir,
      Seq((1L, "p1", 10.0), (2L, "p1", 20.0), (3L, "p2", 30.0),
        (4L, "p2", 40.0), (5L, "p3", 50.0)).toDF("id", "part", "v"),
      "part")
    dir
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("id", "part", "v").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("part"),
        r.getAs[Double]("v"))).toSet

  test("old versions stay readable and unchanged after later commits") {
    val dir = stage()
    val v1 = rows(TimeTravel.readVersion(spark, dir, 1))
    val v2 = TimeTravel.upsert(spark, dir,
      Seq((1L, "p1", 11.0), (9L, "p2", 90.0)).toDF("id", "part", "v"),
      "id", "part")
    assert(v2 === 2)
    val v3 = TimeTravel.delete(spark, dir, Seq(3L, 4L).toDF("id"),
      "id", "part")
    assert(v3 === 3)
    // v1 still reads its ORIGINAL state — the whole point
    assert(rows(TimeTravel.readVersion(spark, dir, 1)) === v1)
    assert(rows(TimeTravel.readVersion(spark, dir, 2)) ===
      v1 - ((1L, "p1", 10.0)) + ((1L, "p1", 11.0)) + ((9L, "p2", 90.0)))
    assert(rows(TimeTravel.readVersion(spark, dir, 3)) ===
      Set((1L, "p1", 11.0), (2L, "p1", 20.0), (9L, "p2", 90.0),
        (5L, "p3", 50.0)))
    assert(TimeTravel.latestVersion(spark, dir) === 3)
  }

  test("untouched partitions carry over by file NAME; nothing is physically deleted") {
    val dir = stage()
    TimeTravel.upsert(spark, dir,
      Seq((1L, "p1", 11.0)).toDF("id", "part", "v"), "id", "part")
    val m1 = TimeTravel.filesAt(spark, dir, 1).toSet
    val m2 = TimeTravel.filesAt(spark, dir, 2).toSet
    // p2/p3 files identical entries across versions; p1 files replaced
    assert(m1.filterNot(_.startsWith("part=p1/"))
      === m2.filterNot(_.startsWith("part=p1/")))
    assert(m1.filter(_.startsWith("part=p1/"))
      .intersect(m2.filter(_.startsWith("part=p1/"))).isEmpty)
    // every v1 file still exists on disk (no vacuum)
    m1.foreach(f => assert(Files.exists(Paths.get(dir, "data", f)), f))
  }

  test("a commit lists ONLY the affected partition dirs and logs a batch-bounded delta") {
    // many partitions, one touched: the O(files touched) commit contract
    val dir = tmpDir("tt-scoped")
    TimeTravel.init(spark, dir,
      (1 to 40).map(i => (i.toLong, s"p${i % 20}", i.toDouble))
        .toDF("id", "part", "v"), "part")
    TimeTravel.upsert(spark, dir,
      Seq((1L, "p1", 111.0)).toDF("id", "part", "v"), "id", "part")
    val stats = TimeTravel.lastCommitStats(dir).get
    assert(stats.version === 2)
    // discovery never left the affected directory — 1 of 20 partitions
    assert(stats.dirsListed === Set("part=p1"))
    // v2's commit record is a DELTA naming only p1's files, not a full
    // 20-partition manifest
    assert(!Files.exists(Paths.get(dir, "_graft_log", "2.manifest")))
    val delta = Files.readAllLines(Paths.get(dir, "_graft_log", "2.delta"))
      .stream.toArray.map(_.toString)
    // file lines name only p1; '#' lines are commit metadata (schema/txn)
    val fileLines = delta.filterNot(_.startsWith("#"))
    assert(fileLines.nonEmpty)
    assert(fileLines.forall(l => (l.startsWith("+") || l.startsWith("-"))
      && l.tail.startsWith("part=p1/")), delta.mkString(","))
    assert(stats.nAdded === fileLines.count(_.startsWith("+")))
    assert(stats.nRemoved === fileLines.count(_.startsWith("-")))
    // and the resolved version is still exactly right
    assert(TimeTravel.readVersion(spark, dir, 2)
      .filter(col("id") === 1L).select("v").as[Double].head() === 111.0)
    assert(TimeTravel.readVersion(spark, dir, 2).count() === 40)
  }

  test("checkpoint cadence: every 10th version gets a full manifest; resolution replays deltas from the nearest checkpoint") {
    val dir = tmpDir("tt-ckpt")
    TimeTravel.init(spark, dir,
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "part", "v"), "part")
    (2 to 12).foreach { i =>
      TimeTravel.upsert(spark, dir,
        Seq((1L, "a", i.toDouble)).toDF("id", "part", "v"), "id", "part")
    }
    assert(TimeTravel.latestVersion(spark, dir) === 12)
    def hasManifest(v: Int) =
      Files.exists(Paths.get(dir, "_graft_log", s"$v.manifest"))
    def hasDelta(v: Int) =
      Files.exists(Paths.get(dir, "_graft_log", s"$v.delta"))
    assert(hasManifest(1) && !hasDelta(1))      // init = first checkpoint
    assert(hasManifest(10) && hasDelta(10))     // cadence checkpoint
    assert((2 to 12).filter(_ != 10).forall(v => hasDelta(v) && !hasManifest(v)))
    // v11/v12 resolve through checkpoint 10, and every version is exact
    (1 to 12).foreach { v =>
      val expect = if (v == 1) 1.0 else v.toDouble
      assert(rows(TimeTravel.readVersion(spark, dir, v))
        === Set((1L, "a", expect), (2L, "b", 2.0)), s"version $v")
    }
  }

  test("emptying a partition drops it from the manifest only; key moves leave no stale copy") {
    val dir = stage()
    // move 5 (p3's only row) to p1: p3 empties in v2
    TimeTravel.upsert(spark, dir,
      Seq((5L, "p1", 55.0)).toDF("id", "part", "v"), "id", "part")
    val v2 = TimeTravel.readVersion(spark, dir, 2)
    assert(rows(v2).count(_._1 == 5L) === 1)
    assert(v2.filter(col("part") === "p3").count() === 0)
    // v1 still sees p3
    assert(TimeTravel.readVersion(spark, dir, 1)
      .filter(col("part") === "p3").count() === 1)
    // delete every p2 row: p2 gone from v3, present in v1/v2
    TimeTravel.delete(spark, dir, Seq(3L, 4L).toDF("id"), "id", "part")
    assert(TimeTravel.readVersion(spark, dir, 3)
      .filter(col("part") === "p2").count() === 0)
    assert(TimeTravel.readVersion(spark, dir, 2)
      .filter(col("part") === "p2").count() === 2)
  }

  test("no-op delete commits nothing; double init and replayed commits fail") {
    val dir = stage()
    assert(TimeTravel.delete(spark, dir, Seq(99L).toDF("id"),
      "id", "part") === 1)
    assert(TimeTravel.latestVersion(spark, dir) === 1)
    intercept[IllegalArgumentException] {
      TimeTravel.init(spark, dir, Seq((1L, "p1", 1.0)).toDF("id", "part", "v"),
        "part")
    }
    // exclusive create: a manifest for an existing version can't be
    // re-committed (simulate the losing writer directly on the log)
    intercept[java.io.IOException] {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.create(new org.apache.hadoop.fs.Path(dir, "_graft_log/1.manifest"),
        false).close()
    }
  }

  test("NULL partition values are rejected before any commit") {
    val dir = stage()
    intercept[IllegalArgumentException] {
      TimeTravel.upsert(spark, dir,
        Seq[(java.lang.Long, String, java.lang.Double)]((7L, null, 7.0))
          .toDF("id", "part", "v"), "id", "part")
    }
    assert(TimeTravel.latestVersion(spark, dir) === 1)
    // NULLs refused at CREATION too: such rows could never be touched by
    // the (NULL-rejecting) upsert/delete paths again
    intercept[IllegalArgumentException] {
      TimeTravel.init(spark, tmpDir("tt-null-init"),
        Seq[(java.lang.Long, String, java.lang.Double)]((1L, null, 1.0))
          .toDF("id", "part", "v"), "part")
    }
  }

  test("path-escaped partition values: a key moved out of or deleted from such a partition leaves no stale row") {
    val dir = tmpDir("tt-escaped-part")
    TimeTravel.init(spark, dir,
      Seq((1L, "a b:c", 1.0), (2L, "plain", 2.0), (3L, "x/y", 3.0))
        .toDF("id", "part", "v"), "part")
    // ':' and '/' are stored under escaped directory names
    val escaped = TimeTravel.filesAt(spark, dir, 1)
      .filterNot(_.startsWith("part=plain/"))
    assert(escaped.size === 2 && escaped.forall(_.contains("%")), escaped)
    // move id=1 out of 'a b:c' (its only row): it must surface once
    val v2 = TimeTravel.upsert(spark, dir,
      Seq((1L, "plain", 11.0)).toDF("id", "part", "v"), "id", "part")
    assert(TimeTravel.readVersion(spark, dir, v2).count() === 3)
    assert(rows(TimeTravel.readVersion(spark, dir, v2)) ===
      Set((1L, "plain", 11.0), (2L, "plain", 2.0), (3L, "x/y", 3.0)))
    // delete id=3, the only row of 'x/y'
    val v3 = TimeTravel.delete(spark, dir, Seq(3L).toDF("id"), "id", "part")
    assert(rows(TimeTravel.readVersion(spark, dir, v3)) ===
      Set((1L, "plain", 11.0), (2L, "plain", 2.0)))
    // both emptied escaped partitions are gone from the latest version
    assert(TimeTravel.filesAt(spark, dir, v3).forall(_.startsWith("part=plain/")))
  }

  test("upserting the same batch twice gives the same latest content") {
    val dir = stage()
    val ups = Seq((2L, "p1", 22.0), (8L, "p3", 80.0)).toDF("id", "part", "v")
    def upsertAndRead() = TimeTravel.readVersion(spark, dir,
        TimeTravel.upsert(spark, dir, ups, "id", "part"))
      .orderBy("id").collect().toSeq
    val first = upsertAndRead()
    assert(upsertAndRead() === first)
    assert(first.map(_.getAs[Long]("id")) === Seq(1L, 2L, 3L, 4L, 5L, 8L))
  }

  test("a delete rewrites only the partition holding a doomed key") {
    val dir = stage()
    TimeTravel.delete(spark, dir, Seq(1L).toDF("id"), "id", "part")
    assert(TimeTravel.lastCommitStats(dir).get.dirsListed === Set("part=p1"))
    assert(rows(TimeTravel.readVersion(spark, dir, 2)) ===
      Set((2L, "p1", 20.0), (3L, "p2", 30.0), (4L, "p2", 40.0),
        (5L, "p3", 50.0)))
    // p2/p3 carry over by file name
    def untouched(v: Int) =
      TimeTravel.filesAt(spark, dir, v).filterNot(_.startsWith("part=p1/"))
    assert(untouched(2) === untouched(1))
  }

  test("a delete that empties an INT-typed partition drops it from the latest version") {
    val dir = tmpDir("tt-int-delete")
    TimeTravel.init(spark, dir,
      Seq((1L, 0, 1.0), (2L, 1, 2.0), (3L, 1, 3.0)).toDF("id", "part", "v"),
      "part")
    TimeTravel.delete(spark, dir, Seq(2L).toDF("id"), "id", "part")
    val v3 = TimeTravel.delete(spark, dir, Seq(1L).toDF("id"), "id", "part")
    val latest = TimeTravel.readVersion(spark, dir, v3)
    assert(latest.select("id", "part").as[(Long, Int)].collect().toSeq
      === Seq((3L, 1)))
    assert(TimeTravel.filesAt(spark, dir, v3).forall(_.startsWith("part=1/")))
  }

  test("an upsert batch with a NULL in any component of a composite partition is refused before any commit") {
    val dir = tmpDir("tt-null-composite")
    TimeTravel.init(spark, dir,
      Seq((1L, "a", "x", 1.0)).toDF("id", "r", "s", "v"), "r,s")
    val ex = intercept[IllegalArgumentException] {
      TimeTravel.upsert(spark, dir,
        Seq[(Long, String, String, Double)]((2L, "a", null, 2.0))
          .toDF("id", "r", "s", "v"), "id", "r,s")
    }
    assert(ex.getMessage.contains("NULL value in partition column 's'"))
    assert(TimeTravel.latestVersion(spark, dir) === 1)
  }

  test("an upsert landing only in brand-new partitions commits adds and rewrites nothing") {
    val dir = stage()
    val v2 = TimeTravel.upsert(spark, dir,
      Seq((7L, "p7", 70.0), (8L, "p8", 80.0)).toDF("id", "part", "v"),
      "id", "part")
    val stats = TimeTravel.lastCommitStats(dir).get
    assert(stats.nRemoved === 0)
    assert(TimeTravel.filesAt(spark, dir, 1).toSet
      .subsetOf(TimeTravel.filesAt(spark, dir, v2).toSet))
    assert(rows(TimeTravel.readVersion(spark, dir, v2)) ===
      rows(TimeTravel.readVersion(spark, dir, 1)) + ((7L, "p7", 70.0)) +
        ((8L, "p8", 80.0)))
  }

  test("numeric-looking STRING partition values round-trip (no inference rewrite)") {
    // '01' must NOT be read back as int 1: the manifest matcher works on
    // directory text, and a re-rendered 'part=1' would miss 'part=01/'
    // entries — stale rows would survive a delete
    val dir = tmpDir("tt-numeric-part")
    TimeTravel.init(spark, dir,
      Seq((1L, "01", 1.0), (2L, "01", 2.0), (3L, "2", 3.0))
        .toDF("id", "part", "v"), "part")
    TimeTravel.delete(spark, dir, Seq(1L).toDF("id"), "id", "part")
    val v2 = rows(TimeTravel.readVersion(spark, dir, 2))
    assert(v2 === Set((2L, "01", 2.0), (3L, "2", 3.0)))
    // and an update in the zero-padded partition replaces, not duplicates
    TimeTravel.upsert(spark, dir,
      Seq((2L, "01", 22.0)).toDF("id", "part", "v"), "id", "part")
    assert(rows(TimeTravel.readVersion(spark, dir, 3))
      === Set((2L, "01", 22.0), (3L, "2", 3.0)))
    // integral partition values render canonical dir text and are
    // ACCEPTED (round 15 lifted the STRING-only rule); float text is
    // non-canonical and stays refused
    val intPart = tmpDir("tt-int-part")
    TimeTravel.init(spark, intPart,
      Seq((1L, 1, 1.0)).toDF("id", "part", "v"), "part")
    assert(TimeTravel.readVersion(spark, intPart, 1).count() === 1)
    intercept[IllegalArgumentException] {
      TimeTravel.init(spark, tmpDir("tt-float-part"),
        Seq((1L, 1.5f, 1.0)).toDF("id", "part", "v"), "part")
    }
  }

  test("a commit that would empty the table is refused; the table stays intact") {
    val dir = tmpDir("tt-empty-del")
    TimeTravel.init(spark, dir,
      Seq((1L, "p1", 1.0), (2L, "p2", 2.0)).toDF("id", "part", "v"), "part")
    val ex = intercept[IllegalArgumentException] {
      TimeTravel.delete(spark, dir, Seq(1L, 2L).toDF("id"), "id", "part")
    }
    assert(ex.getMessage.contains("empty the table"))
    // no bricked latest version: v1 still serves and commits still work
    assert(TimeTravel.latestVersion(spark, dir) === 1)
    assert(rows(TimeTravel.readVersion(spark, dir, 1)).size === 2)
    assert(TimeTravel.delete(spark, dir, Seq(1L).toDF("id"),
      "id", "part") === 2)
    // an EMPTY upsert batch is a no-op, not a duplicate commit
    assert(TimeTravel.upsert(spark, dir,
      Seq.empty[(Long, String, Double)].toDF("id", "part", "v"),
      "id", "part") === 2)
  }

  test("vacuum reclaims only files no retained version references") {
    val dir = stage()
    TimeTravel.upsert(spark, dir,
      Seq((1L, "p1", 11.0)).toDF("id", "part", "v"), "id", "part") // v2: p1 rewritten
    TimeTravel.delete(spark, dir, Seq(3L).toDF("id"), "id", "part") // v3: p2 rewritten
    val v2Rows = TimeTravel.readVersion(spark, dir, 2)
      .orderBy("id").collect().toSeq
    val filesBefore = Files.walk(Paths.get(dir, "data")).iterator().asScala
      .count(_.toString.endsWith(".parquet"))
    val (deleted, dropped) = TimeTravel.vacuum(spark, dir, keepFrom = 2)
    assert(dropped === 1) // v1's manifest gone
    assert(deleted > 0)   // v1's p1 files were only referenced by v1
    // retained versions fully intact
    assert(TimeTravel.readVersion(spark, dir, 2)
      .orderBy("id").collect().toSeq === v2Rows)
    assert(TimeTravel.readVersion(spark, dir, 3).count() === 4)
    // v1 now fails LOUDLY, not with silent partial data
    intercept[IllegalArgumentException] {
      TimeTravel.readVersion(spark, dir, 1)
    }
    // disk now holds exactly the union of retained versions' file sets
    val retained = (2 to 3).flatMap(v =>
      TimeTravel.filesAt(spark, dir, v)).toSet
    val onDisk = Files.walk(Paths.get(dir, "data")).iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .map(p => Paths.get(dir, "data").relativize(p).toString).toSet
    assert(onDisk === retained)
    assert(onDisk.size < filesBefore)
    // vacuuming at the floor that keeps everything is a no-op
    assert(TimeTravel.vacuum(spark, dir, keepFrom = 2) === ((0, 0)))
  }

  test("init with an empty DataFrame is refused and does not brick the table dir") {
    val dir = tmpDir("tt-empty-init")
    val ex = intercept[IllegalArgumentException] {
      TimeTravel.init(spark, dir,
        Seq.empty[(Long, String, Double)].toDF("id", "part", "v"), "part")
    }
    assert(ex.getMessage.contains("EMPTY"))
    // no v1 manifest landed: the dir is still initializable for real
    assert(TimeTravel.latestVersion(spark, dir) === 0)
    assert(TimeTravel.init(spark, dir,
      Seq((1L, "p1", 1.0)).toDF("id", "part", "v"), "part") === 1)
    assert(rows(TimeTravel.readVersion(spark, dir, 1))
      === Set((1L, "p1", 1.0)))
  }

  test("append commits only adds (no read-back, no removes); duplicate files never") {
    val dir = stage()
    val v2 = TimeTravel.append(spark, dir,
      Seq((10L, "p1", 100.0), (11L, "p9", 110.0)).toDF("id", "part", "v"),
      "part")
    assert(v2 === 2)
    val stats = TimeTravel.lastCommitStats(dir).get
    assert(stats.nRemoved === 0)
    assert(stats.dirsListed === Set("part=p1", "part=p9")) // incl. brand-new dir
    assert(rows(TimeTravel.readVersion(spark, dir, 2))
      === rows(TimeTravel.readVersion(spark, dir, 1))
        + ((10L, "p1", 100.0)) + ((11L, "p9", 110.0)))
    // v1's p1 files carried over by NAME (append never rewrites)
    assert(TimeTravel.filesAt(spark, dir, 1).toSet
      .subsetOf(TimeTravel.filesAt(spark, dir, 2).toSet))
    // empty batch: no commit
    assert(TimeTravel.append(spark, dir,
      Seq.empty[(Long, String, Double)].toDF("id", "part", "v"),
      "part") === 2)
  }

  test("txn markers ride inside commit records; lastCommittedTxn reads the per-stream high-water mark") {
    val dir = stage()
    val batch = Seq((10L, "p1", 100.0)).toDF("id", "part", "v")
    assert(TimeTravel.lastCommittedTxn(spark, dir, "ckpt-A") === None)
    val v2 = TimeTravel.append(spark, dir, batch, "part",
      txn = Some("ckpt-A" -> 0L))
    assert(v2 === 2)
    // the marker is IN the delta (atomic with the commit), invisible to
    // file resolution, and scoped to its stream id
    assert(Files.readAllLines(Paths.get(dir, "_graft_log", "2.delta"))
      .stream.toArray.map(_.toString).count(_.startsWith("#txn=")) === 1)
    assert(TimeTravel.lastCommittedTxn(spark, dir, "ckpt-A") === Some(0L))
    assert(TimeTravel.lastCommittedTxn(spark, dir, "ckpt-B") === None)
    assert(TimeTravel.readVersion(spark, dir, 2).count() === 6)
    // later batches advance the watermark; init can carry one too (the
    // stream's very first batch creates the table)
    TimeTravel.append(spark, dir, batch, "part", txn = Some("ckpt-A" -> 3L))
    assert(TimeTravel.lastCommittedTxn(spark, dir, "ckpt-A") === Some(3L))
    val d2 = tmpDir("tt-txn-init")
    TimeTravel.init(spark, d2, batch, "part", txn = Some("ck" -> 0L))
    assert(TimeTravel.lastCommittedTxn(spark, d2, "ck") === Some(0L))
    assert(rows(TimeTravel.readVersion(spark, d2, 1))
      === Set((10L, "p1", 100.0)))
  }

  test("schema evolution: widening commits record the schema in the log; old versions keep THEIR columns") {
    val dir = stage()
    val widened = Seq((1L, "p1", 11.0, "gold"))
      .toDF("id", "part", "v", "tier")
    // default contract: a differing batch schema is refused with guidance
    val ex = intercept[IllegalArgumentException] {
      TimeTravel.upsert(spark, dir, widened, "id", "part")
    }
    assert(ex.getMessage.contains("evolveSchema"))
    // opt-in evolution: columns can be ADDED
    val v2 = TimeTravel.upsert(spark, dir, widened, "id", "part",
      evolveSchema = true)
    val r2 = TimeTravel.readVersion(spark, dir, v2)
    assert(r2.columns.toSet === Set("id", "part", "v", "tier"))
    val tiers = r2.select("id", "tier").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(tiers(1L) === Some("gold"))
    assert(tiers(5L) === None) // p3 untouched: v1's file, NULL-filled
    // schema TIME TRAVEL: v1 reads with its ORIGINAL columns, not the union
    assert(TimeTravel.readVersion(spark, dir, 1).columns.toSet
      === Set("id", "part", "v"))
    // never dropped or retyped — even under evolveSchema
    intercept[IllegalArgumentException] {
      TimeTravel.append(spark, dir, Seq((9L, "p1")).toDF("id", "part"),
        "part", evolveSchema = true)
    }
    // compact consolidates MIXED-schema files under the committed schema
    TimeTravel.append(spark, dir,
      Seq((20L, "p3", 3.0, "silver")).toDF("id", "part", "v", "tier"),
      "part")
    val vc = TimeTravel.compact(spark, dir, "part")
    val rc = TimeTravel.readVersion(spark, dir, vc)
    assert(rc.filter(col("id") === 5L).select("tier")
      .collect().head.isNullAt(0))
    assert(rc.filter(col("id") === 20L).select("tier")
      .as[String].head() === "silver")
    // the schema survives a vacuum (floor checkpoint carries it)
    TimeTravel.vacuum(spark, dir, keepFrom = vc)
    assert(TimeTravel.readVersion(spark, dir, vc).columns.toSet
      === Set("id", "part", "v", "tier"))
    assert(rows(TimeTravel.readVersion(spark, dir, vc).drop("tier")).size === 6)
  }

  test("history lists commits newest-first; txn high-water marks survive vacuum via the floor checkpoint") {
    val dir = stage()
    TimeTravel.append(spark, dir,
      Seq((10L, "p1", 1.0)).toDF("id", "part", "v"), "part",
      txn = Some("s" -> 5L))
    TimeTravel.delete(spark, dir, Seq(2L).toDF("id"), "id", "part")
    val h = TimeTravel.history(spark, dir)
    assert(h.map(_.version) === Seq(3, 2, 1))
    assert(h.find(_.version == 2).get.txns === Seq("s" -> 5L))
    assert(h.find(_.version == 1).get.checkpointed)
    assert(h.find(_.version == 3).get.nRemoved > 0)
    // vacuum past the marker's own record: the floor checkpoint carries
    // the stream's high-water mark, so a restarting append stream still
    // sees its last committed batch
    TimeTravel.vacuum(spark, dir, keepFrom = 3)
    assert(TimeTravel.lastCommittedTxn(spark, dir, "s") === Some(5L))
    assert(TimeTravel.lastCommittedTxn(spark, dir, "other") === None)
    assert(TimeTravel.history(spark, dir).map(_.version) === Seq(3))
  }

  test("vacuum at a CADENCE-checkpoint floor still carries txn marks and the original commit time") {
    val dir = stage() // v1
    // nine appends drive the table to v10 — the cadence-checkpoint
    // version (checkpointEvery = 10), whose manifest was written at
    // commit time with NO txn marks
    (0 to 8).foreach { b =>
      TimeTravel.append(spark, dir,
        Seq((100L + b, "p1", b.toDouble)).toDF("id", "part", "v"),
        "part", txn = Some("ck" -> b.toLong))
    }
    assert(TimeTravel.latestVersion(spark, dir) === 10)
    val pre = TimeTravel.history(spark, dir).find(_.version == 10).get
    assert(pre.checkpointed) // the cadence checkpoint exists
    val t10 = pre.timestampMs.get
    TimeTravel.vacuum(spark, dir, keepFrom = 10)
    // the stream's high-water mark survived the drop of v2..v9's records
    assert(TimeTravel.lastCommittedTxn(spark, dir, "ck") === Some(8L))
    // ...and the floor kept its ORIGINAL wall-clock: pre-vacuum
    // timestamps still resolve instead of being rewritten to vacuum time
    assert(TimeTravel.versionAsOf(spark, dir, t10) === 10)
    val post = TimeTravel.history(spark, dir).find(_.version == 10).get
    assert(post.timestampMs === Some(t10))
    assert(post.txns.contains("ck" -> 8L))
    assert(rows(TimeTravel.readVersion(spark, dir, 10)).size === 14)
  }

  test("insert-only change feed: windows compose, compaction delivers nothing, rewrites refuse") {
    val dir = stage() // v1: 5 rows
    TimeTravel.append(spark, dir,
      Seq((10L, "p1", 1.0), (11L, "p2", 2.0)).toDF("id", "part", "v"),
      "part") // v2
    TimeTravel.append(spark, dir,
      Seq((12L, "p1", 3.0)).toDF("id", "part", "v"), "part") // v3
    val vc = TimeTravel.compact(spark, dir, "part") // v4: p1 had 3 files
    assert(vc === 4)
    TimeTravel.append(spark, dir,
      Seq((13L, "p3", 4.0)).toDF("id", "part", "v"), "part") // v5
    val appended = Set((10L, "p1", 1.0), (11L, "p2", 2.0),
      (12L, "p1", 3.0), (13L, "p3", 4.0))
    // the full window delivers exactly the appended rows — the compact
    // commit's (rewritten, already-delivered) adds are skipped
    assert(rows(TimeTravel.readAppendsSince(spark, dir, 1)) === appended)
    // windows COMPOSE: (1,3] ++ (3,5] = (1,5]
    assert(rows(TimeTravel.readAppendsSince(spark, dir, 1, 3)) ++
      rows(TimeTravel.readAppendsSince(spark, dir, 3)) === appended)
    // an empty window is empty, typed by the logged schema
    val empty = TimeTravel.readAppendsSince(spark, dir, 5)
    assert(empty.columns.toSet === Set("id", "part", "v"))
    assert(empty.isEmpty)
    // a rewrite commit inside the window refuses loudly
    TimeTravel.upsert(spark, dir,
      Seq((10L, "p1", 9.0)).toDF("id", "part", "v"), "id", "part") // v6
    val ex = intercept[IllegalArgumentException] {
      TimeTravel.readAppendsSince(spark, dir, 5).collect()
    }
    assert(ex.getMessage.contains("upsert"))
    // ...but a window that STOPS before it still reads
    assert(rows(TimeTravel.readAppendsSince(spark, dir, 4, 5))
      === Set((13L, "p3", 4.0)))
    // a vacuumed-away record in the window refuses loudly
    TimeTravel.vacuum(spark, dir, keepFrom = 6)
    val ex2 = intercept[IllegalArgumentException] {
      TimeTravel.readAppendsSince(spark, dir, 1, 5)
    }
    assert(ex2.getMessage.contains("vacuumed"))
  }

  test("versionAsOf resolves the latest commit at or before a timestamp") {
    val dir = stage()
    Thread.sleep(5)
    TimeTravel.append(spark, dir,
      Seq((10L, "p1", 1.0)).toDF("id", "part", "v"), "part")
    Thread.sleep(5)
    TimeTravel.append(spark, dir,
      Seq((11L, "p2", 2.0)).toDF("id", "part", "v"), "part")
    val h = TimeTravel.history(spark, dir).reverse // oldest first
    assert(h.flatMap(_.timestampMs).size === 3)
    val Seq(t1, t2, t3) = h.flatMap(_.timestampMs)
    assert(t1 <= t2 && t2 <= t3)
    intercept[IllegalArgumentException] {
      TimeTravel.versionAsOf(spark, dir, t1 - 1) // before every commit
    }
    // the Option face distinguishes PRE-HISTORY (None — the streaming
    // source's sinceTimestamp maps it to cursor 1) from a damaged or
    // uninitialized log (still throws — never silently "start from v1")
    assert(TimeTravel.versionAsOfOption(spark, dir, t1 - 1).isEmpty)
    assert(TimeTravel.versionAsOfOption(spark, dir, t3) === Some(3))
    intercept[IllegalArgumentException] {
      TimeTravel.versionAsOfOption(spark, tmpDir("vaoo-empty"), t1)
    }
    assert(TimeTravel.versionAsOf(spark, dir, t1) === 1 || t2 === t1)
    assert(TimeTravel.versionAsOf(spark, dir, t3) === 3)
    assert(TimeTravel.versionAsOf(spark, dir, t3 + 60000) === 3)
    // between v2 and v3 (when the clock separates them): exactly v2
    if (t3 > t2)
      assert(TimeTravel.versionAsOf(spark, dir, t3 - 1) === 2)
    // op kinds are recorded
    assert(h.map(_.op) === Seq(Some("init"), Some("append"),
      Some("append")))
  }

  test("compact consolidates fragmented partitions in a NEW commit; content and history intact") {
    val dir = tmpDir("tt-compact")
    TimeTravel.init(spark, dir,
      Seq((1L, "p1", 1.0), (2L, "p2", 2.0)).toDF("id", "part", "v"), "part")
    // three appends land three separate file sets into p1 (the
    // per-micro-batch small-file pattern of an insert-only stream)
    (1 to 3).foreach { i =>
      TimeTravel.append(spark, dir,
        Seq((10L + i, "p1", 10.0 * i)).toDF("id", "part", "v"), "part")
    }
    val v4 = rows(TimeTravel.readVersion(spark, dir, 4))
    def p1Files(v: Int) = TimeTravel.filesAt(spark, dir, v)
      .count(_.startsWith("part=p1/"))
    assert(p1Files(4) > 1) // genuinely fragmented before
    val v5 = TimeTravel.compact(spark, dir, "part")
    assert(v5 === 5)
    assert(p1Files(5) === 1) // consolidated after
    // content identity, untouched partition carried by name, history alive
    assert(rows(TimeTravel.readVersion(spark, dir, 5)) === v4)
    assert(TimeTravel.filesAt(spark, dir, 5).filter(_.startsWith("part=p2/"))
      === TimeTravel.filesAt(spark, dir, 1).filter(_.startsWith("part=p2/")))
    assert(rows(TimeTravel.readVersion(spark, dir, 4)) === v4)
    assert(TimeTravel.lastCommitStats(dir).get.dirsListed === Set("part=p1"))
    // already-compact: no-op, no new version
    assert(TimeTravel.compact(spark, dir, "part") === 5)
    assert(TimeTravel.latestVersion(spark, dir) === 5)
    // the freed small files reclaim under the normal retention rule
    val (deleted, _) = TimeTravel.vacuum(spark, dir, keepFrom = 5)
    assert(deleted > 0)
    assert(rows(TimeTravel.readVersion(spark, dir, 5)) === v4)
  }

  test("a backfill-scale key set degrades to a shuffle join (no broadcast hint) with identical results") {
    // the hint is present under the limit and absent above it
    val keys = Seq(1L, 2L).toDF("id")
    def hasHint(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.nonEmpty
    assert(hasHint(Merge.gateBroadcast(keys, limit = 10, upperBound = 2L)))
    assert(!hasHint(Merge.gateBroadcast(keys, limit = 1, upperBound = 2L)))
    // end-to-end: forcing the shuffle path produces the same versions
    val bDir = stage(); val sDir = stage()
    val ups = Seq((1L, "p1", 11.0), (9L, "p2", 90.0)).toDF("id", "part", "v")
    TimeTravel.upsert(spark, bDir, ups, "id", "part")
    TimeTravel.delete(spark, bDir, Seq(3L).toDF("id"), "id", "part")
    TimeTravel.upsert(spark, sDir, ups, "id", "part", broadcastKeyLimit = 0L)
    TimeTravel.delete(spark, sDir, Seq(3L).toDF("id"), "id", "part",
      broadcastKeyLimit = 0L)
    (1 to 3).foreach { v =>
      assert(rows(TimeTravel.readVersion(spark, bDir, v))
        === rows(TimeTravel.readVersion(spark, sDir, v)), s"version $v")
    }
  }

  test("restore rolls the tip back to an earlier version's exact content " +
      "as a NEW commit — pure metadata, history intact") {
    val dir = stage()
    val v1Rows = rows(TimeTravel.readVersion(spark, dir, 1))
    TimeTravel.upsert(spark, dir,
      Seq((1L, "p1", 11.0)).toDF("id", "part", "v"), "id", "part") // v2
    TimeTravel.delete(spark, dir, Seq(3L).toDF("id"), "id", "part") // v3
    TimeTravel.append(spark, dir,
      Seq((9L, "p2", 90.0)).toDF("id", "part", "v"), "part") // v4
    val fs = TimeTravel.hadoopFs(spark, dir)
    val diskBefore = TimeTravel.listDataFiles(spark, fs, dir)
    val v5 = TimeTravel.restore(spark, dir, 1)
    assert(v5 === 5)
    // tip content and file set are exactly v1's again
    assert(rows(TimeTravel.readVersion(spark, dir, 5)) === v1Rows)
    assert(TimeTravel.filesAt(spark, dir, 5).toSet ===
      TimeTravel.filesAt(spark, dir, 1).toSet)
    // metadata-only: not one data file written
    assert(TimeTravel.listDataFiles(spark, fs, dir) === diskBefore)
    // the mistake stays in the log, readable
    assert(TimeTravel.history(spark, dir).head.op.contains("restore"))
    assert(rows(TimeTravel.readVersion(spark, dir, 4)).contains(
      (9L, "p2", 90.0)))
    // life goes on: a later commit lands on the restored content
    TimeTravel.append(spark, dir,
      Seq((7L, "p3", 70.0)).toDF("id", "part", "v"), "part") // v6
    assert(rows(TimeTravel.readVersion(spark, dir, 6)) ===
      v1Rows + ((7L, "p3", 70.0)))
    // restore to the current content is a no-op
    assert(TimeTravel.restore(spark, dir, 6) === 6)
    // an incremental feed crossing the restore refuses loudly
    val e = intercept[IllegalArgumentException](
      TimeTravel.readAppendsSince(spark, dir, 3, 6))
    assert(e.getMessage.contains("restore"))
    // a restore target below the vacuum floor refuses loudly
    TimeTravel.vacuum(spark, dir, keepFrom = 5)
    intercept[IllegalArgumentException](TimeTravel.restore(spark, dir, 2))
  }

  test("restore across a schema evolution restores the narrower columns") {
    val dir = stage()
    TimeTravel.append(spark, dir,
      Seq((8L, "p1", 80.0, "tagged")).toDF("id", "part", "v", "tag"),
      "part", evolveSchema = true) // v2 widens
    assert(TimeTravel.readVersion(spark, dir, 2).columns.contains("tag"))
    val v3 = TimeTravel.restore(spark, dir, 1)
    val restored = TimeTravel.readVersion(spark, dir, v3)
    assert(!restored.columns.contains("tag"))
    assert(rows(restored) === rows(TimeTravel.readVersion(spark, dir, 1)))
  }

  test("vacuum after a restore keeps the re-added files; the restored tip " +
      "still reads") {
    val dir = stage()
    TimeTravel.upsert(spark, dir,
      Seq((1L, "p1", 11.0)).toDF("id", "part", "v"), "id", "part") // v2
    TimeTravel.upsert(spark, dir,
      Seq((2L, "p1", 21.0)).toDF("id", "part", "v"), "id", "part") // v3
    val v4 = TimeTravel.restore(spark, dir, 1)
    val v1Rows = rows(TimeTravel.readVersion(spark, dir, 1))
    TimeTravel.vacuum(spark, dir, keepFrom = v4, orphanMinAgeMs = 0L)
    // the re-added v1 files survived (the restore delta references them)
    assert(rows(TimeTravel.readVersion(spark, dir, v4)) === v1Rows)
    // the dropped rewrites' files are reclaimed
    val fs = TimeTravel.hadoopFs(spark, dir)
    assert(TimeTravel.listDataFiles(spark, fs, dir) ===
      TimeTravel.filesAt(spark, dir, v4).toSet)
  }

  test("restore stats survive: a skipping read over the restored tip still " +
      "prunes from the log") {
    val dir = tmpDir("tt-restore-skip")
    // three disjoint id slabs in one partition → selective per-file stats
    TimeTravel.init(spark, dir,
      (1L to 10L).map(i => (i, "p1", i * 1.0)).toDF("id", "part", "v"), "part")
    TimeTravel.append(spark, dir,
      (11L to 20L).map(i => (i, "p1", i * 1.0)).toDF("id", "part", "v"), "part")
    TimeTravel.append(spark, dir,
      (21L to 30L).map(i => (i, "p1", i * 1.0)).toDF("id", "part", "v"), "part")
    TimeTravel.delete(spark, dir, Seq(15L).toDF("id"), "id", "part") // v4
    val v5 = TimeTravel.restore(spark, dir, 3) // undo the delete
    val scan = TimeTravel.readVersionSkipping(spark, dir, v5, "id", 12L, 18L)
    assert(scan.filesRead < scan.filesTotal) // re-added file has stats
    assert(scan.df.filter(col("id").between(12L, 18L)).count() === 7)
  }

  test("vacuum dry run reports exactly what the real run then reclaims, " +
      "and mutates nothing") {
    val dir = stage()
    TimeTravel.upsert(spark, dir,
      Seq((1L, "p1", 11.0)).toDF("id", "part", "v"), "id", "part") // v2
    TimeTravel.upsert(spark, dir,
      Seq((2L, "p1", 21.0)).toDF("id", "part", "v"), "id", "part") // v3
    val fs = TimeTravel.hadoopFs(spark, dir)
    val diskBefore = TimeTravel.listDataFiles(spark, fs, dir)
    val logBefore = new java.io.File(dir, "_graft_log").list().sorted.toSeq
    val report = TimeTravel.vacuum(spark, dir, keepFrom = 3,
      orphanMinAgeMs = 0L, dryRun = true)
    // nothing moved: data files, log records, and v1 readability intact
    assert(TimeTravel.listDataFiles(spark, fs, dir) === diskBefore)
    assert(new java.io.File(dir, "_graft_log").list().sorted.toSeq ===
      logBefore)
    assert(rows(TimeTravel.readVersion(spark, dir, 1)).nonEmpty)
    // the real run reclaims exactly what the report promised
    val real = TimeTravel.vacuum(spark, dir, keepFrom = 3,
      orphanMinAgeMs = 0L)
    assert(real === report)
    assert(real._1 > 0 && real._2 > 0)
    intercept[IllegalArgumentException](TimeTravel.readVersion(spark, dir, 1))
  }

  test("CHECK constraints: enforced on append/upsert batches, NULL " +
      "passes, violating commits leave the table untouched") {
    val dir = stage()
    val v2 = TimeTravel.addConstraint(spark, dir, "v_pos", "v > 0")
    assert(v2 === 2)
    assert(TimeTravel.constraintsAt(spark, dir, 2) ===
      Map("v_pos" -> "v > 0"))
    // violating append: refused loudly, no commit, no orphan rows
    val e = intercept[IllegalArgumentException] {
      TimeTravel.append(spark, dir,
        Seq((9L, "p1", -1.0)).toDF("id", "part", "v"), "part")
    }
    assert(e.getMessage.contains("v_pos"))
    assert(TimeTravel.latestVersion(spark, dir) === 2)
    // valid append passes and CARRIES the constraint in its record
    TimeTravel.append(spark, dir,
      Seq((9L, "p1", 5.0)).toDF("id", "part", "v"), "part") // v3
    assert(TimeTravel.constraintsAt(spark, dir, 3).contains("v_pos"))
    // violating upsert: refused
    intercept[IllegalArgumentException] {
      TimeTravel.upsert(spark, dir,
        Seq((1L, "p1", -3.0)).toDF("id", "part", "v"), "id", "part")
    }
    // NULL is UNKNOWN, not FALSE: SQL-standard CHECK lets it pass
    TimeTravel.append(spark, dir,
      Seq((10L, "p2")).toDF("id", "part")
        .withColumn("v", lit(null).cast("double"))
        .select("id", "part", "v"), "part") // v4
    // adding a constraint the EXISTING data violates is refused
    intercept[IllegalArgumentException] {
      TimeTravel.addConstraint(spark, dir, "huge", "v > 100")
    }
    // duplicate name refused; unknown drop refused
    intercept[IllegalArgumentException] {
      TimeTravel.addConstraint(spark, dir, "v_pos", "v > -5")
    }
    intercept[IllegalArgumentException] {
      TimeTravel.dropConstraint(spark, dir, "nope")
    }
    // drop: the forbidden row now lands
    TimeTravel.dropConstraint(spark, dir, "v_pos") // v5
    TimeTravel.append(spark, dir,
      Seq((11L, "p1", -1.0)).toDF("id", "part", "v"), "part") // v6
    assert(TimeTravel.constraintsAt(spark, dir, 6) === Map.empty)
    // the insert-only feed composes ACROSS the metadata-only commits
    val feed = TimeTravel.readAppendsSince(spark, dir, 1)
    assert(feed.select("id").as[Long].collect().sorted.toSeq ===
      Seq(9L, 10L, 11L))
  }

  test("constraints survive vacuum via the floor record and restore " +
      "carries the target's policy") {
    val dir = stage()
    TimeTravel.addConstraint(spark, dir, "v_pos", "v > 0") // v2
    TimeTravel.append(spark, dir,
      Seq((9L, "p1", 5.0)).toDF("id", "part", "v"), "part") // v3
    TimeTravel.vacuum(spark, dir, keepFrom = 3)
    // the floor checkpoint carries the policy: enforcement continues
    assert(TimeTravel.constraintsAt(spark, dir, 3).contains("v_pos"))
    intercept[IllegalArgumentException] {
      TimeTravel.append(spark, dir,
        Seq((12L, "p1", -2.0)).toDF("id", "part", "v"), "part")
    }
    // restore to a version under the SAME policy keeps enforcing
    TimeTravel.upsert(spark, dir,
      Seq((9L, "p1", 7.0)).toDF("id", "part", "v"), "id", "part") // v4
    val v5 = TimeTravel.restore(spark, dir, 3)
    assert(TimeTravel.constraintsAt(spark, dir, v5).contains("v_pos"))
    intercept[IllegalArgumentException] {
      TimeTravel.append(spark, dir,
        Seq((13L, "p1", -9.0)).toDF("id", "part", "v"), "part")
    }
  }

  test("an upsert or an append opens its base version's record at most " +
      "twice") {
    val dir = stage()
    TimeTravel.append(spark, dir, // v2: the first base with a .delta
      Seq((6L, "p1", 60.0)).toDF("id", "part", "v"), "part")
    // each commit's two base-record reads: its base (the upsert's
    // snapshot, the append's layout guard and policy), then the
    // protocol gate of its record write
    val (upsertOpens, v3) =
      OpenCountingFileSystem.opens(spark, s"$dir/_graft_log/2.delta") {
        TimeTravel.upsert(spark, dir,
          Seq((1L, "p1", 11.0), (7L, "p2", 70.0)).toDF("id", "part", "v"),
          "id", "part")
      }
    assert(v3 === 3)
    val (appendOpens, v4) =
      OpenCountingFileSystem.opens(spark, s"$dir/_graft_log/3.delta") {
        TimeTravel.append(spark, dir,
          Seq((8L, "p3", 80.0)).toDF("id", "part", "v"), "part")
      }
    assert(v4 === 4)
    assert(rows(TimeTravel.readVersion(spark, dir, 4)) === Set(
      (1L, "p1", 11.0), (2L, "p1", 20.0), (3L, "p2", 30.0),
      (4L, "p2", 40.0), (5L, "p3", 50.0), (6L, "p1", 60.0),
      (7L, "p2", 70.0), (8L, "p3", 80.0)))
    assert(upsertOpens <= 2, s"upsert opened its base record $upsertOpens times")
    assert(appendOpens <= 2, s"append opened its base record $appendOpens times")
  }

  test("compactSmallFiles takes file sizes from the log's !bytes= " +
      "tokens: no listStatus under data/") {
    val dir = tmpDir("tt-compact-sizes")
    TimeTravel.init(spark, dir, (0 until 600).map(i =>
        (i.toLong, s"p${i % 2}", i * 1.0)).toDF("id", "part", "v")
      .repartition(1), "part")
    // two one-row stragglers land in p1 only
    (0 until 2).foreach { s =>
      TimeTravel.append(spark, dir,
        Seq((1000L + s, "p1", 0.0)).toDF("id", "part", "v"), "part")
    }
    val prev = TimeTravel.latestVersion(spark, dir)
    val before = TimeTravel.filesAt(spark, dir, prev).toSet
    def size(f: String) = new java.io.File(s"$dir/data/$f").length()
    val thr = before.map(size).max / 2
    val small = before.filter(size(_) < thr)
    assert(small.size === 2 && small.forall(_.startsWith("part=p1/")))
    val (lists, v) = OpenCountingFileSystem.listings(spark, s"$dir/data") {
      TimeTravel.compactSmallFiles(spark, dir, "part", thr)
    }
    assert(lists === 0, s"compactSmallFiles listed $lists times")
    assert(v === prev + 1)
    // exactly the undersized files fold, into one new p1 file; the
    // right-sized files carry over by name
    val after = TimeTravel.filesAt(spark, dir, v).toSet
    assert(before -- small subsetOf after)
    assert((after -- before).toSeq.map(_.takeWhile(_ != '/')) ===
      Seq("part=p1"))
    assert(rows(TimeTravel.readVersion(spark, dir, v)) ===
      rows(TimeTravel.readVersion(spark, dir, prev)))
  }

  test("snapshotDiff across versions from manifests alone matches the applied batches") {
    val dir = stage()
    TimeTravel.upsert(spark, dir,
      Seq((1L, "p1", 11.0), (9L, "p2", 90.0)).toDF("id", "part", "v"),
      "id", "part")
    TimeTravel.delete(spark, dir, Seq(3L).toDF("id"), "id", "part")
    val d = Merge.snapshotDiff(
      TimeTravel.readVersion(spark, dir, 1),
      TimeTravel.readVersion(spark, dir, 3), "id", Seq("part", "v"))
      .collect().head
    assert((d.getAs[Long]("n_added"), d.getAs[Long]("n_removed"),
      d.getAs[Long]("n_changed"), d.getAs[Long]("n_unchanged"))
      === ((1L, 1L, 1L, 3L)))
  }
}
