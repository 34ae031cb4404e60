package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Optimistic-concurrency invariants: staged writes make adds exact
  * under concurrent writers, appends rebase past any winner, rewrites
  * rebase only past disjoint-partition winners and refuse stale bases
  * loudly, and racing threads never lose or duplicate rows. */
class ConcurrencySpec extends SparkSpec {

  import spark.implicits._

  private def stage(): String = {
    val dir = tmpDir("tt-conc")
    TimeTravel.init(spark, dir,
      Seq((1L, "p1", 10.0), (2L, "p2", 20.0), (3L, "p3", 30.0))
        .toDF("id", "part", "v"), "part")
    dir
  }

  test("an append that lost the version race rebases past the winner") {
    val dir = stage()
    // the "winner": a real commit landing v2 first
    TimeTravel.append(spark, dir,
      Seq((4L, "p1", 40.0)).toDF("id", "part", "v"), "part")
    // the "loser": its files are staged, then it tries to commit at
    // prev+1 = 2 — already taken — and must land at 3
    val adds = TimeTravel.stageWrite(spark, dir,
      Seq((5L, "p2", 50.0)).toDF("id", "part", "v"), "part")
    val fs = TimeTravel.hadoopFs(spark, dir)
    val schema = TimeTravel.readVersion(spark, dir, 1).schema
    val v = TimeTravel.commitWithRebase(spark, fs, dir, prev = 1,
      dirs = Set("part=p2"), adds = adds, removes = Nil, txn = None,
      batchSchema = schema, op = "append", evolveSchema = false)
    assert(v === 3)
    assert(TimeTravel.readVersion(spark, dir, 3).count() === 5)
    assert(TimeTravel.readVersion(spark, dir, 3)
      .filter(col("id") === 5L).count() === 1)
  }

  test("a commit racing a concurrent column rename refuses the rebase") {
    val dir = stage()
    // the loser stages its files under the PRE-rename physical names...
    val adds = TimeTravel.stageWrite(spark, dir,
      Seq((5L, "p2", 50.0)).toDF("id", "part", "v"), "part")
    val schema = TimeTravel.readVersion(spark, dir, 1).schema
    // ...then a rename lands first: rebasing would commit files whose
    // physical column names no longer match the mapping. The schema
    // re-check refuses first (a rename always changes logical names);
    // the colmap guard behind it is defense-in-depth for any future
    // mapping change that leaves names intact. Either way: LOUD, and
    // nothing commits.
    val vRename = TimeTravel.renameColumn(spark, dir, "v", "w")
    val fs = TimeTravel.hadoopFs(spark, dir)
    intercept[Exception](
      TimeTravel.commitWithRebase(spark, fs, dir, prev = 1,
        dirs = Set("part=p2"), adds = adds, removes = Nil, txn = None,
        batchSchema = schema, op = "append", evolveSchema = false))
    assert(TimeTravel.latestVersion(spark, dir) === vRename,
      "the losing commit must not land past a concurrent rename")
  }

  test("a rewrite rebases past a DISJOINT-partition winner") {
    val dir = stage()
    TimeTravel.upsert(spark, dir,
      Seq((1L, "p1", 11.0)).toDF("id", "part", "v"), "id", "part") // v2 in p1
    // loser: a delete of p3's row, staged against v1 — p3 untouched by
    // the winner, so the rebase is safe and must land at v3
    val fs = TimeTravel.hadoopFs(spark, dir)
    val p3File = TimeTravel.filesAt(spark, dir, 1)
      .filter(_.startsWith("part=p3/"))
    val schema = TimeTravel.readVersion(spark, dir, 1).schema
    val v = TimeTravel.commitWithRebase(spark, fs, dir, prev = 1,
      dirs = Set("part=p3"), adds = Nil, removes = p3File, txn = None,
      batchSchema = schema, op = "delete", evolveSchema = false)
    assert(v === 3)
    val rows = TimeTravel.readVersion(spark, dir, 3)
    assert(rows.count() === 2) // p3's row gone, p1's update kept
    assert(rows.filter(col("id") === 1L).select("v").as[Double]
      .head() === 11.0)
  }

  test("a rewrite whose base partition was touched concurrently refuses loudly") {
    val dir = stage()
    TimeTravel.upsert(spark, dir,
      Seq((1L, "p1", 11.0)).toDF("id", "part", "v"), "id", "part") // v2 in p1
    val fs = TimeTravel.hadoopFs(spark, dir)
    val p1File = TimeTravel.filesAt(spark, dir, 1)
      .filter(_.startsWith("part=p1/"))
    val schema = TimeTravel.readVersion(spark, dir, 1).schema
    val e = intercept[java.util.ConcurrentModificationException] {
      TimeTravel.commitWithRebase(spark, fs, dir, prev = 1,
        dirs = Set("part=p1"), adds = Nil, removes = p1File, txn = None,
        batchSchema = schema, op = "delete", evolveSchema = false)
    }
    assert(e.getMessage.contains("part=p1"))
    // the table is untouched by the refused commit
    assert(TimeTravel.latestVersion(spark, dir) === 2)
    assert(TimeTravel.readVersion(spark, dir, 2).count() === 3)
  }

  test("a DV delete is a rewrite for conflict purposes: stale-base rewrites in its partition refuse") {
    val dir = stage()
    // the winner: a deletion-vector delete landing v2 — NO file set
    // change, but its remove-and-re-add encoding must still mark
    // part=p1 as touched, or a stale rewrite would silently drop the
    // hidden positions
    val v2 = TimeTravel.deleteWhereDv(spark, dir, col("id") === 1L, "part")
    assert(v2 === 2)
    val fs = TimeTravel.hadoopFs(spark, dir)
    val p1File = TimeTravel.filesAt(spark, dir, 1)
      .filter(_.startsWith("part=p1/"))
    val schema = TimeTravel.readVersion(spark, dir, 1).schema
    val e = intercept[java.util.ConcurrentModificationException] {
      TimeTravel.commitWithRebase(spark, fs, dir, prev = 1,
        dirs = Set("part=p1"), adds = Nil, removes = p1File, txn = None,
        batchSchema = schema, op = "delete", evolveSchema = false)
    }
    assert(e.getMessage.contains("part=p1"))
    // ...while a DISJOINT-partition rewrite still rebases past it
    val p3File = TimeTravel.filesAt(spark, dir, 1)
      .filter(_.startsWith("part=p3/"))
    val v3 = TimeTravel.commitWithRebase(spark, fs, dir, prev = 1,
      dirs = Set("part=p3"), adds = Nil, removes = p3File, txn = None,
      batchSchema = schema, op = "delete", evolveSchema = false)
    assert(v3 === 3)
    assert(TimeTravel.readVersion(spark, dir, v3)
      .select("id").as[Long].collect().toSet === Set(2L))
  }

  test("a commit racing a concurrent bloom-policy change refuses the rebase") {
    val dir = stage()
    val adds = TimeTravel.stageWrite(spark, dir,
      Seq((5L, "p2", 50.0)).toDF("id", "part", "v"), "part")
    val schema = TimeTravel.readVersion(spark, dir, 1).schema
    // the policy lands first: the staged commit built no filters under
    // it, so rebasing would record an unindexed add into a policy era
    val vIdx = TimeTravel.setBloomIndex(spark, dir, "id")
    val fs = TimeTravel.hadoopFs(spark, dir)
    val e = intercept[java.util.ConcurrentModificationException](
      TimeTravel.commitWithRebase(spark, fs, dir, prev = 1,
        dirs = Set("part=p2"), adds = adds, removes = Nil, txn = None,
        batchSchema = schema, op = "append", evolveSchema = false))
    assert(e.getMessage.contains("bloom"))
    assert(TimeTravel.latestVersion(spark, dir) === vIdx)
  }

  test("a metadata commit that lost the version race re-runs against the new tip") {
    val dir = stage()
    var attempts = 0
    // setBloomIndex's transform, with a concurrent ADD CONSTRAINT
    // landing the target version during the first attempt
    val v = TimeTravel.commitMetadata(spark, dir, "bloomidx") { (_, meta) =>
      attempts += 1
      if (attempts == 1) TimeTravel.addConstraint(spark, dir, "pos", "id > 0")
      meta.copy(bloomIdx = meta.bloomIdx + ("id" -> ((1000L, 0.01))))
    }
    val tip = 2 // the constraint's version
    assert(attempts === 2)
    assert(v === tip + 1)
    assert(TimeTravel.latestVersion(spark, dir) === v)
    // the retry saw the winner's policy and carries both forward
    assert(TimeTravel.constraintsAt(spark, dir, v) === Map("pos" -> "id > 0"))
    assert(TimeTravel.bloomIndexAt(spark, dir, v) ===
      Map("id" -> ((1000L, 0.01))))
    assert(TimeTravel.bloomIndexAt(spark, dir, tip).isEmpty)
  }

  test("staged writes: adds are exactly the commit's own files, token-prefixed") {
    val dir = stage()
    TimeTravel.append(spark, dir,
      Seq((7L, "p1", 70.0)).toDF("id", "part", "v"), "part")
    val stats = TimeTravel.lastCommitStats(dir).get
    assert(stats.nAdded === 1)
    // no staging residue
    assert(!Files.exists(Paths.get(dir, "_staging")) ||
      Files.list(Paths.get(dir, "_staging")).count() === 0)
  }

  test("vacuum never sweeps a concurrent writer's in-flight staged files (age guard)") {
    val dir = stage()
    TimeTravel.append(spark, dir,
      Seq((4L, "p1", 40.0)).toDF("id", "part", "v"), "part") // v2
    // writer B: files moved into data/, commit record NOT yet landed
    val inFlight = TimeTravel.stageWrite(spark, dir,
      Seq((9L, "p2", 90.0)).toDF("id", "part", "v"), "part")
    // a concurrent default vacuum must NOT reclaim them — unreferenced
    // but young means possibly in-flight, and deleting them would break
    // the commit about to reference them
    TimeTravel.vacuum(spark, dir, keepFrom = 2)
    val fs = TimeTravel.hadoopFs(spark, dir)
    assert(inFlight.forall(f => fs.exists(
      new org.apache.hadoop.fs.Path(s"$dir/data/$f"))))
    // writer B's commit still lands and reads back whole
    val schema = TimeTravel.readVersion(spark, dir, 2).schema
    val v = TimeTravel.commitWithRebase(spark, fs, dir, prev = 2,
      dirs = Set("part=p2"), adds = inFlight, removes = Nil, txn = None,
      batchSchema = schema, op = "append", evolveSchema = false)
    assert(TimeTravel.readVersion(spark, dir, v)
      .filter(col("id") === 9L).count() === 1)
    // an ABANDONED stage (never committed) IS reclaimed past the age
    // threshold, and every committed version stays intact
    val abandoned = TimeTravel.stageWrite(spark, dir,
      Seq((10L, "p3", 100.0)).toDF("id", "part", "v"), "part")
    TimeTravel.vacuum(spark, dir, keepFrom = 2, orphanMinAgeMs = 0L)
    assert(abandoned.forall(f => !fs.exists(
      new org.apache.hadoop.fs.Path(s"$dir/data/$f"))))
    assert(TimeTravel.readVersion(spark, dir, v).count() === 5)
  }

  test("a txn-marked append refuses to rebase past the SAME stream's equal-or-higher batch") {
    val dir = stage()
    // the zombie-vs-restart race: both writers read high-water mark 0
    // and both try to land batch 7. Writer A wins v2 with the marker;
    // writer B (staged against v1) must NOT re-land the batch at v3.
    TimeTravel.append(spark, dir,
      Seq((50L, "p1", 1.0)).toDF("id", "part", "v"), "part",
      txn = Some(("streamX", 7L)))
    val adds = TimeTravel.stageWrite(spark, dir,
      Seq((50L, "p1", 1.0)).toDF("id", "part", "v"), "part")
    val fs = TimeTravel.hadoopFs(spark, dir)
    val schema = TimeTravel.readVersion(spark, dir, 1).schema
    val e = intercept[java.util.ConcurrentModificationException] {
      TimeTravel.commitWithRebase(spark, fs, dir, prev = 1,
        dirs = Set("part=p1"), adds = adds, removes = Nil,
        txn = Some(("streamX", 7L)), batchSchema = schema, op = "append",
        evolveSchema = false)
    }
    assert(e.getMessage.contains("streamX:7"))
    assert(TimeTravel.latestVersion(spark, dir) === 2) // no double-land
    assert(TimeTravel.readVersion(spark, dir, 2)
      .filter(col("id") === 50L).count() === 1)
    // a DIFFERENT stream's marker rebases fine
    val adds2 = TimeTravel.stageWrite(spark, dir,
      Seq((60L, "p2", 2.0)).toDF("id", "part", "v"), "part")
    val v = TimeTravel.commitWithRebase(spark, fs, dir, prev = 1,
      dirs = Set("part=p2"), adds = adds2, removes = Nil,
      txn = Some(("streamY", 7L)), batchSchema = schema, op = "append",
      evolveSchema = false)
    assert(v === 3)
  }

  test("vacuum sweeps a crashed writer's staging dir past the age threshold, never a live one") {
    val dir = stage()
    TimeTravel.append(spark, dir,
      Seq((4L, "p1", 40.0)).toDF("id", "part", "v"), "part")
    // simulate the crash window: files staged, move never ran
    val staging = java.nio.file.Paths.get(dir, "_staging", "deadbeef0000")
    java.nio.file.Files.createDirectories(staging)
    java.nio.file.Files.write(staging.resolve("part-0.parquet"),
      Array[Byte](1, 2, 3))
    TimeTravel.vacuum(spark, dir, keepFrom = 2) // default age: kept
    assert(java.nio.file.Files.exists(staging))
    TimeTravel.vacuum(spark, dir, keepFrom = 2, orphanMinAgeMs = 0L)
    assert(!java.nio.file.Files.exists(staging))
  }

  test("commit records install atomically: never visible before complete, no tmp residue") {
    val dir = stage()
    import spark.implicits._
    // a poller races the committers, snapshotting every record file it
    // can see the instant it appears; atomic install means NO observed
    // snapshot may be empty or end mid-record (every record carries a
    // #ts= metadata line and install is all-or-nothing)
    val logDir = java.nio.file.Paths.get(dir, "_graft_log")
    val torn = new java.util.concurrent.atomic.AtomicInteger(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val poller = new Thread(() => {
      while (!stop.get()) {
        val st = java.nio.file.Files.list(logDir)
        try st.forEach { path =>
          val n = path.getFileName.toString
          if (n.endsWith(".delta") || n.endsWith(".manifest")) {
            val s = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
            if (!s.contains("#ts=")) torn.incrementAndGet()
          }
        } finally st.close()
        Thread.sleep(1)
      }
    })
    poller.start()
    val threads = (0 until 6).map { i =>
      new Thread(() => TimeTravel.append(spark, dir,
        Seq((100L + i, "p1", i.toDouble)).toDF("id", "part", "v"), "part"))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    stop.set(true); poller.join()
    assert(torn.get() === 0,
      s"${torn.get()} torn/partial record snapshots observed")
    // and the install left no temp files behind
    val residue = java.nio.file.Files.list(logDir).toArray.map(
      _.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .filterNot(n => n.endsWith(".delta") || n.endsWith(".manifest"))
    assert(residue.isEmpty, s"log-dir residue: ${residue.mkString(", ")}")
    assert(TimeTravel.latestVersion(spark, dir) === 7)
  }

  test("staging dirs are aged by their NEWEST descendant, not the dir's own mtime") {
    val dir = stage()
    TimeTravel.append(spark, dir,
      Seq((5L, "p1", 50.0)).toDF("id", "part", "v"), "part")
    // a long-running writer: the staging dir was CREATED long ago (its
    // top-level mtime is old) but a file inside was written just now —
    // an mtime-of-dir guard would sweep it mid-write
    val staging = java.nio.file.Paths.get(dir, "_staging", "longrunner01")
    java.nio.file.Files.createDirectories(staging)
    java.nio.file.Files.write(staging.resolve("part-0.parquet"),
      Array[Byte](1, 2, 3)) // fresh file
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 48L * 3600 * 1000)
    java.nio.file.Files.setLastModifiedTime(staging, old)
    // guard = 1h: dir looks 48h old, but its newest file is fresh → kept
    TimeTravel.vacuum(spark, dir, keepFrom = 2, orphanMinAgeMs = 3600000L)
    assert(java.nio.file.Files.exists(staging))
    // once the CONTENT is old too, it sweeps
    java.nio.file.Files.setLastModifiedTime(
      staging.resolve("part-0.parquet"), old)
    java.nio.file.Files.setLastModifiedTime(staging, old)
    TimeTravel.vacuum(spark, dir, keepFrom = 2, orphanMinAgeMs = 3600000L)
    assert(!java.nio.file.Files.exists(staging))
  }

  test("a staging dir that vanishes mid-vacuum is skipped, never fatal") {
    val dir = stage()
    // the exact window: vacuum's listStatus saw the dir, then the
    // writer's finally-delete removed it before the newestMtime
    // traversal — the stale FileStatus must yield "not sweepable",
    // not a FileNotFoundException aborting the whole vacuum
    val staging = java.nio.file.Paths.get(dir, "_staging", "vanisher01")
    java.nio.file.Files.createDirectories(staging)
    java.nio.file.Files.write(staging.resolve("part-0.parquet"),
      Array[Byte](1))
    val fs = TimeTravel.hadoopFs(spark, dir)
    val stale = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(staging.toUri))
    fs.delete(new org.apache.hadoop.fs.Path(staging.toUri), true)
    assert(TimeTravel.newestMtime(fs, stale) === Long.MaxValue)
  }

  test("vacuum age-sweeps crashed writers' log-dir tmp residue") {
    val dir = stage()
    TimeTravel.append(spark, dir,
      Seq((9L, "p1", 90.0)).toDF("id", "part", "v"), "part")
    // a writer that died between its temp write and the atomic install
    val logTmp = java.nio.file.Paths.get(dir, "_graft_log",
      ".3.delta.deadbeef0000.tmp")
    java.nio.file.Files.write(logTmp, "half a record".getBytes("UTF-8"))
    // fresh residue survives the default guard (could be a live writer)
    TimeTravel.vacuum(spark, dir, keepFrom = 2)
    assert(java.nio.file.Files.exists(logTmp))
    // aged residue sweeps; real records and reads are untouched
    TimeTravel.vacuum(spark, dir, keepFrom = 2, orphanMinAgeMs = 0L)
    assert(!java.nio.file.Files.exists(logTmp))
    assert(TimeTravel.readVersion(spark, dir, 2).count() === 4)
  }

  test("LogStore registry: schemes resolve to their registered store") {
    assert(LogStore.forScheme("file") === LogStore.LocalLink)
    assert(LogStore.forScheme("hdfs") === LogStore.AtomicRename)
    object Mock extends LogStore {
      override def installExclusive(fs: org.apache.hadoop.fs.FileSystem,
          target: org.apache.hadoop.fs.Path, bytes: Array[Byte]): Unit = ()
    }
    LogStore.register("mocks3", Mock)
    assert(LogStore.forScheme("mocks3") === Mock)
    // rename-unsafe object stores REFUSE until a coordinator is
    // registered: falling through to the rename store would let two
    // racing writers both "win" a commit (lost update)
    val e = intercept[IllegalStateException](LogStore.forScheme("s3a"))
    assert(e.getMessage.contains("register"))
    LogStore.register("s3a", Mock) // registered: resolves
    assert(LogStore.forScheme("s3a") === Mock)
  }

  test("AtomicRename installs exclusively and never leaks its temp") {
    val dir = tmpDir("tt-rename-store")
    val fs = TimeTravel.hadoopFs(spark, dir)
    val target = new org.apache.hadoop.fs.Path(dir, "2.delta")
    LogStore.AtomicRename.installExclusive(fs, target,
      "+part=p1/a.parquet".getBytes("UTF-8"))
    // the loser of a race: full conflict signal, winner untouched
    intercept[java.nio.file.FileAlreadyExistsException] {
      LogStore.AtomicRename.installExclusive(fs, target,
        "+part=p1/b.parquet".getBytes("UTF-8"))
    }
    val content = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "2.delta")), "UTF-8")
    assert(content === "+part=p1/a.parquet")
    val residue = new java.io.File(dir).list().filter(_.endsWith(".tmp"))
    assert(residue.isEmpty)
  }

  test("racing appends from many threads all commit; content is the exact union") {
    val dir = stage()
    val threads = (0 until 4).map { i =>
      new Thread(() => {
        TimeTravel.append(spark, dir,
          Seq((100L + i, s"p${i % 3 + 1}", i * 1.0))
            .toDF("id", "part", "v"), "part")
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(TimeTravel.latestVersion(spark, dir) === 5)
    val ids = TimeTravel.readVersion(spark, dir, 5)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids === Seq(1L, 2L, 3L, 100L, 101L, 102L, 103L))
    // the change feed sees each appended row exactly once
    val feed = TimeTravel.readAppendsSince(spark, dir, 1)
    assert(feed.select("id").as[Long].collect().sorted.toSeq ===
      Seq(100L, 101L, 102L, 103L))
  }
}
