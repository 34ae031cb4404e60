package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField}

import graft.SparkSpec

/** Protocol / feature gates: every commit record declares the MINIMUM
  * reader and writer capability (`#protocol=<r>/<w>`), requirements
  * ratchet monotonically, and a record requiring a newer client
  * refuses EVERY read (or write) path with one loud error — the
  * fail-closed contract future format features inherit for free
  * (reference analogue: none — the reference is a single-writer
  * export; this is the Delta protocol-action idea on the graft log). */
class ProtocolSpec extends SparkSpec {

  import spark.implicits._

  private def stage(): String = {
    val t = tmpDir("proto")
    TimeTravel.init(spark, t,
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "p", "x"), "p")
    t
  }

  private def recordLines(t: String, v: Int): List[String] = {
    val d = new java.io.File(s"$t/_graft_log/$v.delta")
    val f = if (d.exists()) d else new java.io.File(s"$t/_graft_log/$v.manifest")
    scala.io.Source.fromFile(f, "UTF-8").getLines().toList
  }

  private def protoOf(t: String, v: Int): String =
    recordLines(t, v).find(_.startsWith("#protocol="))
      .map(_.stripPrefix("#protocol=")).getOrElse("absent")

  private def forgeProtocol(t: String, v: Int, proto: String): Unit = {
    val d = new java.io.File(s"$t/_graft_log/$v.delta")
    val f = if (d.exists()) d
      else new java.io.File(s"$t/_graft_log/$v.manifest")
    val kept = scala.io.Source.fromFile(f, "UTF-8").getLines()
      .filterNot(_.startsWith("#protocol=")).toList
    val w = new java.io.PrintWriter(f, "UTF-8")
    try { w.println(s"#protocol=$proto"); kept.foreach(w.println) }
    finally w.close()
  }

  test("records declare what their content needs, and requirements ratchet") {
    val t = stage()
    assert(protoOf(t, 1) === "1/1") // base format
    val v2 = TimeTravel.append(spark, t,
      Seq((3L, "a", 3.0)).toDF("k", "p", "x"), "p")
    assert(protoOf(t, v2) === "1/1")
    // column mapping raises to 2/2 ...
    val v3 = TimeTravel.renameColumn(spark, t, "x", "y")
    assert(protoOf(t, v3) === "2/2")
    // ... and STAYS raised on later feature-free commits (the ratchet),
    // even after renaming back to identity (no auto-downgrade)
    TimeTravel.renameColumn(spark, t, "y", "x")
    val v5 = TimeTravel.append(spark, t,
      Seq((4L, "b", 4.0)).toDF("k", "p", "x"), "p")
    assert(protoOf(t, v5) === "2/2")
    // deletion vectors raise to 3/3
    val v6 = TimeTravel.deleteWhereDv(spark, t, col("k") === 3L, "p")
    assert(protoOf(t, v6) === "3/3")
    assert(TimeTravel.readVersion(spark, t, v6).count() === 3)
  }

  test("a fresh-table checkpoint carries the requirement; clone inherits it") {
    val t = stage()
    TimeTravel.renameColumn(spark, t, "x", "y")
    val dst = tmpDir("proto-clone")
    TimeTravel.cloneAt(spark, t, dst)
    assert(protoOf(dst, 1).startsWith("2/"))
    assert(TimeTravel.readVersion(spark, dst, 1).columns.toSet
      === Set("k", "p", "y"))
  }

  test("a future READER requirement refuses every read path with one error") {
    val t = stage()
    val v = TimeTravel.latestVersion(spark, t)
    forgeProtocol(t, v, "99/99")
    val e1 = intercept[IllegalStateException](
      TimeTravel.readVersion(spark, t, v))
    assert(e1.getMessage.contains("reader protocol version 99"))
    intercept[IllegalStateException](
      TimeTravel.readVersionSkipping(spark, t, v, "k", 1L, 1L))
    intercept[IllegalStateException](
      spark.read.format("graft-versioned").option("path", t).load())
    intercept[IllegalStateException](TimeTravel.history(spark, t))
    intercept[IllegalStateException](TimeTravel.append(spark, t,
      Seq((9L, "a", 9.0)).toDF("k", "p", "x"), "p"))
  }

  test("a WRITE-gated feature keeps reads working and refuses commits") {
    val t = stage()
    val v = TimeTravel.latestVersion(spark, t)
    forgeProtocol(t, v, "1/99")
    // reads fine: the feature only constrains writers
    assert(TimeTravel.readVersion(spark, t, v).count() === 2)
    val e = intercept[IllegalStateException](TimeTravel.append(spark, t,
      Seq((9L, "a", 9.0)).toDF("k", "p", "x"), "p"))
    assert(e.getMessage.contains("writer protocol version 99"))
    // metadata-only commits refuse too
    intercept[IllegalStateException](
      TimeTravel.addConstraint(spark, t, "c", "k > 0"))
  }

  test("downgradeProtocol returns the tip to what content needs; old versions keep their own gates") {
    val t = stage()
    val vDv = TimeTravel.deleteWhereDv(spark, t, col("k") === 1L, "p")
    assert(protoOf(t, vDv) === "3/3")
    // compaction MATERIALIZES the vectors — content no longer needs 3,
    // but the ratchet keeps the requirement until the explicit downgrade
    val vC = TimeTravel.compact(spark, t, "p", maxFilesPerDir = 16)
    assert(protoOf(t, vC) === "3/3")
    val vD = TimeTravel.downgradeProtocol(spark, t)
    assert(protoOf(t, vD) === "1/1")
    // new commits stay at the downgraded requirement
    val vA = TimeTravel.append(spark, t,
      Seq((9L, "a", 9.0)).toDF("k", "p", "x"), "p")
    assert(protoOf(t, vA) === "1/1")
    assert(TimeTravel.readVersion(spark, t, vA).count() === 2)
    // TIME TRAVEL to the DV-bound version still enforces ITS records'
    // requirement (per-record gating — the downgrade frees only the
    // tip-onward path) and still reads correctly
    assert(TimeTravel.readVersion(spark, t, vDv).count() === 1)
    // feeds treat the protocol commit as metadata-only
    assert(TimeTravel.readAppendsSince(spark, t, vC).count() === 1)
    // a second downgrade is a loud no-op
    val e = intercept[IllegalArgumentException](
      TimeTravel.downgradeProtocol(spark, t))
    assert(e.getMessage.contains("already the minimum"))
    // a downgrade can never understate content: with an active column
    // mapping the minimum is 2/2, not 1/1
    val t2 = stage()
    TimeTravel.renameColumn(spark, t2, "x", "y")
    TimeTravel.deleteWhereDv(spark, t2, col("k") === 1L, "p")
    TimeTravel.compact(spark, t2, "p", maxFilesPerDir = 16)
    val vD2 = TimeTravel.downgradeProtocol(spark, t2)
    assert(protoOf(t2, vD2) === "2/2")
  }

  test("metadata commits landing on the checkpoint cadence write the checkpoint; a downgrade's survives") {
    def appendUntil(t: String, v: Int): Unit =
      while (TimeTravel.latestVersion(spark, t) < v)
        TimeTravel.append(spark, t,
          Seq((9L, "a", 9.0)).toDF("k", "p", "x"), "p")
    def manifestOf(t: String, v: Int): List[String] = {
      val src = scala.io.Source.fromFile(s"$t/_graft_log/$v.manifest", "UTF-8")
      try src.getLines().toList finally src.close()
    }
    val t = stage()
    appendUntil(t, 9)
    assert(TimeTravel.addConstraint(spark, t, "pos", "k > 0") === 10)
    assert(TimeTravel.lastCommitStats(t).get.checkpointed)
    assert(manifestOf(t, 10).contains("#constraint=pos|k+%3E+0"))
    // the downgrade's lowered requirement reaches its checkpoint too:
    // nothing at v10 re-raises the requirement the next commit inherits
    val t2 = stage()
    TimeTravel.renameColumn(spark, t2, "x", "y")
    TimeTravel.renameColumn(spark, t2, "y", "x") // identity again, still 2/2
    appendUntil(t2, 9)
    assert(protoOf(t2, 9) === "2/2")
    assert(TimeTravel.downgradeProtocol(spark, t2) === 10)
    assert(manifestOf(t2, 10).contains("#protocol=1/1"))
    val v11 = TimeTravel.append(spark, t2,
      Seq((10L, "b", 10.0)).toDF("k", "p", "x"), "p")
    assert(protoOf(t2, v11) === "1/1")
    assert(TimeTravel.readVersion(spark, t2, v11).count() === 9)
  }

  /** v1's manifest, then every delta in version order, each minus its
    * `#ts=` wall-clock and with the per-write random names normalized:
    * a staged file's token and Spark's job UUID (`T-<i>-part-<n>-U`),
    * artifact tokens (`T`), and each file's `!mtime=` stat (`M`). */
  private def normalizedRecords(t: String): Seq[String] = {
    val log = new java.io.File(s"$t/_graft_log")
    val deltas = log.list().filter(_.endsWith(".delta"))
      .sortBy(_.stripSuffix(".delta").toInt)
    val file = "[0-9a-f]{12}-(\\d+)-part-(\\d+)-[0-9a-f-]{36}".r
    val token = "\\b[0-9a-f]{12}\\b".r
    val mtime = "!mtime=\\d+".r
    ("1.manifest" +: deltas).toSeq.flatMap { n =>
      val src = scala.io.Source.fromFile(new java.io.File(log, n), "UTF-8")
      try s"== $n" +: src.getLines().filterNot(_.startsWith("#ts="))
        .map(l => token.replaceAllIn(file.replaceAllIn(
          mtime.replaceAllIn(l, "!mtime=M"), "T-$1-part-$2-U"), "T")).toList
      finally src.close()
    }
  }

  /** 13 versions covering every record kind the format pin covers:
    * metadata commits, a downgrade, an upsert, the v10 cadence
    * checkpoint and a restore. */
  private def stagePinned(): String = {
    val t = stage()                                                   // v1
    TimeTravel.addConstraint(spark, t, "pos", "k > 0")                // v2
    TimeTravel.setBloomIndex(spark, t, "k", 1000L, 0.05)              // v3
    TimeTravel.append(spark, t,
      Seq((3L, "c", 3.0)).toDF("k", "p", "x"), "p")                   // v4
    TimeTravel.addColumns(spark, t, Seq(StructField("y", StringType))) // v5
    TimeTravel.renameColumn(spark, t, "x", "z")                       // v6
    TimeTravel.renameColumn(spark, t, "z", "x")                       // v7
    TimeTravel.downgradeProtocol(spark, t)                            // v8
    TimeTravel.upsert(spark, t,
      Seq((1L, "a", 10.0, "u")).toDF("k", "p", "x", "y"), "k", "p")   // v9
    TimeTravel.dropConstraint(spark, t, "pos")                        // v10
    TimeTravel.dropBloomIndex(spark, t, "k")                          // v11
    TimeTravel.dropColumn(spark, t, "y")                              // v12
    assert(TimeTravel.restore(spark, t, 4) === 13)
    t
  }

  test("log records stay line-identical across metadata, data and restore commits") {
    val t = stagePinned()
    // the pinned records: a writer change must reproduce them exactly
    val pinned = scala.io.Source.fromResource("log_format_pin.txt",
      getClass.getClassLoader)
    try assert(normalizedRecords(t).mkString("\n") ===
      pinned.getLines().mkString("\n"))
    finally pinned.close()
  }

  test("a resolved snapshot's policy equals its version's record's") {
    val t = stagePinned()
    val fs = TimeTravel.hadoopFs(spark, t)
    (1 to 13).foreach { v =>
      assert(TimeTravel.resolveFull(spark, t, v).meta ===
        TimeTravel.metaOfRecord(fs, t, v), s"version $v")
    }
  }

  test("an unparsable protocol declaration fails closed") {
    val t = stage()
    forgeProtocol(t, TimeTravel.latestVersion(spark, t), "banana")
    intercept[IllegalStateException](
      TimeTravel.readVersion(spark, t, TimeTravel.latestVersion(spark, t)))
  }
}
