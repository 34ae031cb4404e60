package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.{SparkSpec, Tables}

/** Structured Streaming replay equals the batch computation. */
class StreamingSpec extends SparkSpec {

  /** events written to a µs-timestamp parquet dir (stream-readable). */
  private lazy val eventsDir: String = {
    val d = tmpDir("graft-events-stream")
    Tables.load(spark, sf, "events").write.mode("overwrite").parquet(d)
    d
  }

  /** Explicit strictly-increasing mtimes for staged slice files (counter
    * per directory), replacing sleep-between-writes: coarse (1 s) mtime
    * filesystems could leave slices sharing an mtime, making the
    * file-stream source's arrival order nondeterministic. Mirrors
    * ParityQueries.stampSliceMtimes. */
  private val mtimeState =
    scala.collection.mutable.Map.empty[String, (scala.collection.mutable.Set[String], Long)]
  private def stampNewFiles(dir: String): Unit = {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val (stamped, tick) =
      mtimeState.getOrElseUpdate(dir, (scala.collection.mutable.Set.empty[String], 1600000000L))
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .filterNot(f => stamped.contains(f.getName))
      .foreach { f =>
        Files.setLastModifiedTime(Paths.get(f.getPath),
          FileTime.from(java.time.Instant.ofEpochSecond(tick)))
        stamped += f.getName
      }
    mtimeState(dir) = (stamped, tick + 1)
  }

  test("tumbling-window streaming counts equal the batch group-by") {
    val stream = EventsStream.fromParquetDir(spark, eventsDir)
    EventsStream.replayToMemory(
      EventsStream.tumblingCounts(stream, "1 hour", "2 hours"),
      "tumbling_sink", OutputMode.Complete())
    val streamed = spark.table("tumbling_sink")
      .select("window_start", "event_type", "n_events").collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getAs[Long](2)).toMap
    val batch = Tables.load(spark, sf, "events")
      .groupBy(date_trunc("hour", col("ts")).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getAs[Long](2)).toMap
    assert(streamed === batch)
  }

  test("streaming dedup: key set equals batch DISTINCT; duplicates dropped") {
    val stream = EventsStream.fromParquetDir(spark, eventsDir)
    EventsStream.replayToMemory(
      EventsStream.dedupKeys(stream, Seq("user_id", "event_type")),
      "dedup_sink", OutputMode.Append())
    val streamed = spark.table("dedup_sink").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val batch = Tables.load(spark, sf, "events")
      .select("user_id", "event_type").distinct().collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // exactly one row per distinct key (duplicates dropped, none invented)
    assert(streamed.length === streamed.distinct.length)
    assert(streamed.toSet === batch.toSet)
    // the corpus genuinely contains duplicates for this key pair
    assert(batch.length < Tables.load(spark, sf, "events").count())
  }

  test("stream-stream interval join equals the batch interval self-join") {
    EventsStream.replayToMemory(
      EventsStream.followWithin(
        EventsStream.fromParquetDir(spark, eventsDir),
        EventsStream.fromParquetDir(spark, eventsDir)),
      "follow_sink", OutputMode.Append())
    val streamed = spark.table("follow_sink").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ev = Tables.load(spark, sf, "events")
    val batch = ev.as("a").join(ev.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("b.ts") > col("a.ts") &&
          col("b.ts") <= col("a.ts") + expr("INTERVAL 5 minutes"))
      .select(col("a.event_id"), col("b.event_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("session windows: per-user sessions respect the gap") {
    val stream = EventsStream.fromParquetDir(spark, eventsDir)
    EventsStream.replayToMemory(
      EventsStream.sessionCounts(stream, "10 minutes", "30 minutes"),
      "session_sink", OutputMode.Complete())
    val sessions = spark.table("session_sink").collect()
    assert(sessions.nonEmpty)
    // session length >= n_events-proportional lower bound: end >= start
    sessions.foreach { r =>
      assert(!r.getTimestamp(1).before(r.getTimestamp(0)))
      assert(r.getAs[Long]("n_events") >= 1)
    }
    // per-user sessions don't overlap
    sessions.groupBy(_.getAs[Long]("user_id")).values.foreach { rs =>
      val sorted = rs.sortBy(_.getTimestamp(0).getTime).toSeq
      sorted.sliding(2).foreach { w =>
        if (w.length == 2) assert(!w(1).getTimestamp(0).before(w(0).getTimestamp(1)))
      }
    }
  }

  test("append-mode sessions equal complete-mode sessions once flushed") {
    // the bounded-state (append + watermark) contract: with a far-future
    // sentinel advancing the watermark past every real session, append
    // mode must emit exactly the complete-mode result — and the sentinel's
    // own (never-finalized) session must not reach the sink
    val ev = Tables.load(spark, sf, "events")
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    val far = new java.sql.Timestamp(maxTs.getTime + 30L * 24 * 3600 * 1000)
    import spark.implicits._
    val sentinel = Seq((-1L, far, -1L, "sentinel", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val d = tmpDir("graft-events-sentinel-spec")
    ev.unionByName(sentinel).write.mode("overwrite").parquet(d)
    EventsStream.replayToMemory(
      EventsStream.sessionCounts(EventsStream.fromParquetDir(spark, d),
        "10 minutes", "30 minutes"),
      "session_append_sink", OutputMode.Append())
    val appended = spark.table("session_append_sink").collect()
    // no sentinel session emitted (its window end is past the final watermark)
    assert(!appended.exists(_.getAs[Long]("user_id") == -1L))
    EventsStream.replayToMemory(
      EventsStream.sessionCounts(EventsStream.fromParquetDir(spark, eventsDir),
        "10 minutes", "30 minutes"),
      "session_complete_sink", OutputMode.Complete())
    val complete = spark.table("session_complete_sink").collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0), r.getTimestamp(1), r.getAs[Long]("user_id"),
        r.getAs[Long]("n_events"))
    assert(appended.map(key).toSet === complete.map(key).toSet)
    assert(appended.length === complete.length)
  }

  test("q59/q65 invariance: unaligned multi-batch replay with out-of-order " +
      "files equals the single-batch session result") {
    // The single-batch AvailableNow replays elsewhere in this suite prove
    // batch↔stream equality but never let the watermark advance MID-replay.
    // Here the corpus is carved into 6 time-sliced files with each slice's
    // trailing <55 minutes of events deferred into the NEXT file — genuine
    // cross-batch late arrivals, bounded inside the 1-hour watermark —
    // and replayed at maxFilesPerTrigger=2 (4 unaligned micro-batches).
    // Sessions finalized by intermediate watermarks plus late-row merges
    // must reproduce the single-batch result exactly (q59/q65's config:
    // gap 30 min, watermark 1 hour).
    import spark.implicits._
    val ev = Tables.load(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val rows = ev.orderBy("ts").collect()
    assert(rows.length >= 600)
    // deferral window: < watermark (1 h) so deferred rows are never
    // dropped; events average a 43-minute gap, so 55 min catches real rows
    val deferMs = 55L * 60 * 1000
    val raw = rows.grouped(math.ceil(rows.length / 6.0).toInt).map(_.toSeq).toArray
    val files = Array.fill(raw.length)(Seq.empty[org.apache.spark.sql.Row])
    var carry = Seq.empty[org.apache.spark.sql.Row]
    for (i <- raw.indices) {
      if (i < raw.length - 1) {
        // defer the slice's trailing window but KEEP its max-ts row in
        // place: the deferred rows then arrive in a later file than a
        // strictly newer row — genuine out-of-order arrival, yet bounded
        // lateness (watermark after this file ≈ boundary − 1 h)
        val boundary = raw(i).last.getTimestamp(1).getTime
        val (tail, keep) = raw(i).partition { r =>
          val t = r.getTimestamp(1).getTime
          boundary - t < deferMs && t < boundary
        }
        files(i) = carry ++ keep
        carry = tail
      } else files(i) = carry ++ raw(i)
    }
    assert(files.forall(_.nonEmpty) && raw.indices.init.exists { i =>
      // at least one genuinely deferred (out-of-order) row exists
      files(i + 1).map(_.getTimestamp(1).getTime).min <
        files(i).map(_.getTimestamp(1).getTime).max
    })
    val d = tmpDir("graft-events-multibatch")
    files.foreach { f =>
      spark.createDataFrame(spark.sparkContext.parallelize(f, 1), ev.schema)
        .write.mode("append").parquet(d)
      stampNewFiles(d)
    }
    // sentinel last file: flushes the final watermark horizon (q65 shape)
    val far = new java.sql.Timestamp(
      rows.last.getTimestamp(1).getTime + 30L * 24 * 3600 * 1000)
    Seq((-1L, far, -1L, "sentinel", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(1).write.mode("append").parquet(d)
    stampNewFiles(d)

    val q = EventsStream.sessionCounts(
        EventsStream.fromParquetDir(spark, d, maxFilesPerTrigger = Some(2)),
        gap = "30 minutes", watermark = "1 hour")
      .writeStream.format("memory").queryName("mb_sessions_sink")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches >= 3, s"expected an unaligned multi-batch replay, saw $dataBatches")

    val multiBatch = spark.table("mb_sessions_sink").collect()
    // the sentinel's own session is never finalized → never emitted
    assert(!multiBatch.exists(_.getAs[Long]("user_id") == -1L))
    EventsStream.replayToMemory(
      EventsStream.sessionCounts(EventsStream.fromParquetDir(spark, eventsDir),
        "30 minutes", "1 hour"),
      "mb_sessions_ref_sink", OutputMode.Complete())
    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0), r.getTimestamp(1), r.getAs[Long]("user_id"),
        r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))
    val ref = spark.table("mb_sessions_ref_sink").collect()
    assert(multiBatch.map(key).toSet === ref.map(key).toSet)
    assert(multiBatch.length === ref.length)
  }

  test("parquet-sink checkpoint resume: source offsets, session state, and " +
      "the commit log all survive a restart") {
    // The deployment contract behind every unbounded run: a query is
    // stopped (deploy, crash, rebalance) and restarted from its
    // checkpoint. The restart must (a) not reread committed input files,
    // (b) restore open-session state so boundary-spanning sessions close
    // correctly, (c) append to the sink without duplicating prior output.
    // All three fold into one assertion: the two-run streamed result
    // equals the batch sessionization of the whole corpus — computed by
    // EventAnalytics.sessionize, the operator q105 oracle-verifies, so
    // stream, backfill, and oracle share one contract.
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.load(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val sliced = ev.withColumn("slice",
      ntile(6).over(Window.orderBy(col("ts"), col("event_id"))))
      .localCheckpoint()
    val in = tmpDir("graft-resume-in")
    val out = tmpDir("graft-resume-out")
    val chk = tmpDir("graft-resume-chk")
    def writeSlices(r: Range): Unit = r.foreach { i =>
      sliced.filter(col("slice") === i).drop("slice")
        .coalesce(1).write.mode("append").parquet(in)
      stampNewFiles(in)
    }
    def run(): Unit = EventsStream.replayToParquet(
      EventsStream.sessionCounts(
        EventsStream.fromParquetDir(spark, in, maxFilesPerTrigger = Some(2)),
        gap = "30 minutes", watermark = "1 hour"),
      out, chk, statePartitions = Some(4))

    writeSlices(1 to 3)
    run() // first run: slices 1–3, then STOPS (AvailableNow drains)
    val mid = spark.read.parquet(out).count()

    writeSlices(4 to 6)
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    Seq((-1L, new java.sql.Timestamp(maxTs.getTime + 30L * 24 * 3600 * 1000),
        -1L, "sentinel", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(in)
    stampNewFiles(in) // sentinel must carry the NEWEST mtime (maxFileAge)
    run() // RESTART from the same checkpoint

    val streamed = spark.read.parquet(out).filter($"user_id" >= 0).collect()
    val batch = graft.operators.EventAnalytics.sessionize(ev, gapMinutes = 30)
      .collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[java.sql.Timestamp]("session_start"),
        r.getAs[java.sql.Timestamp]("session_end"),
        r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[Double]("total_value"))
    assert(streamed.map(key).toSet === batch.map(key).toSet)
    assert(streamed.length === batch.length) // set-equal AND no duplicates
    // the restart genuinely split the work: some sessions committed before
    // it, some only after
    assert(mid > 0 && mid < batch.length, s"mid=$mid of ${batch.length}")

    // exactly-once READ side: an orphan parquet file (a write that never
    // committed to the sink's _spark_metadata log) is invisible to readers
    val committed = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.copy(committed,
      java.nio.file.Paths.get(out, "orphan-uncommitted.parquet"))
    assert(spark.read.parquet(out).filter($"user_id" >= 0).count()
      === batch.length.toLong)
  }

  test("RocksDB state store: checkpoint-resume session replay is " +
      "result-identical to the default provider") {
    // The provider an unbounded deployment runs (state on executor-local
    // disk, changelog checkpoints) must be invisible to the dataflow:
    // the SAME two-run resume protocol as the test above, but with state
    // held in RocksDB, must produce the exact batch sessionization —
    // including sessions whose open state crossed the restart boundary
    // through a RocksDB checkpoint.
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.load(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val sliced = ev.withColumn("slice",
      ntile(6).over(Window.orderBy(col("ts"), col("event_id"))))
      .localCheckpoint()
    val in = tmpDir("graft-rocksdb-in")
    val out = tmpDir("graft-rocksdb-out")
    val chk = tmpDir("graft-rocksdb-chk")
    val providerBefore = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    def writeSlices(r: Range): Unit = r.foreach { i =>
      sliced.filter(col("slice") === i).drop("slice")
        .coalesce(1).write.mode("append").parquet(in)
      stampNewFiles(in)
    }
    def run(): Unit = EventsStream.replayToParquet(
      EventsStream.sessionCounts(
        EventsStream.fromParquetDir(spark, in, maxFilesPerTrigger = Some(2)),
        gap = "30 minutes", watermark = "1 hour"),
      out, chk, statePartitions = Some(4),
      stateStoreProvider = Some(EventsStream.RocksDbProvider))
    writeSlices(1 to 3)
    run()
    val mid = spark.read.parquet(out).count()
    writeSlices(4 to 6)
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    Seq((-1L, new java.sql.Timestamp(maxTs.getTime + 30L * 24 * 3600 * 1000),
        -1L, "sentinel", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(in)
    stampNewFiles(in)
    run()
    val streamed = spark.read.parquet(out).filter($"user_id" >= 0).collect()
    val batch = graft.operators.EventAnalytics.sessionize(ev, gapMinutes = 30)
      .collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[java.sql.Timestamp]("session_start"),
        r.getAs[java.sql.Timestamp]("session_end"),
        r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[Double]("total_value"))
    assert(streamed.map(key).toSet === batch.map(key).toSet)
    assert(streamed.length === batch.length)
    assert(mid > 0 && mid < batch.length, s"mid=$mid of ${batch.length}")
    // the conf was restored: later streams keep the session default
    assert(spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass") === providerBefore)
  }

  test("flatMapGroupsWithState sessions: gap close in-batch, timeout close " +
      "via watermark, custom first/last payload") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[EventsStream.Event]
    val query = EventsStream.closedSessions(input.toDS(), gapMinutes = 30,
        watermark = "1 hour").toDF()
      .writeStream.format("memory").queryName("fmgws_sink")
      .outputMode(OutputMode.Append()).start()
    def ev(id: Long, user: Long, time: String, typ: String) =
      EventsStream.Event(id, java.sql.Timestamp.valueOf(time), user, typ, 1.0)
    // session A: two events 5 min apart (arrives out of order in-batch)
    input.addData(
      ev(2, 1L, "2024-01-01 00:05:00", "buy"),
      ev(1, 1L, "2024-01-01 00:00:00", "view"))
    query.processAllAvailable()
    assert(spark.table("fmgws_sink").isEmpty) // still open, nothing emitted
    // 50 min later: gap ≥ 30 min closes session A the moment this arrives
    input.addData(ev(3, 1L, "2024-01-01 00:55:00", "view"))
    query.processAllAvailable()
    val afterGap = spark.table("fmgws_sink").collect()
    assert(afterGap.length === 1)
    val a = afterGap.head
    assert(a.getAs[Long]("user_id") === 1L)
    assert(a.getTimestamp(1) === java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(a.getTimestamp(2) === java.sql.Timestamp.valueOf("2024-01-01 00:35:00"))
    assert(a.getAs[Long]("n_events") === 2L)
    assert(a.getAs[String]("first_type") === "view")
    assert(a.getAs[String]("last_type") === "buy")
    // a far-future event from ANOTHER user pushes the watermark past
    // session B's horizon (00:55 + 30 min): B closes by TIMEOUT, with no
    // further user-1 input — the eviction path an idle user exercises
    input.addData(ev(9, 2L, "2024-01-01 04:00:00", "ping"))
    query.processAllAvailable()
    val afterTimeout = spark.table("fmgws_sink").collect()
    query.stop()
    assert(afterTimeout.length === 2)
    val closedB = afterTimeout.filter(r => r.getAs[Long]("user_id") == 1L &&
      r.getTimestamp(1) === java.sql.Timestamp.valueOf("2024-01-01 00:55:00"))
    assert(closedB.length === 1)
    assert(closedB.head.getAs[Long]("n_events") === 1L)
    // user 2's own session stays open (watermark hasn't passed its horizon)
    assert(!afterTimeout.exists(_.getAs[Long]("user_id") == 2L))
  }

  test("mapGroupsWithState accumulates per-user totals across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[EventsStream.Event]
    val query = EventsStream.runningUserTotals(input.toDS())
      .writeStream.format("memory").queryName("running_sink")
      .outputMode(OutputMode.Update()).start()
    def ev(id: Long, user: Long, v: Double) = EventsStream.Event(
      id, java.sql.Timestamp.valueOf(s"2024-01-01 00:0$id:00"), user, "click", v)
    input.addData(ev(1, 7L, 1.0), ev(2, 7L, 2.0), ev(3, 8L, 5.0))
    query.processAllAvailable()
    input.addData(ev(4, 7L, 3.0))
    query.processAllAvailable()
    val rows = spark.table("running_sink").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
    query.stop()
    // state carried across batches: user 7 ends at 3 events / 6.0 total
    assert(rows.contains((7L, 3L, 6.0)))
    assert(rows.contains((8L, 1L, 5.0)))
  }

  test("transformWithState sessions equal flatMapGroupsWithState sessions " +
      "on a multi-batch replay (incl. timer-driven closes)") {
    import spark.implicits._
    val srcDir = tmpDir("graft-tws-src")
    def slice(rows: (Long, String, Long)*): Unit = {
      rows.map { case (id, at, u) =>
        (id, java.sql.Timestamp.valueOf(at), u, "view", 0.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(srcDir)
      stampNewFiles(srcDir)
    }
    // user 1: two sessions split by a >30min gap spanning batches;
    // sentinel (user -1, far future) advances the final watermark
    slice((1L, "2024-01-01 00:00:00", 1L), (2L, "2024-01-01 00:10:00", 1L))
    slice((3L, "2024-01-01 01:00:00", 1L), (4L, "2024-01-01 01:05:00", 2L))
    slice((99L, "2024-03-01 00:00:00", -1L))
    def run(name: String, tws: Boolean): Set[(Long, String, String, Long)] = {
      val src = EventsStream.fromParquetDir(spark, srcDir,
        maxFilesPerTrigger = Some(1)).as[EventsStream.Event]
      val sessions =
        if (tws) EventsStream.closedSessionsTws(src, 30, "1 hour")
        else EventsStream.closedSessions(src, 30, "1 hour")
      EventsStream.replayToMemory(sessions.toDF(), name, OutputMode.Append(),
        statePartitions = Some(2),
        stateStoreProvider =
          if (tws) Some(EventsStream.RocksDbProvider) else None)
      spark.table(name).filter(col("user_id") >= 0)
        .collect().map(r => (r.getAs[Long]("user_id"),
          r.getAs[java.sql.Timestamp]("session_start").toString,
          r.getAs[java.sql.Timestamp]("session_end").toString,
          r.getAs[Long]("n_events"))).toSet
    }
    val fmgws = run("tws_parity_a", tws = false)
    val tws = run("tws_parity_b", tws = true)
    assert(tws === fmgws)
    assert(tws.exists(_._1 === 1L) && tws.exists(_._1 === 2L))
    // the two user-1 events in batch 1 and the one in batch 2 form TWO
    // sessions (>30min apart) — the first closed by a moved timer
    assert(tws.count(_._1 === 1L) === 2)
  }

  test("replayToTable: one commit per batch, the latest version equals the batch " +
      "last-per-key, and a fresh-checkpoint re-replay converges to the same content") {
    import spark.implicits._
    val srcDir = tmpDir("graft-versioned-src")
    def slice(rows: (Long, String, Long, String)*): Unit = {
      rows.map { case (id, at, u, ty) =>
        (id, java.sql.Timestamp.valueOf(at), u, ty) }
        .toDF("event_id", "ts", "user_id", "event_type")
        .coalesce(1).write.mode("append").parquet(srcDir)
      stampNewFiles(srcDir)
    }
    // batch 1 creates the table; batch 2 updates user 1, inserts user 3
    slice((1L, "2024-01-01 00:00:00", 1L, "view"),
      (2L, "2024-01-01 00:01:00", 2L, "click"))
    slice((3L, "2024-01-01 00:02:00", 1L, "purchase"),
      (4L, "2024-01-01 00:03:00", 3L, "view"))
    def agg(dir: String) = EventsStream
      .fromParquetDir(spark, dir, maxFilesPerTrigger = Some(1))
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"))).as("last"))
      .select(col("user_id"), col("last.ts").as("last_ts"),
        col("last.event_type").as("last_type"),
        pmod(col("user_id"), lit(2L)).cast("string").as("part"))
    import graft.operators.TimeTravel
    val vDir = tmpDir("graft-versioned-table")
    def upsertReplay(ck: String): Unit = VersionedStream.replayToTable(
      agg(srcDir), vDir, ck, partCol = "part", mode = "upsert",
      keyCol = Some("user_id"), outputMode = OutputMode.Update())
    def appendReplay(dir: String, ck: String): Unit =
      VersionedStream.replayToTable(
        EventsStream.fromParquetDir(spark, srcDir, maxFilesPerTrigger = Some(1))
          .withColumn("part", pmod(col("user_id"), lit(2L)).cast("string")),
        dir, ck, partCol = "part")
    def ops(dir: String): Seq[String] =
      TimeTravel.history(spark, dir).reverse.flatMap(_.op)
    // VERSIONED sink: one commit per micro-batch, and the INTERMEDIATE
    // version stays readable — batch 1's state before user 1's purchase
    // and user 3's arrival
    upsertReplay(tmpDir("ck1"))
    assert(TimeTravel.latestVersion(spark, vDir) === 2)
    // the log records one commit per non-empty batch: the first inits
    assert(ops(vDir) === Seq("init", "upsert"))
    def vstate(n: Int): Set[(Long, String)] =
      TimeTravel.readVersion(spark, vDir, n)
        .select("user_id", "last_type").as[(Long, String)].collect().toSet
    val expected = Set(1L -> "purchase", 2L -> "click", 3L -> "view")
    assert(vstate(2) === expected)
    assert(vstate(1) === Set(1L -> "view", 2L -> "click"))
    // re-replay the whole source with a FRESH checkpoint against the
    // EXISTING table: every batch re-commits as an upsert, the latest
    // content is unchanged, and the earlier versions stay as they were
    upsertReplay(tmpDir("ck2"))
    assert(TimeTravel.latestVersion(spark, vDir) > 2)
    assert(vstate(TimeTravel.latestVersion(spark, vDir)) === expected)
    assert(vstate(1) === Set(1L -> "view", 2L -> "click"))

    // APPEND-ONLY versioned sink: raw passthrough, one commit per batch,
    // every source row lands exactly once — no merge, no dedup (4 events
    // survive, where the upsert sink keeps 3 last-per-key rows)
    val aDir = tmpDir("graft-append-table")
    appendReplay(aDir, tmpDir("ck4"))
    assert(ops(aDir) === Seq("init", "append"))
    assert(TimeTravel.latestVersion(spark, aDir) === 2)
    assert(TimeTravel.readVersion(spark, aDir, 2).count() === 4)
    assert(TimeTravel.readVersion(spark, aDir, 1).count() === 2) // batch 1 only
    assert(TimeTravel.readVersion(spark, aDir, 2)
      .select("event_id").as[Long].collect().toSet === Set(1L, 2L, 3L, 4L))
    // the accumulated per-partition files fold in a NEW commit,
    // content and history intact
    val v3 = TimeTravel.compact(spark, aDir, "part")
    assert(v3 === 3)
    assert(TimeTravel.readVersion(spark, aDir, 3).count() === 4)
    assert(TimeTravel.readVersion(spark, aDir, 1).count() === 2)

    // CRASH-WINDOW recovery: the table already holds batch 0's commit
    // (it landed, the streaming checkpoint didn't — the at-least-once
    // gap) — the restarted stream must SKIP the re-delivered batch via
    // the txn watermark, not append it twice. Once with a plain path,
    // once with a `file:`-qualified one: the mark is read through the
    // table path's Hadoop FileSystem, whatever its scheme.
    val b0 = Seq(
        (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "view"),
        (2L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 2L, "click"))
      .toDF("event_id", "ts", "user_id", "event_type")
      // match the stream's enforced events schema (the schema check now
      // refuses silently-divergent batches)
      .withColumn("value", lit(null).cast("double"))
      .withColumn("props", lit(null).cast("string"))
      .withColumn("part", pmod(col("user_id"), lit(2L)).cast("string"))
    for (rDir <- Seq(tmpDir("graft-append-recover"),
        "file:" + tmpDir("graft-append-recover-qualified"))) {
      val rck = tmpDir("ck5")
      TimeTravel.init(spark, rDir, b0, "part", txn = Some(rck -> 0L))
      appendReplay(rDir, rck)
      // batch 0 skipped, batch 1 landed
      assert(ops(rDir) === Seq("init", "append"), rDir)
      assert(TimeTravel.latestVersion(spark, rDir) === 2)
      assert(TimeTravel.readVersion(spark, rDir, 2).count() === 4) // no dups
      assert(TimeTravel.readVersion(spark, rDir, 2)
        .select("event_id").as[Long].collect().sorted.toSeq
        === Seq(1L, 2L, 3L, 4L))
    }
  }

  test("replayToTable: a stream whose batches are all empty creates no table and records no commit") {
    import spark.implicits._
    import graft.operators.TimeTravel
    val srcDir = tmpDir("graft-versioned-empty-src")
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .coalesce(1).write.mode("append").parquet(srcDir)
    stampNewFiles(srcDir)
    val none = EventsStream
      .fromParquetDir(spark, srcDir, maxFilesPerTrigger = Some(1))
      .filter(col("user_id") < 0)
      .withColumn("part", pmod(col("user_id"), lit(2L)).cast("string"))
    val vDir = tmpDir("graft-versioned-empty")
    val ck = tmpDir("ck-empty")
    VersionedStream.replayToTable(none, vDir, ck, partCol = "part",
      mode = "upsert", keyCol = Some("user_id"),
      outputMode = OutputMode.Update())
    // the stream did run its batch; the sink committed nothing
    assert(new java.io.File(s"$ck/commits/0").exists)
    assert(TimeTravel.latestVersion(spark, vDir) === 0)
    assert(TimeTravel.history(spark, vDir).isEmpty)
  }

  test("replay sets its confs only around start(): the query keeps them, " +
      "the caller has its own back while the query runs") {
    import spark.implicits._
    val key = "spark.sql.shuffle.partitions"
    val callerValue = spark.conf.get(key)
    assert(callerValue != "3")
    val srcDir = tmpDir("conf-window-src")
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "view"),
        (2L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 2L, "click"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val out = tmpDir("conf-window-out")
    val ck = tmpDir("conf-window-ck")
    StreamingSpec.caller = spark
    // evaluated inside the running micro-batch: waits (bounded) for the
    // caller's value to come back — it can only if the harness restored
    // it before awaiting the query
    val restored = udf { (_: Long) =>
      StreamingSpec.awaitCallerConf(key, callerValue)
    }.asNondeterministic()
    EventsStream.replayToParquet(
      EventsStream.fromParquetDir(spark, srcDir)
        .select(col("event_id"), restored(col("event_id")).as("restored")),
      out, ck, statePartitions = Some(3))
    assert(spark.conf.get(key) === callerValue)
    assert(spark.read.parquet(out).select("restored").distinct()
      .collect().map(_.getBoolean(0)).toSeq === Seq(true))
    // the query itself ran with the replay's value: batch 0's offset
    // metadata records the confs the query started with
    val offsets0 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(ck, "offsets", "0")), "UTF-8")
    assert(offsets0.contains("\"" + key + "\":\"3\""), offsets0)
  }
}

object StreamingSpec {
  /** The session a replay was started from, for probes that run inside
    * the query's tasks (same JVM under `local[...]`). */
  @volatile var caller: org.apache.spark.sql.SparkSession = _

  /** Whether `key` on [[caller]] reads `expected` within 60 s. */
  def awaitCallerConf(key: String, expected: String): Boolean = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (caller.conf.get(key) != expected && System.nanoTime() < deadline)
      Thread.sleep(10)
    caller.conf.get(key) == expected
  }
}
