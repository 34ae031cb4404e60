package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the events table (SURVEY.md §7: the
  * reference is batch-only, streaming is the extension surface).
  *
  * The same event schema as the batch `events` table; sources are
  * file-streams (splittable parquet directories — the pattern that scales
  * to a bucketed 100 TB event lake or swaps for a Kafka source with no
  * operator changes), transforms are watermarked windowed aggregations and
  * a custom stateful sessionizer on mapGroupsWithState.
  */
object EventsStream {

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-stream source over a parquet directory of events.
    * `maxFilesPerTrigger` is the deployment rate-limit knob: it caps each
    * micro-batch at N files (oldest-first by modification time), so a
    * backlog replays as a sequence of bounded batches instead of one
    * giant one — the watermark then advances batch by batch and the
    * transforms must be (and are — StreamingSpec's multi-batch test)
    * invariant to where those batch boundaries fall. */
  def fromParquetDir(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(dir)
  }

  /** Tumbling-window counts/sums per event type with a watermark bounding
    * state (late rows beyond the watermark are dropped, state is evicted —
    * required for unbounded runs). */
  def tumblingCounts(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      // decimal-exact sum: micro-batch boundaries must not change results
      // (same rule as graft.queries.Exact)
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(28, 10))).cast(DoubleType)
          .as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Built-in session windows: gap-based per-user sessions. */
  def sessionCounts(events: DataFrame, gap: String = "10 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      // decimal-exact like tumblingCounts: session-merge order across
      // micro-batches must not perturb the sum
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(28, 10))).cast(DoubleType)
          .as("total_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("user_id"),
        col("n_events"), col("total_value"))

  /** Streaming deduplication: first occurrence of each key combination
    * survives, duplicates within the watermark horizon are dropped —
    * the streaming form of a curation pipeline's dedup stage.
    * `dropDuplicatesWithinWatermark` keeps per-key state only until the
    * watermark passes (bounded state on an unbounded stream), unlike plain
    * `dropDuplicates`, whose state grows with distinct keys forever.
    *
    * The bounded state is a CONTRACT, not just an optimization: a key
    * recurring more than `watermark` after its state was evicted re-emits
    * (that is the standard streaming-dedup semantics — exact global
    * distinct on an unbounded stream needs unbounded state). The output
    * equals batch `SELECT DISTINCT keys` when the input is replayed as a
    * single micro-batch (AvailableNow over one staged dir with no
    * maxFilesPerTrigger — q54's configuration) or whenever no key gap
    * exceeds the horizon. Emitting only the key columns keeps the result
    * a deterministic set under any arrival order within a batch. */
  def dedupKeys(events: DataFrame, keys: Seq[String],
      watermark: String = "24 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)
      .select(keys.map(col): _*)

  /** Stream-stream interval join: each event joins the SAME user's events
    * arriving within `horizon` after it (follow-up detection — the shape
    * behind funnel/attribution pipelines). Both sides are watermarked and
    * the join condition carries the time bound, so Spark buffers each side
    * only `horizon`+watermark long — bounded state on two unbounded
    * streams. Output (lead_id, follow_id) pairs are a deterministic set:
    * equal to the batch interval self-join whenever the replay's watermark
    * covers the data (single-batch AvailableNow, as in q57). */
  def followWithin(lead: DataFrame, follow: DataFrame,
      horizon: String = "5 minutes",
      watermark: String = "1 hour"): DataFrame = {
    val l = lead.withWatermark("ts", watermark)
      .select(col("event_id").as("lead_id"), col("user_id").as("lead_user"),
        col("ts").as("lead_ts"))
    val f = follow.withWatermark("ts", watermark)
      .select(col("event_id").as("follow_id"), col("user_id").as("follow_user"),
        col("ts").as("follow_ts"))
    l.join(f,
      col("lead_user") === col("follow_user") &&
        col("follow_ts") > col("lead_ts") &&
        col("follow_ts") <= col("lead_ts") + expr(s"INTERVAL $horizon"))
      .select(col("lead_id"), col("follow_id"))
  }

  /** LEFT OUTER variant of [[followWithin]]: EVERY lead event emits, with
    * `follow_id` NULL when no same-user follow landed inside the horizon —
    * the "did a conversion follow, including the no's" join an inner
    * stream-stream join cannot answer. The null-matched row for a lead can
    * only emit once the watermark passes `lead_ts + horizon` (before that
    * a matching follow could still arrive), so outer joins add a
    * watermark-gated EMISSION contract on top of the inner join's
    * watermark-gated state EVICTION; both sides' buffers stay bounded by
    * the same watermark. A bounded replay therefore withholds unmatched
    * leads in the final watermark horizon unless something advances the
    * watermark past them — q107 stages the q65 far-future sentinel for
    * exactly that. */
  def followWithinOuter(lead: DataFrame, follow: DataFrame,
      horizon: String = "5 minutes",
      watermark: String = "1 hour"): DataFrame = {
    val l = lead.withWatermark("ts", watermark)
      .select(col("event_id").as("lead_id"), col("user_id").as("lead_user"),
        col("ts").as("lead_ts"))
    val f = follow.withWatermark("ts", watermark)
      .select(col("event_id").as("follow_id"), col("user_id").as("follow_user"),
        col("ts").as("follow_ts"))
    l.join(f,
      col("lead_user") === col("follow_user") &&
        col("follow_ts") > col("lead_ts") &&
        col("follow_ts") <= col("lead_ts") + expr(s"INTERVAL $horizon"),
      "leftOuter")
      .select(col("lead_id"), col("follow_id"))
  }

  /** FULL OUTER variant of [[followWithin]]: matched pairs, leads with no
    * follow (follow_id NULL), AND follows with no lead inside the
    * horizon (lead_id NULL) — the complete reconciliation of the two
    * streams, q130's batch full-outer contract carried to streaming.
    * Both null-extension directions are watermark-GATED emissions: an
    * unmatched row on either side emits only once the watermark proves
    * no counterpart can still arrive, so state stays bounded exactly as
    * in the left-outer case, symmetrically on both buffers. */
  def followWithinFull(lead: DataFrame, follow: DataFrame,
      horizon: String = "5 minutes",
      watermark: String = "1 hour"): DataFrame = {
    val l = lead.withWatermark("ts", watermark)
      .select(col("event_id").as("lead_id"), col("user_id").as("lead_user"),
        col("ts").as("lead_ts"))
    val f = follow.withWatermark("ts", watermark)
      .select(col("event_id").as("follow_id"), col("user_id").as("follow_user"),
        col("ts").as("follow_ts"))
    l.join(f,
      col("lead_user") === col("follow_user") &&
        col("follow_ts") > col("lead_ts") &&
        col("follow_ts") <= col("lead_ts") + expr(s"INTERVAL $horizon"),
      "fullOuter")
      .select(col("lead_id"), col("follow_id"))
  }

  /** Stream-static enrichment: join each event against a broadcast
    * dimension relation, then roll up per (tumbling window, dimension
    * attribute). The static side is re-planned per micro-batch (so a dim
    * refresh is picked up) and broadcast — the join is STATELESS, adding
    * zero streaming state; all bounded state stays in the windowed
    * aggregate behind the watermark. This is the canonical "enrich the
    * firehose with reference data" shape: at 100 TB/day the stream side
    * never shuffles for the join, only for the post-join aggregate. */
  def enrichedTumblingCounts(events: DataFrame, dim: DataFrame,
      streamKey: String, dimKey: String, rollupCol: String,
      windowLen: String = "1 hour", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .join(broadcast(dim), col(streamKey) === col(dimKey))
      .groupBy(window(col("ts"), windowLen), col(rollupCol))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(28, 10))).cast(DoubleType)
          .as("total_value"))
      .select(col("window.start").as("window_start"), col(rollupCol),
        col("n_events"), col("total_value"))

  final case class Event(event_id: Long, ts: java.sql.Timestamp,
    user_id: Long, event_type: String, value: Double)
  final case class UserRunning(user_id: Long, n_events: Long,
    total_value: Double)

  /** Custom stateful operator: running per-user totals via
    * mapGroupsWithState — the pattern for state Spark's built-ins can't
    * express. State is one small record per user, partitioned by user_id
    * (scales horizontally with key count). Pass a `timeout` (e.g. "1 hour")
    * to TTL idle users' state in a continuously-running deployment —
    * processing-time timeouts need ongoing triggers, so the default for
    * replay/batch-style runs is no timeout. */
  def runningUserTotals(events: Dataset[Event],
      timeout: Option[String] = None): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](
        if (timeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
        else GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserRunning]) =>
          if (state.hasTimedOut) {
            // TTL fired with no new data: evict the idle user's state (the
            // point of the timeout) and emit the final totals once
            val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0))
            state.remove()
            prev
          } else {
            val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0))
            val (n, v) = batch.foldLeft((prev.n_events, prev.total_value)) {
              case ((cn, cv), e) => (cn + 1, cv + e.value)
            }
            val next = UserRunning(userId, n, v)
            state.update(next)
            timeout.foreach(state.setTimeoutDuration)
            next
          }
      }
  }

  /** One in-flight session per user inside [[closedSessions]]'s state:
    * timestamps as epoch MICROseconds so session boundaries keep the
    * events table's µs precision (Timestamp.getTime alone truncates to
    * ms, which could flip a gap decision exactly at the boundary). */
  final case class OpenSession(startUs: Long, lastUs: Long, n: Long,
    firstType: String, lastType: String)
  final case class ClosedSession(user_id: Long,
    session_start: java.sql.Timestamp, session_end: java.sql.Timestamp,
    n_events: Long, first_type: String, last_type: String)

  private def toMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  private def fromMicros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Custom sessionization via flatMapGroupsWithState — the API for state
    * machines that emit ZERO OR MORE rows per invocation, which
    * mapGroupsWithState (exactly one) and session_window (fixed
    * start/end/agg shape) cannot express. Each user's state is one open
    * session; a ≥`gapMinutes` quiet period closes it and emits a session
    * row carrying custom payload (first/last event type — the kind of
    * session-path feature the built-in session window can't produce).
    * Sessions idle past the gap close through an EventTimeTimeout, so
    * state stays bounded by ACTIVE users, not all users ever seen.
    *
    * Determinism contract: batch-oracle-exact when each user's events
    * arrive in a single micro-batch (the replay configuration) or in
    * ts order across batches; bounded-late cross-batch stragglers merge
    * into the open session but cannot reopen one already closed by gap —
    * the same horizon semantics as streaming dedup's documented contract. */
  def closedSessions(events: Dataset[Event], gapMinutes: Int = 30,
      watermark: String = "1 hour"): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes.toLong * 60 * 1000000
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[OpenSession]) =>
          def close(s: OpenSession): ClosedSession =
            ClosedSession(userId, fromMicros(s.startUs),
              fromMicros(s.lastUs + gapUs), s.n, s.firstType, s.lastType)
          if (state.hasTimedOut) {
            // quiet past the gap: the watermark passed lastUs+gap, so no
            // admissible event can extend this session — final, emit once
            val out = state.getOption.map(close)
            state.remove()
            out.iterator
          } else {
            // in-batch arrival order is arbitrary; ts order is the session
            // semantics, so sort (bounded: one user's slice of one batch)
            val sorted = batch.toSeq.sortBy(e => toMicros(e.ts))
            val closed = Seq.newBuilder[ClosedSession]
            var open = state.getOption
            for (e <- sorted) {
              val t = toMicros(e.ts)
              open match {
                case Some(s) if t - s.lastUs < gapUs =>
                  open = Some(s.copy(
                    startUs = math.min(s.startUs, t),
                    lastUs = math.max(s.lastUs, t), n = s.n + 1,
                    lastType = if (t >= s.lastUs) e.event_type else s.lastType))
                case Some(s) =>
                  closed += close(s)
                  open = Some(OpenSession(t, t, 1, e.event_type, e.event_type))
                case None =>
                  open = Some(OpenSession(t, t, 1, e.event_type, e.event_type))
              }
            }
            open.foreach { s =>
              val horizonMs = (s.lastUs + gapUs) / 1000
              // the timeout must sit above the watermark; if the watermark
              // already passed the horizon the session is closeable NOW
              if (state.getCurrentWatermarkMs() >= horizonMs) {
                closed += close(s)
                state.remove()
              } else {
                state.update(s)
                state.setTimeoutTimestamp(horizonMs)
              }
            }
            closed.result().iterator
          }
      }
  }

  /** [[closedSessions]] on Spark 4's `transformWithState` API — the
    * arbitrary-state successor to mapGroups/flatMapGroupsWithState, with
    * EXPLICIT typed state handles and first-class timers instead of the
    * single implicit GroupState blob. Same session semantics, same output
    * contract (q90's oracle verifies both), but the state model is the
    * one new pipelines should target: named ValueState (more stores
    * compose — a processor can hold several typed states), timers are
    * registered/deleted individually (here: one gap-horizon timer per
    * open session, MOVED on every extension rather than re-derived), and
    * the runtime requires the RocksDB provider — executor-local disk
    * state with changelog checkpoints, the unbounded-deployment store.
    *
    * The timer discipline is the part worth copying: extending a session
    * deletes the stale horizon timer and registers the new one, so
    * exactly one timer is live per open session and `handleExpiredTimer`
    * can close unconditionally — no watermark re-checks, no stale-timer
    * filtering. */
  class SessionProcessor(gapMinutes: Int)
      extends StatefulProcessor[Long, Event, ClosedSession] {
    private val gapUs = gapMinutes.toLong * 60 * 1000000
    @transient private var open: ValueState[OpenSession] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[OpenSession]("open",
        org.apache.spark.sql.Encoders.product[OpenSession], TTLConfig.NONE)

    private def horizonMs(s: OpenSession): Long = (s.lastUs + gapUs) / 1000

    private def close(userId: Long, s: OpenSession): ClosedSession =
      ClosedSession(userId, fromMicros(s.startUs),
        fromMicros(s.lastUs + gapUs), s.n, s.firstType, s.lastType)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        tv: TimerValues): Iterator[ClosedSession] = {
      val sorted = rows.toSeq.sortBy(e => toMicros(e.ts))
      val closed = Seq.newBuilder[ClosedSession]
      var cur = if (open.exists()) { // a live timer guards this state
        getHandle.deleteTimer(horizonMs(open.get()))
        Some(open.get())
      } else None
      for (e <- sorted) {
        val t = toMicros(e.ts)
        cur match {
          case Some(s) if t - s.lastUs < gapUs =>
            cur = Some(s.copy(
              startUs = math.min(s.startUs, t),
              lastUs = math.max(s.lastUs, t), n = s.n + 1,
              lastType = if (t >= s.lastUs) e.event_type else s.lastType))
          case Some(s) =>
            closed += close(key, s)
            cur = Some(OpenSession(t, t, 1, e.event_type, e.event_type))
          case None =>
            cur = Some(OpenSession(t, t, 1, e.event_type, e.event_type))
        }
      }
      cur.foreach { s =>
        if (tv.getCurrentWatermarkInMs() >= horizonMs(s)) {
          closed += close(key, s) // already past the horizon: final now
          open.clear()
        } else {
          open.update(s)
          getHandle.registerTimer(horizonMs(s))
        }
      }
      closed.result().iterator
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[ClosedSession] = {
      // one live timer per open session ⇒ expiry is exactly the horizon
      val out = if (open.exists()) Iterator(close(key, open.get())) else Iterator.empty
      open.clear()
      out
    }
  }

  /** The [[closedSessions]] dataflow on [[SessionProcessor]]. Requires the
    * RocksDB state store (the transformWithState runtime's requirement —
    * pass [[RocksDbProvider]] to the replay helpers). */
  def closedSessionsTws(events: Dataset[Event],
      gapMinutes: Int = 30, watermark: String = "1 hour"): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMinutes),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Run any of the streaming transforms to completion over a static
    * directory (replay mode): processes all available input, then stops.
    * Returns the sink table name holding results in memory.
    *
    * `statePartitions` sizes the stateful shuffle (fixed at checkpoint
    * creation): state-store setup cost is per-partition-per-batch, so a
    * replay with a few thousand keys wants far fewer than the session's
    * shuffle partitions (32→8 halves the replay wall-clock), while a real
    * deployment sizes it to key cardinality. The caller's session conf
    * is restored as soon as the query has started.
    *
    * `noDataBatch = false` skips the trailing empty micro-batch Spark runs
    * after the watermark advances. That batch exists to EMIT results whose
    * trigger is the watermark itself (Append-mode windows/sessions — q65
    * keeps it) and to evict expired state; transforms whose rows are
    * emitted in the batch that computes them (inner stream-stream joins,
    * dedup, Update-mode stateful ops, Complete-mode aggregations) produce
    * identical output without it, and a bounded replay discards state at
    * shutdown anyway — eviction work is pure overhead there (~⅓ of q57's
    * replay wall-clock). A continuous deployment leaves it ON: there the
    * no-data batch is how state stays bounded between bursts. */
  def replayToMemory(df: DataFrame, sinkTable: String,
      outputMode: OutputMode = OutputMode.Append(),
      statePartitions: Option[Int] = None,
      noDataBatch: Boolean = true,
      stateStoreProvider: Option[String] = None): Unit =
    replay(df, statePartitions, noDataBatch, stateStoreProvider) { ws =>
      ws.format("memory").queryName(sinkTable).outputMode(outputMode)
    }

  /** Fully-qualified class of the RocksDB state store — the provider an
    * unbounded 100 TB deployment runs (state spills to local disk with
    * changelog checkpointing instead of living on the JVM heap), here so
    * callers opt in without spelling the internal package. Results must be
    * IDENTICAL to the default HDFS-backed provider — the store is an
    * implementation detail below the dataflow — which q122 hash-checks
    * and StreamingSpec asserts provider-vs-provider. */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Replay to a PARQUET FILE SINK — the sink an unbounded deployment
    * actually writes (exactly-once via the sink's commit log under
    * `checkpointDir`; readers see only committed files). Append-mode only,
    * as the file sink requires; the memory-sink variant above is the
    * test/inspection path, this is the production path. */
  def replayToParquet(df: DataFrame, outDir: String, checkpointDir: String,
      statePartitions: Option[Int] = None,
      noDataBatch: Boolean = true,
      stateStoreProvider: Option[String] = None): Unit =
    replay(df, statePartitions, noDataBatch, stateStoreProvider) { ws =>
      ws.format("parquet").option("path", outDir)
        .option("checkpointLocation", checkpointDir)
        .outputMode(OutputMode.Append())
    }

  /** The shared replay harness: an AvailableNow run of whatever sink
    * `configure` sets up, under the replay's confs (state sizing,
    * no-data-batch suppression, state-store provider). They are set on
    * the caller's session only around `start()`: a streaming query runs
    * on a clone of its session taken as it starts (`StreamExecution`
    * clones it), so the run keeps them while the caller's own values
    * are back before the first batch — another query on the session
    * never sees the replay's. */
  private[streaming] def replay(df: DataFrame, statePartitions: Option[Int],
      noDataBatch: Boolean, stateStoreProvider: Option[String] = None)(
      configure: org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]
        => org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]): Unit = {
    val spark = df.sparkSession
    // RocksDB commits upload a FULL state snapshot per partition per
    // batch by default; changelog checkpointing writes only the batch's
    // delta (snapshots move to the background maintenance cadence) —
    // the recommended production configuration for the provider, and
    // results are provider-invariant by contract (q122's oracle and
    // StreamingSpec's provider-identity test both pin it).
    val confs = Seq(
      statePartitions.map("spark.sql.shuffle.partitions" -> _.toString),
      Option.when(!noDataBatch)(
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"),
      stateStoreProvider.map(
        "spark.sql.streaming.stateStore.providerClass" -> _),
      Option.when(stateStoreProvider.contains(RocksDbProvider))(
        "spark.sql.streaming.stateStore.rocksdb." +
          "changelogCheckpointing.enabled" -> "true")).flatten
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val q =
      try configure(df.writeStream)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      finally prev.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    q.awaitTermination()
  }
}
