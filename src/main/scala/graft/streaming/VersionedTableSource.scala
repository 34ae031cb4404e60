package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.StreamingDataFrame
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.operators.TimeTravel

/** STREAMING SOURCE over the [[graft.operators.TimeTravel]] versioned
  * table — the missing half of its change-feed story: q166/q168 hand a
  * BATCH consumer the incremental windows, this hands the same windows
  * to a Structured Streaming pipeline (the Delta streaming-source shape:
  * `spark.readStream.format("delta")`). The table's COMMIT LOG is the
  * offset axis — an offset is simply the highest table version a batch
  * covers, so exactly-once delivery falls out of the log's own
  * contracts: windows compose exactly (`(a,b] ++ (b,c] = (a,c]`),
  * `readAppendsSince` refuses rewrite commits and skips `compact`
  * (dataChange=false) ones, and a vacuumed-away window fails LOUDLY
  * instead of silently gapping — a restart past retention must
  * re-bootstrap, never invent continuity.
  *
  * Modes (options on `spark.readStream.format("graft-versioned")`):
  *   - default: INITIAL SNAPSHOT of the latest version at stream start
  *     as the first batch (one batch — it is one consistent version; at
  *     100 TB the snapshot's files split into tasks like any batch scan,
  *     so "one micro-batch" is a planning statement, not a memory one),
  *     then one window of `#op=append` adds per trigger. Exactly Delta's
  *     default streaming-read semantics.
  *   - `sinceVersion = N`: no snapshot — tail the log from version N
  *     (EXCLUSIVE, matching [[TimeTravel.readAppendsSince]]'s cursor
  *     contract) onward. The resume-from-a-known-cursor mode.
  *   - `changeFeed = true`: deliver [[TimeTravel.readChangesSince]]
  *     windows instead — full row-level CDC with `_change_type` /
  *     `_commit_version` columns (the `readChangeFeed` streaming
  *     analogue). The initial snapshot (if any) arrives as `insert`
  *     rows stamped with its version.
  *   - `maxVersionsPerTrigger = K`: admission control — at most K
  *     commits per micro-batch, so a restart from far behind drains as
  *     bounded batches instead of one giant catch-up batch (Delta's
  *     maxFilesPerTrigger idea on the version axis). Honored under
  *     `Trigger.AvailableNow` too, via [[SupportsTriggerAvailableNow]]
  *     (the FileStreamSource pattern — a plain V1 source would be
  *     wrapped and collapse to one batch).
  *   - `maxRowsPerTrigger` / `maxBytesPerTrigger` /
  *     `maxFilesPerTrigger`: row, byte, and file-count budgets packed
  *     at file granularity (row/byte sizes from the log's recorded
  *     `!rows=`/`!bytes=` stats) — all four caps compose; the
  *     tightest one decides the batch end.
  *
  * Scale shape: `latestOffset` is one log-dir listing (metadata);
  * `getBatch` plans from the log alone — the add files of the window's
  * commits, never a directory listing, never a snapshot scan — so
  * per-trigger cost is O(rows committed in the window), independent of
  * table size. Schema is pinned at stream start from the log (reads
  * never infer); columns ADDED by later evolution commits are dropped
  * until restart, and a re-run batch from before an evolution
  * NULL-fills — both standard streaming-schema semantics.
  *
  * This source is why `graftshim.StreamingDataFrame.asStreaming`
  * exists: a V1 `Source.getBatch` must return a plan whose leaves
  * report `isStreaming = true`, and the public API offers no way to
  * build one from a batch relation (Delta reaches into
  * `org.apache.spark.sql.delta` for the same purpose). */
class VersionedTableSource(sqlContext: SQLContext, baseDir: String,
    sinceVersionThunk: () => Option[Int], changeFeed: Boolean,
    maxVersionsPerTrigger: Option[Int], maxRowsPerTrigger: Option[Long],
    override val schema: StructType,
    maxBytesPerTrigger: Option[Long] = None,
    schemaResolvedAt: Option[Int] = None,
    maxFilesPerTrigger: Option[Int] = None)
    extends Source with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  def this(sqlContext: SQLContext, baseDir: String,
      sinceVersion: Option[Int], changeFeed: Boolean,
      maxVersionsPerTrigger: Option[Int], maxRowsPerTrigger: Option[Long],
      schema: StructType) =
    this(sqlContext, baseDir, () => sinceVersion, changeFeed,
      maxVersionsPerTrigger, maxRowsPerTrigger, schema, None)

  def this(sqlContext: SQLContext, baseDir: String,
      sinceVersion: Option[Int], changeFeed: Boolean,
      maxVersionsPerTrigger: Option[Int], maxRowsPerTrigger: Option[Long],
      schema: StructType, maxBytesPerTrigger: Option[Long]) =
    this(sqlContext, baseDir, () => sinceVersion, changeFeed,
      maxVersionsPerTrigger, maxRowsPerTrigger, schema,
      maxBytesPerTrigger)

  // maxRowsPerTrigger composes with BOTH modes: append windows split
  // at add-file boundaries, change feeds at change-capture-file
  // boundaries (a backfill-scale captured rewrite drains as bounded
  // batches instead of landing as one giant micro-batch)

  /** The starting cursor, resolved LAZILY and once: a restarted stream
    * restores its position from the checkpoint offset and never asks —
    * which is what lets a `sinceTimestamp` stream restart after a
    * vacuum truncated history past its (long-since-irrelevant)
    * starting wall-clock instead of failing the timestamp lookup. */
  private lazy val sinceVersion: Option[Int] = sinceVersionThunk()

  private def spark: SparkSession = sqlContext.sparkSession

  /** Under AvailableNow, the run's fixed end: versions committed after
    * the stream started are the NEXT run's business. */
  @volatile private var availableNowEnd: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(TimeTravel.latestVersion(spark, baseDir))

  override def getDefaultReadLimit: ReadLimit =
    maxRowsPerTrigger.map(ReadLimit.maxRows)
      .orElse(maxFilesPerTrigger.map(ReadLimit.maxFiles))
      .orElse(maxVersionsPerTrigger.map(n => ReadLimit.maxRows(n.toLong)))
      .getOrElse(ReadLimit.allAvailable())

  /** The stream's pinned LOGICAL field names (CDC columns excluded) —
    * what makes a column-mapping commit acceptable inside a window: a
    * (re)started stream whose pinned names postdate the change treats
    * it as metadata-only; a stream pinned to the OLD names gets the
    * loud restart error instead of silently NULL-filled columns
    * (Delta's schema-tracking restart contract). */
  private val pinnedNames: Seq[String] = schema.fields.map(_.name)
    .filterNot(n => n == TimeTravel.ChangeTypeCol ||
      n == TimeTravel.CommitVersionCol).toSeq

  /** The VERSION the pinned names bind to — every batch reads under
    * ITS schema and column mapping, never the batch-end version's: a
    * restarted stream draining a backlog from before a rename would
    * otherwise read old logical names and silently NULL-fill the
    * renamed column when aligning to the pinned schema. The provider
    * captured the EXACT version it resolved the schema at
    * (`schemaResolvedAt`) — when that record still carries the pinned
    * names in order, it IS the binding, immune to a commit landing
    * between resolution and first batch that reproduces the same name
    * sequence under a different column mapping (drop + re-add of a
    * same-named column). The ordered-name walk is the fallback for
    * callers of the legacy constructors. */
  private lazy val pinnedVersion: Int =
    schemaResolvedAt
      .filter(v => TimeTravel.schemaAt(spark, baseDir, v)
        .exists(_.fieldNames.toSeq == pinnedNames))
      .getOrElse(TimeTravel.pinSchemaVersion(spark, baseDir, pinnedNames,
        TimeTravel.latestVersion(spark, baseDir)))

  /** Committed versions are immutable: their add lists and recorded
    * stats cache for the stream's lifetime (one metadata read per
    * version, however many triggers walk it). */
  private val addsCache = scala.collection.concurrent.TrieMap
    .empty[Int, Seq[TimeTravel.AddFile]]
  private def versionAdds(v: Int): Seq[TimeTravel.AddFile] =
    addsCache.getOrElseUpdate(v,
      TimeTravel.appendWindowAdds(spark, baseDir, v - 1, v,
        Some(pinnedVersion)).head._2)
  private val cdcUnitsCache = scala.collection.concurrent.TrieMap
    .empty[Int, Seq[TimeTravel.CdcUnit]]
  private def versionCdcUnits(v: Int): Seq[TimeTravel.CdcUnit] =
    cdcUnitsCache.getOrElseUpdate(v,
      TimeTravel.cdcUnits(spark, baseDir, v, Some(pinnedVersion)))

  /** The admission units of version `v` in this stream's mode as
    * (rows, bytes) pairs: per-add-file recorded counts (append) or
    * per-change-file footer/listing counts (CDC) — one shared packing
    * walk serves row and byte budgets alike. */
  private def unitSizes(v: Int): Seq[(Option[Long], Option[Long])] =
    if (changeFeed) versionCdcUnits(v).map(u => (u.rows, u.bytes))
    else versionAdds(v).map(a => (a.rows, a.bytes))

  private def posOf(o: OffsetV2): VersionOffset = o match {
    case v: VersionOffset => v
    case other => VersionOffset.fromJson(other.json) // after restart
  }

  /** Admission control: the next batch's end position. Version-capped
    * by `maxVersionsPerTrigger`; with `maxRowsPerTrigger` the walk
    * packs whole ADD FILES (their `!rows=` counts from the log) until
    * the budget is spent — a fat backfill commit splits across
    * triggers at file boundaries instead of landing as one giant
    * batch. At least one file always admits (progress); a file with no
    * recorded count admits and exhausts the budget (conservative,
    * never wrong). Returns the unchanged cursor (→ no batch) when
    * nothing new committed. */
  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val latest = availableNowEnd
      .getOrElse(TimeTravel.latestVersion(spark, baseDir))
    if (latest < 1) return null // table not initialized yet: no data
    val base = Option(startOffset).map(posOf)
      .orElse(sinceVersion.map(VersionOffset(_)))
    base match {
      // initial snapshot (base None) is always one batch: one version
      case None => VersionOffset(latest)
      case Some(b) =>
        val endCap = math.min(latest,
          maxVersionsPerTrigger.map(b.version + _).getOrElse(latest))
        val target =
          (maxRowsPerTrigger, maxBytesPerTrigger, maxFilesPerTrigger) match {
          case _ if endCap <= b.version && b.complete => b
          case (None, None, None) => VersionOffset(endCap)
          case (rowBudget, byteBudget, fileBudget) =>
            var rowsAdm = 0L
            var bytesAdm = 0L
            var filesAdm = 0L
            var any = false // at least one file always admits: progress
            var out = b
            var v = if (b.complete) b.version + 1 else b.version
            var k = if (b.complete) 0 else b.filePos
            var done = false
            def spent: Boolean =
              rowBudget.exists(rowsAdm >= _) ||
                byteBudget.exists(bytesAdm >= _) ||
                fileBudget.exists(filesAdm >= _)
            while (!done && v <= endCap) {
              val units = unitSizes(v)
              var i = k
              while (!done && i < units.size) {
                // unknown counts fill the corresponding budget whole —
                // conservative, never a giant surprise batch
                val rows = units(i)._1.getOrElse(Long.MaxValue / 4)
                val bytes = units(i)._2.getOrElse(Long.MaxValue / 4)
                val over =
                  rowBudget.exists(rowsAdm + rows > _) ||
                    byteBudget.exists(bytesAdm + bytes > _) ||
                    fileBudget.exists(filesAdm + 1 > _)
                if (any && over) {
                  out = VersionOffset(v, i) // budget spent mid-version
                  done = true
                } else {
                  rowsAdm += rows; bytesAdm += bytes; filesAdm += 1
                  any = true; i += 1
                }
              }
              if (!done) {
                out = VersionOffset(v) // version fully admitted
                if (spent) done = true
                else { v += 1; k = 0 }
              }
            }
            out
        }
        if (target.version <= b.version && (b.complete || target == b)) b
        else target
    }
  }

  override def getOffset: Option[Offset] =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead " +
        "(this source implements SupportsAdmissionControl)")

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val e = posOf(end)
    val batch = start.map(posOf).orElse(sinceVersion.map(VersionOffset(_))) match {
      case Some(s) if changeFeed =>
        if (s.complete && e.complete) // whole-version CDC windows
          TimeTravel.readChangesSince(spark, baseDir, s.version,
            e.version, consumerPinnedAt = Some(pinnedVersion))
        else { // row-admitted window: change-capture-file granularity
          val byVersion = Seq.newBuilder[(Int, Seq[TimeTravel.CdcUnit])]
          if (s.version == e.version) {
            val us = versionCdcUnits(e.version)
            val from = if (s.complete) us.size else s.filePos
            val until = if (e.complete) us.size else e.filePos
            byVersion += e.version -> us.slice(from, until)
          } else {
            if (!s.complete)
              byVersion += s.version ->
                versionCdcUnits(s.version).drop(s.filePos)
            ((s.version + 1) until e.version)
              .foreach(v => byVersion += v -> versionCdcUnits(v))
            val endUs = versionCdcUnits(e.version)
            byVersion += e.version ->
              (if (e.complete) endUs else endUs.take(e.filePos))
          }
          TimeTravel.readCdcUnits(spark, baseDir, byVersion.result(),
            pinnedVersion)
        }
      case Some(s) => // an append window (s, e] at FILE granularity
        val files = Seq.newBuilder[TimeTravel.AddFile]
        if (s.version == e.version) {
          val adds = versionAdds(e.version)
          val from = if (s.complete) adds.size else s.filePos
          val until = if (e.complete) adds.size else e.filePos
          files ++= adds.slice(from, until)
        } else {
          if (!s.complete) files ++= versionAdds(s.version).drop(s.filePos)
          ((s.version + 1) until e.version)
            .foreach(v => files ++= versionAdds(v))
          val endAdds = versionAdds(e.version)
          files ++= (if (e.complete) endAdds else endAdds.take(e.filePos))
        }
        // read under the PINNED version's schema+mapping, not the
        // batch end's: a backlog batch ending before a rename commit
        // must still deliver the renamed column's values (files carry
        // stable physical names; the pinned mapping projects them)
        TimeTravel.readAddFiles(spark, baseDir, files.result(),
          pinnedVersion,
          s"window ($s, $e] of $baseDir has no logged schema to type " +
            "an empty result with")
      case None => // the initial snapshot: one consistent version
        val snap = TimeTravel.readVersion(spark, baseDir, e.version)
        // a rename racing the stream start would make the align step
        // below silently NULL-fill — fail with the restart contract
        if (snap.columns.toSet != pinnedNames.toSet)
          throw new IllegalStateException(
            s"version ${e.version} of $baseDir carries different column " +
              "names than this stream pinned at start — RESTART the " +
              "stream to pin the current names")
        if (changeFeed)
          snap.withColumn(TimeTravel.ChangeTypeCol, lit("insert"))
            .withColumn(TimeTravel.CommitVersionCol, lit(e.version))
        else snap
    }
    // pin to the stream's fixed schema: columns a later evolution added
    // are dropped until restart; a re-run batch from before an evolution
    // NULL-fills columns the restart's wider schema carries
    val have = batch.columns.toSet
    val widened = schema.fields.filterNot(f => have(f.name))
      .foldLeft(batch)((d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType)))
    val aligned = widened.select(
      schema.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
    StreamingDataFrame.asStreaming(aligned)
  }

  override def commit(end: Offset): Unit = () // the log IS the state

  override def stop(): Unit = ()

  override def toString: String =
    s"VersionedTableSource[$baseDir, changeFeed=$changeFeed]"
}

/** A source offset: the highest table version the batch covers, plus —
  * under row-based admission — how many of that version's ADD FILES
  * are consumed (`Complete` = the whole version; its json stays the
  * bare version number, so pre-row-admission checkpoints restart
  * cleanly and whole-version offsets round-trip unchanged). */
final case class VersionOffset(version: Int,
    filePos: Int = VersionOffset.Complete) extends Offset {
  def complete: Boolean = filePos == VersionOffset.Complete
  override def json: String =
    if (complete) version.toString else s"$version/$filePos"
  override def toString: String = json
}

object VersionOffset {
  val Complete: Int = -1
  def fromJson(s: String): VersionOffset = s.trim.split('/') match {
    case Array(v) => VersionOffset(v.trim.toInt)
    case Array(v, k) => VersionOffset(v.trim.toInt, k.trim.toInt)
    case _ => throw new IllegalArgumentException(s"bad offset: '$s'")
  }
}

/** V1 streaming SINK into the versioned table — the one path from a
  * micro-batch to a versioned commit: a pipeline writes
  * `df.writeStream.format("graft-versioned")` (or, for a bounded
  * replay, [[VersionedStream.replayToTable]]) with zero imperative glue
  * (the Delta sink shape). Every non-empty micro-batch lands as its own
  * commit; an empty one commits nothing, and the first commit inits
  * the table:
  *   - `mode = append` (default): blind-append commits — no discovery
  *     join, per-trigger cost independent of table size. Exactly-once:
  *     each commit carries a `(streamId, batchId)` txn marker INSIDE
  *     its record, the sink recovers the high-water mark from the log
  *     (through the table path's Hadoop `FileSystem`, so `file:` and
  *     remote paths recover too) at start, and re-delivered batches at
  *     or below it are skipped — append is not idempotent, so the
  *     marker is load-bearing.
  *   - `mode = upsert` (`keyCol` required): last-write-wins MERGE
  *     commits for Update-mode aggregations whose state carries per-key
  *     TOTALS — a re-delivered batch re-merges the same rows, so
  *     content converges without a marker (idempotent by construction).
  * `streamId` defaults to the query's `checkpointLocation`. The batch
  * DataFrame is rebuilt from the micro-batch's physical plan
  * ([[StreamingDataFrame.asBatch]] — what Spark's `ForeachBatchSink`
  * does too), since a V1 sink's input cannot be re-planned directly,
  * and the commit runs on that batch's session: the stream's clone,
  * carrying the confs the query started with. */
class VersionedTableSink(spark: SparkSession, baseDir: String,
    partCol: String, mode: String, keyCol: Option[String],
    streamId: String) extends Sink {

  private val committedUpTo = new java.util.concurrent.atomic.AtomicLong(
    if (TimeTravel.latestVersion(spark, baseDir) >= 1)
      TimeTravel.lastCommittedTxn(spark, baseDir, streamId).getOrElse(-1L)
    else -1L)

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    if (mode == "append" && batchId <= committedUpTo.get()) return
    // upsert mode: materialize the micro-batch ONCE — the emptiness probe
    // and the commit's own staging would otherwise each re-run the
    // stateful incremental plan (state-store reads included) from
    // scratch. Append mode skips the extra pass: its batch is a
    // stateless scan (the raw feed), the emptiness probe is a limit-1
    // read, and append's internal checkpoint materializes rows once.
    val rebatch = StreamingDataFrame.asBatch(data)
    val batch = if (mode == "append") rebatch else rebatch.localCheckpoint()
    if (batch.isEmpty) return
    val session = batch.sparkSession
    val txn = if (mode == "append") Some(streamId -> batchId) else None
    if (TimeTravel.latestVersion(session, baseDir) == 0)
      TimeTravel.init(session, baseDir, batch, partCol, txn)
    else if (mode == "append")
      TimeTravel.append(session, baseDir, batch, partCol, txn)
    else
      TimeTravel.upsert(session, baseDir, batch, keyCol.get, partCol)
    if (mode == "append") committedUpTo.set(batchId)
  }

  override def toString: String =
    s"VersionedTableSink[$baseDir, mode=$mode]"
}

/** V1 provider: `spark.read.format("graft-versioned")` (batch, with
  * `versionAsOf`/`timestampAsOf` time travel —
  * [[graft.sources.GraftVersionedRelation]]),
  * `df.write.format("graft-versioned")` (declarative batch write:
  * append / overwrite / errorifexists / ignore, with
  * `txnAppId`/`txnVersion` idempotence),
  * `spark.readStream.format("graft-versioned")` /
  * `df.writeStream.format("graft-versioned")` (registered via
  * META-INF/services) or the fully-qualified class name. */
class VersionedTableSourceProvider extends RelationProvider
    with CreatableRelationProvider
    with StreamSourceProvider with StreamSinkProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-versioned"

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val opts = VersionedTableSourceProvider.Opts(parameters)
    graft.sources.GraftVersionedRelation(sqlContext.sparkSession,
      opts.pathFor(sqlContext.sparkSession), opts.versionAsOf,
      opts.timestampAsOf)
  }

  /** Declarative BATCH WRITE (`df.write.format("graft-versioned")`,
    * the Delta batch-writer shape): every mode lands through the
    * normal commit paths, so constraints, schema checks, protocol
    * gates, CDC-ability and conflict rules all hold with zero
    * imperative glue.
    *   - `Append` → [[TimeTravel.append]] (blind-append commit;
    *     `init` when the table doesn't exist yet);
    *   - `Overwrite` → [[TimeTravel.overwrite]] (full replace as ONE
    *     commit — old versions stay readable);
    *   - `ErrorIfExists` / `Ignore` → standard SaveMode semantics.
    * `txnAppId` + `txnVersion` make a re-delivered batch a NO-OP (the
    * marker rides INSIDE the commit record — Delta's idempotent-write
    * pair), which is what turns at-least-once orchestration retries
    * into exactly-once appends. `partCol` is required only at table
    * creation; afterwards the log's layout answers it. */
  override def createRelation(sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val spark = sqlContext.sparkSession
    val opts = VersionedTableSourceProvider.Opts(parameters)
    val path = opts.pathFor(spark)
    val exists = TimeTravel.latestVersion(spark, path) >= 1
    val txn = for { a <- opts.txnAppId; v <- opts.txnVersion }
      yield (a, v)
    require(opts.txnAppId.isEmpty == opts.txnVersion.isEmpty,
      "txnAppId and txnVersion come together or not at all")
    val alreadyLanded = exists && txn.exists { case (a, v) =>
      TimeTravel.lastCommittedTxn(spark, path, a).exists(_ >= v) }
    val partCol = opts.partCol.getOrElse {
      if (exists) TimeTravel.partitionColumn(spark, path)
      else throw new IllegalArgumentException(
        "option 'partCol' is required when the write CREATES the table " +
          "(afterwards the log's layout answers it)")
    }
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"$path already has commits (SaveMode.ErrorIfExists)")
      case SaveMode.Ignore if exists => ()
      case _ if alreadyLanded => () // idempotent re-delivery: no-op
      case m =>
        if (!exists) TimeTravel.init(spark, path, data, partCol, txn)
        else if (m == SaveMode.Append)
          TimeTravel.append(spark, path, data, partCol, txn,
            opts.evolveSchema)
        else TimeTravel.overwrite(spark, path, data, partCol, txn,
          opts.evolveSchema)
    }
    graft.sources.GraftVersionedRelation(spark, path, None, None)
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "the versioned table's schema comes from its commit log — " +
        "do not pass one")
    val opts = VersionedTableSourceProvider.Opts(parameters)
    (shortName(), VersionedTableSourceProvider.tableSchema(
      sqlContext.sparkSession, opts.pathFor(sqlContext.sparkSession),
      opts.changeFeed))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val opts = VersionedTableSourceProvider.Opts(parameters)
    val srcPath = opts.pathFor(sqlContext.sparkSession)
    require(opts.sinceVersion.isEmpty || opts.sinceTimestamp.isEmpty,
      "sinceVersion and sinceTimestamp are mutually exclusive")
    // a timestamp cursor is a version cursor after one log lookup —
    // INCLUSIVE of a commit landing exactly at the wall-clock (Delta's
    // startingTimestamp contract): cursor = last version committed
    // STRICTLY BEFORE ts. CAUTION for pre-history timestamps: cursor
    // mode TAILS — it delivers commits AFTER the cursor and never
    // replays the cursor version itself, so a timestamp predating all
    // retained history resolves to cursor 1 and v1's rows (the init
    // snapshot) are NOT delivered; use the default snapshot mode to
    // replay them. Only the specific "every retained commit is later"
    // case maps to cursor 1 (versionAsOfOption answers it with None) —
    // an uninitialized or damaged log still fails loudly here instead
    // of silently tailing from v1. The lookup runs LAZILY (see
    // sinceVersion in the source): a restarted stream reads its
    // checkpoint offset instead, so vacuuming history past the
    // starting timestamp never breaks a restart.
    val since: () => Option[Int] = () =>
      opts.sinceVersion.orElse(opts.sinceTimestamp.map { ts =>
        val millis = graft.sources.GraftVersionedRelation.parseTs(ts)
        TimeTravel.versionAsOfOption(sqlContext.sparkSession, srcPath,
          millis - 1).getOrElse(1)
      })
    val (resolvedSchema, resolvedAt) =
      VersionedTableSourceProvider.tableSchemaAt(sqlContext.sparkSession,
        srcPath, opts.changeFeed)
    new VersionedTableSource(sqlContext, srcPath, since,
      opts.changeFeed, opts.maxVersionsPerTrigger, opts.maxRowsPerTrigger,
      resolvedSchema, opts.maxBytesPerTrigger, Some(resolvedAt),
      opts.maxFilesPerTrigger)
  }

  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    val opts = VersionedTableSourceProvider.Opts(parameters)
    val mode = opts.sinkMode
    require(mode == "append" || mode == "upsert",
      s"mode must be 'append' or 'upsert', got '$mode'")
    require(mode != "upsert" || opts.keyCol.nonEmpty,
      "upsert mode requires option 'keyCol'")
    // a blind-append sink under Update/Complete would re-land every
    // re-emitted aggregate row as NEW rows each trigger — silent
    // duplication (the txn marker dedups re-delivered batchIds, not
    // re-emitted rows). The Delta sink refuses the same combination.
    require(mode != "append" || outputMode == OutputMode.Append(),
      s"mode=append requires Append output mode (got $outputMode): " +
        "Update/Complete re-emit rows across triggers, which a blind " +
        "append would duplicate — use mode=upsert with a keyCol")
    // `.partitionBy(cols…)` on the writer and option("partCol", "a,b")
    // are the same declaration; either works, they must not disagree.
    // An explicit partCol="" declares an UNPARTITIONED table.
    val fromBy = Option(partitionColumns).filter(_.nonEmpty)
      .map(_.mkString(","))
    val partCol = (opts.partCol, fromBy) match {
      case (Some(a), Some(b))
          if TimeTravel.splitCols(a) != TimeTravel.splitCols(b) =>
        throw new IllegalArgumentException(
          s"option partCol='$a' disagrees with partitionBy('$b')")
      case (a, b) => a.orElse(b).getOrElse(
        throw new IllegalArgumentException(
          "the table's partition layout is required — pass option " +
            "'partCol' (comma-separated; '' = unpartitioned) or " +
            ".partitionBy(cols)"))
    }
    new VersionedTableSink(sqlContext.sparkSession,
      opts.pathFor(sqlContext.sparkSession), partCol,
      mode, opts.keyCol, opts.streamId.getOrElse(
        throw new IllegalArgumentException(
          "option 'streamId' is required when no checkpointLocation " +
            "is set — append exactly-once needs a stable stream identity")))
  }
}

object VersionedTableSourceProvider {

  /** Options, looked up case-insensitively (the V1 path lowercases
    * keys; direct construction may not). */
  private[streaming] final case class Opts(raw: Map[String, String]) {
    private val m = raw.map { case (k, v) => k.toLowerCase -> v }
    /** The table's base dir: option `path`, or option `table` — a
      * session-registered NAME ([[graft.GraftSession.registerTable]]),
      * the catalog seam that stops consumers restating paths. */
    def pathFor(spark: org.apache.spark.sql.SparkSession): String =
      m.get("path").orElse(m.get("table").map(n =>
        graft.GraftSession.resolveTable(spark, n)))
        .getOrElse(throw new IllegalArgumentException(
          "option 'path' (the versioned table's base dir) or 'table' " +
            "(a session-registered name) is required"))
    val sinceVersion: Option[Int] = m.get("sinceversion").map(_.toInt)
    /** Cursor start by WALL-CLOCK (Delta's `startingTimestamp`):
      * commits at or AFTER the timestamp deliver (the cursor resolves
      * to the last version committed strictly before it); a
      * pre-history timestamp tails from the first commit. Epoch millis
      * or `yyyy-MM-dd HH:mm:ss[.f…]`. Mutually exclusive with
      * `sinceVersion`. */
    val sinceTimestamp: Option[String] = m.get("sincetimestamp")
    // batch-read time travel (RelationProvider face)
    val versionAsOf: Option[Int] = m.get("versionasof").map(_.toInt)
    val timestampAsOf: Option[String] = m.get("timestampasof")
    val changeFeed: Boolean = m.get("changefeed").exists(_.toBoolean)
    val maxVersionsPerTrigger: Option[Int] =
      m.get("maxversionspertrigger").map(_.toInt)
    val maxRowsPerTrigger: Option[Long] =
      m.get("maxrowspertrigger").map(_.toLong)
    /** Byte-budget admission (Delta's maxBytesPerTrigger): add/CDC
      * units pack against the log's recorded `!bytes=` sizes the same
      * way rows pack — composes with the row and version caps. */
    val maxBytesPerTrigger: Option[Long] =
      m.get("maxbytespertrigger").map(_.toLong)
    /** File-count admission (Delta's maxFilesPerTrigger): at most n
      * add/CDC units per micro-batch; composes with every other cap —
      * the tightest one decides the batch end. */
    val maxFilesPerTrigger: Option[Int] =
      m.get("maxfilespertrigger").map(_.toInt)
    // sink-side options
    val partCol: Option[String] = m.get("partcol")
    val sinkMode: String = m.getOrElse("mode", "append")
    val keyCol: Option[String] = m.get("keycol")
    val streamId: Option[String] =
      m.get("streamid").orElse(m.get("checkpointlocation"))
    // declarative batch-write options (CreatableRelationProvider face):
    // txnAppId/txnVersion are Delta's idempotent-writer pair — a batch
    // at or below the app's recorded high-water mark is a re-delivery
    // and lands nothing
    val txnAppId: Option[String] = m.get("txnappid")
    val txnVersion: Option[Long] = m.get("txnversion").map(_.toLong)
    val evolveSchema: Boolean = m.get("evolveschema").exists(_.toBoolean)
  }

  /** The stream's schema: the log's committed schema at the current
    * latest version, plus the two CDC columns in changeFeed mode. */
  private[streaming] def tableSchema(spark: SparkSession, baseDir: String,
      changeFeed: Boolean): StructType =
    tableSchemaAt(spark, baseDir, changeFeed)._1

  /** [[tableSchema]] plus the VERSION it was resolved at — the source
    * pins its column-mapping binding to that exact record, closing the
    * race where a commit reproducing the same ordered names under a
    * different mapping lands between resolution and first batch. */
  private[streaming] def tableSchemaAt(spark: SparkSession,
      baseDir: String, changeFeed: Boolean): (StructType, Int) = {
    val latest = TimeTravel.latestVersion(spark, baseDir)
    require(latest >= 1,
      s"$baseDir has no commits — a stream needs an initialized table")
    val base = TimeTravel.schemaAt(spark, baseDir, latest).getOrElse(
      throw new IllegalArgumentException(
        s"$baseDir's log records no schema — pre-metadata tables are " +
          "not streamable"))
    val s = if (changeFeed)
      StructType(base.fields ++ Seq(
        StructField(TimeTravel.ChangeTypeCol, StringType),
        StructField(TimeTravel.CommitVersionCol, IntegerType)))
    else base
    (s, latest)
  }
}

/** Convenience entry points for streaming from and into a versioned
  * table. */
object VersionedStream {

  /** `readStream` over a versioned table — see [[VersionedTableSource]]
    * for mode semantics. */
  def readStream(spark: SparkSession, baseDir: String,
      sinceVersion: Option[Int] = None, changeFeed: Boolean = false,
      maxVersionsPerTrigger: Option[Int] = None,
      maxRowsPerTrigger: Option[Long] = None,
      sinceTimestamp: Option[String] = None,
      maxBytesPerTrigger: Option[Long] = None,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream
      .format(classOf[VersionedTableSourceProvider].getName)
      .option("path", baseDir)
      .option("changeFeed", changeFeed.toString)
    sinceVersion.foreach(v => r.option("sinceVersion", v.toString))
    sinceTimestamp.foreach(ts => r.option("sinceTimestamp", ts))
    maxVersionsPerTrigger.foreach(n =>
      r.option("maxVersionsPerTrigger", n.toString))
    maxRowsPerTrigger.foreach(n =>
      r.option("maxRowsPerTrigger", n.toString))
    maxBytesPerTrigger.foreach(n =>
      r.option("maxBytesPerTrigger", n.toString))
    maxFilesPerTrigger.foreach(n =>
      r.option("maxFilesPerTrigger", n.toString))
    r.load()
  }

  /** Replay `df` to completion into a versioned table through
    * [[VersionedTableSink]], one commit per non-empty micro-batch — see
    * there for the `append`/`upsert` modes. Runs on the same bounded
    * replay harness as the memory and Parquet replays
    * ([[EventsStream.replayToMemory]]); `statePartitions` sizes a
    * stateful upstream's shuffle as it does there. */
  def replayToTable(df: DataFrame, baseDir: String, checkpointDir: String,
      partCol: String, mode: String = "append",
      keyCol: Option[String] = None,
      outputMode: OutputMode = OutputMode.Append(),
      statePartitions: Option[Int] = None): Unit =
    EventsStream.replay(df, statePartitions, noDataBatch = true) { ws =>
      keyCol.foreach(k => ws.option("keyCol", k))
      ws.format(classOf[VersionedTableSourceProvider].getName)
        .outputMode(outputMode)
        .option("path", baseDir)
        .option("partCol", partCol)
        .option("mode", mode)
        .option("checkpointLocation", checkpointDir)
    }
}
