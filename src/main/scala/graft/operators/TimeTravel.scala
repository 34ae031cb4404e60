package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

/** VERSIONED copy-on-write table — the minimal Delta-log idea on plain
  * parquet: data files are append-only under `baseDir/data/`, and each
  * commit writes a LOG RECORD under `baseDir/_graft_log/`. A version is
  * the file set its log resolves to, nothing else: `readVersion` reads
  * exactly those files, so EVERY committed version stays readable after
  * later commits — the property the in-place [[Merge]] path cannot
  * offer, because dynamic partition overwrite physically deletes the
  * files an old version would need. Snapshot diffs between versions
  * therefore need no re-run of any merge: two log resolutions and one
  * [[Merge.snapshotDiff]].
  *
  * The log is INCREMENTAL — the shape that survives a long-lived stream
  * committing once per micro-batch on a 100 TB table:
  *   - `<N>.delta` is the commit record for version N (N ≥ 2): the
  *     files the commit ADDED (`+path` lines) and the previous
  *     version's files it REMOVED (`-path` lines). Its size is O(files
  *     touched by the batch), never O(table).
  *   - `<N>.manifest` is a CHECKPOINT: the full resolved file list of
  *     version N. `init` writes one for v1 (the only version with no
  *     predecessor), every `checkpointEvery`-th commit writes one after
  *     its delta (pure read acceleration — the delta remains the
  *     authoritative commit record), and VACUUM writes one at the
  *     retention floor so dropping older records never strands a chain.
  *   - resolving version N = nearest checkpoint at or below N, plus the
  *     deltas up to N — O(checkpointEvery) log reads, each
  *     batch-bounded except the one checkpoint.
  *
  * Commit mechanics mirror a real table format scaled to essentials:
  *   - writes never mutate: a merge STAGES the rewritten partitions'
  *     rows under `_staging/<token>/` and moves each produced file into
  *     `data/` under the commit-unique token — the commit knows its
  *     adds because it moved them (no directory listing at all, and no
  *     window where a concurrent writer's in-flight files could be
  *     claimed), so commit cost is bounded by the batch's partition
  *     spread — never a full-table listing. Untouched partitions' files
  *     carry over by NAME implicitly (the delta doesn't mention them) —
  *     zero data movement, byte-identical across versions.
  *   - commits are OPTIMISTIC: the record lands at `latest + 1` with an
  *     exclusive create; the loser of a race rebases past the winner
  *     when it safely commutes (appends always; rewrites only past
  *     commits touching disjoint partition dirs) and refuses loudly
  *     otherwise — see [[commitWithRebase]].
  *   - an emptied partition simply contributes `-` lines; nothing is
  *     physically deleted (time travel is why). Reclaiming files no
  *     retained version references is [[vacuum]].
  *   - the delta is created with `FileSystem.create(overwrite=false)` —
  *     two writers racing to commit the same version: exactly one wins,
  *     the optimistic-concurrency primitive every log-structured format
  *     builds on. The loser REBASES when its commit commutes with the
  *     winner's and gets a `ConcurrentModificationException` when it
  *     does not (its read snapshot was stale) — multi-writer safety on
  *     any filesystem with atomic exclusive create.
  *
  * Scale shape: the driver holds only the affected-partition values,
  * the current version's file list (file-count-bounded metadata, the
  * same thing a Delta snapshot holds) and the batch-bounded delta.
  * Reads are log-pruned: `readVersion` hands Spark the exact file list,
  * so planning never lists the directory. Full-table listings survive
  * in exactly two places, both inherently table-scale by contract:
  * `init` (everything is new) and `vacuum` (orphan discovery IS its
  * job). */
object TimeTravel {

  /** Write a full checkpoint manifest every this-many versions. Between
    * checkpoints a read replays at most this many batch-bounded deltas;
    * a higher value trades read-time log replay for fewer full lists
    * written. */
  private val checkpointEvery = 10

  /** Telemetry for the most recent commit PER TABLE — the observable
    * contract that commit cost is bounded by the BATCH: `dirsListed`
    * are the affected partition dirs (the commit's blast radius; since
    * staged writes know their files, commits enumerate no directories
    * at all), and `nAdded`/`nRemoved` are the delta's size.
    * Keyed by baseDir so concurrent sinks on different tables (a merge
    * stream and an append stream in one JVM) never clobber each other's
    * stats. Spec-asserted (TimeTravelSpec) and useful for ops logging. */
  final case class CommitStats(version: Int, dirsListed: Set[String],
      nAdded: Int, nRemoved: Int, checkpointed: Boolean)
  private[graft] val commitStats =
    scala.collection.concurrent.TrieMap.empty[String, CommitStats]
  private[graft] def lastCommitStats(baseDir: String): Option[CommitStats] =
    commitStats.get(baseDir)

  private[operators] def hadoopFs(spark: SparkSession, baseDir: String): FileSystem =
    new Path(baseDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataDir(baseDir: String) = new Path(baseDir, "data")
  private def logDir(baseDir: String) = new Path(baseDir, "_graft_log")
  private def changeRoot(baseDir: String) = new Path(baseDir, "_change")
  /** Change dirs are keyed by the commit's unique TOKEN, never by a
    * version number: a commit's version is only known once its record
    * lands (a rebase moves it past the predicted `prev + 1`), and an
    * ABORTED commit's change rows must never be addressable by a later
    * commit that happens to land at the same number. The record's
    * `#cdc=<token>` line is the one source of truth binding a version
    * to its change rows. */
  private def changeDir(baseDir: String, token: String) =
    new Path(changeRoot(baseDir), token)
  /** DELETION-VECTOR artifacts live under `_dv/<token>/` — one parquet
    * dataset per DV-writing commit holding `(part, name, pos)` rows:
    * the FILE-ABSOLUTE row positions deleted from each bound data
    * file, keyed by the file's (partition value, basename) pair —
    * globally unique because names are filesystem-unique within a dir
    * (a dynamic-partition write reuses one task's part-file name
    * ACROSS dirs, so the name alone is not). Token-addressed like
    * change dirs and for the same reason: the artifact lands BEFORE
    * its commit record, a rebase may move the commit's version, and an
    * aborted commit's artifact must never be addressable by a later
    * commit at the same number. A file's complete delete-set is the
    * rows of its CURRENTLY-bound artifact with its (part, name) key —
    * each DV commit folds the touched files' prior positions into its
    * new artifact, so one pointer per file always suffices (and
    * restore can rewind a pointer to an older artifact without seeing
    * newer deletions). */
  private def dvRoot(baseDir: String) = new Path(baseDir, "_dv")
  private def dvDir(baseDir: String, token: String) =
    new Path(dvRoot(baseDir), token)
  /** BLOOM-INDEX artifacts live under `_bloom/<token>/` — one parquet
    * dataset per bloom-building commit holding `(part, name, col,
    * bloom)` rows: a serialized Bloom filter over each indexed
    * column's values in each added file. Token-addressed for the same
    * pre-record-landing reasons as `_dv` and `_change`. Filters have
    * NO false negatives, so a file whose filter says a point-predicate
    * value is absent is provably irrelevant — the equality-skipping
    * complement to min/max range stats, for the high-cardinality
    * UNCLUSTERED columns ranges cannot prune (Delta's bloom filter
    * index). */
  private def bloomRoot(baseDir: String) = new Path(baseDir, "_bloom")
  private def bloomDir(baseDir: String, token: String) =
    new Path(bloomRoot(baseDir), token)
  private[operators] def newToken(): String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(12)
  private def manifestPath(baseDir: String, v: Int) =
    new Path(logDir(baseDir), s"$v.manifest")
  private def deltaPath(baseDir: String, v: Int) =
    new Path(logDir(baseDir), s"$v.delta")

  /** PARQUET checkpoint sidecar — the file+stats body of a cadence (or
    * vacuum-floor) checkpoint, one row per retained file. Token-named:
    * the owning manifest's `#filesbody=parquet:<token>` header is the
    * one binding (the same reason change dirs are token-keyed — a
    * racing loser's sidecar must never be addressable by the winner's
    * version number). Never parsed by [[logEntries]]. */
  private def checkpointSidecarPath(baseDir: String, v: Int,
      token: String) =
    new Path(logDir(baseDir), s"$v.$token.checkpoint.parquet")

  /** Test seam: `false` writes cadence/floor checkpoints as full TEXT
    * manifests (the pre-parquet format, still fully readable) — the
    * equivalence spec stages identical histories under both and pins
    * identical resolution. */
  @volatile private[operators] var parquetCheckpoints: Boolean = true

  /** Sidecars at or above this size resolve through a Spark scan
    * (distributed columnar parse); smaller ones through one driver
    * columnar read — no job-scheduling cost on the metadata-scale
    * commit path. */
  private val CheckpointSparkScanBytes = 16L << 20

  /** Relative (to data/) paths of ALL parquet data files on disk — the
    * table-scale listing, used only where table scale is the contract:
    * `vacuum` (orphans are by definition not in any log). Commits never
    * list: a staged write ([[stageWrite]]) knows its files because it
    * moved them. Above `threshold` partition dirs the per-dir listings
    * fan out as a Spark job (one driver `listStatus` for the dir set,
    * then distributed recursion) — a million-file table's orphan sweep
    * scales with the cluster, not one driver thread. Both paths return
    * identical sets (spec-pinned). */
  private[operators] def listDataFiles(spark: SparkSession, fs: FileSystem,
      baseDir: String,
      threshold: Int = DistributedFsThreshold): Set[String] = {
    val root = fs.makeQualified(dataDir(baseDir))
    if (!fs.exists(root)) Set.empty
    else {
      val entries = fs.listStatus(root)
      val dirs = entries.filter(_.isDirectory).map(_.getPath)
      val loose = entries.filter(e => e.isFile &&
          e.getPath.getName.endsWith(".parquet"))
        .map(e => root.toUri
          .relativize(fs.makeQualified(e.getPath).toUri).getPath)
      val nested: Seq[String] =
        if (dirs.length <= threshold)
          dirs.toSeq.flatMap(d => relativeParquetFiles(fs, root, d))
        else {
          val confW = new SerializableHadoopConf(
            spark.sparkContext.hadoopConfiguration)
          val rootStr = root.toString
          spark.sparkContext
            .parallelize(dirs.map(_.toString).toSeq,
              math.max(1, math.min(dirs.length / 4, 64)))
            .flatMap { d =>
              val p = new Path(d)
              relativeParquetFiles(p.getFileSystem(confW.conf),
                new Path(rootStr), p)
            }.collect().toSeq
        }
      (loose ++ nested).toSet
    }
  }

  /** Delete `files` (relative to data/), returning how many the
    * filesystem confirmed — vacuum's reclamation. Above `threshold`
    * the deletes fan out as a Spark job: reclaiming a table-scale
    * orphan set must not serialize through one driver thread. */
  private[operators] def deleteDataFiles(spark: SparkSession,
      fs: FileSystem, baseDir: String, files: Seq[String],
      threshold: Int = DistributedFsThreshold): Int =
    if (files.size <= threshold)
      files.count(f => fs.delete(new Path(dataDir(baseDir), f), false))
    else {
      val confW = new SerializableHadoopConf(
        spark.sparkContext.hadoopConfiguration)
      val dataStr = fs.makeQualified(dataDir(baseDir)).toString
      spark.sparkContext
        .parallelize(files, math.max(1, math.min(files.size / 16, 64)))
        .map { f =>
          val p = new Path(s"$dataStr/$f")
          if (p.getFileSystem(confW.conf).delete(p, false)) 1 else 0
        }.fold(0)(_ + _)
    }

  /** Above this many dirs/files, vacuum's filesystem work (listing,
    * deleting) runs as Spark jobs instead of a driver loop. */
  private val DistributedFsThreshold = 64

  /** Recursive parquet listing under `under`, returned as paths
    * relative to `root`. Used by [[listDataFiles]] (the two table-scale
    * contracts: init, vacuum) and by [[stageWrite]] to enumerate the
    * files a staged write just produced — commits themselves never
    * list. */
  private def relativeParquetFiles(fs: FileSystem, root: Path,
      under: Path): Set[String] = {
    // qualify BOTH sides before relativizing: listFiles returns
    // scheme-qualified URIs (file:/…), and relativize against a
    // scheme-less root silently returns the absolute URI unchanged
    val it = fs.listFiles(under, true)
    val b = Set.newBuilder[String]
    while (it.hasNext) {
      val f = fs.makeQualified(it.next().getPath)
      if (f.getName.endsWith(".parquet"))
        b += root.toUri.relativize(f.toUri).getPath
    }
    b.result()
  }

  /** Latest committed version, 0 if the table has no log yet. */
  def latestVersion(spark: SparkSession, baseDir: String): Int =
    logEntries(hadoopFs(spark, baseDir), baseDir).keys
      .foldLeft(0)(math.max)

  /** version → (has checkpoint manifest, has delta) from ONE log-dir
    * listing. The log dir holds O(versions) small files — metadata
    * scale, like a Delta `_delta_log`. */
  private def logEntries(fs: FileSystem,
      baseDir: String): Map[Int, (Boolean, Boolean)] = {
    val ld = logDir(baseDir)
    if (!fs.exists(ld)) Map.empty
    else fs.listStatus(ld).map(_.getPath.getName)
      .flatMap { n =>
        if (n.endsWith(".manifest"))
          Some(n.stripSuffix(".manifest").toInt -> true)
        else if (n.endsWith(".delta"))
          Some(n.stripSuffix(".delta").toInt -> false)
        else None
      }
      .groupBy(_._1)
      .map { case (v, kinds) =>
        v -> (kinds.exists(_._2), kinds.exists(!_._2)) }
  }

  // ---------------------------------------------------------------------
  // PROTOCOL / FEATURE GATES — every commit record carries a
  // `#protocol=<minReader>/<minWriter>` line: the MINIMUM reader and
  // writer capability a client needs to use the table without silent
  // corruption (Delta's protocol action, scaled to essentials). The
  // contract is FAIL CLOSED: a reader seeing a requirement above what
  // it supports refuses EVERY read path with one error, even for
  // features it has never heard of — which is what turns today's
  // per-feature ad-hoc refusals (DV, column mapping) into the default
  // every future format addition inherits. Requirements RATCHET: each
  // record carries max(what its own content needs, the previous
  // record's requirement), so a table that ever used a feature stays
  // gated until an explicit downgrade story exists (none today —
  // matching Delta, where protocol never auto-downgrades). Pre-protocol
  // records read as 1/1 (the base format every version of this library
  // reads), which is also what keeps every existing log valid.
  //
  // Version ledger (both axes):
  //   1 = base: files, stats, schema, txn markers, constraints, CDC,
  //       bloom artifacts (skippable by construction — ignoring them
  //       costs I/O, never correctness)
  //   2 = column mapping: `#colmap=`/`#coldrop=` — a reader without it
  //       would silently NULL-fill renamed columns
  //   3 = deletion vectors: `#dv=` — a reader without it would
  //       resurrect deleted rows
  // ---------------------------------------------------------------------
  private[operators] val SupportedReader = 3
  private[operators] val SupportedWriter = 3

  private def protocolLine(minReader: Int, minWriter: Int): String =
    s"#protocol=$minReader/$minWriter"

  /** A record's declared requirement; (1, 1) on pre-protocol records.
    * An unparsable declaration refuses loudly — a garbled gate must
    * fail closed, never read as "no gate". */
  private def protocolFrom(lines: Seq[String]): (Int, Int) =
    lines.collectFirst { case l if l.startsWith("#protocol=") =>
      val body = l.stripPrefix("#protocol=")
      val i = body.indexOf('/')
      try (body.take(i).trim.toInt, body.drop(i + 1).trim.toInt)
      catch { case _: Exception => throw new IllegalStateException(
        s"unparsable protocol requirement '$l' — refusing to read a " +
          "record whose gate cannot be understood") }
    }.getOrElse((1, 1))

  /** The requirement a record's OWN content needs (before the ratchet
    * against its predecessor). */
  private def protocolNeededBy(colmap: Map[String, String],
      coldrop: Set[String], dvs: Map[String, String]): (Int, Int) = {
    val v = if (dvs.nonEmpty) 3
      else if (colmap.nonEmpty || coldrop.nonEmpty) 2
      else 1
    (v, v)
  }

  private def maxProtocol(a: (Int, Int), b: (Int, Int)): (Int, Int) =
    (math.max(a._1, b._1), math.max(a._2, b._2))

  /** The highest requirement any record of `version` declares (delta
    * and/or checkpoint — a vacuum floor may leave only the manifest),
    * or None when no record survives. Reads UNGATED: the ratchet and
    * the writer gate must be computable even when the reader gate
    * would refuse the content itself. */
  private def protocolOfRecord(fs: FileSystem, baseDir: String,
      version: Int): Option[(Int, Int)] = {
    val ps = Seq(deltaPath(baseDir, version),
      manifestPath(baseDir, version)).filter(fs.exists(_))
    if (ps.isEmpty) None
    else Some(ps.map(p => protocolFrom(readLinesUngated(fs, p)))
      .reduce(maxProtocol))
  }

  /** READER GATE — the single choke point: both raw-line readers pass
    * every log record through here, so a record requiring a newer
    * reader refuses every read path (resolution, feeds, metadata
    * lookups, the declarative relation) with this one error. */
  private def gateReader(p: Path, lines: List[String]): List[String] = {
    val (r, _) = protocolFrom(lines)
    if (r > SupportedReader) throw new IllegalStateException(
      s"$p requires reader protocol version $r, but this library " +
        s"supports up to $SupportedReader — the table uses a newer " +
        "format feature; upgrade the library before reading it")
    lines
  }

  /** WRITER GATE — called before a commit record lands: the table's
    * current requirement is its latest record's declaration. A table
    * may be readable but not writable (a write-gated feature), which
    * is exactly the split Delta's reader/writer versions encode. */
  private def gateWriter(fs: FileSystem, baseDir: String,
      prevVersion: Int): Unit =
    if (prevVersion >= 1)
      protocolOfRecord(fs, baseDir, prevVersion).foreach { case (_, w) =>
        if (w > SupportedWriter) throw new IllegalStateException(
          s"$baseDir requires writer protocol version $w, but this " +
            s"library supports up to $SupportedWriter — the table uses " +
            "a newer format feature; upgrade the library before " +
            "writing to it")
      }

  /** PROTOCOL DOWNGRADE — the explicit story the ratchet points at
    * (Delta's `ALTER TABLE DROP FEATURE`, scaled to essentials): a
    * metadata-only commit whose `#protocol=` line is exactly what the
    * CURRENT snapshot's content needs, instead of the ratcheted
    * historical maximum. Sound because the gate is PER RECORD and
    * content-derived: time travel to a pre-downgrade version still
    * walks that version's own records, which still carry (and
    * enforce) the higher requirement — the downgrade frees only the
    * tip-onward path. Typical flow: `deleteWhereDv` raised the table
    * to 3/3, a later `compact` materialized every vector away, and
    * the downgrade returns new commits to 1/1 so pre-DV readers can
    * consume the tip again. Refused when the requirement is already
    * minimal (a no-op commit would be noise, not an operation). */
  def downgradeProtocol(spark: SparkSession, baseDir: String): Int = {
    val fs = hadoopFs(spark, baseDir)
    commitMetadata(spark, baseDir, "protocol", ratchet = false) {
      (snap, meta) =>
        val cur = protocolOfRecord(fs, baseDir, snap.version).getOrElse((1, 1))
        require(cur != protocolNeededBy(meta.colmap, meta.coldrop, snap.dvs),
          s"$baseDir's protocol requirement $cur is already the minimum " +
            "its current content needs — nothing to downgrade")
        meta
    }
  }

  /** The ONE commit loop of the metadata-only operations (constraints,
    * bloom policy, column evolution and mapping, protocol downgrade):
    * resolve the tip, run the caller's checks and policy `transform`
    * against its snapshot and recorded [[TableMeta]], and land a
    * data-free record through [[logCommit]] — so a metadata commit
    * writes its cadence checkpoint like any other. A lost version race
    * re-runs checks and transform against the NEW tip: a concurrent
    * commit must never slip in under a policy it was not checked
    * against. `ratchet = false` declares exactly what the content needs
    * (the downgrade). Returns the committed version. */
  private[operators] def commitMetadata(spark: SparkSession, baseDir: String,
      op: String, ratchet: Boolean = true)(
      transform: (Snapshot, TableMeta) => TableMeta): Int = {
    val fs = hadoopFs(spark, baseDir)
    @annotation.tailrec def attempt(prev: Int): Int = {
      val snap = resolveFull(spark, baseDir, prev)
      val meta = transform(snap, metaOfRecord(fs, baseDir, prev))
      val landed =
        try Some(logCommit(spark, fs, baseDir, prev + 1, Set.empty, Nil, Nil,
          Map.empty, () => snap, None, meta, op, ratchet = ratchet))
        catch { case _: CommitConflict => None }
      landed match {
        case Some(v) => v
        case None => attempt(latestVersion(spark, baseDir))
      }
    }
    val tip = latestVersion(spark, baseDir)
    require(tip >= 1, s"$baseDir has no commits — init the table first")
    attempt(tip)
  }

  private def readLinesUngated(fs: FileSystem, p: Path): List[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Log-record lines, metadata (`#`-prefixed, e.g. the txn marker)
    * excluded — resolution sees only file paths. */
  private def readLogLines(fs: FileSystem, p: Path): List[String] =
    gateReader(p, readLinesUngated(fs, p)).filterNot(_.startsWith("#"))

  private def readRawLines(fs: FileSystem, p: Path): List[String] =
    gateReader(p, readLinesUngated(fs, p))

  /** The single place that knows the delta-line grammar: `+path` adds,
    * `-path` removes, `#` metadata (ignored here). Every reader of a
    * commit record's file lines goes through this. */
  private def addsRemovesFrom(lines: Seq[String])
      : (Seq[String], Seq[String]) =
    (lines.collect { case l if l.startsWith("+") => l.tail },
      lines.collect { case l if l.startsWith("-") => l.tail })

  /** The (adds, removes) of version `v`'s commit record. */
  private def readDelta(fs: FileSystem, baseDir: String,
      v: Int): (Seq[String], Seq[String]) =
    addsRemovesFrom(readLogLines(fs, deltaPath(baseDir, v)))

  /** Transactional batch identity, the Delta `txn` action scaled to
    * essentials: a commit may carry `#txn=<urlenc streamId>:<batchId>`
    * INSIDE its record — atomic with the commit itself, which is the
    * whole point (a side file written after the commit reopens the
    * crash window it exists to close). An at-least-once writer (a
    * streaming foreachBatch sink re-delivering a batch after a
    * crash-restart) asks [[lastCommittedTxn]] whether the batch already
    * landed and skips it — exactly-once for NON-idempotent commits like
    * the blind append (the merge sinks are last-write-wins idempotent
    * and don't need it). */
  private def txnLine(txn: (String, Long)): String =
    s"#txn=${java.net.URLEncoder.encode(txn._1, "UTF-8")}:${txn._2}"

  /** The table schema AS OF each commit rides in the log too
    * (`#schema=<DataType json>` — json is newline-free, so one line),
    * the Delta mechanism that buys three things at once: reads never
    * INFER schema (no footer sampling over the file list — at 100 TB,
    * planning cost), SCHEMA EVOLUTION is well-defined (a commit that
    * adds columns records the widened schema; older files simply lack
    * the new columns and the reader fills NULLs), and schema TIME
    * TRAVEL falls out (readVersion(v) returns exactly the columns v was
    * committed with — a capability footer-merging cannot give, since it
    * unions every file it sees). Every commit record and checkpoint
    * carries the line, so any resolution window contains one. */
  private def schemaLine(schema: org.apache.spark.sql.types.StructType): String =
    s"#schema=${schema.json}"

  // ---------------------------------------------------------------------
  // CHECK constraints — table-level row invariants (Delta's ALTER TABLE
  // ADD CONSTRAINT ... CHECK). The active set rides in EVERY commit
  // record as `#constraint=<enc name>|<enc sqlExpr>` lines (the same
  // mechanism as `#schema=`), so reading any single record yields the
  // policy — no log walk on the commit path. Enforcement is SQL-standard
  // CHECK semantics: a row violates when the expression is FALSE; NULL
  // (unknown) passes, as in every SQL engine's CHECK. Enforced where
  // rows ENTER the table (init / append / upsert batches); deletes,
  // compactions and restores only move rows that already passed.
  // ---------------------------------------------------------------------

  private def constraintLines(cs: Map[String, String]): Seq[String] =
    cs.toSeq.sortBy(_._1).map { case (n, e) =>
      s"#constraint=${enc(n)}|${enc(e)}" }

  private def constraintsFrom(lines: Seq[String]): Map[String, String] =
    lines.collect { case l if l.startsWith("#constraint=") =>
      val body = l.stripPrefix("#constraint=")
      val i = body.indexOf('|')
      dec(body.take(i)) -> dec(body.drop(i + 1))
    }.toMap

  /** The active constraint set recorded at `version` — one record read
    * (every record carries the full set). Empty on pre-constraint logs. */
  def constraintsAt(spark: SparkSession, baseDir: String,
      version: Int): Map[String, String] =
    metaOfRecord(hadoopFs(spark, baseDir), baseDir, version).constraints

  /** Refuse `batch` rows that violate any active constraint — ONE
    * combined pass (violations OR'd, limit-1 probe); only the failure
    * path pays per-constraint probes to NAME the violated one. */
  private def enforceConstraints(batch: DataFrame,
      cs: Map[String, String], op: String): Unit =
    if (cs.nonEmpty) {
      def violates(e: String) = not(coalesce(expr(e), lit(true)))
      if (!batch.filter(cs.values.map(violates).reduce(_ || _)).isEmpty) {
        val name = cs.toSeq.sortBy(_._1).collectFirst {
          case (n, e) if !batch.filter(violates(e)).isEmpty => s"$n ($e)"
        }.getOrElse(cs.keys.mkString(", "))
        throw new IllegalArgumentException(
          s"$op batch violates CHECK constraint $name — rows must " +
            "satisfy every table constraint (NULL passes, FALSE refuses)")
      }
    }

  /** ADD CONSTRAINT as a metadata-only commit: the whole CURRENT version
    * must already satisfy `sqlExpr` (one scan — Delta validates the
    * same way), then the widened set lands in a data-free commit record
    * every later commit carries forward. On a commit race the loop
    * re-validates against the NEW tip before retrying — a concurrent
    * batch must never slip in under a constraint it was not checked
    * against. Returns the committed version. */
  def addConstraint(spark: SparkSession, baseDir: String, name: String,
      sqlExpr: String): Int = {
    require(name.nonEmpty && sqlExpr.nonEmpty,
      "constraint name and expression are required")
    commitMetadata(spark, baseDir, "constraint") { (snap, meta) =>
      val cs = meta.constraints
      require(!cs.contains(name),
        s"constraint '$name' already exists (${cs(name)}) — drop it first")
      // existing data must satisfy the new invariant, loudly checked
      enforceConstraints(readVersion(spark, baseDir, snap.version),
        Map(name -> sqlExpr), s"ADD CONSTRAINT $name: existing version " +
          s"${snap.version}")
      meta.copy(constraints = cs + (name -> sqlExpr))
    }
  }

  /** DROP CONSTRAINT: the shrunken set lands in a metadata-only commit.
    * Dropping an unknown name is a loud error, not a silent no-op. */
  def dropConstraint(spark: SparkSession, baseDir: String,
      name: String): Int =
    commitMetadata(spark, baseDir, "constraint") { (_, meta) =>
      val cs = meta.constraints
      require(cs.contains(name), s"no constraint named '$name' " +
        s"(active: ${cs.keys.toSeq.sorted.mkString(", ")})")
      meta.copy(constraints = cs - name)
    }

  /** CREATE BLOOMFILTER INDEX (Delta's
    * `CREATE BLOOMFILTER INDEX ... ON TABLE` essentials): a
    * metadata-only commit activating per-file Bloom filters for
    * `column` on every file ADDED from now on — the equality-skipping
    * complement to min/max range stats, for point lookups on
    * high-cardinality UNCLUSTERED columns (a GDPR key probe, an id
    * lookup) where every file's range covers every value. Sizing:
    * `expectedItemsPerFile` at `fpp` ≈ 9.6 bits/item at 1 % — 100k
    * items ≈ 120 KB per file, stored in a token-named `_bloom`
    * artifact, never inline in the log record. FORWARD-ONLY like
    * Delta's: files already in the table have no filter and are simply
    * never bloom-skipped; compact/rewrite regenerates filters for its
    * output files, so maintenance backfills the index incrementally.
    * STRING and integral columns only; the partition column is refused
    * (directory pruning already covers it exactly). */
  def setBloomIndex(spark: SparkSession, baseDir: String, column: String,
      expectedItemsPerFile: Long = 100000L, fpp: Double = 0.01): Int = {
    require(expectedItemsPerFile > 0, "expectedItemsPerFile must be > 0")
    require(fpp > 0.0 && fpp < 1.0, "fpp must be in (0, 1)")
    commitMetadata(spark, baseDir, "bloomidx") { (snap, meta) =>
      require(!meta.bloomIdx.contains(column),
        s"'$column' is already bloom-indexed — drop the index first")
      val schema = meta.schema.getOrElse(
        throw new IllegalArgumentException(
          s"$baseDir's log records no schema — pre-metadata tables " +
            "cannot be bloom-indexed"))
      require(schema.fieldNames.contains(column),
        s"'$column' is not in the table schema")
      import org.apache.spark.sql.types._
      schema(column).dataType match {
        case StringType | LongType | IntegerType | ShortType | ByteType =>
        case other => throw new IllegalArgumentException(
          s"bloom index on '$column' ($other): only STRING and " +
            "integral columns hash into the filter")
      }
      require(snap.files.isEmpty ||
          !partColsLogical(snap.files, snap.colmap).contains(column),
        s"'$column' is a partition column — directory pruning " +
          "already answers equality on it exactly")
      meta.copy(bloomIdx =
        meta.bloomIdx + (column -> ((expectedItemsPerFile, fpp))))
    }
  }

  /** DROP BLOOMFILTER INDEX: stop building filters for `column`.
    * Existing bindings stay in the snapshot and keep pruning — a
    * filter over an unchanged file never goes stale — until rewrites
    * retire the files. Unknown column is a loud error. */
  def dropBloomIndex(spark: SparkSession, baseDir: String,
      column: String): Int =
    commitMetadata(spark, baseDir, "bloomidx") { (_, meta) =>
      val idx = meta.bloomIdx
      require(idx.contains(column), s"no bloom index on '$column' " +
        s"(indexed: ${idx.keys.toSeq.sorted.mkString(", ")})")
      meta.copy(bloomIdx = idx - column)
    }

  // ---------------------------------------------------------------------
  // COLUMN MAPPING — rename/drop as METADATA-ONLY commits (Delta's
  // column mapping). Data files keep their PHYSICAL column names
  // forever; the log maps logical → physical, so a rename rewrites
  // nothing and old files stay readable under every version's own
  // names (schema time travel included). The active mapping rides in
  // EVERY commit record as `#colmap=<enc logical>|<enc physical>`
  // lines (non-identity entries only; absent = identity — which is
  // also what makes every pre-mapping log valid), plus
  // `#coldrop=<enc physical>` TOMBSTONES for dropped columns' physical
  // names: re-adding a column whose name collides with a live or
  // tombstoned physical name is REFUSED, or the old files' orphaned
  // values would silently resurface in the new column (Delta solves
  // the same hazard with UUID physical names; explicit refusal keeps
  // the log human-readable and the hazard impossible).
  // ---------------------------------------------------------------------

  private def colmapLines(m: Map[String, String],
      dropped: Set[String]): Seq[String] =
    m.toSeq.sortBy(_._1).map { case (l, p) =>
      s"#colmap=${enc(l)}|${enc(p)}" } ++
      dropped.toSeq.sorted.map(p => s"#coldrop=${enc(p)}")

  private def colmapFrom(lines: Seq[String]): Map[String, String] =
    lines.collect { case l if l.startsWith("#colmap=") =>
      val body = l.stripPrefix("#colmap=")
      val i = body.indexOf('|')
      dec(body.take(i)) -> dec(body.drop(i + 1))
    }.toMap

  private def coldropFrom(lines: Seq[String]): Set[String] =
    lines.collect { case l if l.startsWith("#coldrop=") =>
      dec(l.stripPrefix("#coldrop=")) }.toSet

  /** The column mapping recorded at `version` — one record read (every
    * record carries the full mapping): logical → physical, identity on
    * pre-mapping logs. */
  def columnMappingAt(spark: SparkSession, baseDir: String,
      version: Int): Map[String, String] =
    metaOfRecord(hadoopFs(spark, baseDir), baseDir, version).colmap

  /** Physical (file-side) names a new logical column may not take:
    * every mapped physical plus every tombstone. */
  private def reservedPhysical(colmap: Map[String, String],
      dropped: Set[String]): Set[String] = colmap.values.toSet ++ dropped

  /** Refuse batch columns whose name collides with a reserved physical
    * name — the add-after-rename/drop resurrection hazard (doc above). */
  private def requireNoPhysicalCollision(
      schema: org.apache.spark.sql.types.StructType,
      colmap: Map[String, String], dropped: Set[String],
      op: String): Unit = {
    val reserved = reservedPhysical(colmap, dropped)
    val offenders = schema.fieldNames
      .filterNot(colmap.contains) // mapped columns own their physical
      .filter(reserved)
    require(offenders.isEmpty,
      s"$op adds column(s) ${offenders.mkString(", ")} whose name is a " +
        "RESERVED physical name (a renamed or dropped column's file-side " +
        "name): old files' orphaned values would silently resurface — " +
        "pick a different name")
  }


  /** A crude-but-conservative "does this CHECK expression mention the
    * column" probe: word-boundary match on the raw SQL text. */
  private def constraintMentions(cs: Map[String, String],
      colName: String): Option[String] = {
    val re = ("(?i)(^|[^A-Za-z0-9_`])" +
      java.util.regex.Pattern.quote(colName) +
      "($|[^A-Za-z0-9_])").r
    cs.collectFirst { case (n, e) if re.findFirstIn(e).isDefined ||
      e.contains(s"`$colName`") => n }
  }

  /** ADD COLUMN(S) as a METADATA-ONLY commit (`#op=evolve`): the
    * committed schema widens by the new fields — zero files rewrite,
    * and every pre-evolution file reads the new columns as NULL (the
    * same NULL-fill contract `append(evolveSchema = true)` gives a
    * widening batch, without needing rows in hand). Version-pinned
    * reads return each version's OWN schema, so time travel across the
    * evolution round-trips. Refused: an existing column name, a
    * reserved physical name (the add-after-rename/drop resurrection
    * hazard), nested field paths, and NOT NULL fields (pre-evolution
    * rows are NULL by construction — a non-nullable add would be a
    * lie; add the column nullable, backfill, then constrain). */
  def addColumns(spark: SparkSession, baseDir: String,
      cols: Seq[org.apache.spark.sql.types.StructField]): Int = {
    require(cols.nonEmpty, "ADD COLUMNS needs at least one column")
    cols.foreach(f => require(f.nullable,
      s"ADD COLUMN ${f.name} NOT NULL is unsatisfiable: every " +
        "pre-evolution row reads the new column as NULL — add it " +
        "nullable, backfill, then ADD CONSTRAINT"))
    require(cols.map(_.name).distinct.size == cols.size,
      s"duplicate names in ADD COLUMNS (${cols.map(_.name).mkString(", ")})")
    commitMetadata(spark, baseDir, "evolve") { (snap, meta) =>
      val schema = snap.schema.getOrElse(throw new IllegalArgumentException(
        s"$baseDir records no schema — pre-metadata tables cannot evolve"))
      cols.foreach { f =>
        require(!schema.fieldNames.contains(f.name),
          s"column '${f.name}' already exists " +
            s"(columns: ${schema.fieldNames.mkString(", ")})")
        require(!reservedPhysical(meta.colmap, meta.coldrop)(f.name),
          s"'${f.name}' is a reserved physical name (a renamed or " +
            "dropped column's file-side name) — old files' orphaned " +
            "values would silently resurface; pick a different name")
      }
      meta.copy(schema = Some(org.apache.spark.sql.types.StructType(
        schema.fields ++ cols)))
    }
  }

  /** RENAME COLUMN as a metadata-only commit: the schema takes the new
    * logical name, the mapping binds it to the column's unchanged
    * PHYSICAL name, zero files rewrite, and time travel returns each
    * version's own names (a pre-rename version reads the old name from
    * its own schema+mapping). Refused: renaming the partition column
    * (its name is the directory layout), to an existing column, to a
    * reserved physical name, or while an active CHECK constraint
    * mentions the column (the expression would silently dangle). */
  def renameColumn(spark: SparkSession, baseDir: String,
      from: String, to: String): Int = {
    require(from != to, "rename to the same name is a no-op — refusing")
    commitMetadata(spark, baseDir, "colmap") { (snap, meta) =>
      val schema = snap.schema.getOrElse(throw new IllegalArgumentException(
        s"$baseDir records no schema — pre-metadata tables cannot rename"))
      require(schema.fieldNames.contains(from),
        s"no column '$from' (columns: ${schema.fieldNames.mkString(", ")})")
      require(!schema.fieldNames.contains(to),
        s"column '$to' already exists")
      require(!activePartCols(spark, baseDir, snap)
          .getOrElse(Nil).contains(from),
        s"'$from' is a partition column — its name IS the directory " +
          "layout; repartitioning is a rewrite, not a rename")
      require(!reservedPhysical(meta.colmap, meta.coldrop)(to) ||
        meta.colmap.get(from).contains(to),
        s"'$to' is a reserved physical name (a renamed or dropped " +
          "column's file-side name) — pick a different name")
      constraintMentions(meta.constraints, from).foreach(n =>
        throw new IllegalArgumentException(
          s"CHECK constraint '$n' mentions '$from' — drop the " +
            "constraint first, rename, then re-add it under the new name"))
      require(!meta.bloomIdx.contains(from),
        s"'$from' is bloom-indexed — drop the index first, rename, " +
          "then re-create it under the new name (the policy and the " +
          "recorded filters key the logical name)")
      val physical = meta.colmap.getOrElse(from, from)
      meta.copy(
        schema = Some(org.apache.spark.sql.types.StructType(
          schema.fields.map(f =>
            if (f.name == from) f.copy(name = to) else f))),
        colmap =
          if (physical == to) meta.colmap - from // renamed BACK: identity
          else meta.colmap - from + (to -> physical))
    }
  }

  /** DROP COLUMN as a metadata-only commit: the schema loses the
    * field, its physical name becomes a TOMBSTONE (re-add refused —
    * see the section doc), zero files rewrite, and pre-drop versions
    * keep reading the column through their own schema+mapping. Refused
    * for the partition column and while a CHECK constraint mentions
    * the column. */
  def dropColumn(spark: SparkSession, baseDir: String,
      name: String): Int =
    dropColumns(spark, baseDir, Seq(name))

  /** [[dropColumn]] for several columns in ONE commit: each name is
    * checked against the schema the earlier drops leave, and any
    * refusal refuses the whole statement — nothing lands. */
  private[graft] def dropColumns(spark: SparkSession, baseDir: String,
      names: Seq[String]): Int =
    commitMetadata(spark, baseDir, "colmap") { (snap, meta) =>
      val partCols = activePartCols(spark, baseDir, snap).getOrElse(Nil)
      names.foldLeft(meta.copy(schema = snap.schema)) { (m, name) =>
        val schema = m.schema.getOrElse(throw new IllegalArgumentException(
          s"$baseDir records no schema — pre-metadata tables cannot drop"))
        require(schema.fieldNames.contains(name),
          s"no column '$name' (columns: ${schema.fieldNames.mkString(", ")})")
        require(!partCols.contains(name),
          s"'$name' is a partition column — dropping it is a " +
            "repartition (a rewrite), not a metadata drop")
        require(schema.fields.length > 2,
          "dropping would leave fewer than two columns (partition + one " +
            "data column) — drop the table instead")
        constraintMentions(m.constraints, name).foreach(n =>
          throw new IllegalArgumentException(
            s"CHECK constraint '$n' mentions '$name' — drop the " +
              "constraint first"))
        require(!m.bloomIdx.contains(name),
          s"'$name' is bloom-indexed — drop the index first")
        m.copy(schema = Some(org.apache.spark.sql.types.StructType(
            schema.fields.filterNot(_.name == name))),
          colmap = m.colmap - name,
          coldrop = m.coldrop + m.colmap.getOrElse(name, name))
      }
    }

  /** Commit-kind and wall-clock metadata lines. The `#op=` kind is what
    * lets a log CONSUMER reason about a commit without reading its data:
    * [[readAppendsSince]] delivers `append` adds, skips `compact` adds
    * (a pure rewrite of already-delivered rows — Delta's
    * `dataChange=false`), and refuses rewrite kinds. `#ts=` (epoch
    * millis, the commit's wall-clock) powers [[versionAsOf]] — advisory
    * like Delta's file-mtime timestamps: version numbers are the
    * authoritative history, timestamps the human-friendly index. */
  private def opLine(op: String): String = s"#op=$op"
  private def tsLine(): String = s"#ts=${System.currentTimeMillis()}"
  /** `#cdc=<token>`: the commit's captured change rows live under
    * `_change/<token>/` — see [[changeDir]]. */
  private def cdcLine(token: String): String = s"#cdc=$token"
  private def cdcFrom(lines: Seq[String]): Option[String] =
    lines.collectFirst {
      case l if l.startsWith("#cdc=") => l.stripPrefix("#cdc=") }
  private def opFrom(lines: Seq[String]): Option[String] =
    lines.collectFirst {
      case l if l.startsWith("#op=") => l.stripPrefix("#op=") }
  private def tsFrom(lines: Seq[String]): Option[Long] =
    lines.collectFirst {
      case l if l.startsWith("#ts=") => l.stripPrefix("#ts=").toLong }

  // ---------------------------------------------------------------------
  // Per-file column statistics — DATA SKIPPING from the log alone.
  //
  // Every commit records, for each file it ADDS, the file's min/max per
  // eligible top-level column (`#stats=<path>|<col>=<min>:<max>;...`,
  // every token URL-encoded). The values come from the parquet FOOTERS
  // the write already produced — a driver-side footer read per added
  // file, O(files touched) like the commit's own listing, no data scan
  // (the Delta `stats` field on `add` actions, scaled to essentials).
  // Checkpoints carry the stats of every retained file, so skipping
  // survives vacuum. A file with no recorded bound for a column is
  // simply never skipped — stats are an I/O optimization with graceful
  // degradation, never a correctness input.
  //
  // Bounds ignore all-null row groups (contributing no stats), which is
  // sound exactly because [[readVersionSkipping]] prunes by range
  // overlap and range predicates are null-rejecting: a NULL value can
  // never satisfy `lo <= x <= hi`, so rows a null-only row group holds
  // can never be in the result the caller filters to.
  // ---------------------------------------------------------------------

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  private def statsLine(path: String, payload: String): String =
    s"#stats=${enc(path)}|$payload"

  /** The parquet-body marker of a checkpoint manifest header, when the
    * file+stats body lives in a token-named sidecar. */
  private def markerFrom(lines: Seq[String]): Option[String] =
    lines.collectFirst {
      case l if l.startsWith("#filesbody=parquet:") =>
        l.stripPrefix("#filesbody=parquet:")
    }

  /** `#stats=` lines → path → encoded per-column payload. */
  private def statsFrom(lines: Seq[String]): Map[String, String] =
    lines.collect { case l if l.startsWith("#stats=") =>
      val rest = l.stripPrefix("#stats=")
      val i = rest.indexOf('|')
      dec(rest.take(i)) -> rest.drop(i + 1)
    }.toMap

  private def statsLinesFor(files: Seq[String],
      stats: Map[String, String]): Seq[String] =
    files.sorted.flatMap(f => stats.get(f).map(p => statsLine(f, p)))

  /** `#dv=<enc path> <enc token>` binds a data file to the deletion-
    * vector artifact holding its deleted row positions. In a DELTA a
    * binding applies to the record's re-ADDED files (a DV commit
    * removes-and-re-adds each touched path so conflict detection,
    * feeds, and stats composition all see it as the rewrite it
    * logically is); a CHECKPOINT lists the bindings of every retained
    * bound file. Composition mirrors stats exactly:
    * `dvs -- removes ++ dvsFrom(lines)`. */
  private def dvLine(path: String, token: String): String =
    s"#dv=${enc(path)} ${enc(token)}"

  /** `#dv=` lines → path → artifact token. */
  private def dvsFrom(lines: Seq[String]): Map[String, String] =
    lines.collect { case l if l.startsWith("#dv=") =>
      val rest = l.stripPrefix("#dv=")
      val i = rest.indexOf(' ')
      dec(rest.take(i)) -> dec(rest.drop(i + 1))
    }.toMap

  private def dvLinesFor(dvs: Map[String, String]): Seq[String] =
    dvs.toSeq.sortBy(_._1).map { case (f, t) => dvLine(f, t) }

  /** `#bloom=<enc path> <enc token>` binds a data file to the bloom
    * artifact holding its per-column filters. Same composition as
    * stats and dv bindings: `blooms -- removes ++ bloomsFrom(lines)`;
    * a rewritten file's binding drops with the file, a DV re-add
    * CARRIES its binding forward (the bytes didn't change, and deletes
    * only shrink the value set — the filter stays a sound
    * over-approximation). */
  private def bloomLine(path: String, token: String): String =
    s"#bloom=${enc(path)} ${enc(token)}"

  private def bloomsFrom(lines: Seq[String]): Map[String, String] =
    lines.collect { case l if l.startsWith("#bloom=") =>
      val rest = l.stripPrefix("#bloom=")
      val i = rest.indexOf(' ')
      dec(rest.take(i)) -> dec(rest.drop(i + 1))
    }.toMap

  private def bloomLinesFor(m: Map[String, String]): Seq[String] =
    m.toSeq.sortBy(_._1).map { case (f, t) => bloomLine(f, t) }

  /** `#bloomidx=<enc col> <expectedItems> <fpp>` — the table's ACTIVE
    * bloom-index policy, riding in every commit record like the
    * constraint set: which columns get a per-file filter built at
    * commit time, sized how. One record read answers "what do I
    * build"; files added before the policy simply have no filter and
    * are never bloom-skipped (Delta's index is forward-only the same
    * way). */
  private def bloomIdxLines(p: Map[String, (Long, Double)]): Seq[String] =
    p.toSeq.sortBy(_._1).map { case (c, (n, fpp)) =>
      s"#bloomidx=${enc(c)} $n $fpp" }

  private def bloomIdxFrom(lines: Seq[String]): Map[String, (Long, Double)] =
    lines.collect { case l if l.startsWith("#bloomidx=") =>
      val parts = l.stripPrefix("#bloomidx=").split(' ')
      dec(parts(0)) -> ((parts(1).toLong, parts(2).toDouble))
    }.toMap

  /** The bloom-index policy as of `version` — one record read, public
    * observability. */
  def bloomIndexAt(spark: SparkSession, baseDir: String,
      version: Int): Map[String, (Long, Double)] =
    metaOfRecord(hadoopFs(spark, baseDir), baseDir, version).bloomIdx

  /** One file's per-column (min, max) as canonical strings — decimal
    * text for every numeric-ish column (dates as epoch days), raw text
    * for strings — merged across the footer's row groups. A column
    * drops out of the map (→ never skipped on) when any row group with
    * non-null values lacks usable statistics, or on any extraction
    * surprise (NaN bounds, unexpected physical type): stats must be
    * conservative or absent, never wrong. */
  /** Also returns the file's total ROW COUNT (sum of row-group
    * counts) — recorded in the payload as the reserved `!rows=` token
    * (a real column name can never collide: `enc` percent-encodes
    * `!`), feeding the streaming source's row-based admission. */
  private def footerColumnStats(
      conf: org.apache.hadoop.conf.Configuration, file: Path)
      : (Map[String, (String, String)], Long, Long) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation.{
      DecimalLogicalTypeAnnotation, StringLogicalTypeAnnotation,
      DateLogicalTypeAnnotation, IntLogicalTypeAnnotation}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import scala.jdk.CollectionConverters._
    val input = HadoopInputFile.fromPath(file, conf)
    val reader = ParquetFileReader.open(input)
    try {
      // (numeric?, min, max) per column; None = column disqualified
      val acc = scala.collection.mutable.Map
        .empty[String, Option[(Boolean, Any, Any)]]
      reader.getFooter.getBlocks.asScala.foreach { block =>
        block.getColumns.asScala.foreach { cc =>
          val name = cc.getPath.toDotString
          if (!name.contains('.') && !acc.get(name).contains(None)) {
            val extracted: Option[Option[(Boolean, Any, Any)]] =
              try {
                val st = cc.getStatistics
                if (st == null || st.isEmpty)
                  Some(None) // no stats written at all: unbounded column
                else if (!st.hasNonNullValue)
                  None // all-null row group: contributes nothing
                else {
                  val pt = cc.getPrimitiveType
                  val ann = pt.getLogicalTypeAnnotation
                  def bigInt(b: Binary) = new java.math.BigInteger(b.getBytes)
                  def decimalOf(v: Any, scale: Int): java.math.BigDecimal =
                    v match {
                      case i: java.lang.Integer => java.math.BigDecimal
                        .valueOf(i.longValue()).movePointLeft(scale)
                      case l: java.lang.Long => java.math.BigDecimal
                        .valueOf(l).movePointLeft(scale)
                      case b: Binary =>
                        new java.math.BigDecimal(bigInt(b), scale)
                    }
                  (ann, pt.getPrimitiveTypeName) match {
                    case (_: StringLogicalTypeAnnotation, BINARY) =>
                      Some(Some((false,
                        st.genericGetMin.asInstanceOf[Binary]
                          .toStringUsingUTF8,
                        st.genericGetMax.asInstanceOf[Binary]
                          .toStringUsingUTF8)))
                    case (d: DecimalLogicalTypeAnnotation, _) =>
                      Some(Some((true,
                        decimalOf(st.genericGetMin, d.getScale),
                        decimalOf(st.genericGetMax, d.getScale))))
                    case (_: DateLogicalTypeAnnotation, INT32) |
                         (_: IntLogicalTypeAnnotation, _) | (null, _) =>
                      pt.getPrimitiveTypeName match {
                        case INT32 | INT64 =>
                          Some(Some((true,
                            new java.math.BigDecimal(
                              st.genericGetMin.toString),
                            new java.math.BigDecimal(
                              st.genericGetMax.toString))))
                        case FLOAT | DOUBLE =>
                          // EXACT binary expansion via the double
                          // constructor, widening floats exactly as
                          // Spark's comparisons do. toString would
                          // round-trip SHORTEST (Float "0.1" ↛ the
                          // float's true value 0.10000000149…), and a
                          // bound that understates max / overstates min
                          // is a WRONG skip. NaN/Infinity throw here →
                          // the NonFatal catch disqualifies the column.
                          def exact(v: Any): java.math.BigDecimal =
                            v match {
                              case f: java.lang.Float =>
                                new java.math.BigDecimal(f.doubleValue())
                              case d: java.lang.Double =>
                                new java.math.BigDecimal(d.doubleValue())
                            }
                          Some(Some((true, exact(st.genericGetMin),
                            exact(st.genericGetMax))))
                        case _ => Some(None)
                      }
                    case _ => Some(None)
                  }
                }
              } catch { case scala.util.control.NonFatal(_) => Some(None) }
            extracted.foreach { e =>
              acc(name) =
                if (e.isEmpty) None // disqualified: sticky
                else acc.get(name) match {
                  case None => e // first row group seen for this column
                  case Some(None) => None // already disqualified
                  case Some(Some((pn, pmn, pmx))) =>
                    val (_, nmn, nmx) = e.get
                    // strings merge in UTF-8 byte order — the SAME
                    // order the skip-time compare uses; Java's UTF-16
                    // `<` disagrees beyond the BMP, and a merged max
                    // understated in the query's order is a WRONG skip
                    def lt(a: Any, b: Any) =
                      if (pn) a.asInstanceOf[java.math.BigDecimal]
                        .compareTo(b.asInstanceOf[java.math.BigDecimal]) < 0
                      else utf8Lt(a.asInstanceOf[String],
                        b.asInstanceOf[String])
                    Some((pn, if (lt(pmn, nmn)) pmn else nmn,
                      if (lt(pmx, nmx)) nmx else pmx))
                }
            }
          }
        }
      }
      val cols = acc.collect { case (c, Some((n, mn, mx))) =>
        c -> (if (n)
          (mn.asInstanceOf[java.math.BigDecimal].toPlainString,
            mx.asInstanceOf[java.math.BigDecimal].toPlainString)
        else (mn.asInstanceOf[String], mx.asInstanceOf[String]))
      }.toMap
      val rows = reader.getFooter.getBlocks.asScala
        .map(_.getRowCount.toLong).sum
      (cols, rows, input.getLength)
    } finally reader.close()
  }

  private def encodeStatsPayload(
      cols: Map[String, (String, String)], rows: Long,
      bytes: Long): String =
    (cols.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
      s"${enc(c)}=${enc(mn)}:${enc(mx)}"
    } :+ s"!rows=$rows" :+ s"!bytes=$bytes").mkString(";")

  /** The `!rows=` token of a stats payload — absent on records written
    * before row counts were recorded (consumers degrade: the streaming
    * source's row admission treats an unknown-count file as
    * budget-exhausting, never wrong). */
  private def parseRowCount(payload: String): Option[Long] =
    payload.split(';').collectFirst {
      case tok if tok.startsWith("!rows=") =>
        tok.stripPrefix("!rows=").toLong
    }

  /** The `!bytes=` token — the add file's on-disk size, recorded for
    * byte-budget streaming admission (`maxBytesPerTrigger`); same
    * degrade-to-exhaust contract as `!rows=` on older records. */
  private def parseByteCount(payload: String): Option[Long] =
    payload.split(';').collectFirst {
      case tok if tok.startsWith("!bytes=") =>
        tok.stripPrefix("!bytes=").toLong
    }

  /** Hadoop `Configuration` is not `Serializable`; this wrapper ships
    * it to stats tasks via its own wire format (`write`/`readFields`) —
    * the standard trick for Hadoop-touching closures. */
  private class SerializableHadoopConf(
      @transient var conf: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new org.apache.hadoop.conf.Configuration(false)
      conf.readFields(in)
    }
  }

  /** Footer reads distribute above this many added files: a normal
    * micro-batch's handful of footers is cheaper on the driver than a
    * job launch, but a backfill-scale commit (thousands of files) must
    * not serialize its metadata reads through one thread. */
  private val DistributedStatsThreshold = 64

  /** Encoded stats payload for each of `adds` — the commit-time hook.
    * One footer read per added file, never a data scan (the point).
    * Small commits read on the driver; commits adding more than
    * [[DistributedStatsThreshold]] files fan the footer reads out as a
    * Spark job (one task per ~bounded slice), so a backfill-sized
    * commit's stats cost scales with the CLUSTER, not one thread. Both
    * paths produce identical payloads (spec-pinned). */
  private[operators] def computeAddStats(spark: SparkSession,
      fs: FileSystem, baseDir: String, adds: Seq[String],
      threshold: Int = DistributedStatsThreshold): Map[String, String] =
    if (adds.size <= threshold)
      adds.map { f =>
        val (cols, rows, bytes) = footerColumnStats(fs.getConf,
          new Path(dataDir(baseDir), f))
        f -> encodeStatsPayload(cols, rows, bytes)
      }.toMap
    else {
      val confW =
        new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
      val root = fs.makeQualified(dataDir(baseDir)).toString
      spark.sparkContext
        .parallelize(adds, math.max(1, math.min(adds.size / 8, 64)))
        .map { f =>
          val (cols, rows, bytes) =
            footerColumnStats(confW.conf, new Path(s"$root/$f"))
          f -> encodeStatsPayload(cols, rows, bytes)
        }
        .collect()
        .toMap
    }

  /** Unsigned lexicographic UTF-8 byte order — the order parquet
    * computes string min/max in AND the order Spark's UTF8String
    * comparisons use. Java's `String` compares UTF-16 code units,
    * which DISAGREES beyond the BMP: a supplementary character's lead
    * surrogate (0xD800–0xDBFF) sorts below BMP code points 0xE000+
    * in UTF-16, but its UTF-8 bytes (0xF0–0xF4) sort above theirs
    * (0xEE–0xEF) — comparing bounds in UTF-16 order would wrongly skip
    * files holding non-BMP strings. */
  private def utf8Lt(a: String, b: String): Boolean =
    bytesLt(a.getBytes("UTF-8"), b.getBytes("UTF-8"))

  private def bytesLt(x: Array[Byte], y: Array[Byte]): Boolean = {
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** `(min, max)` recorded for `colName` in an encoded payload. */
  private def parseColRange(payload: String,
      colName: String): Option[(String, String)] =
    payload.split(';').iterator.flatMap { tok =>
      val eq = tok.indexOf('=')
      val co = tok.indexOf(':', eq + 1)
      if (eq < 0 || co < 0) None
      else if (dec(tok.take(eq)) != colName) None
      else Some((dec(tok.substring(eq + 1, co)), dec(tok.substring(co + 1))))
    }.toSeq.headOption

  /** The committed schema of `version` — resolved in [[resolveAt]]'s
    * walk. None only for pre-schema-line logs (reads fall back to
    * inference). */
  def schemaAt(spark: SparkSession, baseDir: String,
      version: Int): Option[org.apache.spark.sql.types.StructType] =
    resolveAt(spark, baseDir, version)._2

  /** The committed schema of `version` at RECORD cost: every modern
    * commit record carries its own `#schema=`, so this is one record
    * read; pre-schema-line records fall back to the full [[schemaAt]]
    * walk. The cheap path for callers that only need the committed
    * column ORDER (the SQL surface's per-statement lookup) and must
    * not pay a log resolve per query. */
  private[graft] def schemaOfRecordFast(spark: SparkSession,
      baseDir: String, version: Int)
      : Option[org.apache.spark.sql.types.StructType] =
    metaOfRecord(hadoopFs(spark, baseDir), baseDir, version).schema
      .orElse(schemaAt(spark, baseDir, version))

  private def parseTxn(l: String): (String, Long) = {
    val body = l.stripPrefix("#txn=")
    val i = body.lastIndexOf(':')
    (java.net.URLDecoder.decode(body.substring(0, i), "UTF-8"),
      body.substring(i + 1).toLong)
  }

  /** All txn markers recorded for `v` — from its DELTA when one exists
    * (the authoritative commit record, batch-bounded), else its
    * manifest (v1's init record, or a vacuum floor checkpoint carrying
    * several streams' marks). Never both: cadence checkpoints are
    * table-scale file lists written with no txns, so reading them here
    * would cost O(files) lines per 10th version for nothing. */
  private def txnsIn(fs: FileSystem, baseDir: String,
      v: Int): Seq[(String, Long)] = {
    val d = deltaPath(baseDir, v)
    val p = if (fs.exists(d)) Some(d)
      else Some(manifestPath(baseDir, v)).filter(fs.exists(_))
    p.toSeq.flatMap(readRawLines(fs, _)
      .filter(_.startsWith("#txn=")).map(parseTxn))
  }

  /** Highest batchId the log records for `streamId`, scanning commit
    * records newest→oldest and stopping at the first hit (batchIds are
    * monotone per stream). O(versions) metadata reads in the worst
    * case, paid once per stream RESTART — never on the commit path. */
  def lastCommittedTxn(spark: SparkSession, baseDir: String,
      streamId: String): Option[Long] = {
    val fs = hadoopFs(spark, baseDir)
    val entries = logEntries(fs, baseDir)
    entries.keys.toSeq.sorted.reverse.iterator.flatMap { v =>
      txnsIn(fs, baseDir, v).collect {
        case (s, id) if s == streamId => id }.maxOption
    }.nextOption()
  }

  /** Resolve the exact data-file set (relative paths) of `version`:
    * nearest checkpoint at or below it plus the deltas up to it. Fails
    * loudly (IllegalArgumentException) for a version whose log records
    * were vacuumed or never committed — never silent partial data. */
  def filesAt(spark: SparkSession, baseDir: String,
      version: Int): Seq[String] =
    resolveAt(spark, baseDir, version)._1

  private def schemaFrom(lines: Seq[String])
      : Option[org.apache.spark.sql.types.StructType] =
    lines.collectFirst {
      case l if l.startsWith("#schema=") =>
        org.apache.spark.sql.types.DataType
          .fromJson(l.stripPrefix("#schema="))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
    }

  /** The table POLICY every commit record carries in full: committed
    * schema (None only on pre-schema-line logs), CHECK constraints,
    * column mapping (logical → physical, identity entries omitted) with
    * the dropped columns' physical tombstones, and the bloom-index
    * policy. Reading one record answers all of it with no log walk;
    * [[metaOfRecord]] reads it and [[headerLines]] writes it. */
  private[operators] final case class TableMeta(
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      constraints: Map[String, String] = Map.empty,
      colmap: Map[String, String] = Map.empty,
      coldrop: Set[String] = Set.empty,
      bloomIdx: Map[String, (Long, Double)] = Map.empty) {
    /** The policy kinds (schema aside) on which `other` differs. */
    def changedIn(other: TableMeta): Seq[String] =
      Seq("constraint" -> (constraints != other.constraints),
        "column-mapping" ->
          (colmap != other.colmap || coldrop != other.coldrop),
        "bloom-index" -> (bloomIdx != other.bloomIdx))
        .collect { case (kind, true) => kind }
  }

  private def metaFrom(lines: Seq[String]): TableMeta =
    TableMeta(schemaFrom(lines), constraintsFrom(lines), colmapFrom(lines),
      coldropFrom(lines), bloomIdxFrom(lines))

  /** The policy recorded at `version` — ONE record read: its delta (the
    * authoritative commit record) when it exists, else its checkpoint
    * manifest. A delta without a `#schema=` line (pre-schema history)
    * takes the schema from a manifest at the same version. Empty when
    * no record of `version` survives. */
  private def metaOfRecord(fs: FileSystem, baseDir: String,
      version: Int): TableMeta = {
    val records = Seq(deltaPath(baseDir, version),
      manifestPath(baseDir, version)).iterator.filter(fs.exists(_))
    if (!records.hasNext) TableMeta()
    else {
      val meta = metaFrom(readRawLines(fs, records.next()))
      if (meta.schema.isDefined) meta
      else meta.copy(schema = records.nextOption()
        .flatMap(p => schemaFrom(readRawLines(fs, p))))
    }
  }

  /** A version fully resolved from the log: its file set, committed
    * schema, and per-file data-skipping stats (files with none recorded
    * are simply absent from `stats`). */
  private[operators] final case class Snapshot(version: Int,
      files: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType],
      stats: Map[String, String],
      colmap: Map[String, String] = Map.empty,
      dropped: Set[String] = Set.empty,
      dvs: Map[String, String] = Map.empty,
      blooms: Map[String, String] = Map.empty)

  private def resolveAt(spark: SparkSession, baseDir: String, version: Int)
      : (Seq[String], Option[org.apache.spark.sql.types.StructType]) = {
    val s = resolveFull(spark, baseDir, version)
    (s.files, s.schema)
  }

  /** ONE log walk yields the file set, the committed schema (last
    * `#schema=` seen wins — a later evolution commit overrides the
    * checkpoint's), and the retained files' stats of `version`. */
  private def resolveFull(spark: SparkSession, baseDir: String,
      version: Int): Snapshot = {
    val fs = hadoopFs(spark, baseDir)
    val entries = logEntries(fs, baseDir)
    val ckpt = entries.collect {
      case (v, (hasManifest, _)) if hasManifest && v <= version => v }
      .foldLeft(0)(math.max)
    require(ckpt >= 1,
      s"version $version of $baseDir is not resolvable: no checkpoint " +
        "at or below it (vacuumed away, or never committed)")
    val ckptLines = readRawLines(fs, manifestPath(baseDir, ckpt))
    var schema = schemaFrom(ckptLines)
    // parquet-body checkpoints keep only metadata in the text manifest;
    // the file+stats body resolves from the token-named sidecar
    var (files, stats, dvs, blooms) = markerFrom(ckptLines) match {
      case Some(token) =>
        readCheckpointSidecar(spark, fs, baseDir, ckpt, token)
      case None =>
        (ckptLines.filterNot(_.startsWith("#")).toSet, statsFrom(ckptLines),
          dvsFrom(ckptLines), bloomsFrom(ckptLines))
    }
    // the column mapping comes from the LAST record of the walk — every
    // record carries the full current mapping (identity when absent)
    var lastLines: Seq[String] = ckptLines
    ((ckpt + 1) to version).foreach { v =>
      require(entries.get(v).exists(_._2),
        s"version $v of $baseDir has no commit record (vacuumed away, " +
          "or never committed)")
      val lines = readRawLines(fs, deltaPath(baseDir, v))
      schemaFrom(lines).foreach(s => schema = Some(s))
      val (adds, removes) = addsRemovesFrom(lines)
      files = files -- removes ++ adds
      stats = stats -- removes ++ statsFrom(lines)
      dvs = dvs -- removes ++ dvsFrom(lines)
      blooms = blooms -- removes ++ bloomsFrom(lines)
      lastLines = lines
    }
    Snapshot(version, files.toSeq.sorted, schema,
      stats.filter { case (f, _) => files(f) },
      colmapFrom(lastLines), coldropFrom(lastLines),
      dvs.filter { case (f, _) => files(f) },
      blooms.filter { case (f, _) => files(f) })
  }

  /** The requirement a checkpoint at `version` must declare: what its
    * own content needs, ratcheted against the record already at
    * `version` (the delta it is written next to — which already carries
    * the ratchet, or a downgrade's lowered requirement), else against
    * the previous record — requirements never decrease without an
    * explicit downgrade. */
  private def ratchetedProtocol(fs: FileSystem, baseDir: String,
      version: Int, meta: TableMeta, dvs: Map[String, String]): (Int, Int) =
    (Seq(protocolNeededBy(meta.colmap, meta.coldrop, dvs)) ++
      protocolOfRecord(fs, baseDir, version)
        .orElse(protocolOfRecord(fs, baseDir, version - 1)))
      .reduce(maxProtocol)

  /** `#partcols=` — the table's partition layout, recorded explicitly
    * ONLY where the file layout cannot answer it: a record whose
    * resolved file set is EMPTY (an [[initEmpty]] v1). Everywhere else
    * the layout derives from any file path, so the line stays off the
    * hot grammar. Comma-joined encoded logical names; the bare marker
    * (empty value) declares an unpartitioned table. */
  private def partColsLine(partCols: Seq[String]): String =
    s"#partcols=${partCols.map(enc).mkString(",")}"

  private def partColsFrom(lines: Seq[String]): Option[Seq[String]] =
    lines.collectFirst { case l if l.startsWith("#partcols=") =>
      splitCols(l.stripPrefix("#partcols=")).map(dec) }

  /** The metadata header every record kind opens with, in its fixed
    * order: protocol, txn marks, the table policy ([[TableMeta]]; an
    * empty v1's `#partcols=` right after its schema), commit kind,
    * change-capture token, wall-clock (`ts` None = now). */
  private def headerLines(proto: (Int, Int), txns: Seq[(String, Long)],
      meta: TableMeta, op: Option[String], ts: Option[Long],
      cdc: Option[String] = None,
      partCols: Option[Seq[String]] = None): Seq[String] =
    Seq(protocolLine(proto._1, proto._2)) ++ txns.map(txnLine) ++
      meta.schema.map(schemaLine) ++ partCols.map(partColsLine) ++
      constraintLines(meta.constraints) ++
      colmapLines(meta.colmap, meta.coldrop) ++
      bloomIdxLines(meta.bloomIdx) ++ op.map(opLine) ++ cdc.map(cdcLine) :+
      ts.fold(tsLine())(t => s"#ts=$t")

  /** Full TEXT checkpoint for `version`: header, then every file's
    * stats and bindings, then the file list. Exclusive install.
    * `ts`: pass the ORIGINAL commit's wall-clock when re-materializing
    * an existing version's checkpoint (vacuum's floor) — stamping a
    * fresh time would rewrite history under [[versionAsOf]]. */
  private def manifestContent(proto: (Int, Int), files: Seq[String],
      txns: Seq[(String, Long)], meta: TableMeta, op: Option[String],
      ts: Option[Long], stats: Map[String, String],
      dvs: Map[String, String], blooms: Map[String, String],
      partCols: Option[Seq[String]] = None): Array[Byte] =
    (headerLines(proto, txns, meta, op, ts, partCols = partCols) ++
      statsLinesFor(files, stats) ++ dvLinesFor(dvs) ++
      bloomLinesFor(blooms) ++
      files.sorted).mkString("\n").getBytes("UTF-8")

  private def writeManifest(fs: FileSystem, baseDir: String, version: Int,
      files: Seq[String], txns: Seq[(String, Long)], meta: TableMeta,
      op: Option[String], ts: Option[Long] = None,
      stats: Map[String, String] = Map.empty,
      dvs: Map[String, String] = Map.empty,
      blooms: Map[String, String] = Map.empty,
      partCols: Option[Seq[String]] = None): Unit =
    installExclusive(fs, manifestPath(baseDir, version),
      manifestContent(ratchetedProtocol(fs, baseDir, version, meta, dvs),
        files, txns, meta, op, ts, stats, dvs, blooms, partCols))

  /** Header-only checkpoint manifest: the metadata lines (txns, schema,
    * constraints, op, ts) plus the file COUNT and the parquet-body
    * marker — a few hundred bytes however many files the version
    * retains, where the text body was O(files) driver-built string.
    * The body order (metadata first) keeps [[commitTimestamp]]'s
    * header-only read contract intact. */
  private def checkpointHeaderContent(proto: (Int, Int), token: String,
      nFiles: Int, txns: Seq[(String, Long)], meta: TableMeta,
      op: Option[String], ts: Option[Long]): Array[Byte] =
    (headerLines(proto, txns, meta, op, ts) ++
      Seq(s"#nfiles=$nFiles", s"#filesbody=parquet:$token"))
      .mkString("\n").getBytes("UTF-8")

  /** Write the checkpoint's file+stats body as a parquet sidecar
    * (Delta's `_checkpoint.parquet` idea): one row per retained file,
    * `(path, stats)`, streamed through a columnar writer — constant
    * memory beyond the file list, snappy-compressed, and resolvable as
    * a distributed Spark scan at table scale where the text body was a
    * single-threaded driver parse. Written tmp-then-rename; the `.tmp`
    * name rides vacuum's existing age-guarded residue sweep if a crash
    * strands it. The sidecar is DERIVED data: it lands before its
    * manifest header, so a manifest that references a token always
    * finds its body, and a crash in between leaves only an orphan the
    * sweep reclaims. */
  private def writeCheckpointSidecar(fs: FileSystem, baseDir: String,
      version: Int, token: String, files: Seq[String],
      stats: Map[String, String],
      dvs: Map[String, String] = Map.empty,
      blooms: Map[String, String] = Map.empty): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message graft_checkpoint { required binary path (UTF8); " +
        "optional binary stats (UTF8); optional binary dv (UTF8); " +
        "optional binary bloom (UTF8); }")
    val conf = new org.apache.hadoop.conf.Configuration(fs.getConf)
    GroupWriteSupport.setSchema(schema, conf)
    val tmp = new Path(logDir(baseDir),
      s".$version.$token.checkpoint.parquet.tmp")
    val writer = ExampleParquetWriter.builder(
        org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf).withType(schema)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    val factory = new SimpleGroupFactory(schema)
    try files.sorted.foreach { f =>
      val g = factory.newGroup().append("path", f)
      stats.get(f).foreach(s => g.append("stats", s))
      dvs.get(f).foreach(t => g.append("dv", t))
      blooms.get(f).foreach(t => g.append("bloom", t))
      writer.write(g)
    } finally writer.close()
    val dest = checkpointSidecarPath(baseDir, version, token)
    if (!fs.rename(tmp, dest)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(
        s"failed to install checkpoint sidecar $dest")
    }
  }

  /** Resolve a checkpoint's file+stats body from its parquet sidecar:
    * a distributed Spark scan at table scale, one driver columnar read
    * below [[CheckpointSparkScanBytes]] (the commit path resolves a
    * snapshot per commit — metadata-scale logs must not pay a Spark
    * job each time). */
  private def readCheckpointSidecar(spark: SparkSession, fs: FileSystem,
      baseDir: String, version: Int, token: String)
      : (Set[String], Map[String, String], Map[String, String],
        Map[String, String]) = {
    val p = checkpointSidecarPath(baseDir, version, token)
    require(fs.exists(p), s"checkpoint sidecar $p is missing: the log " +
      "is damaged (sidecars are written before the manifests that " +
      "reference them)")
    val files = Set.newBuilder[String]
    val stats = Map.newBuilder[String, String]
    val dvs = Map.newBuilder[String, String]
    val blooms = Map.newBuilder[String, String]
    if (fs.getFileStatus(p).getLen >= CheckpointSparkScanBytes) {
      val df = spark.read.parquet(p.toString)
      // older sidecars lack the binding columns — read them as absent
      val have = df.columns.toSet
      val optional = Seq("dv", "bloom").filter(have)
      val cols = Seq(col("path"), col("stats")) ++ optional.map(col)
      df.select(cols: _*).collect()
        .foreach { r =>
          val f = r.getString(0)
          files += f
          if (!r.isNullAt(1)) stats += f -> r.getString(1)
          optional.zipWithIndex.foreach { case (name, i) =>
            if (!r.isNullAt(2 + i)) {
              if (name == "dv") dvs += f -> r.getString(2 + i)
              else blooms += f -> r.getString(2 + i)
            }
          }
        }
    } else {
      import org.apache.parquet.hadoop.ParquetReader
      import org.apache.parquet.hadoop.example.GroupReadSupport
      val conf = new org.apache.hadoop.conf.Configuration(fs.getConf)
      val reader =
        ParquetReader.builder(new GroupReadSupport(), p).withConf(conf)
          .build()
      try {
        var g = reader.read()
        while (g != null) {
          val f = g.getString("path", 0)
          files += f
          if (g.getFieldRepetitionCount("stats") > 0)
            stats += f -> g.getString("stats", 0)
          // older sidecars have no binding fields at all
          if (g.getType.containsField("dv") &&
              g.getFieldRepetitionCount("dv") > 0)
            dvs += f -> g.getString("dv", 0)
          if (g.getType.containsField("bloom") &&
              g.getFieldRepetitionCount("bloom") > 0)
            blooms += f -> g.getString("bloom", 0)
          g = reader.read()
        }
      } finally reader.close()
    }
    (files.result(), stats.result(), dvs.result(), blooms.result())
  }

  /** Checkpoint write honoring the [[parquetCheckpoints]] format: the
    * parquet sidecar + header manifest by default, the legacy full-text
    * manifest under the test seam. Same atomic-install contract either
    * way (the manifest is what makes the checkpoint visible). */
  private def writeManifestCheckpoint(spark: SparkSession, fs: FileSystem,
      baseDir: String, version: Int, files: Seq[String],
      txns: Seq[(String, Long)], meta: TableMeta, op: Option[String],
      ts: Option[Long], stats: Map[String, String],
      dvs: Map[String, String], blooms: Map[String, String]): Unit =
    if (!parquetCheckpoints)
      writeManifest(fs, baseDir, version, files, txns, meta, op, ts,
        stats, dvs, blooms)
    else {
      val token = newToken()
      writeCheckpointSidecar(fs, baseDir, version, token, files, stats,
        dvs, blooms)
      installExclusive(fs, manifestPath(baseDir, version),
        checkpointHeaderContent(
          ratchetedProtocol(fs, baseDir, version, meta, dvs),
          token, files.size, txns, meta, op, ts))
    }

  /** The losing writer of a commit race — version `version` was
    * committed by someone else between our snapshot read and our
    * record write. Internal control flow: [[commitWithRebase]] catches
    * it and either rebases or surfaces a
    * `ConcurrentModificationException`. */
  private final class CommitConflict(val version: Int)
    extends Exception(s"version $version was committed concurrently")

  /** ATOMIC all-or-nothing exclusive install — delegated to the
    * scheme's [[LogStore]] (local hard-link, HDFS atomic rename, or a
    * registered external coordinator for object stores without atomic
    * create-if-absent). See [[LogStore]] for why a plain exclusive
    * create is not enough (the torn-record rebase race). Temp names
    * never parse as log entries (`logEntries` matches only `<N>.delta`
    * / `<N>.manifest`); crash residue is age-swept by [[vacuum]]. */
  private def installExclusive(fs: FileSystem, p: Path,
      bytes: Array[Byte]): Unit = {
    val q = fs.makeQualified(p)
    LogStore.forScheme(q.toUri.getScheme).installExclusive(fs, q, bytes)
  }

  /** Write `df` partitioned by `partCol` into a staging dir, then MOVE
    * each produced file into `data/` under a commit-unique token
    * prefix, returning exactly the moved files' relative paths. This is
    * what makes concurrent writers SOUND: the old list-before/
    * list-after discovery could claim another writer's in-flight files
    * as this commit's adds (two appends interleaving their writes and
    * listings would double-commit each other's rows); a staged write
    * knows its files because it MOVED them, and the token keeps names
    * globally unique. Renames are per-file metadata ops on a real
    * filesystem — the classic staging-commit every table format uses. */
  /** Single-string convenience (comma-separated columns; "" =
    * unpartitioned) — the spelling tests and older call sites use. */
  private[operators] def stageWrite(spark: SparkSession, baseDir: String,
      df: DataFrame, partCol: String): Seq[String] =
    stageWrite(spark, baseDir, df, splitCols(partCol))

  private[operators] def stageWrite(spark: SparkSession, baseDir: String,
      df: DataFrame, partCols: Seq[String],
      clusterBy: Option[(String, Int)] = None,
      zorderBy: Option[(Seq[String], Int)] = None,
      colmap: Map[String, String] = Map.empty): Seq[String] = {
    val fs = hadoopFs(spark, baseDir)
    val token = newToken()
    val staging =
      fs.makeQualified(new Path(baseDir, s"_staging/$token"))
    try {
      val partExprs = partCols.map(col)
      val arranged = (clusterBy, zorderBy) match {
        // CLUSTERED layout: k range buckets over the cluster key, each
        // bucket writing one file per partition dir it holds rows of —
        // so every dir's files cover DISJOINT key ranges and the
        // footer stats the commit records stay selective (see
        // [[compact]]'s clusterBy doc). sortWithinPartitions keeps
        // row-group stats monotone and gives the dynamic-partition
        // writer sequential dir runs.
        case (Some((ck, k)), _) => df.repartitionByRange(k, col(ck))
          .sortWithinPartitions(partExprs :+ col(ck): _*)
        // Z-ORDER layout: k range buckets over the n columns' Morton
        // interleave ([[Layout.zValueN]] — a codegen'd
        // bit_interleave_n), so every file covers a small n-CUBE of
        // the key space and its recorded min/max stay narrow on EVERY
        // axis — the conjunctive-skipping-preserving maintenance
        // layout (Delta's OPTIMIZE ZORDER BY). One bounds probe over
        // the batch scales the interleave; z-sorting within buckets
        // keeps row-group stats tight.
        case (None, Some((zcols, k))) =>
          val aggs = zcols.flatMap(c => Seq(
            min(col(c)).cast("double"), max(col(c)).cast("double")))
          val b = df.agg(aggs.head, aggs.tail: _*).head()
          val bounds = zcols.indices
            .map(i => (b.getDouble(2 * i), b.getDouble(2 * i + 1)))
          val z = Layout.zValueN(zcols.map(col), bounds)
          df.withColumn("__graft_z", z)
            .repartitionByRange(k, col("__graft_z"))
            .sortWithinPartitions(partExprs :+ col("__graft_z"): _*)
            .drop("__graft_z")
        case (None, None) if partCols.nonEmpty =>
          df.repartition(partExprs: _*) // one task's files per dir
        case (None, None) => df // unpartitioned: the batch's own layout
      }
      // under column mapping, files persist PHYSICAL names: rename just
      // before the write (the arrange above worked on logical names)
      val physical =
        if (colmap.isEmpty) arranged
        else arranged.select(arranged.columns.map(c =>
          col(c).as(colmap.getOrElse(c, c))).toSeq: _*)
      val writer = physical.write.mode("overwrite")
      (if (partCols.isEmpty) writer else writer.partitionBy(partCols: _*))
        .parquet(staging.toString)
      // the moved names carry the token AND a per-stage ordinal: the
      // dynamic-partition writer reuses one task's part-file name in
      // every dir it writes, so the ordinal is what makes staged names
      // GLOBALLY unique — the file-identity invariant the DV binding
      // and the predicate-rewrite probes join on
      relativeParquetFiles(fs, staging, staging).toSeq.sorted.zipWithIndex
        .map { case (rel, i) =>
          val slash = rel.lastIndexOf('/')
          val dir = if (slash < 0) "" else rel.take(slash + 1)
          val target = s"$dir$token-$i-${rel.drop(slash + 1)}"
          val dst = new Path(dataDir(baseDir), target)
          fs.mkdirs(dst.getParent)
          require(fs.rename(new Path(staging, rel), dst),
            s"failed to install staged file $rel as $dst")
          target
        }
    } finally fs.delete(staging, true)
  }

  /** Partition dirs a committed version's record touched (adds and
    * removes both) — the unit of rewrite conflict. "" = the
    * unpartitioned root, where every rewrite conflicts with every
    * other (no partition isolation to exploit). */
  private def deltaTouchedDirs(fs: FileSystem, baseDir: String,
      v: Int): Set[String] = {
    val (adds, removes) = readDelta(fs, baseDir, v)
    (adds ++ removes).map(dirOf).toSet
  }

  /** Attempt the commit at `prev + 1`, REBASING past concurrent
    * winners — the optimistic-concurrency loop every log-structured
    * format runs. A conflict means someone committed our target
    * version first; whether we can rebase depends on what we are:
    *   - a blind APPEND commutes with everything (its files are new
    *     and its rows are inserts by contract) — always rebase, after
    *     re-checking schema compatibility against the new tip;
    *   - a REWRITE (upsert/delete/compact) read its base at `prev`:
    *     it may rebase only past commits touching DISJOINT partition
    *     dirs (they cannot invalidate what we read or remove); an
    *     intervening commit in our dirs means our base was stale —
    *     surface `ConcurrentModificationException`, the caller re-runs
    *     against the new tip. */
  private[operators] def commitWithRebase(spark: SparkSession, fs: FileSystem,
      baseDir: String, prev: Int, dirs: Set[String],
      adds: Seq[String], removes: Seq[String],
      txn: Option[(String, Long)],
      batchSchema: org.apache.spark.sql.types.StructType,
      op: String, evolveSchema: Boolean,
      cdc: Option[String] = None,
      dvs: Map[String, String] = Map.empty,
      statsOverride: Map[String, String] = Map.empty,
      bloomCarry: Map[String, String] = Map.empty,
      dvTouched: Set[String] = Set.empty): Int = {
    // the RECORDED schema keeps the table's committed column ORDER
    // (genuinely new columns append): checkSchema admits any batch
    // column order, but recording the batch's spelling verbatim would
    // let one column-list INSERT permute the committed order — and
    // that order is load-bearing (DESCRIBE, SELECT *, positional
    // INSERT binding, the streaming source's ordered-name pin)
    val tableMeta = metaOfRecord(fs, baseDir, prev)
    val schema = tableMeta.schema match {
      case Some(t) =>
        val byName = batchSchema.fields.map(f => f.name -> f).toMap
        val committed = t.fieldNames.toSet
        org.apache.spark.sql.types.StructType(
          t.fields.flatMap(f => byName.get(f.name)) ++
            batchSchema.fields.filterNot(f => committed(f.name)))
      case None => batchSchema
    }
    // statsOverride: carried-forward payloads for adds whose bytes did
    // not change (a DV commit re-adds the same physical file) — no
    // footer re-read for those; anything else is computed as usual.
    // dvTouched marks those byte-unchanged re-adds EXPLICITLY: a
    // touched file with no recorded stats (pre-stats history) must not
    // be inferred "fresh" from statsOverride membership — it would pay
    // a footer re-read here and a full data scan in the bloom build
    // below, violating the mutation's O(matching rows) contract; it
    // stays stats-less and unindexed like any other pre-policy file
    val addStats = computeAddStats(spark, fs, baseDir,
      adds.filterNot(f => statsOverride.contains(f) || dvTouched(f))) ++
      statsOverride
    val isRewrite = removes.nonEmpty || op == "upsert" || op == "delete" ||
      op == "compact" || op == "merge" || op == "update"
    // the policy the batch was ENFORCED, WRITTEN (column mapping) and
    // INDEXED under: carried forward in this commit's record, and any
    // concurrent change to it refuses the rebase
    val meta = tableMeta.copy(schema = Some(schema))
    requireNoPhysicalCollision(schema, meta.colmap, meta.coldrop, op)
    // per-file bloom filters for the GENUINELY new files, when a bloom
    // index is active: one column-pruned scan of the just-staged adds,
    // written to a token-named `_bloom` artifact before the record.
    // bloomCarry re-binds unchanged files (DV re-adds) to their old
    // artifacts — a shrunk value set keeps the filter sound.
    val builtBlooms = {
      // genuinely NEW files only: dvTouched (and, redundantly, a
      // statsOverride or bloomCarry entry) marks byte-unchanged
      // re-adds (a DV commit re-binding existing files) — building
      // for those would full-scan files the mutation's O(matching
      // rows) contract promises never to re-read; they simply stay
      // unindexed, the same forward-only rule as pre-policy adds
      val fresh = adds.filterNot(f =>
        bloomCarry.contains(f) || statsOverride.contains(f) ||
          dvTouched(f))
      if (meta.bloomIdx.isEmpty || fresh.isEmpty) Map.empty[String, String]
      else buildBloomArtifact(spark, baseDir, fresh, schema, meta.colmap,
        meta.bloomIdx)
    }
    val bloomBind = bloomCarry ++ builtBlooms
    var base = prev
    while (true) {
      try return logCommit(spark, fs, baseDir, base + 1, dirs, adds,
        removes, addStats, () => resolveFull(spark, baseDir, base),
        txn, meta, op, cdc, dvs, bloomBind)
      catch { case c: CommitConflict =>
        val latest = latestVersion(spark, baseDir)
        if (isRewrite)
          ((base + 1) to latest).foreach { v =>
            val touched = deltaTouchedDirs(fs, baseDir, v)
            if (touched.exists(dirs)) throw new
                java.util.ConcurrentModificationException(
              s"$op of $baseDir read its base at version $base, but " +
                s"version $v committed concurrently into the same " +
                s"partition dirs (${touched.intersect(dirs).toSeq.sorted
                  .mkString(", ")}) — the base snapshot is stale; " +
                "re-run against the current version")
          }
        // a txn-marked commit never rebases past a commit carrying the
        // SAME stream's marker at or above our batchId: a zombie writer
        // and its crash-restarted replacement can both read the same
        // high-water mark and race the same batch — one wins the
        // version, the other must NOT re-land the batch under a new
        // version (Delta's ConcurrentTransactionException). The loser
        // surfaces loudly; an idempotent caller re-checks
        // lastCommittedTxn and skips.
        txn.foreach { case (streamId, batchId) =>
          ((base + 1) to latest).foreach { v =>
            txnsIn(fs, baseDir, v).foreach { case (s, id) =>
              if (s == streamId && id >= batchId) throw new
                  java.util.ConcurrentModificationException(
                s"$op of $baseDir carries txn $streamId:$batchId, but " +
                  s"version $v committed concurrently with txn $s:$id — " +
                  "the batch already landed; re-check lastCommittedTxn")
            }
          }
        }
        // schema may have evolved under us: re-check against the tip
        val tip = metaOfRecord(fs, baseDir, latest)
        checkSchema(schema, tip.schema, evolveSchema, op)
        // a policy change landed concurrently: rebasing would slip rows
        // validated under the old constraints, files staged under the
        // old physical names, or filters built under the old bloom
        // policy into the new one. Surface loudly; the caller re-runs
        // against the new tip.
        val raced = meta.changedIn(tip)
        if (raced.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"$op of $baseDir raced a ${raced.mkString(" and ")} change " +
              s"(version $latest): the batch was prepared under the old " +
              "policy — re-run against the current version")
        base = latest
      }
    }
    -1 // unreachable
  }

  /** Manifest entries are matched to partitions by DIRECTORY TEXT, so a
    * partition value must round-trip identically: written dir name →
    * read-back value → re-escaped dir name. Two things pin that round
    * trip: reads use the COMMITTED schema (dir text casts to the
    * declared type — inference, which would misread a string "01" as
    * int 1, is disabled on the schema-less legacy path), and partition
    * column TYPES are restricted to those whose directory text is
    * CANONICAL — STRING verbatim, integral/boolean/date `toString`
    * (what the dynamic-partition writer emits and what a collected
    * value re-renders as). Float/timestamp/binary partition values have
    * non-canonical or zone-dependent text and are refused — same
    * restriction spirit as Delta's partition-type whitelist. */
  private def requirePartCols(df: DataFrame,
      partCols: Seq[String]): Unit = {
    import org.apache.spark.sql.types._
    partCols.foreach { partCol =>
      require(df.schema.fieldNames.contains(partCol),
        s"partition column '$partCol' is not in the batch schema " +
          s"(${df.schema.fieldNames.mkString(", ")})")
      df.schema(partCol).dataType match {
        case StringType | LongType | IntegerType | ShortType | ByteType |
             BooleanType | DateType => ()
        case other => throw new IllegalArgumentException(
          s"partition column '$partCol' has type $other: only STRING, " +
            "integral, BOOLEAN and DATE partition values render " +
            "canonical directory text (the manifest-matching contract)")
      }
    }
  }

  /** Serialized: the toggle mutates SHARED session conf, and this
    * table is multi-writer — two concurrent reads interleaving their
    * toggle/restore could re-enable inference mid-resolution (partition
    * discovery runs eagerly at DataFrame CREATION, which is all that
    * happens under the lock — the lazy execution afterwards doesn't
    * read the conf). Plan-construction is driver-side metadata work;
    * serializing it costs nothing at scale. */
  private val inferenceLock = new Object
  private def withoutPartitionInference[A](spark: SparkSession)(f: => A): A =
    inferenceLock.synchronized {
      val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "false")
      try f finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }

  /** Hidden columns a position-carrying scan tags rows with: the data
    * file's BASENAME and the row's FILE-ABSOLUTE position (from
    * parquet's `_metadata.row_index` — stable under pushed filters,
    * row-group pruning, and splits, because it is generated from the
    * row group's recorded row offsets). The pair is the row's identity
    * for deletion vectors. */
  private[operators] val PosFileCol = "__graft_file"
  private[operators] val PosIndexCol = "__graft_pos"

  private def baseName(f: String): String =
    f.substring(f.lastIndexOf('/') + 1)

  /** Staged file names carry `token-ordinal-` prefixes ([[stageWrite]])
    * and are therefore GLOBALLY unique per table — the invariant that
    * lets DV and bloom artifacts key file identity by basename alone.
    * Names from the pre-ordinal scheme (`token-partfile`) could repeat
    * one task's part-file basename across partition dirs in a single
    * commit, so a basename-keyed artifact probe over them can bind a
    * sibling's delete-set or filter — refuse those tables LOUDLY
    * instead of misreading (rewrite their files via OPTIMIZE first). */
  private val OrdinalNameRe =
    java.util.regex.Pattern.compile("^[0-9a-f]{12}-[0-9]+-")
  private def requireOrdinalNames(files: Iterable[String],
      kind: String): Unit =
    files.find(f => !OrdinalNameRe.matcher(baseName(f)).find())
      .foreach { f =>
        throw new IllegalStateException(
          s"$kind artifact binding references file '${baseName(f)}', " +
            "which lacks the commit-token+ordinal name prefix — " +
            "pre-ordinal staged names are not globally unique, so a " +
            "basename-keyed artifact could silently misread a " +
            "same-named sibling's positions or filter; OPTIMIZE the " +
            s"table to rewrite its files before using $kind artifacts " +
            "with this reader")
      }

  /** A relative data file's PARTITION DIRECTORY ("" when the table is
    * unpartitioned) — the unit of rewrite conflict and of log-entry ↔
    * partition matching. Multi-column layouts nest
    * (`a=1/b=2/<name>`), so the prefix runs to the LAST slash. */
  private def dirOf(f: String): String = {
    val i = f.lastIndexOf('/')
    if (i < 0) "" else f.substring(0, i)
  }

  /** Is relative file `f` inside partition dir `d`? ("" = the
    * unpartitioned root, which holds every file of an unpartitioned
    * table and none of a partitioned one.) */
  private def underDir(f: String, d: String): Boolean =
    if (d.isEmpty) !f.contains('/') else f.startsWith(d + "/")

  /** The single-string partition/key parameter surface parses as a
    * COMMA-SEPARATED column list — `"region"`, `"o_orderdate,region"`,
    * or `""` for an unpartitioned table / no extra key columns. Kept
    * as the one public spelling so every existing call site (and the
    * option-string provider surfaces) stays source-compatible while
    * gaining multi-column layouts. */
  private[graft] def splitCols(s: String): Seq[String] =
    s.split(',').iterator.map(_.trim).filter(_.nonEmpty).toSeq

  /** The physical partition columns a version's file layout encodes,
    * parsed from any one relative path (`a=1/b=2/name` → a, b; a
    * root-level file → unpartitioned). The layout is uniform by
    * construction — every commit stages through [[stageWrite]] with
    * the table's fixed column list. */
  private def partColsPhysical(files: Seq[String]): Seq[String] = {
    val segs = files.head.split('/')
    segs.iterator.take(segs.length - 1).map { seg =>
      val eq = seg.indexOf('=')
      require(eq > 0, s"malformed partition segment '$seg'")
      seg.substring(0, eq)
    }.toSeq
  }

  /** Logical names of a snapshot's partition columns (dirs carry
    * PHYSICAL names; partition columns cannot be renamed, so the two
    * coincide — the inverse mapping is kept for pre-refusal logs). */
  private def partColsLogical(files: Seq[String],
      colmap: Map[String, String]): Seq[String] =
    partColsPhysical(files).map(physical =>
      colmap.collectFirst { case (log, phys) if phys == physical => log }
        .getOrElse(physical))

  /** A partition VALUE's directory text — matching what Spark's
    * dynamic-partition writer emits for the supported partition types
    * (STRING verbatim; integral/boolean/date canonical `toString`). */
  private def partPathText(v: Any): String = v.toString

  /** The escaped partition-directory prefix of one affected tuple
    * ("" for unpartitioned). */
  private def dirPrefix(partCols: Seq[String], values: Seq[Any]): String =
    partCols.zip(values).map { case (c, v) =>
      s"$c=${ExternalCatalogUtils.escapePathName(partPathText(v))}"
    }.mkString("/")

  /** Anti-join `scanned` (a position-tagged scan) against the deletion
    * vectors of its files: `binding` lists each scanned file as (file
    * name, bound token). Staged file names are GLOBALLY unique per
    * table (commit token + per-stage ordinal), so the name alone is
    * the file identity. A file's delete-set comes from its OWN token
    * only (join on (name, token)) — artifacts accumulate, so after a
    * restore rewinds one file's pointer, a NEWER artifact another file
    * still points at may hold positions this file must NOT drop yet. */
  private def applyDv(spark: SparkSession, baseDir: String,
      scanned: DataFrame,
      binding: Seq[(String, String)]): DataFrame = {
    val bind = spark.createDataFrame(binding)
      .toDF("__graft_dv_name", "__graft_dv_tok")
    val dels = binding.map(_._2).distinct.map { t =>
      spark.read.parquet(dvDir(baseDir, t).toString)
        .select(col("name").as("__graft_dv_name"),
          col("pos").as("__graft_dv_pos"))
        .withColumn("__graft_dv_tok", lit(t))
    }.reduce(_.unionByName(_))
      // the binding is driver-held metadata (≤ the snapshot's DV'd file
      // count) — broadcast; the delete-set side stays distributed and
      // AQE picks its join strategy by actual size
      .join(broadcast(bind), Seq("__graft_dv_name", "__graft_dv_tok"))
      .select(col("__graft_dv_name"), col("__graft_dv_pos"))
    scanned.join(dels,
      scanned(PosFileCol) === dels("__graft_dv_name") &&
        scanned(PosIndexCol) === dels("__graft_dv_pos"), "left_anti")
  }

  /** Build one `_bloom/<token>/` artifact over `files` (just-staged
    * adds): a per-(file, indexed column) serialized Bloom filter, from
    * ONE column-pruned scan grouped by file identity — map-side
    * combined like any aggregate, cost O(rows written) on only the
    * indexed columns. Policy columns missing from the schema or of a
    * non-bloomable type are skipped (a policy may predate an
    * evolution); a file whose rows are all NULL in the column gets an
    * empty filter, which correctly proves every equality absent, and a
    * file contributing ZERO rows (no group, no artifact row) stays
    * unbound — never skipped, conservatively. Returns the bindings of
    * exactly the files with artifact rows. */
  private def buildBloomArtifact(spark: SparkSession, baseDir: String,
      files: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      colmap: Map[String, String],
      idx: Map[String, (Long, Double)]): Map[String, String] = {
    import org.apache.spark.sql.types._
    val cols = idx.keys.toSeq.sorted.filter(c =>
      schema.fieldNames.contains(c) && (schema(c).dataType match {
        case StringType | LongType | IntegerType | ShortType | ByteType =>
          true
        case _ => false
      }))
    if (cols.isEmpty) return Map.empty
    val df = readFiles(spark, baseDir, files, Some(schema), colmap,
      Map.empty, keepPos = true)
    val aggs = cols.map { c =>
      val (n, fpp) = idx(c)
      val in = schema(c).dataType match {
        case StringType | LongType => col(c)
        case _ => col(c).cast("long") // narrower integrals widen
      }
      graft.functions.BloomCols.bloomAgg(in, n, fpp).as(s"__graft_b_$c")
    }
    // artifact rows key the file's NAME alone: staged names carry a
    // commit token plus a per-stage ordinal, so they are globally
    // unique per table — no (partition value, name) compound needed
    val rows = df.groupBy(col(PosFileCol).as("name"))
      .agg(aggs.head, aggs.tail: _*)
    // artifact rows key the column's PHYSICAL name: a filter describes
    // the file's BYTES, which never change under a metadata rename — a
    // probe translates its logical column through the CURRENT mapping
    // (the way range stats do), so a retained filter keeps pruning
    // across renames of the indexed column, and can never be joined to
    // a DIFFERENT column that later takes the original logical name
    // (the drop-index → rename → rename-into-place chain)
    val longForm = cols.map(c => rows.select(col("name"),
      lit(colmap.getOrElse(c, c)).as("col"),
      col(s"__graft_b_$c").as("bloom")))
      .reduce(_.unionByName(_))
    val token = newToken()
    longForm.write.mode("overwrite")
      .parquet(bloomDir(baseDir, token).toString)
    // bind only the files that actually PRODUCED filter rows: a staged
    // file contributing zero rows to the scan forms no group and has
    // no artifact row — binding it would promise a filter the probe
    // can never find (one cheap read of the just-written tiny artifact)
    val present = spark.read.parquet(bloomDir(baseDir, token).toString)
      .select("name").distinct().collect()
      .map(_.getString(0)).toSet
    files.filter(f => present(baseName(f))).map(_ -> token).toMap
  }

  /** BLOOM-prune `candidates`: drop every file whose recorded filter
    * proves an equality conjunct's value ABSENT (no false negatives —
    * "might contain" keeps, "definitely not" drops; a false positive
    * only reads a file the plan's own Filter then empties). Applied
    * AFTER range pruning, on the survivors: the filters load and probe
    * as one small distributed job over the bound candidates' artifact
    * rows, and only (file identity, drop) verdicts return to the
    * driver. Files without a binding (pre-policy adds) and conjuncts
    * that aren't a typed equality pass through untouched. */
  private def bloomPrune(spark: SparkSession, baseDir: String,
      snap: Snapshot, preds: Seq[ColRange],
      candidates: Seq[String]): Seq[String] = {
    if (snap.blooms.isEmpty || candidates.isEmpty || preds.isEmpty)
      return candidates
    val schema = snap.schema.getOrElse(return candidates)
    import org.apache.spark.sql.types._
    // probes key the PHYSICAL column name (artifact rows do too): the
    // predicate names the snapshot's logical column, the filter was
    // built over file bytes — translating through the mapping keeps a
    // retained filter pruning across renames, and makes it structurally
    // impossible for a probe on a re-used logical name to join filter
    // rows built over a different physical column
    val probes: Seq[(String, Any)] = preds.flatMap { p =>
      val phys = snap.colmap.getOrElse(p.col, p.col)
      if (p.lo == null || p.hi == null || p.lo != p.hi) None
      else schema.fields.find(_.name == p.col).flatMap { f =>
        (f.dataType, p.lo) match {
          case (StringType, s: String) => Some(phys -> (s: Any))
          case (LongType | IntegerType | ShortType | ByteType, v) =>
            v match {
              case n: java.lang.Number =>
                Some(phys -> (n.longValue(): Any))
              case s: String => scala.util.Try(s.trim.toLong).toOption
                .map(l => phys -> (l: Any))
              case _ => None
            }
          case _ => None
        }
      }
    }
    if (probes.isEmpty) return candidates
    val bound = candidates.filter(snap.blooms.contains)
    if (bound.isEmpty) return candidates
    requireOrdinalNames(bound, "bloom")
    val probeCols = probes.map(_._1).distinct
    val cand = spark.createDataFrame(bound.map(f =>
        (baseName(f), snap.blooms(f))))
      .toDF("name", "__graft_tok")
    val arts = bound.map(snap.blooms).distinct.map(t =>
      spark.read.parquet(bloomDir(baseDir, t).toString)
        .withColumn("__graft_tok", lit(t))).reduce(_.unionByName(_))
    val probeList = probes
    import spark.implicits._
    val drops = arts
      .join(broadcast(cand), Seq("name", "__graft_tok"))
      .filter(col("col").isin(probeCols: _*))
      .select(col("name"), col("col"), col("bloom"))
      .as[(String, String, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (name, c, bytes) =>
          val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(bytes))
          val absent = probeList.exists { case (pc, v) =>
            pc == c && (v match {
              // same key bytes the build hashed (UTF8String bytes)
              case s: String => !bf.mightContainBinary(s.getBytes("UTF-8"))
              case l: java.lang.Long => !bf.mightContainLong(l)
              case _ => false
            })
          }
          if (absent) Some(name) else None
        }
      }.collect().toSet
    if (drops.isEmpty) candidates
    else candidates.filterNot(f => drops(baseName(f)))
  }

  /** `dvs`: the snapshot's file → DV-token bindings (restricted here to
    * the requested files) — bound files scan through [[applyDv]], so
    * merge-on-read deletes are invisible to every caller; unbound files
    * keep the plain scan, zero overhead. `keepPos` retains the
    * [[PosFileCol]]/[[PosIndexCol]] identity columns on EVERY row (the
    * DV writer's probe needs them); otherwise they never escape. */
  private def readFiles(spark: SparkSession, baseDir: String,
      files: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      colmap: Map[String, String] = Map.empty,
      dvs: Map[String, String] = Map.empty,
      keepPos: Boolean = false,
      stats: Map[String, String] = Map.empty)
      : DataFrame = {
    val root = dataDir(baseDir).toString
    val bound = if (dvs.isEmpty) Map.empty[String, String]
      else { val fset = files.toSet; dvs.filter { case (f, _) => fset(f) } }
    // the LOG's schema, never inference: no footer sampling at plan
    // time, files written before an evolution read their missing
    // columns as NULL, and the partition column's type comes from the
    // schema (STRING by contract)
    def scan(group: Seq[String], tagPos: Boolean): DataFrame = {
      val reader = spark.read.option("basePath", root)
      val paths = group.map(f => s"$root/$f")
      def tag(df: DataFrame): DataFrame =
        if (!tagPos) df
        else df.withColumn(PosFileCol, col("_metadata.file_name"))
          .withColumn(PosIndexCol, col("_metadata.row_index"))
      // Plan the scan FROM THE LOG when every file's size is recorded
      // (`!bytes=` stats): no listing, no getFileStatus, and above all
      // no parallel-discovery Spark job (one task PER FILE past the
      // 32-path default — a 960-file version read spent 1.3 s there).
      // Missing stats (pre-`!bytes` tables) degrade to the listed read.
      def logScan(sch: org.apache.spark.sql.types.StructType)
          : Option[DataFrame] =
        if (spark.conf.getOption("spark.graft.log.fileIndex")
            .exists(_.equalsIgnoreCase("false"))) None
        else {
          val sized = group.map(f =>
            stats.get(f).flatMap(parseByteCount)
              .map(org.apache.spark.sql.graftshim.LogFileIndex.LogFile(f, _)))
          if (sized.exists(_.isEmpty)) None
          else {
            val partCols = group.head.split('/').dropRight(1).toSeq
              .map(seg => seg.take(seg.indexOf('=')))
            if (partCols.exists(c => c.isEmpty || !sch.fieldNames.contains(c)))
              None
            // try: every other log-scan bail-out DEGRADES to the listed
            // read; a malformed group (e.g. a hypothetical mixed-depth
            // file set — unreachable today thanks to requireLayoutMatch,
            // but the failure mode should be consistent) must too, not
            // throw at plan time inside the index
            else scala.util.Try(org.apache.spark.sql.graftshim.LogFileIndex
              .scan(spark, root, sized.map(_.get), sch, partCols)).toOption
          }
        }
      (schema, colmap.isEmpty) match {
        case (None, _) => tag(reader.parquet(paths: _*))
        case (Some(sch), true) =>
          // a partitioned scan surfaces directory columns LAST whatever
          // the passed schema says — project back to the COMMITTED
          // order so SELECT *, DESCRIBE, and positional INSERT binding
          // all speak the log's column order
          val extras = if (tagPos) Seq(col(PosFileCol), col(PosIndexCol))
            else Nil
          tag(logScan(sch).getOrElse(reader.schema(sch).parquet(paths: _*)))
            .select(sch.fieldNames.map(col).toSeq ++ extras: _*)
        case (Some(sch), false) =>
          // column mapping: files carry PHYSICAL names; read under the
          // physical schema and project back to the version's logical
          // names (the rename-is-metadata contract)
          val phys = org.apache.spark.sql.types.StructType(sch.fields
            .map(f => f.copy(name = colmap.getOrElse(f.name, f.name))))
          val extras = if (tagPos) Seq(col(PosFileCol), col(PosIndexCol))
            else Nil
          tag(logScan(phys).getOrElse(reader.schema(phys).parquet(paths: _*)))
            .select(sch.fields.map(f =>
              col(colmap.getOrElse(f.name, f.name)).as(f.name)).toSeq ++
              extras: _*)
      }
    }
    withoutPartitionInference(spark) {
      if (bound.isEmpty) scan(files, keepPos)
      else {
        requireOrdinalNames(bound.keys, "DV")
        val (dvFiles, plain) = files.partition(bound.contains)
        val filtered = applyDv(spark, baseDir, scan(dvFiles, tagPos = true),
          dvFiles.map(f => (baseName(f), bound(f))))
        val dvPart =
          if (keepPos) filtered else filtered.drop(PosFileCol, PosIndexCol)
        if (plain.isEmpty) dvPart
        else scan(plain, keepPos).unionByName(dvPart)
      }
    }
  }

  /** The table AS OF `version`: exactly the resolved files under
    * exactly the resolved SCHEMA — readVersion(v) returns the columns v
    * was committed with, even after later commits widened the table
    * (schema time travel). */
  def readVersion(spark: SparkSession, baseDir: String,
      version: Int): DataFrame = {
    val snap = resolveFull(spark, baseDir, version)
    readFilesNonEmpty(spark, baseDir, version, snap.files, snap.schema,
      snap.colmap, snap.dvs, snap.stats)
  }

  /** What a stats-pruned read touched: the scan plus the file-count
    * telemetry the skipping contract is graded on. `df` is a SUPERSET
    * of the rows matching `[lo, hi]` — exactly Spark's PushedFilters
    * contract: skipping prunes I/O, the caller's filter stays in the
    * plan and decides row membership. `df` is LAZY: building a
    * DataFrame runs partition discovery eagerly, and a caller probing
    * only the file counts (an in-band verdict comparing prune
    * selectivity, a planner costing alternatives) shouldn't pay it. */
  final class SkippingScan(mkDf: => DataFrame, val filesTotal: Int,
      val filesRead: Int, val filesWithStats: Int) {
    lazy val df: DataFrame = mkDf
  }

  /** DATA-SKIPPING read: the table AS OF `version`, restricted to the
    * files whose logged `[min, max]` for `colName` can intersect
    * `[lo, hi]` — planned from the commit log ALONE (no footer reads,
    * no listing: the same metadata-only planning Delta does from its
    * `add.stats`). At 100 TB this is the difference between a key-range
    * query reading the matching ingest batches' files and reading the
    * table: partition pruning cuts by the partition column, stats
    * skipping cuts WITHIN partitions by any clustered column — an
    * append-per-batch ingest clusters monotone keys for free. Files
    * with no recorded bound for `colName` are read (conservative,
    * never wrong); NULL values never match a range predicate, so
    * null-heavy files skipped via non-null bounds stay sound. Bounds:
    * numerics/decimals compare numerically, dates as epoch days
    * (`java.sql.Date`, `LocalDate`, ISO string, or a day number),
    * strings lexicographically (matching parquet's UTF-8 stats order
    * for ASCII domains — the truncated-stats caveat rides on parquet's
    * own guarantee that truncation only widens bounds). */
  /** One conjunct of a skipping read: rows with `col` in `[lo, hi]`. */
  final case class ColRange(col: String, lo: Any, hi: Any)

  /** The per-file keep decision for ONE range conjunct, from the
    * snapshot's recorded stats. Conservative throughout: a bound that
    * doesn't convert, a file with no recorded range, or an unparsable
    * recorded value all KEEP the file — stats are an I/O optimization,
    * never a correctness gate; the failure mode must be "read more",
    * not throw or skip wrong. */
  private def rangeKeep(snap: Snapshot,
      pred: ColRange): String => Boolean =
    // a conjunct with BOTH sides NULL gives no decision: keep everything
    // (the documented degrade-to-read-more contract — never an NPE at
    // plan time). ONE null side means that side is UNBOUNDED — the
    // defined side still prunes: the batch relation's pushed one-sided
    // comparisons (`col >= lo`, `col < hi`) land here, and pruning on
    // the defined side alone is conservative for the same reason the
    // two-sided test is (a file disjoint from the defined side is
    // disjoint from the whole conjunct).
    if (pred.lo == null && pred.hi == null) _ => true
    else rangeKeepDefined(snap, pred)

  private def rangeKeepDefined(snap: Snapshot,
      pred: ColRange): String => Boolean = {
    import org.apache.spark.sql.types._
    // a conjunct on the PARTITION column prunes by DIRECTORY text: the
    // partition value never appears in file data (no footer stats), but
    // every file path carries it as `col=value/…` — unescaped and
    // compared in UTF-8 order, matching the STRING-partition contract.
    // This folds partition pruning into the same conjunct API: the
    // caller names columns, not layout.
    // stats payloads and directory names carry PHYSICAL column names;
    // a logical predicate column translates through the mapping (the
    // partition column is never mapped, so dir pruning is unaffected)
    val physCol = snap.colmap.getOrElse(pred.col, pred.col)
    val prefix = physCol + "="
    val dt = snap.schema.flatMap(s =>
      s.fields.find(_.name == pred.col).map(_.dataType))
    // hoisted: the query bounds encode once, and a directory's verdict
    // is computed once however many files it holds — for a partition
    // conjunct the prune is O(dirs), not O(files). The column's segment
    // may sit at ANY depth of a multi-column layout; TYPED partition
    // values (int/date) compare under their own order, never byte
    // order ("9" vs "10").
    val loB = Option(pred.lo).map(_.toString.getBytes("UTF-8"))
    val hiB = Option(pred.hi).map(_.toString.getBytes("UTF-8"))
    def num(v: Any): java.math.BigDecimal = v match {
      case d: java.sql.Date =>
        java.math.BigDecimal.valueOf(d.toLocalDate.toEpochDay)
      case d: java.time.LocalDate =>
        java.math.BigDecimal.valueOf(d.toEpochDay)
      case s: String if dt.contains(DateType) =>
        java.math.BigDecimal.valueOf(java.time.LocalDate.parse(s).toEpochDay)
      // Float/Double bounds expand to their EXACT binary expansion via
      // the double constructor (floats widened exactly, as Spark's own
      // comparisons widen them) — matching footerColumnStats' exact()
      // encoding. toString would round-trip the SHORTEST decimal: a
      // query bound of 0.1 would compare as "0.1" against a recorded
      // min of 0.1000000000000000055511151231257827… (the double's true
      // value), wrongly skipping a file whose min EQUALS the bound —
      // silently dropped rows in readVersionSkipping, and a missed
      // discovery probe (duplicate keys / undeleted rows) in
      // upsert/delete. NaN/Infinity throw here → the NonFatal catch
      // below degrades to never-skip.
      case f: java.lang.Float => new java.math.BigDecimal(f.doubleValue())
      case d: java.lang.Double => new java.math.BigDecimal(d.doubleValue())
      case other => new java.math.BigDecimal(other.toString)
    }
    val asString = dt.contains(StringType)
    val bounds
        : Option[(Option[java.math.BigDecimal], Option[java.math.BigDecimal])] =
      if (asString) None
      else try Some((Option(pred.lo).map(num), Option(pred.hi).map(num)))
      catch { case scala.util.control.NonFatal(_) => None }
    val canSkip = asString || bounds.isDefined
    val dirVerdicts = scala.collection.mutable.HashMap.empty[String, Boolean]
    def dirKeep(f: String): Option[Boolean] = {
      val dir = dirOf(f)
      if (dir.isEmpty) None
      else dir.split('/').find(_.startsWith(prefix)).map { seg =>
        dirVerdicts.getOrElseUpdate(dir, {
          val text = ExternalCatalogUtils.unescapePathName(
            seg.substring(prefix.length))
          val typedKeep =
            if (dt.exists(_ != StringType) && bounds.isDefined)
              try {
                val v = num(text)
                val (nLo, nHi) = bounds.get
                Some(!(nLo.exists(l => v.compareTo(l) < 0) ||
                  nHi.exists(h => v.compareTo(h) > 0)))
              } catch { case scala.util.control.NonFatal(_) => None }
            else None
          typedKeep.getOrElse {
            val v = text.getBytes("UTF-8")
            !(loB.exists(l => bytesLt(v, l)) ||
              hiB.exists(h => bytesLt(h, v)))
          }
        })
      }
    }
    f => dirKeep(f).getOrElse {
      if (!canSkip) true
      else snap.stats.get(f).flatMap(parseColRange(_, physCol)) match {
        case None => true // no bound recorded: must read
        case Some((mn, mx)) =>
          if (asString)
            !(loB.exists(l => bytesLt(mx.getBytes("UTF-8"), l)) ||
              hiB.exists(h => bytesLt(h, mn.getBytes("UTF-8"))))
          else try {
            val (nLo, nHi) = bounds.get
            val bmn = new java.math.BigDecimal(mn)
            val bmx = new java.math.BigDecimal(mx)
            !(nLo.exists(l => bmx.compareTo(l) < 0) ||
              nHi.exists(h => bmn.compareTo(h) > 0))
          } catch { case _: NumberFormatException => true }
      }
    }
  }

  def readVersionSkipping(spark: SparkSession, baseDir: String,
      version: Int, colName: String, lo: Any, hi: Any): SkippingScan =
    readVersionSkippingAll(spark, baseDir, version,
      Seq(ColRange(colName, lo, hi)))

  /** Conjuncts of an ANALYZED predicate expression translated to
    * (possibly one-sided) [[ColRange]]s — the stats-skipping view of a
    * WHERE clause, shared by the batch relation's pushed filters and
    * [[deleteWhere]]/[[updateWhere]]'s candidate pruning. Unsupported
    * shapes translate to nothing: no pruning, never wrong. */
  private[graft] def predicateRanges(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[ColRange] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions._
    def split(x: Expression): Seq[Expression] = x match {
      case And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    // the comparison's non-attribute side as an EXTERNAL value: a bare
    // literal, or any foldable expression (the analyzer wraps literals
    // in type-widening casts — `k >= 150` on a LONG column analyzes to
    // `k >= cast(150 as bigint)`, which folds but is not a Literal)
    def extVal(x: Expression): Option[Any] = x match {
      case l: Literal =>
        Some(if (l.value == null) null
        else CatalystTypeConverters.convertToScala(l.value, l.dataType))
      case _ if x.foldable && x.deterministic =>
        val v = x.eval(null)
        Some(if (v == null) null
        else CatalystTypeConverters.convertToScala(v, x.dataType))
      case _ => None
    }
    def mk(a: Attribute, lo: Any, hi: Any): Option[ColRange] =
      if (lo == null && hi == null) None else Some(ColRange(a.name, lo, hi))
    split(e).flatMap {
      case EqualTo(a: Attribute, v) => extVal(v).flatMap(x => mk(a, x, x))
      case EqualTo(v, a: Attribute) => extVal(v).flatMap(x => mk(a, x, x))
      case GreaterThanOrEqual(a: Attribute, v) =>
        extVal(v).flatMap(x => mk(a, x, null))
      case GreaterThan(a: Attribute, v) =>
        extVal(v).flatMap(x => mk(a, x, null))
      case LessThanOrEqual(a: Attribute, v) =>
        extVal(v).flatMap(x => mk(a, null, x))
      case LessThan(a: Attribute, v) =>
        extVal(v).flatMap(x => mk(a, null, x))
      // reversed operand order flips the bounded side
      case GreaterThanOrEqual(v, a: Attribute) =>
        extVal(v).flatMap(x => mk(a, null, x))
      case GreaterThan(v, a: Attribute) =>
        extVal(v).flatMap(x => mk(a, null, x))
      case LessThanOrEqual(v, a: Attribute) =>
        extVal(v).flatMap(x => mk(a, x, null))
      case LessThan(v, a: Attribute) =>
        extVal(v).flatMap(x => mk(a, x, null))
      case _ => Nil
    }
  }

  /** Batch-relation planning view of a resolved version — the
    * [[graft.sources.GraftVersionedFileIndex]] hook: the snapshot's
    * file list, its committed schema, and a conjunctive stats-keep
    * evaluator (same per-conjunct contract as
    * [[readVersionSkippingAll]], plus one-sided ranges for pushed
    * `>=`/`<=` comparisons). Resolved ONCE at relation construction:
    * every scan of the relation sees the same consistent version
    * however many commits land meanwhile. */
  private[graft] final class ScanPlan(spark: SparkSession,
      baseDir: String, snap: Snapshot,
      val schema: org.apache.spark.sql.types.StructType) {
    def files: Seq[String] = snap.files
    /** Logical → physical; empty = identity (no renames/drops ever). */
    def colmap: Map[String, String] = snap.colmap
    /** True when any file carries a deletion-vector binding — a plain
      * parquet scan of the file set would RESURRECT deleted rows. */
    def hasDeletionVectors: Boolean = snap.dvs.nonEmpty
    /** Files surviving every conjunct — a SUPERSET of the matching
      * files (the PushedFilters contract: pruning cuts I/O, the plan's
      * own Filter decides row membership). Equality conjuncts also
      * probe recorded bloom filters ([[bloomPrune]]). */
    def kept(preds: Seq[ColRange]): Seq[String] =
      if (preds.isEmpty) snap.files
      else {
        val ks = preds.map(rangeKeep(snap, _))
        bloomPrune(spark, baseDir, snap, preds,
          snap.files.filter(f => ks.forall(_(f))))
      }
    /** The stats-kept files of `preds` as a DataFrame — the
      * merge-on-read relation's scan body: column mapping projected to
      * the version's logical names and deletion vectors anti-joined on
      * the bound files only, exactly [[readVersion]]'s semantics
      * restricted to the pruned file set. Zero kept files type an
      * empty frame from the committed schema. */
    def readKept(preds: Seq[ColRange]): DataFrame = {
      val ks = kept(preds)
      if (ks.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else readFiles(spark, baseDir, ks, Some(schema), snap.colmap,
        snap.dvs, stats = snap.stats)
    }
    /** Snapshot file sizes for the relation's `sizeInBytes`: one
      * `listStatus` per partition dir, filtered to the snapshot. */
    def sizeInBytes: Long = {
      val fs = hadoopFs(spark, baseDir)
      snap.files.groupBy(dirOf)
        .iterator.map { case (dir, fls) =>
          val wanted = fls.map(baseName).toSet
          val p = if (dir.isEmpty) dataDir(baseDir)
            else new Path(dataDir(baseDir), dir)
          fs.listStatus(p)
            .filter(st => st.isFile && wanted(st.getPath.getName))
            .map(_.getLen).sum
        }.sum
    }
  }

  private[graft] def scanPlan(spark: SparkSession, baseDir: String,
      version: Int): ScanPlan = {
    val snap = resolveFull(spark, baseDir, version)
    require(snap.files.nonEmpty,
      s"version $version of $baseDir is empty")
    new ScanPlan(spark, baseDir, snap, snap.schema.getOrElse(
      throw new IllegalArgumentException(
        s"$baseDir's log records no schema at version $version — " +
          "pre-metadata tables are not declaratively readable")))
  }

  /** The committed schema of `version` WHEN its resolved file set is
    * empty (a CREATE-TABLE-empty v1 or a restore to it) — the
    * declarative relation's empty-snapshot hook; None for the normal
    * non-empty case. */
  private[graft] def emptySchemaAt(spark: SparkSession, baseDir: String,
      version: Int): Option[org.apache.spark.sql.types.StructType] = {
    val snap = resolveFull(spark, baseDir, version)
    if (snap.files.nonEmpty) None
    else Some(snap.schema.getOrElse(throw new IllegalArgumentException(
      s"version $version of $baseDir is empty and records no schema")))
  }

  /** CONJUNCTIVE data-skipping read: a file is read only if EVERY
    * range's recorded bounds can intersect it — one disjoint conjunct
    * proves the file irrelevant to the whole AND, so multi-predicate
    * queries (the production shape: a key range AND a date window AND
    * an amount band) prune strictly harder than any single column
    * could. Same conservative contract per conjunct as the
    * single-column read. */
  def readVersionSkippingAll(spark: SparkSession, baseDir: String,
      version: Int, preds: Seq[ColRange]): SkippingScan = {
    require(preds.nonEmpty, "at least one column range is required")
    val snap = resolveFull(spark, baseDir, version)
    require(snap.files.nonEmpty,
      s"version $version of $baseDir is empty")
    val keeps = preds.map(rangeKeep(snap, _))
    val kept = bloomPrune(spark, baseDir, snap, preds,
      snap.files.filter(f => keeps.forall(_(f))))
    def mkDf =
      if (kept.isEmpty) {
        val s = snap.schema.getOrElse(throw new IllegalArgumentException(
          s"every file of version $version was skipped and the log has " +
            "no schema to type an empty result with"))
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
      } else readFiles(spark, baseDir, kept, snap.schema, snap.colmap,
        snap.dvs, stats = snap.stats)
    new SkippingScan(mkDf, snap.files.size, kept.size, snap.stats.size)
  }

  private def readFilesNonEmpty(spark: SparkSession, baseDir: String,
      version: Int, files: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType],
      colmap: Map[String, String] = Map.empty,
      dvs: Map[String, String] = Map.empty,
      stats: Map[String, String] = Map.empty): DataFrame =
    if (files.isEmpty) schema match {
      // a CREATE-TABLE-empty v1 (or a restore to it): typed empty frame
      case Some(s) => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
      case None => throw new IllegalArgumentException(
        s"version $version of $baseDir is empty — schemaless empty " +
          "snapshots are not representable on plain parquet")
    } else readFiles(spark, baseDir, files, schema, colmap, dvs,
      stats = stats)

  /** Create the table: write `df` partitioned by `partCol`, commit v1
    * as the table's first checkpoint. The partition column must be
    * STRING and NULL-free — NULLs would write
    * `__HIVE_DEFAULT_PARTITION__` rows that the (deliberately
    * NULL-rejecting) upsert/delete paths could never touch again. An
    * EMPTY df is refused BEFORE any manifest lands: an empty v1 would
    * permanently brick the table (readVersion(1) and every later
    * commit read the previous version, which would throw forever) —
    * the same refusal [[commitRewrite]] applies to table-emptying
    * commits. */
  def init(spark: SparkSession, baseDir: String, df: DataFrame,
      partCol: String, txn: Option[(String, Long)] = None): Int = {
    val fs = hadoopFs(spark, baseDir)
    require(latestVersion(spark, baseDir) == 0,
      s"$baseDir already has commits")
    val partCols = splitCols(partCol)
    requirePartCols(df, partCols)
    val files = stageWrite(spark, baseDir, df, partCols)
    // NULL partition values surface as the Hive default-partition marker
    // in the staged paths — a driver-side check of metadata the write
    // already produced, replacing a FULL extra pass over the input per
    // partition column (a streaming sink's first batch paid that pass
    // against the whole stateful micro-batch plan). A refusal leaves the
    // staged files as unreferenced orphans (no manifest exists), which
    // vacuum reclaims — the table itself still has no commits.
    partCols.foreach { pc =>
      val escaped = org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.escapePathName(pc)
      require(!files.exists(_.contains(s"$escaped=__HIVE_DEFAULT_PARTITION__")),
        s"NULL values in partition column '$pc': such rows could " +
          "never be updated or deleted — default the value upstream")
    }
    require(files.nonEmpty, "init with an EMPTY DataFrame — an empty v1 " +
      "is not representable on plain parquet and would brick every " +
      "later commit; create the table from its first real batch instead")
    writeManifest(fs, baseDir, 1, files, txn.toSeq,
      TableMeta(Some(df.schema)), Some("init"),
      stats = computeAddStats(spark, fs, baseDir, files))
    commitStats.put(baseDir, CommitStats(1, Set.empty, files.size, 0,
      checkpointed = true))
    1
  }

  /** CREATE an EMPTY table: v1 is a files-free checkpoint carrying the
    * schema, the declared partition layout (`#partcols=` — the one
    * record kind that must state it, since there is no file path to
    * derive it from) and nothing else. `readVersion(1)` types an empty
    * frame; the first append establishes the physical layout, which
    * must match the declaration (the write-path layout guard). The SQL
    * face is `CREATE TABLE graft.`…` (cols) USING graft-versioned`. */
  def initEmpty(spark: SparkSession, baseDir: String,
      schema: org.apache.spark.sql.types.StructType,
      partCol: String): Int = {
    val fs = hadoopFs(spark, baseDir)
    require(latestVersion(spark, baseDir) == 0,
      s"$baseDir already has commits")
    val partCols = splitCols(partCol)
    requirePartCols(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      partCols)
    writeManifest(fs, baseDir, 1, Nil, Nil, TableMeta(Some(schema)),
      Some("init"), partCols = Some(partCols))
    commitStats.put(baseDir, CommitStats(1, Set.empty, 0, 0,
      checkpointed = true))
    1
  }

  /** The table's partition layout at `version`: from any file path when
    * the resolved set is non-empty (the normal case), else from the
    * newest retained record's `#partcols=` declaration (an empty
    * table); None when neither answers (a legacy empty state). */
  private def activePartCols(spark: SparkSession, baseDir: String,
      snap: Snapshot): Option[Seq[String]] =
    if (snap.files.nonEmpty)
      Some(partColsLogical(snap.files, snap.colmap))
    else {
      // empty snapshot: walk records newest-first for a `#partcols=`
      // declaration OR any record's own file paths (a restore back to
      // the empty v1 leaves the layout recoverable from the history
      // in between)
      val fs = hadoopFs(spark, baseDir)
      (snap.version to 1 by -1).iterator
        .flatMap(v => layoutOfRecord(fs, baseDir, v))
        .nextOption()
    }

  /** Refuse a write whose declared partition layout disagrees with the
    * table's — a mismatched `partCol` would nest files under a
    * DIFFERENT directory scheme and silently corrupt layout-derived
    * planning. `known` None (a pre-declaration empty state) skips: the
    * first real write establishes the layout. */
  private def requireLayoutMatch(declared: Seq[String],
      known: Option[Seq[String]], op: String): Unit =
    known.foreach(k => require(declared == k,
      s"$op declares partition layout (${declared.mkString(", ")}) but " +
        s"the table's layout is (${k.mkString(", ")}) — the partition " +
        "column list is fixed at table creation"))

  /** One record's view of the layout: its `#partcols=` declaration, or
    * any of its own ADD paths. None for metadata-only commits — the
    * blind-append guard's cheap, one-record heuristic. */
  private def layoutOfRecord(fs: FileSystem, baseDir: String,
      v: Int): Option[Seq[String]] =
    Seq(deltaPath(baseDir, v), manifestPath(baseDir, v))
      .find(fs.exists(_)).flatMap { p =>
        val lines = readRawLines(fs, p)
        partColsFrom(lines)
          .orElse(addsRemovesFrom(lines)._1.headOption
            .map(f => partColsPhysical(Seq(f))))
          .orElse(lines.find(l => !l.startsWith("#") && l.nonEmpty &&
              !l.startsWith("+") && !l.startsWith("-"))
            .map(f => partColsPhysical(Seq(f)))) // text-checkpoint body
      }

  /** Batch-vs-table schema contract: identical column (name, type) sets
    * by default; with `evolve`, the batch may be a SUPERSET (columns
    * added, never dropped or retyped) — the committed schema widens and
    * files written before the evolution read their missing columns as
    * NULL. Name/type comparison is order- and nullability-insensitive
    * (column order is presentation; nullability is advisory on
    * parquet). */
  /** Nullability stripped RECURSIVELY before comparing: Spark flips
    * nested struct/array/map nullability routinely (a transformation
    * marking a NOT NULL nested field nullable), and nullability is
    * advisory on parquet at every depth — top-level-only stripping
    * would refuse batches whose only difference is nested flags. */
  private def nullNormalized(
      dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullNormalized(f.dataType), nullable = true,
          metadata = Metadata.empty)))
      case a: ArrayType =>
        ArrayType(nullNormalized(a.elementType), containsNull = true)
      case m: MapType => MapType(nullNormalized(m.keyType),
        nullNormalized(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  private def checkSchema(batch: org.apache.spark.sql.types.StructType,
      table: Option[org.apache.spark.sql.types.StructType],
      evolve: Boolean, op: String): Unit =
    table.foreach { t =>
      val tCols = t.fields.map(f => (f.name, nullNormalized(f.dataType)))
        .toSet
      val bCols = batch.fields
        .map(f => (f.name, nullNormalized(f.dataType))).toSet
      if (evolve)
        require(tCols.subsetOf(bCols),
          s"$op with evolveSchema=true: the batch schema must be a " +
            s"superset of the table's (columns can be ADDED, never " +
            s"dropped or retyped); table ${t.simpleString}, batch " +
            s"${batch.simpleString}")
      else
        require(tCols == bCols,
          s"$op: batch schema differs from the table's — pass " +
            s"evolveSchema=true to add columns; table ${t.simpleString}, " +
            s"batch ${batch.simpleString}")
    }

  /** The escaped directory prefix for each affected partition TUPLE
    * (values in `partCols` order) — how log entries are matched to
    * partitions. An unpartitioned table's single "partition" is the
    * root ("" — every rewrite touches it). */
  private def affectedDirs(partCols: Seq[String],
      affected: Seq[Seq[Any]]): Set[String] =
    affected.map(vs => dirPrefix(partCols, vs)).toSet

  /** `prevFiles` is version `prev`'s ALREADY-RESOLVED file set — every
    * caller has just resolved it (to read the version back or pick the
    * fragmented dirs), so commitRewrite never re-reads the log.
    * `dirs`: the affected partition DIRECTORIES (escaped prefixes; ""
    * = the unpartitioned root). */
  private def commitRewrite(spark: SparkSession, baseDir: String,
      partCols: Seq[String], dirs: Set[String], prev: Int,
      prevSnap: Snapshot, rewritten: DataFrame, op: String,
      evolveSchema: Boolean = false, cdc: Option[String] = None,
      clusterBy: Option[(String, Int)] = None,
      zorderBy: Option[(Seq[String], Int)] = None): Int = {
    val fs = hadoopFs(spark, baseDir)
    val prevFiles = prevSnap.files
    // staged write: adds are the files WE moved in — exact, never a
    // directory diff that could claim a concurrent writer's files —
    // and commit cost is O(files touched), independent of table size
    val adds = stageWrite(spark, baseDir, rewritten, partCols, clusterBy,
      zorderBy, prevSnap.colmap)
    val removes = prevFiles
      .filter(f => dirs.exists(d => underDir(f, d)))
    // refuse BEFORE the record lands: an all-rows-gone commit would be
    // an empty version — unreadable on plain parquet (no schema source)
    // and, as the latest version, it would block every later commit. The
    // table stays at `prev`; the just-staged files are unreferenced
    // orphans a vacuum reclaims.
    require(prevFiles.size - removes.size + adds.size > 0,
      "commit would empty the table — an empty version is not " +
        "representable on plain parquet; drop the table instead")
    commitWithRebase(spark, fs, baseDir, prev, dirs, adds, removes,
      None, rewritten.schema, op, evolveSchema, cdc)
  }

  /** Land the commit record for `version` (delta always; checkpoint on
    * cadence) and publish [[commitStats]] — the one writer of `<N>.delta`.
    * The delta is the [[headerLines]] header, its adds' data-skipping
    * stats and bindings, then adds and removes, each sorted; the cadence
    * checkpoint carries the stats of every retained file. `prevSnap` is
    * only forced when a cadence checkpoint is due (or to size a
    * downgrade). Exclusive create: committing an already-committed
    * version throws [[CommitConflict]] (the losing writer of a race gets
    * this, and may rebase). The table's current requirement gates the
    * WRITE; the record carries the ratcheted requirement forward, or
    * with `ratchet = false` ([[downgradeProtocol]]) exactly what the
    * resulting snapshot's content needs. */
  private def logCommit(spark: SparkSession, fs: FileSystem,
      baseDir: String, version: Int, dirs: Set[String],
      adds: Seq[String], removes: Seq[String],
      addStats: Map[String, String],
      prevSnap: () => Snapshot,
      txn: Option[(String, Long)], meta: TableMeta,
      op: String, cdc: Option[String] = None,
      dvs: Map[String, String] = Map.empty,
      blooms: Map[String, String] = Map.empty,
      ratchet: Boolean = true): Int = {
    gateWriter(fs, baseDir, version - 1)
    val proto =
      if (ratchet) (protocolOfRecord(fs, baseDir, version - 1) ++
        Seq(protocolNeededBy(meta.colmap, meta.coldrop, dvs)))
        .reduce(maxProtocol)
      else protocolNeededBy(meta.colmap, meta.coldrop,
        prevSnap().dvs -- removes ++ dvs)
    val record = headerLines(proto, txn.toSeq, meta, Some(op), None, cdc) ++
      statsLinesFor(adds, addStats) ++ dvLinesFor(dvs) ++
      bloomLinesFor(blooms) ++
      adds.sorted.map("+" + _) ++ removes.sorted.map("-" + _)
    val delta = deltaPath(baseDir, version)
    try installExclusive(fs, delta, record.mkString("\n").getBytes("UTF-8"))
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new CommitConflict(version)
      case e: java.io.IOException =>
        if (fs.exists(delta)) throw new CommitConflict(version) else throw e
    }
    val checkpoint = version % checkpointEvery == 0
    if (checkpoint) {
      val removed = removes.toSet
      val s = prevSnap()
      writeManifestCheckpoint(spark, fs, baseDir, version,
        s.files.filterNot(removed) ++ adds, Nil, meta, Some(op), None,
        s.stats -- removes ++ addStats, s.dvs -- removes ++ dvs,
        s.blooms -- removes ++ blooms)
    }
    commitStats.put(baseDir, CommitStats(version, dirs, adds.size,
      removes.size, checkpoint))
    version
  }

  /** Blind APPEND as a new version — the insert-only ingest commit (no
    * key merge, no partition rewrite): the batch's rows land as new
    * files and the delta records ONLY adds. No discovery join, no
    * read-back of the previous version — the cheapest commit there is,
    * O(files written), which is why a high-rate insert-only stream
    * should land through it rather than paying [[upsert]]'s
    * partition-rewrite per micro-batch. The price is the classic one:
    * repeated appends accumulate small files per partition in the
    * CURRENT version — [[compact]] is the paired maintenance op.
    * Duplicate keys are the CALLER's contract here, exactly as in any
    * append-mode table. An empty batch commits nothing. A `txn`
    * (streamId, batchId) rides inside the commit record so an
    * at-least-once writer can make the NON-idempotent append
    * exactly-once via [[lastCommittedTxn]]. NULL partition values are
    * refused from the collected affected set — driver-held metadata,
    * no extra scan of the batch. */
  def append(spark: SparkSession, baseDir: String, rows: DataFrame,
      partCol: String, txn: Option[(String, Long)] = None,
      evolveSchema: Boolean = false): Int = {
    val prev = latestVersion(spark, baseDir)
    require(prev >= 1, s"$baseDir has no commits — call init first")
    val partCols = splitCols(partCol)
    requirePartCols(rows, partCols)
    val fs = hadoopFs(spark, baseDir)
    // cheap layout guard without a full snapshot resolve: walk records
    // newest-first to the FIRST one with a derivable layout (its
    // #partcols declaration or its own add paths). Checking only the
    // immediately previous record would let a metadata-only
    // predecessor (constraint/colmap/bloomidx/protocol) silently skip
    // the check — and a wrong partCol would then nest a second
    // directory scheme, the exact corruption this guard exists to
    // refuse. The walk is bounded: it stops at the newest data commit.
    requireLayoutMatch(partCols,
      (prev to 1 by -1).iterator
        .flatMap(v => layoutOfRecord(fs, baseDir, v)).nextOption(),
      "append")
    val meta = metaOfRecord(fs, baseDir, prev)
    checkSchema(rows.schema, meta.schema, evolveSchema, "append")
    val batch = rows.localCheckpoint() // distinct-collect + write: 2 actions
    enforceConstraints(batch, meta.constraints, "append")
    requireNoPhysicalCollision(batch.schema, meta.colmap, meta.coldrop,
      "append")
    val affected = affectedTuples(batch, partCols)
    Merge.requireNoNullPartitionTuple(affected, partCols)
    if (affected.isEmpty) return prev
    val dirs = affectedDirs(partCols, affected)
    val adds = stageWrite(spark, baseDir, batch, partCols,
      colmap = meta.colmap)
    commitWithRebase(spark, fs, baseDir, prev, dirs, adds, Nil,
      txn, batch.schema, "append", evolveSchema)
  }

  /** One action's worth of commit-gate metadata: batch row count, the
    * leading key column's envelope, and the batch's distinct partition
    * tuples — what [[upsert]] formerly paid two actions for (a global
    * agg plus [[affectedTuples]]). Grouped by the partition columns and
    * reduced driver-side; row count is bounded by the batch's partition
    * spread, the same driver contract as the affected-partition collect. */
  private final case class BatchGate(count: Long, envLo: Any, envHi: Any,
      partTuples: Seq[Seq[Any]])

  /** External row values for every envelope-prunable key type are
    * Comparable (numerics/decimals, String, Date/LocalDate,
    * Timestamp/Instant, Boolean) — the allowlist [[batchGate]] fuses
    * under; anything else degrades to the two-action shape. */
  private def extLt(a: Any, b: Any): Boolean =
    a.asInstanceOf[Comparable[Any]].compareTo(b) < 0

  private def driverOrderable(dt: org.apache.spark.sql.types.DataType)
      : Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType | StringType | DateType | TimestampType |
           TimestampNTZType | BooleanType => true
      case _ => false
    }
  }

  private def batchGate(batch: DataFrame, keyCols: Seq[String],
      partCols: Seq[String]): BatchGate = {
    val fuse = batch.schema.fields.find(_.name == keyCols.head)
      .exists(f => driverOrderable(f.dataType))
    if (!fuse) {
      // exotic key type (binary/complex): per-group envelopes cannot be
      // reduced driver-side — pay the second action, exactly as before
      val g = batch.agg(count(lit(1)), min(col(keyCols.head)),
        max(col(keyCols.head))).head
      return BatchGate(g.getLong(0), g.get(1), g.get(2),
        affectedTuples(batch, partCols))
    }
    val n = partCols.size
    val rows = batch.groupBy(partCols.map(col): _*)
      .agg(count(lit(1)), min(col(keyCols.head)), max(col(keyCols.head)))
      .collect()
    val nonEmpty = rows.filter(_.getLong(n) > 0) // groupBy() on empty: 1 zero row
    val los = nonEmpty.map(_.get(n + 1)).filter(_ != null)
    val his = nonEmpty.map(_.get(n + 2)).filter(_ != null)
    BatchGate(
      nonEmpty.map(_.getLong(n)).sum,
      los.reduceOption((a, b) => if (extLt(b, a)) b else a).orNull,
      his.reduceOption((a, b) => if (extLt(a, b)) b else a).orNull,
      nonEmpty.map(_.toSeq.take(n).toSeq).toSeq)
  }

  /** The DISTINCT partition tuples of `batch` (values in `partCols`
    * order) — driver-held metadata, one action. An unpartitioned
    * table's batch contributes the single empty tuple when non-empty. */
  private def affectedTuples(batch: DataFrame,
      partCols: Seq[String]): Seq[Seq[Any]] =
    if (partCols.isEmpty) {
      if (batch.isEmpty) Nil else Seq(Seq.empty[Any])
    } else batch.select(partCols.map(col): _*).distinct()
      .collect().map(_.toSeq).toSeq

  /** The table's partition column (LOGICAL name) at the latest
    * version — one log resolve, no data access. The declarative write
    * and SQL DML surfaces use it so callers never restate what the
    * layout already records. Multi-column layouts come back as the
    * comma-joined list (the same spelling the write surface takes);
    * an unpartitioned table answers "". */
  def partitionColumn(spark: SparkSession, baseDir: String): String =
    partitionColumns(spark, baseDir).mkString(",")

  /** The table's partition columns (LOGICAL names, layout order) at
    * the latest version; empty for an unpartitioned table. */
  def partitionColumns(spark: SparkSession, baseDir: String): Seq[String] = {
    val latest = latestVersion(spark, baseDir)
    require(latest >= 1, s"$baseDir has no commits")
    val snap = resolveFull(spark, baseDir, latest)
    activePartCols(spark, baseDir, snap).getOrElse(
      throw new IllegalStateException(
        s"$baseDir records neither files nor a partition-layout " +
          "declaration — the layout is unknowable"))
  }

  /** Full OVERWRITE as a new version (SQL `INSERT OVERWRITE` /
    * `SaveMode.Overwrite`): the batch's rows replace the ENTIRE table
    * content in one commit — every previous file is removed, the
    * staged files are the adds, and like every commit here nothing is
    * physically deleted (old versions stay readable; vacuum reclaims).
    * An empty batch is refused (an empty version is unrepresentable on
    * plain parquet); the batch is constraint-enforced and
    * schema-checked like an append. A REWRITE for conflict purposes:
    * its dirs are the union of old and new partitions, so any
    * concurrent commit refuses to rebase past it (and vice versa) —
    * replacing the table under a concurrent writer must be loud. */
  def overwrite(spark: SparkSession, baseDir: String, rows: DataFrame,
      partCol: String, txn: Option[(String, Long)] = None,
      evolveSchema: Boolean = false): Int = {
    val prev = latestVersion(spark, baseDir)
    require(prev >= 1, s"$baseDir has no commits — call init first")
    val partCols = splitCols(partCol)
    requirePartCols(rows, partCols)
    val fs = hadoopFs(spark, baseDir)
    val meta = metaOfRecord(fs, baseDir, prev)
    checkSchema(rows.schema, meta.schema, evolveSchema, "overwrite")
    val batch = rows.localCheckpoint()
    enforceConstraints(batch, meta.constraints, "overwrite")
    requireNoPhysicalCollision(batch.schema, meta.colmap, meta.coldrop,
      "overwrite")
    val affected = affectedTuples(batch, partCols)
    Merge.requireNoNullPartitionTuple(affected, partCols)
    require(affected.nonEmpty,
      "overwrite with an empty batch would empty the table — an empty " +
        "version is not representable on plain parquet; drop the table " +
        "instead")
    val prevSnap = resolveFull(spark, baseDir, prev)
    requireLayoutMatch(partCols,
      activePartCols(spark, baseDir, prevSnap), "overwrite")
    val adds = stageWrite(spark, baseDir, batch, partCols,
      colmap = meta.colmap)
    val dirs = affectedDirs(partCols, affected) ++
      prevSnap.files.map(dirOf)
    commitWithRebase(spark, fs, baseDir, prev, dirs, adds,
      removes = prevSnap.files, txn, batch.schema, "overwrite",
      evolveSchema)
  }

  /** Per-table telemetry of the last MERGE/DELETE's discovery probe:
    * (files probed, files in the version). The observable contract of
    * stats-pruned discovery — on a key-clustered table, probed ≪ total
    * (spec-asserted). */
  private[graft] val discoveryStats =
    scala.collection.concurrent.TrieMap.empty[String, (Int, Int)]

  /** Per-table telemetry of the last merge's BY SOURCE scope prune:
    * (files in rewrite scope, files in the version). Only written when
    * the merge had BY SOURCE clauses; conditional clauses with
    * stats-prunable conjuncts record scope ≪ total (spec-asserted),
    * unconditional ones record the honest whole-table scope. */
  private[graft] val bySourceScopeStats =
    scala.collection.concurrent.TrieMap.empty[String, (Int, Int)]

  /** Files whose recorded stats CAN satisfy one BY SOURCE clause
    * condition — the clause-scope analogue of [[pruneByPredicate]]:
    * analyze the condition against the committed schema (aliased
    * `tgt`, the scope clause conditions see), translate its conjuncts
    * to ranges, range-keep, then bloom-probe the equality conjuncts.
    * Anything unanalyzable or untranslatable keeps EVERY file — no
    * pruning is ever wrong. */
  private def bySourceScopeFiles(spark: SparkSession, baseDir: String,
      snap: Snapshot, schema: org.apache.spark.sql.types.StructType,
      cond: Column): Seq[String] = {
    val analyzed =
      try spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .alias("tgt").filter(cond)
        .queryExecution.analyzed.collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            f.condition
        }
      catch { case scala.util.control.NonFatal(_) => None }
    analyzed match {
      case Some(c) =>
        val ranges = predicateRanges(c)
        if (ranges.isEmpty) snap.files
        else {
          val keeps = ranges.map(rangeKeep(snap, _))
          bloomPrune(spark, baseDir, snap, ranges,
            snap.files.filter(f => keeps.forall(_(f))))
        }
      case None => snap.files
    }
  }

  /** The partitions holding rows whose `keyCol` matches `gatedKeys` —
    * MERGE/DELETE discovery, probing only the files whose recorded key
    * bounds can intersect the batch's ENVELOPE `[envLo, envHi]` (its
    * driver-held min/max) instead of the whole (column-pruned) table.
    * Sound because a file containing any batch key k has min ≤ k ≤ max
    * and the envelope contains k, so the ranges intersect and
    * [[rangeKeep]] keeps the file; files without a recorded bound are
    * probed (conservative). On a key-clustered table this turns
    * per-commit discovery cost from O(table) into O(matching slabs) —
    * the difference between a streaming merge that slows as the table
    * grows and one that doesn't. A NULL `envLo` (all-NULL or empty key
    * set) probes nothing: NULL keys cannot match an equi-join. */
  private def discoverAffected(spark: SparkSession, baseDir: String,
      snap: Snapshot, keyCols: Seq[String], partCols: Seq[String],
      envLo: Any, envHi: Any, gatedKeys: DataFrame): Seq[Seq[Any]] = {
    // composite keys envelope-prune on the LEADING key column (sound:
    // a file holding any matching composite holds its first component,
    // so the leading ranges intersect); the join below matches on the
    // full key tuple
    val probed =
      if (envLo == null) Nil
      else snap.files.filter(
        rangeKeep(snap, ColRange(keyCols.head, envLo, envHi)))
    discoveryStats.put(baseDir, (probed.size, snap.files.size))
    if (probed.isEmpty) Nil
    else affectedTuples(
      readFiles(spark, baseDir, probed, snap.schema, snap.colmap,
        snap.dvs, stats = snap.stats).join(gatedKeys, keyCols),
      partCols)
  }

  /** The affected partitions' rows of the previous version — exactly
    * `readVersion(prev).filter(partCol isin affected)`, built from the
    * file subset directly so the plan never constructs the full-table
    * file index. `affected` values not yet on disk (a batch's brand-new
    * partitions) contribute no files; all-new means a typed empty
    * relation (schema-less legacy logs fall back to the full read —
    * the only schema source there is the files themselves). */
  private def readAffected(spark: SparkSession, baseDir: String, prev: Int,
      snap: Snapshot, partCols: Seq[String],
      affected: Seq[Seq[Any]]): DataFrame = {
    val dirs = affectedDirs(partCols, affected)
    val files = snap.files.filter(f => dirs.exists(d => underDir(f, d)))
    if (files.nonEmpty)
      readFiles(spark, baseDir, files, snap.schema, snap.colmap, snap.dvs,
        stats = snap.stats)
    else snap.schema match {
      case Some(s) => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
      case None => readFilesNonEmpty(spark, baseDir, prev, snap.files,
        None, dvs = snap.dvs)
        .filter(affected.map(vs => partCols.zip(vs)
            .map { case (c, v) => col(c) === lit(v) }
            .reduceOption(_ && _).getOrElse(lit(true)))
          .reduce(_ || _))
    }
  }

  /** MERGE INTO as a new version: same pruned-discovery semantics as
    * [[Merge.upsertPartitioned]] (update-by-key, insert-new-keys,
    * cross-partition key moves covered), but the prior version remains
    * readable, and the discovery join probes only the files whose
    * logged key bounds intersect the batch's envelope
    * ([[discoveryProbe]]). Returns the committed version number. */
  def upsert(spark: SparkSession, baseDir: String, updates: DataFrame,
      keyCol: String, partCol: String,
      broadcastKeyLimit: Long = Merge.DefaultBroadcastKeyLimit,
      evolveSchema: Boolean = false, changeFeed: Boolean = false): Int = {
    val prev = latestVersion(spark, baseDir)
    require(prev >= 1, s"$baseDir has no commits — call init first")
    val partCols = splitCols(partCol)
    val keyCols = splitCols(keyCol)
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    requirePartCols(updates, partCols)
    // resolved ONCE per commit: file set, committed schema, and stats
    val prevSnap = resolveFull(spark, baseDir, prev)
    requireLayoutMatch(partCols,
      activePartCols(spark, baseDir, prevSnap), "upsert")
    val prevSchema = prevSnap.schema
    checkSchema(updates.schema, prevSchema, evolveSchema, "upsert")
    // reuse a caller-materialized checkpoint (the streaming sinks pin
    // their micro-batch before the emptiness gate) instead of copying
    // every row into a second block set per commit
    val ups = Merge.ensureCheckpointed(updates)
    enforceConstraints(ups, constraintsAt(spark, baseDir, prev), "upsert")
    // ONE action serves the broadcast gate, the discovery envelope (the
    // envelope prunes on the LEADING key column) AND the batch's distinct
    // partition tuples: group by the partition columns and reduce the
    // per-partition envelopes driver-side (rows are bounded by the
    // batch's partition spread, the same driver contract as the
    // affected-partition collect this replaces)
    val gate = batchGate(ups, keyCols, partCols)
    val updKeys = Merge.gateBroadcast(
      ups.select(keyCols.map(col): _*).distinct(),
      broadcastKeyLimit, gate.count)
    val existingAffected = discoverAffected(spark, baseDir, prevSnap,
      keyCols, partCols, gate.envLo, gate.envHi, updKeys)
    val affected = (gate.partTuples ++ existingAffected).distinct
    Merge.requireNoNullPartitionTuple(affected, partCols)
    if (affected.isEmpty) return prev // empty batch: nothing to commit
    val current = readAffected(spark, baseDir, prev, prevSnap, partCols,
      affected)
    val cdcToken = if (changeFeed) Some(newToken()) else None
    cdcToken.foreach { tok =>
      // row-level change capture, O(rows touched): the discovery work
      // already restricted `current` to the affected partitions, and
      // the key joins split the batch into updates vs inserts. The key
      // set is checkpointed so the three branches don't each re-scan
      // the affected partitions to rebuild it.
      val existingKeys = current.select(keyCols.map(col): _*).distinct()
        .localCheckpoint()
      writeChanges(spark, baseDir, tok, Seq(
        current.join(updKeys, keyCols)
          .withColumn(ChangeTypeCol, lit("update_preimage")),
        ups.join(existingKeys, keyCols, "left_semi")
          .withColumn(ChangeTypeCol, lit("update_postimage")),
        ups.join(existingKeys, keyCols, "left_anti")
          .withColumn(ChangeTypeCol, lit("insert"))))
    }
    // allowMissingColumns: under evolution the kept rows lack the new
    // columns and read as NULL — the standard add-column semantics.
    // NOT checkpointed: commitRewrite's staged write is the frame's ONLY
    // consumer (staging lands under _staging/, never over the source
    // files), so a checkpoint here would be a second full materialization
    // of every merged row per commit
    val merged = ups.unionByName(
      current.join(updKeys, keyCols, "left_anti"),
        allowMissingColumns = true)
    commitRewrite(spark, baseDir, partCols,
      affectedDirs(partCols, affected), prev, prevSnap,
      merged, "upsert", evolveSchema, cdcToken)
  }

  /** Targeted DELETE as a new version. Deleting keys not present commits
    * nothing and returns the current version (a recorded no-op would
    * carry an identical file set — noise in the log). */
  def delete(spark: SparkSession, baseDir: String, keys: DataFrame,
      keyCol: String, partCol: String,
      broadcastKeyLimit: Long = Merge.DefaultBroadcastKeyLimit,
      changeFeed: Boolean = false): Int = {
    val prev = latestVersion(spark, baseDir)
    require(prev >= 1, s"$baseDir has no commits — call init first")
    val partCols = splitCols(partCol)
    val keyCols = splitCols(keyCol)
    require(keyCols.nonEmpty, "delete needs at least one key column")
    val prevSnap = resolveFull(spark, baseDir, prev)
    // the keys are interpreted under the TABLE's key types: a caller
    // handing string keys against a LONG column (CSV-sourced deletes)
    // would otherwise compute its envelope in STRING order while the
    // probe compares in the table's order — a silent under-delete.
    // try_cast (not cast): un-castable values become NULL and match
    // nothing, like any NULL key in an equi-join, under ANY ANSI mode.
    def keyedCol(kc: String): Column = prevSnap.schema
      .flatMap(_.fields.find(_.name == kc).map(_.dataType))
      .fold(col(kc))(t => expr(s"try_cast(`$kc` AS ${t.sql})"))
    val checkpointedKeys = keys
      .select(keyCols.map(kc => keyedCol(kc).as(kc)): _*).distinct()
      .localCheckpoint()
    // one action serves the broadcast gate AND the discovery envelope
    val gate = checkpointedKeys
      .agg(count(lit(1)), min(col(keyCols.head)), max(col(keyCols.head)))
      .head
    val delKeys = Merge.gateBroadcast(checkpointedKeys, broadcastKeyLimit,
      gate.getLong(0))
    val affected = discoverAffected(spark, baseDir, prevSnap, keyCols,
      partCols, gate.get(1), gate.get(2), delKeys)
    Merge.requireNoNullPartitionTuple(affected, partCols)
    if (affected.isEmpty) prev
    else {
      val touched = readAffected(spark, baseDir, prev, prevSnap, partCols,
        affected)
      val cdcToken = if (changeFeed) Some(newToken()) else None
      cdcToken.foreach(tok =>
        writeChanges(spark, baseDir, tok, Seq(
          touched.join(delKeys, keyCols)
            .withColumn(ChangeTypeCol, lit("delete")))))
      // not checkpointed: commitRewrite's staged write is the single
      // consumer (staging never overwrites the source files)
      val survivors = touched
        .join(delKeys, keyCols, "left_anti")
      commitRewrite(spark, baseDir, partCols,
        affectedDirs(partCols, affected), prev, prevSnap,
        survivors, "delete", cdc = cdcToken)
    }
  }

  /** One WHEN clause of a conditional [[merge]] — the full Delta MERGE
    * surface. Clause ORDER is semantic: for each row, the first clause
    * of its kind whose condition holds applies; a matched row no
    * matched clause accepts passes through UNCHANGED, a source row no
    * insert clause accepts is DROPPED.
    *
    * Condition/SET expression scope:
    *   - MATCHED clauses see both sides as `tgt.*` / `src.*`
    *     (`col("tgt.o_totalprice") > col("src.o_totalprice")`);
    *   - NOT MATCHED conditions see the SOURCE row's bare columns
    *     (there is no target row to reference — Delta's rule too). */
  sealed trait MergeClause
  /** WHEN MATCHED [AND condition] THEN UPDATE SET — an EMPTY `set`
    * means update-all (every column takes the source row's value). SET
    * values are cast to the committed column types; the key and
    * partition columns cannot be SET (key/partition moves are
    * [[upsert]]'s job). */
  final case class MatchedUpdate(condition: Option[Column] = None,
      set: Map[String, Column] = Map.empty) extends MergeClause
  /** WHEN MATCHED [AND condition] THEN DELETE. */
  final case class MatchedDelete(condition: Option[Column] = None)
      extends MergeClause
  /** WHEN NOT MATCHED [AND condition] THEN INSERT. An EMPTY `set`
    * inserts the whole source row (Delta's `INSERT *`); a non-empty
    * `set` is the explicit column list — target column → expression
    * over the BARE source row (same scope as the condition), unlisted
    * columns NULL. A set that skips a partition column is refused
    * up front (this table refuses NULL partition values). */
  final case class NotMatchedInsert(condition: Option[Column] = None,
      set: Map[String, Column] = Map.empty) extends MergeClause
  /** WHEN NOT MATCHED BY SOURCE [AND condition] THEN UPDATE SET —
    * TARGET rows with no source match (the sync-a-dimension shape:
    * flag or retire rows the feed stopped mentioning). Conditions and
    * SET values see the TARGET row as `tgt.*` (there is no source row
    * to reference — Delta's rule too). NOTE the scale shape: a BY
    * SOURCE clause's candidates are every target row, so the rewrite
    * scope becomes the whole table (Delta pays the same; partition
    * pruning can't apply without knowing which rows the source does
    * NOT hold). */
  final case class NotMatchedBySourceUpdate(
      condition: Option[Column] = None,
      set: Map[String, Column]) extends MergeClause
  /** WHEN NOT MATCHED BY SOURCE [AND condition] THEN DELETE. */
  final case class NotMatchedBySourceDelete(
      condition: Option[Column] = None) extends MergeClause

  /** Conditional MERGE INTO as a new version — [[upsert]] generalized
    * to the full WHEN-clause surface (update/delete/insert, each
    * optionally guarded, order-sensitive, unmatched rows passing
    * through). Same scale shape as upsert: source-key-envelope
    * stats-pruned discovery, affected-partition rewrite, O(files
    * touched) commit; plus the same CDC capture when `changeFeed` is
    * on (update pre/post images, delete images, inserts). Source keys
    * must be UNIQUE — two source rows matching one target row is
    * ambiguous, and is refused up front (Delta's
    * `MultipleSourceRowMatches`). Changed rows (update postimages and
    * inserts) are re-validated against active CHECK constraints. */
  def merge(spark: SparkSession, baseDir: String, source: DataFrame,
      keyCol: String, partCol: String, clauses: Seq[MergeClause],
      broadcastKeyLimit: Long = Merge.DefaultBroadcastKeyLimit,
      changeFeed: Boolean = false,
      extraOn: Option[Column] = None): Int = {
    require(clauses.nonEmpty, "merge needs at least one WHEN clause")
    val matchedClauses = clauses.filter {
      case _: NotMatchedInsert => false
      case _: NotMatchedBySourceUpdate => false
      case _: NotMatchedBySourceDelete => false
      case _ => true
    }
    val insertClauses = clauses.collect { case c: NotMatchedInsert => c }
    val bySourceClauses: Seq[MergeClause] = clauses.filter {
      case _: NotMatchedBySourceUpdate => true
      case _: NotMatchedBySourceDelete => true
      case _ => false
    }
    val prev = latestVersion(spark, baseDir)
    require(prev >= 1, s"$baseDir has no commits — call init first")
    val partCols = splitCols(partCol)
    val keyCols = splitCols(keyCol)
    require(keyCols.nonEmpty, "merge needs at least one key column")
    requirePartCols(source, partCols)
    val fs = hadoopFs(spark, baseDir)
    val prevSnap = resolveFull(spark, baseDir, prev)
    requireLayoutMatch(partCols,
      activePartCols(spark, baseDir, prevSnap), "merge")
    checkSchema(source.schema, prevSnap.schema, evolve = false, "merge")
    val fields = prevSnap.schema.getOrElse(source.schema)
    def checkSet(set: Map[String, Column], kind: String): Unit =
      set.keys.foreach { c =>
        require(fields.fieldNames.contains(c),
          s"$kind SET column '$c' is not in the table schema")
        require(!keyCols.contains(c) && !partCols.contains(c),
          s"$kind SET on '$c' would move the row across keys/" +
            "partitions — use upsert for moves")
      }
    matchedClauses.foreach {
      case MatchedUpdate(_, set) => checkSet(set, "MATCHED")
      case _ => ()
    }
    bySourceClauses.foreach {
      case NotMatchedBySourceUpdate(_, set) =>
        checkSet(set, "NOT MATCHED BY SOURCE")
      case _ => ()
    }
    insertClauses.foreach { cl =>
      if (cl.set.nonEmpty) {
        cl.set.keys.foreach(c =>
          require(fields.fieldNames.contains(c),
            s"INSERT column '$c' is not in the table schema"))
        partCols.foreach(pc => require(cl.set.contains(pc),
          s"an explicit INSERT column list must set partition column " +
            s"'$pc' — this table refuses NULL partition values"))
      }
    }
    val src = Merge.ensureCheckpointed(source)
    // ONE gate action serves the broadcast gate, the discovery envelope
    // (leading key column) AND the duplicate-source refusal: distinct
    // non-NULL key tuples vs non-NULL-keyed rows — no separate
    // full-source aggregation job (NULL-keyed source rows never match a
    // target, so duplicates among them are not ambiguous)
    val allKeysNotNull = keyCols.map(col(_).isNotNull).reduce(_ && _)
    val gate = src.agg(count(lit(1)), min(col(keyCols.head)),
      max(col(keyCols.head)),
      countDistinct(keyCols.head, keyCols.tail: _*),
      sum(when(allKeysNotNull, 1L).otherwise(0L))).head
    require(gate.getLong(3) == gate.getLong(4),
      "merge source has duplicate keys: two source rows matching one " +
        "target row is ambiguous — deduplicate the source first")
    val srcKeys = Merge.gateBroadcast(
      src.select(keyCols.map(col): _*).distinct(),
      broadcastKeyLimit, gate.getLong(0))
    val existingAffected = discoverAffected(spark, baseDir, prevSnap,
      keyCols, partCols, gate.get(1), gate.get(2), srcKeys)
    // keys already in the table — complete, because conservative
    // pruning probes every file whose bounds could hold a source key
    val existingKeys = readAffected(spark, baseDir, prev, prevSnap,
      partCols, existingAffected)
      .join(srcKeys, keyCols, "left_semi")
      .select(keyCols.map(col): _*).distinct().localCheckpoint()
    // NOT MATCHED cascade, evaluated on the bare source row: the
    // accepting clause's index, -1 when none accepts (row dropped).
    // Explicit INSERT column lists PRE-MATERIALIZE their value
    // expressions here too — the bare-source scope Delta gives INSERT
    // values — so the joined frame below only references columns.
    val insActCol = "__graft_merge_ins"
    def insColName(i: Int, c: String) = s"__graft_ins_${i}_$c"
    val insAct = insertClauses.zipWithIndex
      .foldRight(lit(-1): Column) { case ((cl, i), acc) =>
        when(coalesce(cl.condition.getOrElse(lit(true)), lit(false)),
          lit(i)).otherwise(acc)
      }
    val srcMarked = insertClauses.zipWithIndex.foldLeft(
        src.withColumn(insActCol, insAct)) { case (d, (cl, i)) =>
      cl.set.foldLeft(d) { case (dd, (c, e)) =>
        dd.withColumn(insColName(i, c), e.cast(fields(c).dataType)) }
    }
    // insert partitions: a clause with an explicit column list lands
    // rows at the partitions its SET expressions compute; whole-row
    // inserts land at the source row's own partitions. Without a
    // general ON, key-absent rows are the only possible inserts —
    // prune by the existing-keys anti-join; with one, the key may
    // exist while the full condition fails, so every accepted source
    // row is a candidate (a superset of dirs is correct, never wrong).
    val insertParts: Seq[Seq[Any]] =
      insertClauses.zipWithIndex.flatMap { case (cl, i) =>
        val accepted = srcMarked.filter(col(insActCol) === i)
        val candidates =
          if (extraOn.isEmpty)
            accepted.join(existingKeys, keyCols, "left_anti")
          else accepted
        if (cl.set.isEmpty) affectedTuples(candidates, partCols)
        else affectedTuples(candidates.select(
          partCols.map(pc => col(insColName(i, pc)).as(pc)): _*),
          partCols)
      }.distinct
    val affected = (existingAffected ++ insertParts).distinct
    Merge.requireNoNullPartitionTuple(affected, partCols)
    if (affected.isEmpty && bySourceClauses.isEmpty) return prev
    // presence MARKERS give null-safe match verdicts: a NULL component
    // in a key must read as "no match", never as "target-only row"
    val tgtMark = "__graft_merge_tgt"
    // BY SOURCE clauses touch target rows the source does NOT hold —
    // their default candidates are the whole table (the price Delta
    // pays for the same clause, and what an UNCONDITIONAL clause
    // genuinely requires). But when EVERY BY SOURCE clause carries a
    // condition, the scope STATS-PRUNES to files whose recorded bounds
    // (and bloom filters) can satisfy at least one clause — the same
    // conservative keep contract as deleteWhere's phase-1 prune. Sound
    // because a file every clause provably misses holds only
    // pass-through target rows, which carry over by name; matched rows
    // are already covered by the discovery envelope's dirs. At 100 TB
    // this turns "retire last quarter's stale rows" from a table-scale
    // rewrite into a quarter-scale one.
    val bsDirs: Set[String] =
      if (bySourceClauses.isEmpty) Set.empty
      else {
        val conds = bySourceClauses.map {
          case NotMatchedBySourceUpdate(c, _) => c
          case NotMatchedBySourceDelete(c) => c
          case _ => None // filtered out above
        }
        val scope =
          if (conds.exists(_.isEmpty)) prevSnap.files
          else conds.flatten
            .flatMap(c => bySourceScopeFiles(spark, baseDir, prevSnap,
              fields, c)).distinct
        bySourceScopeStats.put(baseDir,
          (scope.size, prevSnap.files.size))
        scope.map(dirOf).toSet
      }
    val dirs = affectedDirs(partCols, affected) ++ bsDirs
    if (dirs.isEmpty) return prev // every clause provably matched nothing
    val scopeFiles =
      prevSnap.files.filter(f => dirs.exists(d => underDir(f, d)))
    val current = (
      if (scopeFiles.isEmpty) prevSnap.schema.map(s =>
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s))
        .getOrElse(readAffected(spark, baseDir, prev, prevSnap, partCols,
          affected)) // schema-less legacy: affected-dir fallback
      else readFiles(spark, baseDir, scopeFiles, prevSnap.schema,
        prevSnap.colmap, prevSnap.dvs, stats = prevSnap.stats)
      ).withColumn(tgtMark, lit(true))
    val joinCond = keyCols.map(k =>
      col(s"tgt.$k") === col(s"src.$k")).reduce(_ && _)
    // a general ON narrows the MATCH itself: a key-equal pair failing
    // the extra condition is NOT matched (the source row may insert,
    // the target row is BY SOURCE territory) — exactly SQL MERGE
    val fullCond = extraOn.fold(joinCond)(joinCond && _)
    val joined = current.alias("tgt")
      .join(srcMarked.alias("src"), fullCond, "full_outer")
      .localCheckpoint() // result + CDC + constraint frames share it
    val isMatched =
      col(s"tgt.$tgtMark").isNotNull && col(s"src.$insActCol").isNotNull
    val isTgtOnly = col(s"src.$insActCol").isNull
    // MATCHED cascade: first clause whose condition holds (1-based
    // clause index; 0 = no clause, the row passes through unchanged)
    val actCol = "__graft_merge_act"
    val mAct = matchedClauses.zipWithIndex
      .foldRight(lit(0): Column) { case ((cl, i), acc) =>
        val cond = cl match {
          case MatchedUpdate(c, _) => c
          case MatchedDelete(c) => c
          case _: NotMatchedInsert => None // filtered out above
        }
        when(coalesce(cond.getOrElse(lit(true)), lit(false)),
          lit(i + 1)).otherwise(acc)
      }
    // BY SOURCE cascade over TARGET-only rows (conditions see tgt.*;
    // 1-based index, 0 = no clause accepts → row passes through)
    val bsActCol = "__graft_merge_bs"
    val bsAct = bySourceClauses.zipWithIndex
      .foldRight(lit(0): Column) { case ((cl, i), acc) =>
        val cond = cl match {
          case NotMatchedBySourceUpdate(c, _) => c
          case NotMatchedBySourceDelete(c) => c
          case _ => None // filtered out above
        }
        when(coalesce(cond.getOrElse(lit(true)), lit(false)),
          lit(i + 1)).otherwise(acc)
      }
    val j = joined.withColumn(actCol, when(isMatched, mAct))
      .withColumn(bsActCol, when(isTgtOnly, bsAct))
    val deleteActs = matchedClauses.zipWithIndex.collect {
      case (_: MatchedDelete, i) => i + 1 }
    val updateActs = matchedClauses.zipWithIndex.collect {
      case (_: MatchedUpdate, i) => i + 1 }
    val bsDeleteActs = bySourceClauses.zipWithIndex.collect {
      case (_: NotMatchedBySourceDelete, i) => i + 1 }
    val bsUpdateActs = bySourceClauses.zipWithIndex.collect {
      case (_: NotMatchedBySourceUpdate, i) => i + 1 }
    val keep =
      when(isMatched,
        if (deleteActs.isEmpty) lit(true)
        else !col(actCol).isin(deleteActs.map(Integer.valueOf): _*))
      .when(isTgtOnly,
        if (bsDeleteActs.isEmpty) lit(true)
        else !col(bsActCol).isin(bsDeleteActs.map(Integer.valueOf): _*))
      .otherwise(col(insActCol) >= 0)
    def tgtCols = fields.fieldNames.map(c => col(s"tgt.$c").as(c)).toSeq
    def valueOf(c: String): Column = {
      val t = fields(c).dataType
      val matchedVal = matchedClauses.zipWithIndex
        .foldLeft(col(s"tgt.$c")) {
          case (acc, (MatchedUpdate(_, set), i)) =>
            val v =
              if (set.isEmpty) col(s"src.$c")
              else set.get(c).fold(col(s"tgt.$c"))(_.cast(t))
            when(col(actCol) === (i + 1), v).otherwise(acc)
          case (acc, _) => acc // delete rows never reach the select
        }
      val tgtOnlyVal = bySourceClauses.zipWithIndex
        .foldLeft(col(s"tgt.$c")) {
          case (acc, (NotMatchedBySourceUpdate(_, set), i)) =>
            when(col(bsActCol) === (i + 1),
              set.get(c).fold(col(s"tgt.$c"))(_.cast(t))).otherwise(acc)
          case (acc, _) => acc
        }
      val insVal = insertClauses.zipWithIndex
        .foldLeft(col(s"src.$c")) {
          case (acc, (cl, i)) if cl.set.nonEmpty =>
            when(col(insActCol) === i,
              cl.set.get(c)
                .map(_ => col(s"src.${insColName(i, c)}").cast(t))
                .getOrElse(lit(null).cast(t))).otherwise(acc)
          case (acc, _) => acc
        }
      when(isMatched, matchedVal)
        .when(isTgtOnly, tgtOnlyVal)
        .otherwise(insVal).as(c)
    }
    val outCols = fields.fieldNames.map(valueOf).toSeq
    val isUpdated = isMatched &&
      (if (updateActs.isEmpty) lit(false)
       else col(actCol).isin(updateActs.map(Integer.valueOf): _*))
    val isBsUpdated = isTgtOnly &&
      (if (bsUpdateActs.isEmpty) lit(false)
       else col(bsActCol).isin(bsUpdateActs.map(Integer.valueOf): _*))
    val isBsDeleted = isTgtOnly &&
      (if (bsDeleteActs.isEmpty) lit(false)
       else col(bsActCol).isin(bsDeleteActs.map(Integer.valueOf): _*))
    val isInserted = !isMatched && !isTgtOnly && col(insActCol) >= 0
    enforceConstraints(
      j.filter(isUpdated || isInserted || isBsUpdated).select(outCols: _*),
      constraintsAt(spark, baseDir, prev), "merge")
    val cdcToken = if (changeFeed) Some(newToken()) else None
    cdcToken.foreach { tok =>
      writeChanges(spark, baseDir, tok, Seq(
        j.filter(isUpdated || isBsUpdated).select(tgtCols: _*)
          .withColumn(ChangeTypeCol, lit("update_preimage")),
        j.filter(isUpdated || isBsUpdated).select(outCols: _*)
          .withColumn(ChangeTypeCol, lit("update_postimage")),
        j.filter(isBsDeleted || (isMatched && (
            if (deleteActs.isEmpty) lit(false)
            else col(actCol).isin(deleteActs.map(Integer.valueOf): _*))))
          .select(tgtCols: _*)
          .withColumn(ChangeTypeCol, lit("delete")),
        j.filter(isInserted).select(outCols: _*)
          .withColumn(ChangeTypeCol, lit("insert"))))
    }
    // NOT checkpointed: `j` above is the shared materialization; the
    // rewrite frame from it is a filter+project consumed exactly once by
    // commitRewrite's staged write — a checkpoint here would re-buffer
    // every surviving row a second time per merge
    val rewritten = j.filter(keep).select(outCols: _*)
    commitRewrite(spark, baseDir, partCols, dirs, prev, prevSnap,
      rewritten, "merge", cdc = cdcToken)
  }

  /** Predicate DELETE (`DELETE WHERE p`) as a new version — the
    * right-to-be-forgotten path real users actually run is a predicate,
    * not a key list. Three-phase, none of it table-scale:
    *   1. PRUNE from the log alone: the predicate's analyzed range/
    *      equality conjuncts ([[predicateRanges]]) stats-prune the
    *      version's file list — partition conjuncts cut by directory,
    *      clustered-column conjuncts by recorded min/max — before any
    *      data is read;
    *   2. PROBE only the candidates: one scan finds the files that
    *      actually HOLD matching rows (matched by the staged writes'
    *      globally-unique file names, immune to URI-encoding drift);
    *   3. REWRITE only those files: survivors re-land, every other
    *      file — including probed-but-clean candidates — carries over
    *      by name, so the commit is O(files with matches), and older
    *      versions still read the originals.
    * Rows where the predicate is NULL survive (SQL DELETE semantics).
    * Deleting every row is refused like any table-emptying commit. A
    * predicate matching nothing commits nothing. `changeFeed` captures
    * the deleted rows as `delete` change images. Discovery telemetry
    * lands in [[discoveryStats]] (candidates probed vs files total). */
  def deleteWhere(spark: SparkSession, baseDir: String,
      predicate: Column, partCol: String,
      changeFeed: Boolean = false): Int =
    rewriteWhere(spark, baseDir, predicate, partCol, changeFeed, None)

  /** Analyze `predicate` against the committed schema, translate its
    * conjuncts to stats ranges, and prune the snapshot's candidate
    * files from the LOG alone — the shared front of every predicate
    * mutation. Publishes (candidates, total) discovery telemetry. */
  private def pruneByPredicate(spark: SparkSession, baseDir: String,
      snap: Snapshot, schema: org.apache.spark.sql.types.StructType,
      predicate: Column): Seq[String] = {
    val cond = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .filter(predicate).queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition
      }.getOrElse(throw new IllegalArgumentException(
        s"predicate did not analyze to a filter: $predicate"))
    val ranges = predicateRanges(cond)
    val keeps = ranges.map(rangeKeep(snap, _))
    val ranged = snap.files.filter(f => keeps.forall(_(f)))
    // equality conjuncts additionally probe the files' bloom filters —
    // the unclustered-point-lookup prune ranges cannot give
    val candidates = bloomPrune(spark, baseDir, snap, ranges, ranged)
    discoveryStats.put(baseDir, (candidates.size, snap.files.size))
    candidates
  }

  /** Predicate DELETE as MERGE-ON-READ (Delta's deletion vectors): the
    * matching rows' (file, position) pairs land in a `_dv/<token>/`
    * parquet artifact and the commit re-binds each touched file to it —
    * ZERO data-file bytes rewritten, where [[deleteWhere]] rewrites
    * every file holding a matching row. At 100 TB this is the
    * difference between a right-to-be-forgotten delete costing
    * O(matching rows) and costing O(files touched × file size): a
    * 100-row delete scattered across a thousand 1 GB files writes a
    * few KB of positions instead of a TB of rewrites. Readers apply
    * the vectors as a position anti-join on only the BOUND files
    * ([[applyDv]]); [[compact]] materializes them away (rewritten
    * files carry only live rows, OPTIMIZE being the pay-the-rewrite
    * moment every merge-on-read format chooses deliberately).
    *
    * Semantics are identical to [[deleteWhere]] — same stats-pruned
    * candidate discovery, same CDC capture (`changeFeed = true` records
    * the deleted rows' full images, exactly once: already-deleted
    * positions are invisible to the probe, so re-deleting a range never
    * re-captures rows), same conflict rules (the commit removes-and-
    * re-adds each touched path, so concurrent rewrites of the same
    * partitions refuse to rebase past it). Each commit's artifact folds
    * the touched files' PRIOR delete-sets in, so a file always has ONE
    * binding and restore can rewind it without losing or resurrecting
    * anything. Skipping stats stay sound unchanged: deletes only remove
    * rows, so recorded bounds remain a (possibly loose) envelope, and
    * recorded row counts become upper bounds. A delete that empties
    * every row of every file is representable (the files remain, the
    * version reads as zero rows) — unlike the rewrite path, which must
    * refuse table-emptying commits. Returns the committed version, or
    * the current one when nothing matched. */
  def deleteWhereDv(spark: SparkSession, baseDir: String,
      predicate: Column, partCol: String,
      changeFeed: Boolean = false): Int =
    mutateWhereDv(spark, baseDir, predicate, partCol, changeFeed, None)

  /** Predicate UPDATE as MERGE-ON-READ: the matching rows' old
    * positions hide behind a deletion vector and their UPDATED images
    * land as NEW files in the same commit — non-matching rows in the
    * touched files are never rewritten (Delta's DV update). Where
    * [[updateWhere]] rewrites every file holding a match whole, this
    * writes O(matching rows): updating 100 rows scattered across a
    * thousand large files appends 100 rows plus a few KB of positions.
    * Same contract as [[updateWhere]] otherwise: SET on the partition
    * column refused (a cross-partition move is an upsert's job),
    * updated rows re-validated against the active CHECK policy, CDC
    * pre/post images, SET expressions evaluated on the ORIGINAL
    * values. */
  def updateWhereDv(spark: SparkSession, baseDir: String,
      predicate: Column, set: Map[String, Column], partCol: String,
      changeFeed: Boolean = false): Int = {
    require(set.nonEmpty, "updateWhereDv needs at least one SET column")
    mutateWhereDv(spark, baseDir, predicate, partCol, changeFeed,
      Some(set))
  }

  private def mutateWhereDv(spark: SparkSession, baseDir: String,
      predicate: Column, partCol: String, changeFeed: Boolean,
      set: Option[Map[String, Column]]): Int = {
    val op = if (set.isEmpty) "delete" else "update"
    val prev = latestVersion(spark, baseDir)
    require(prev >= 1, s"$baseDir has no commits — call init first")
    val fs = hadoopFs(spark, baseDir)
    val prevSnap = resolveFull(spark, baseDir, prev)
    if (prevSnap.files.isEmpty) return prev // empty table: no matches
    // the rewrite's layout IS the table's recorded layout — the
    // partCol parameter is kept for source compatibility only
    val partCols = partColsLogical(prevSnap.files, prevSnap.colmap)
    set.foreach(s => partCols.foreach(pc => require(!s.contains(pc),
      s"SET on the partition column '$pc' would move rows across " +
        "partitions — use upsert for key moves")))
    val schema = prevSnap.schema.getOrElse(
      throw new IllegalArgumentException(
        s"$baseDir's log records no schema — predicate $op needs " +
          "one to analyze the WHERE clause against"))
    set.foreach(_.keys.foreach(k =>
      require(schema.fieldNames.contains(k),
        s"SET column '$k' is not in the table schema")))
    val candidates = pruneByPredicate(spark, baseDir, prevSnap, schema,
      predicate)
    if (candidates.isEmpty) return prev
    // one DV-filtered, position-tagged scan serves the probe, the new
    // artifact, and the CDC images — already-deleted rows are invisible
    val matched = readFiles(spark, baseDir, candidates, Some(schema),
        prevSnap.colmap, prevSnap.dvs, keepPos = true,
        stats = prevSnap.stats)
      .filter(coalesce(predicate, lit(false)))
      .localCheckpoint()
    // files identified by NAME — globally unique per table (commit
    // token + per-stage ordinal, see [[stageWrite]])
    val touchedNames = matched.select(col(PosFileCol)).distinct()
      .collect().map(_.getString(0)).toSet
    if (touchedNames.isEmpty) return prev
    val touched = candidates.filter(f => touchedNames(baseName(f)))
    // updated images: every matched row through SET, evaluated on the
    // ORIGINAL (checkpointed) values, cast to the committed types —
    // validated against the CHECK policy BEFORE any artifact lands
    val updated = set.map { s =>
      val u = matched.select(schema.fieldNames.map(c =>
        s.get(c).fold(col(c))(e => e.cast(schema(c).dataType).as(c)))
        .toSeq: _*)
      enforceConstraints(u, constraintsAt(spark, baseDir, prev), op)
      u
    }
    val token = newToken()
    // new artifact = new positions ∪ the touched files' PRIOR
    // delete-sets (each read from its own bound artifact): one binding
    // per file always suffices, and untouched files keep their old
    // pointers — artifacts of fully-superseded commits become
    // unreferenced and vacuum reclaims them
    val newPos = matched.select(col(PosFileCol).as("name"),
      col(PosIndexCol).as("pos"))
    val prior = touched.flatMap(f =>
      prevSnap.dvs.get(f).map(t => (baseName(f), t)))
    val artifact = prior.groupBy(_._2).map { case (t, keyed) =>
      val keys = spark.createDataFrame(keyed.map(k => Tuple1(k._1)))
        .toDF("name")
      spark.read.parquet(dvDir(baseDir, t).toString)
        .join(broadcast(keys), Seq("name"), "left_semi")
        .select(col("name"), col("pos"))
    }.foldLeft(newPos)(_.unionByName(_))
    // artifact lands BEFORE the record (like CDC captures): an aborted
    // commit leaves an orphan dir the age-guarded vacuum sweep reclaims
    artifact.write.mode("overwrite")
      .parquet(dvDir(baseDir, token).toString)
    val cdcToken = if (changeFeed) Some(newToken()) else None
    cdcToken.foreach { tok =>
      val pre = matched.drop(PosFileCol, PosIndexCol)
      writeChanges(spark, baseDir, tok, updated match {
        case None => Seq(pre.withColumn(ChangeTypeCol, lit("delete")))
        case Some(u) => Seq(
          pre.withColumn(ChangeTypeCol, lit("update_preimage")),
          u.withColumn(ChangeTypeCol, lit("update_postimage")))
      })
    }
    // an update's new images land as fresh files in the SAME commit —
    // their partitions equal the touched ones (SET never moves rows)
    val newFiles = updated.fold(Seq.empty[String])(u =>
      stageWrite(spark, baseDir, u, partCols, colmap = prevSnap.colmap))
    val dirs = touched.map(dirOf).toSet
    val tset = touched.toSet
    commitWithRebase(spark, fs, baseDir, prev, dirs,
      adds = newFiles ++ touched, removes = touched, txn = None,
      batchSchema = schema, op = op, evolveSchema = false, cdc = cdcToken,
      dvs = touched.map(f => f -> token).toMap,
      statsOverride = prevSnap.stats.filter { case (f, _) => tset(f) },
      // re-added files keep their bloom filters: bytes unchanged, and a
      // delete only shrinks the value set — still a sound filter
      bloomCarry = prevSnap.blooms.filter { case (f, _) => tset(f) },
      dvTouched = tset)
  }

  /** Predicate UPDATE (`UPDATE SET ... WHERE p`) as a new version —
    * same three-phase prune/probe/rewrite shape as [[deleteWhere]],
    * but matching rows are rewritten through `set` (column → new-value
    * expression, evaluated per row and cast to the column's committed
    * type) and non-matching rows in the touched files carry through
    * unchanged. The partition column cannot be SET (a cross-partition
    * move is an upsert's job); updated rows are re-validated against
    * the table's active CHECK constraints; `changeFeed` captures
    * pre/post images. */
  def updateWhere(spark: SparkSession, baseDir: String,
      predicate: Column, set: Map[String, Column], partCol: String,
      changeFeed: Boolean = false): Int = {
    require(set.nonEmpty, "updateWhere needs at least one SET column")
    rewriteWhere(spark, baseDir, predicate, partCol, changeFeed, Some(set))
  }

  private def rewriteWhere(spark: SparkSession, baseDir: String,
      predicate: Column, partCol: String, changeFeed: Boolean,
      set: Option[Map[String, Column]]): Int = {
    val op = if (set.isEmpty) "delete" else "update"
    val prev = latestVersion(spark, baseDir)
    require(prev >= 1, s"$baseDir has no commits — call init first")
    val fs = hadoopFs(spark, baseDir)
    val prevSnap = resolveFull(spark, baseDir, prev)
    if (prevSnap.files.isEmpty) return prev // empty table: no matches
    // the rewrite's layout IS the table's recorded layout — the
    // partCol parameter is kept for source compatibility only
    val partCols = partColsLogical(prevSnap.files, prevSnap.colmap)
    set.foreach(s => partCols.foreach(pc => require(!s.contains(pc),
      s"SET on the partition column '$pc' would move rows across " +
        "partitions — use upsert for key moves")))
    val schema = prevSnap.schema.getOrElse(
      throw new IllegalArgumentException(
        s"$baseDir's log records no schema — predicate $op needs one " +
          "to analyze the WHERE clause against"))
    set.foreach(_.keys.foreach(k =>
      require(schema.fieldNames.contains(k),
        s"SET column '$k' is not in the table schema")))
    // 1. analyze the predicate against the committed schema, translate
    // its conjuncts to stats ranges, prune candidates from the LOG
    val candidates = pruneByPredicate(spark, baseDir, prevSnap, schema,
      predicate)
    if (candidates.isEmpty) return prev
    // 2. probe: the candidate files that actually hold matching rows.
    // Matched by FILE NAME — staged writes token-prefix every name, so
    // names are globally unique. The name comes from the scan's
    // position tag, not input_file_name(): a DV'd candidate's scan has
    // TWO parquet sources (data + delete-set artifact) and
    // input_file_name() refuses multi-source plans.
    val matchedNames =
      readFiles(spark, baseDir, candidates, Some(schema), prevSnap.colmap,
        prevSnap.dvs, keepPos = true, stats = prevSnap.stats)
      .filter(predicate)
      .select(col(PosFileCol)).distinct()
      .collect().map(_.getString(0)).toSet
    val matched = candidates.filter(f => matchedNames(baseName(f)))
    if (matched.isEmpty) return prev
    // 3. rewrite ONLY the matched files. The match verdict is computed
    // ONCE per row on the ORIGINAL values (a SET that changes a
    // predicate column must not make the row un-match itself when the
    // postimage / constraint check needs to find it again).
    val pred = coalesce(predicate, lit(false)) // NULL predicate: keep
    val hit = "__graft_rewrite_hit"
    val touched =
      readFiles(spark, baseDir, matched, Some(schema), prevSnap.colmap,
        prevSnap.dvs, stats = prevSnap.stats)
        .withColumn(hit, pred)
    val rewrittenMarked = set match {
      case None => touched.filter(!col(hit))
      case Some(s) =>
        val cols = schema.fieldNames.map { c =>
          s.get(c).fold(col(c))(e =>
            when(col(hit), e.cast(schema(c).dataType))
              .otherwise(col(c)).as(c))
        }
        touched.select(cols.toSeq :+ col(hit): _*)
    }
    // updated rows must still satisfy the active CHECK policy
    set.foreach(_ => enforceConstraints(
      rewrittenMarked.filter(col(hit)).drop(hit),
      constraintsAt(spark, baseDir, prev), op))
    val cdcToken = if (changeFeed) Some(newToken()) else None
    cdcToken.foreach { tok =>
      val images = set match {
        case None => Seq(touched.filter(col(hit)).drop(hit)
          .withColumn(ChangeTypeCol, lit("delete")))
        case Some(_) => Seq(
          touched.filter(col(hit)).drop(hit)
            .withColumn(ChangeTypeCol, lit("update_preimage")),
          rewrittenMarked.filter(col(hit)).drop(hit)
            .withColumn(ChangeTypeCol, lit("update_postimage")))
      }
      writeChanges(spark, baseDir, tok, images)
    }
    val rewritten = rewrittenMarked.drop(hit)
    val staged = rewritten.localCheckpoint() // probe work runs once
    val adds = stageWrite(spark, baseDir, staged, partCols,
      colmap = prevSnap.colmap)
    require(prevSnap.files.size - matched.size + adds.size > 0,
      s"$op would empty the table — an empty version is not " +
        "representable on plain parquet; drop the table instead")
    val dirs = matched.map(dirOf).toSet
    commitWithRebase(spark, fs, baseDir, prev, dirs, adds, matched,
      None, schema, op, evolveSchema = false, cdcToken)
  }

  /** OPTIMIZE: version-preserving small-file compaction — the
    * maintenance op a per-micro-batch streaming ingest makes mandatory
    * (every trigger lands its own small files, and time travel keeps
    * them forever). Partitions of the CURRENT version holding more than
    * `maxFilesPerDir` files are rewritten as one consolidated file set
    * in a NEW commit; content is identical by construction (a pure
    * read-rewrite of exactly those files), every older version still
    * reads its original files, and untouched partitions carry over by
    * name. Already-compact tables commit nothing. The freed small files
    * become vacuum-reclaimable once retention passes the pre-compaction
    * versions. Returns the committed (or current, if no-op) version. */
  /** `clusterBy = Some((key, k))` makes the consolidation CLUSTERED:
    * instead of one file per partition dir, each rewritten dir gets up
    * to `k` files covering DISJOINT ranges of `key` (range-repartition
    * over the key, then the dynamic-partition write splits each bucket
    * by dir). Plain compaction DESTROYS data skipping — merging an
    * ingest history's range-disjoint small files into one file per dir
    * widens every recorded bound to the whole partition, so a key-range
    * read is back to reading everything; clustered compaction is the
    * maintenance op that KEEPS [[readVersionSkipping]] selective while
    * still folding the small-files accumulation (Delta's OPTIMIZE
    * ZORDER BY, scaled to the 1-column essentials). */
  /** `zorderBy = Some((Seq(x, y, …), k))` is the N-column clustered
    * variant: k global buckets over the columns' Morton interleave
    * ([[Layout.zValueN]]), so every rewritten file covers a small
    * n-cube of the key space and conjunctive skipping
    * ([[readVersionSkippingAll]]) stays selective on EVERY predicate
    * axis after maintenance — single-column range clustering preserves
    * one axis and destroys the others (Delta's OPTIMIZE ZORDER BY).
    * Mutually exclusive with `clusterBy`. */
  def compact(spark: SparkSession, baseDir: String, partCol: String,
      maxFilesPerDir: Int = 1,
      clusterBy: Option[(String, Int)] = None,
      zorderBy: Option[(Seq[String], Int)] = None): Int = {
    require(maxFilesPerDir >= 1, "maxFilesPerDir must be >= 1")
    require(clusterBy.isEmpty || zorderBy.isEmpty,
      "clusterBy and zorderBy are mutually exclusive")
    clusterBy.foreach { case (_, k) =>
      require(k >= 1, "clusterBy bucket count must be >= 1") }
    zorderBy.foreach { case (_, k) =>
      require(k >= 1, "zorderBy bucket count must be >= 1") }
    val prev = latestVersion(spark, baseDir)
    require(prev >= 1, s"$baseDir has no commits — call init first")
    val prevSnap = resolveFull(spark, baseDir, prev)
    val (prevFiles, prevSchema) = (prevSnap.files, prevSnap.schema)
    if (prevFiles.isEmpty) return prev // empty table: nothing to fold
    val partCols = partColsLogical(prevFiles, prevSnap.colmap)
    val byDir = prevFiles.groupBy(dirOf)
    val threshold = math.max(maxFilesPerDir,
      math.max(clusterBy.fold(0)(_._2), zorderBy.fold(0)(_._2)))
    // a dir holding any DV-bound file is due for maintenance REGARDLESS
    // of file count: merge-on-read deletes pay a per-read anti-join
    // until OPTIMIZE materializes them (Delta's REORG ... PURGE), and
    // compact is that moment — the rewrite reads through the vectors,
    // so its output files carry only live rows and no bindings
    val fragmented = byDir.filter { case (dir, fls) =>
      fls.size > threshold || fls.exists(prevSnap.dvs.contains) }
    if (fragmented.isEmpty) return prev
    // read back ONLY the fragmented partitions' files, under the
    // COMMITTED schema — pre-evolution files consolidate with NULLs in
    // the added columns, exactly as a read would see them
    // DV'd fragments materialize here: the read applies their deletion
    // vectors, so the consolidated files carry only live rows and the
    // commit's removes drop the stale bindings with the files
    val rows = readFiles(spark, baseDir,
      fragmented.values.flatten.toSeq.sorted, prevSchema, prevSnap.colmap,
      prevSnap.dvs, stats = prevSnap.stats)
    // an unpartitioned table has no directory axis for the staged
    // write's one-task-per-dir arrangement to consolidate by — the
    // compaction itself declares the target file count
    val consolidated =
      if (partCols.isEmpty && clusterBy.isEmpty && zorderBy.isEmpty)
        rows.repartition(threshold)
      else rows
    commitRewrite(spark, baseDir, partCols, fragmented.keySet, prev,
      prevSnap, consolidated, "compact", clusterBy = clusterBy,
      zorderBy = zorderBy)
  }

  /** SIZE-AWARE compaction (Delta OPTIMIZE's `minFileSize` semantics):
    * consolidate ONLY the files smaller than `minFileBytes` —
    * right-sized files carry over BY NAME, untouched. [[compact]]
    * rewrites every file of a fragmented dir, which at production
    * sizes re-copies multi-GB files to fold in a few KB stragglers;
    * this is the maintenance shape a streaming ingest actually wants:
    * each run folds the small-file accumulation since the last one and
    * never pays for data that is already laid out right. A dir
    * qualifies when it holds at least `minSmallFiles` undersized files
    * (one small file alone gains nothing from a rewrite), or any
    * DV-bound file (materialization rides along, whatever the size —
    * the REORG PURGE contract [[compact]] also honors). File sizes
    * come from one `listStatus` per candidate dir — O(dirs) metadata
    * calls, no data access before the rewrite itself. Content is
    * identical by construction (`#op=compact`, dataChange=false to the
    * feeds); older versions keep their original files. */
  def compactSmallFiles(spark: SparkSession, baseDir: String,
      partCol: String, minFileBytes: Long,
      minSmallFiles: Int = 2): Int = {
    require(minFileBytes > 0, "minFileBytes must be > 0")
    require(minSmallFiles >= 1, "minSmallFiles must be >= 1")
    val prev = latestVersion(spark, baseDir)
    require(prev >= 1, s"$baseDir has no commits — call init first")
    val fs = hadoopFs(spark, baseDir)
    val prevSnap = resolveFull(spark, baseDir, prev)
    if (prevSnap.files.isEmpty) return prev // empty table: no-op
    val partCols = partColsLogical(prevSnap.files, prevSnap.colmap)
    val byDir = prevSnap.files.groupBy(dirOf)
    val doomed = byDir.toSeq.flatMap { case (dir, fls) =>
      val dvHere = fls.filter(prevSnap.dvs.contains)
      val dirPath = if (dir.isEmpty) dataDir(baseDir)
        else new Path(dataDir(baseDir), dir)
      val sizes = fs.listStatus(dirPath).iterator.filter(_.isFile)
        .map(st => (if (dir.isEmpty) st.getPath.getName
          else s"$dir/${st.getPath.getName}") -> st.getLen).toMap
      val small = fls.filter(f => sizes.get(f).exists(_ < minFileBytes))
      val rewrite = (small ++ dvHere).distinct
      if (small.size >= minSmallFiles || dvHere.nonEmpty) rewrite
      else Nil
    }.sorted
    if (doomed.isEmpty) return prev
    val rows = readFiles(spark, baseDir, doomed, prevSnap.schema,
      prevSnap.colmap, prevSnap.dvs, stats = prevSnap.stats)
    val staged0 = rows.localCheckpoint()
    // unpartitioned: fold the undersized files into one (see compact)
    val staged = if (partCols.isEmpty) staged0.repartition(1) else staged0
    val adds = stageWrite(spark, baseDir, staged, partCols,
      colmap = prevSnap.colmap)
    require(prevSnap.files.size - doomed.size + adds.size > 0,
      "compaction would empty the table (every remaining row was " +
        "DV-deleted) — an empty version is not representable on plain " +
        "parquet; drop the table instead")
    val dirs = doomed.map(dirOf).toSet
    commitWithRebase(spark, fs, baseDir, prev, dirs, adds, doomed,
      None, staged.schema, "compact", evolveSchema = false)
  }

  /** REPARTITION the table: rewrite the CURRENT version's rows under a
    * NEW partition-directory layout in one commit (`#op=repartition`) —
    * partition EVOLUTION for a layout that stopped matching the
    * workload ("we partitioned by day, the queries filter by
    * priority"), which neither append nor OPTIMIZE can express (the
    * partition column list is otherwise fixed at creation). Semantics:
    *
    *  - ROWS ARE IDENTICAL — only their directory placement changes,
    *    so feeds and streams treat the commit like a compaction
    *    (dataChange = false: nothing new to deliver);
    *  - OLD VERSIONS keep reading their own layout (each version's
    *    file set is internally uniform; time travel across the
    *    boundary just works), and the NEW layout governs from this
    *    commit on — later appends must declare it, and partition-axis
    *    skipping prunes by the new directories;
    *  - deletion vectors MATERIALIZE away through the rewrite's read
    *    (output files carry live rows only), constraints and column
    *    mapping carry, and an active bloom policy re-indexes the new
    *    files — the same carry rules as any rewrite;
    *  - the commit conflicts with EVERYTHING (its dirs are the union
    *    of both layouts' directories), which is honest: relocating
    *    every row under a concurrent writer must be loud.
    *
    * The cost is one full-table rewrite — the same price Iceberg users
    * pay when they `rewrite_data_files` after a partition-spec change;
    * unlike Iceberg's metadata-only evolution, every version here
    * stays a plain uniform parquet layout, which is what keeps
    * [[partColsPhysical]]-derived planning O(1) per version. An empty
    * `newPartCol` ("") relocates to the unpartitioned root. Refused:
    * an unknown or non-atomic column, a NULL partition value in the
    * data, a no-op (the layout already matches), and pre-schema
    * tables. */
  def repartitionTable(spark: SparkSession, baseDir: String,
      newPartCol: String): Int = {
    val prev = latestVersion(spark, baseDir)
    require(prev >= 1, s"$baseDir has no commits — call init first")
    val prevSnap = resolveFull(spark, baseDir, prev)
    require(prevSnap.files.nonEmpty,
      "repartition of an empty table is meaningless — the first write " +
        "establishes whatever layout it declares")
    val newCols = splitCols(newPartCol)
    val schema = prevSnap.schema.getOrElse(
      throw new IllegalArgumentException(
        s"$baseDir records no schema — pre-metadata tables cannot " +
          "repartition"))
    newCols.foreach(c => require(schema.fieldNames.contains(c),
      s"no column '$c' (columns: ${schema.fieldNames.mkString(", ")})"))
    val oldCols = activePartCols(spark, baseDir, prevSnap)
      .getOrElse(Nil)
    require(newCols != oldCols,
      s"the table is already partitioned by (${oldCols.mkString(", ")})")
    val rows = readFiles(spark, baseDir, prevSnap.files, prevSnap.schema,
      prevSnap.colmap, prevSnap.dvs, stats = prevSnap.stats)
    // the new layout's directories, driver-held: the NULL refusal and
    // the conflict scope both need them (one column-pruned distinct)
    val newTuples = affectedTuples(rows, newCols)
    Merge.requireNoNullPartitionTuple(newTuples, newCols)
    val dirs = prevSnap.files.map(dirOf).toSet ++
      affectedDirs(newCols, newTuples)
    commitRewrite(spark, baseDir, newCols, dirs, prev, prevSnap, rows,
      "repartition")
  }

  /** RESTORE: roll the table back to `toVersion` as a NEW commit (the
    * Delta `RESTORE TABLE ... TO VERSION AS OF` command) — the undo
    * button for a bad merge/delete/ingest that keeps history honest:
    * the mistake stays in the log (auditable, still readable), and the
    * tip's CONTENT becomes exactly `toVersion`'s again. Pure METADATA:
    * data files never mutate in this format, so the restore delta is a
    * file-set diff — re-ADD `toVersion`'s files the later rewrites
    * removed, REMOVE the files they introduced — zero bytes copied,
    * cost O(files that differ). The re-added files' skipping stats come
    * from `toVersion`'s own resolution (no footer re-reads), and the
    * restored version's SCHEMA is recorded in the commit, so a restore
    * across an evolution also restores the columns (schema time travel
    * made writable). Restoring to the current content is a no-op
    * (returns the current version — a recorded no-op would be log
    * noise).
    *
    * Restore is the one commit that must NOT rebase: its contract is
    * "the tip equals version N", and rebasing past ANY concurrent
    * commit — even a disjoint-partition append — would leave that
    * commit's rows in the tip, silently breaking the contract. A lost
    * version race therefore surfaces `ConcurrentModificationException`;
    * re-run against the new tip. Change-feed consumers see a restore
    * as what it is — a rewrite with no captured row images — so an
    * incremental window crossing it refuses loudly (re-bootstrap from
    * a snapshot), exactly like any other uncaptured rewrite.
    * `toVersion` must still be resolvable (at or above any vacuum
    * floor — resolution fails loudly otherwise), which also guarantees
    * every re-added file still exists: vacuum never reclaims a file a
    * retained version references. */
  def restore(spark: SparkSession, baseDir: String, toVersion: Int): Int = {
    val fs = hadoopFs(spark, baseDir)
    val prev = latestVersion(spark, baseDir)
    require(prev >= 1, s"$baseDir has no commits — nothing to restore")
    require(toVersion >= 1 && toVersion <= prev,
      s"restore target $toVersion out of [1, $prev]")
    if (toVersion == prev) return prev
    val target = resolveFull(spark, baseDir, toVersion)
    val cur = resolveFull(spark, baseDir, prev)
    val curSet = cur.files.toSet
    val targetSet = target.files.toSet
    // a file in BOTH versions whose DV binding differs (a delete-
    // vector commit or its rewind) restores as a remove-and-re-add:
    // the re-add carries the target's binding (or none), exactly the
    // encoding a DV commit itself uses — content rolls back with zero
    // bytes copied either way
    val dvChanged = (targetSet intersect curSet)
      .filter(f => target.dvs.get(f) != cur.dvs.get(f))
    val adds = (targetSet -- curSet ++ dvChanged).toSeq.sorted
    val removes = (curSet -- targetSet ++ dvChanged).toSeq.sorted
    if (adds.isEmpty && removes.isEmpty) return prev // content identical
    val dirs = (adds ++ removes).map(dirOf).toSet
    val addSet = adds.toSet
    val addStats = target.stats.filter { case (f, _) => addSet(f) }
    val addDvs = target.dvs.filter { case (f, _) => addSet(f) }
    val addBlooms = target.blooms.filter { case (f, _) => addSet(f) }
    // the whole table POLICY is restored with the content: the commit
    // carries toVersion's schema, constraints, mapping and bloom policy
    try logCommit(spark, fs, baseDir, prev + 1, dirs, adds, removes,
      addStats, () => cur, None,
      metaOfRecord(fs, baseDir, toVersion).copy(schema = target.schema),
      "restore", None, addDvs, addBlooms)
    catch {
      case _: CommitConflict =>
        throw new java.util.ConcurrentModificationException(
          s"restore of $baseDir to version $toVersion lost a commit " +
            "race — a restore must see the tip it diffs against (any " +
            "concurrent commit would survive a rebase and break the " +
            "restored content); re-run against the new tip")
    }
  }

  /** VACUUM: physically reclaim data files that no RETAINED version
    * references — the retention boundary every log-structured format
    * pairs with time travel (old versions are free until you choose to
    * stop paying for them). Versions `keepFrom..latest` stay fully
    * readable; log records below `keepFrom` are dropped so no surviving
    * version can resolve to a deleted file (vacuuming data out from
    * under a live version is the one unforgivable state). A file shared
    * by old and retained versions survives: the retained-file union is
    * the floor version's resolved set plus every later delta's adds —
    * exact, because files enter the table only through adds and every
    * version above the floor is retained. Before older records drop,
    * the floor version gets a full checkpoint (if it doesn't have one)
    * so it stays resolvable without its ancestors. Orphan discovery is
    * inherently table-scale — that is vacuum's job, not the commit
    * path's — but it doesn't serialize through the driver: above
    * [[DistributedFsThreshold]] partition dirs the listing fans out as
    * a Spark job, and so do the deletes. Driver cost: the log records
    * (metadata) plus the dir-level listStatus.
    *
    * MULTI-WRITER safety: an unreferenced file is not necessarily
    * garbage — a concurrent writer stages files into `data/` BEFORE its
    * commit record lands, and sweeping those would break the commit
    * about to reference them. Files referenced by the records being
    * DROPPED are committed history past retention (reclaimed
    * unconditionally — no future commit can reference them: commits
    * only add their own token-named staged files); files in NO record
    * at all (in-flight stages, aborted commits) are reclaimed only when
    * older than `orphanMinAgeMs` — Delta's retention-age guard, scaled
    * to the one class that needs it. The default is Delta's 7 DAYS: a
    * staged backfill can legitimately run hours between its first file
    * write and its commit record landing (rename preserves mtime, so a
    * moved file looks as old as its write), and a guard shorter than
    * the longest plausible in-flight commit deletes that commit's files
    * out from under it. The same guard covers unreferenced `_change`
    * capture dirs and crashed writers' `_staging` dirs (both written
    * before their commit record for the same reason) — dirs are aged by
    * their NEWEST descendant's mtime, not the dir's own (a dir's mtime
    * reflects entry creation, not ongoing writes inside subdirs, so a
    * long-running stage could look idle while still being written).
    * Returns (files deleted, log versions dropped), counting only
    * deletions the filesystem confirmed.
    *
    * `dryRun = true` REPORTS what a real vacuum would reclaim — (data
    * files eligible, log versions that would drop) — and mutates
    * NOTHING: no floor checkpoint, no deletes, no record drops, no
    * sweeps (the `VACUUM ... DRY RUN` ops tool: size the reclamation
    * before committing to it). Counts can differ from a later real run
    * if writers commit in between — it is a report, not a
    * reservation. */
  def vacuum(spark: SparkSession, baseDir: String, keepFrom: Int,
      orphanMinAgeMs: Long = 7L * 24 * 3600 * 1000,
      dryRun: Boolean = false): (Int, Int) = {
    val fs = hadoopFs(spark, baseDir)
    val latest = latestVersion(spark, baseDir)
    require(keepFrom >= 1 && keepFrom <= latest,
      s"keepFrom=$keepFrom out of [1, $latest]")
    val floorSnap = resolveFull(spark, baseDir, keepFrom)
    val floor = floorSnap.files.toSet
    val laterAdds = ((keepFrom + 1) to latest)
      .flatMap(v => readDelta(fs, baseDir, v)._1)
    val kept = floor ++ laterAdds
    // self-contain the floor BEFORE anything is deleted: a crash at any
    // later point leaves every retained version resolvable. The
    // checkpoint carries the floor's SCHEMA (dropping its ancestors
    // would lose it), each stream's txn HIGH-WATER MARK from the
    // records about to drop — or a restarting append stream whose last
    // commit predates the floor could re-append its crash-window
    // batch — and the floor commit's ORIGINAL kind and wall-clock, so
    // versionAsOf keeps answering pre-vacuum timestamps truthfully.
    val carried = (1 to keepFrom).flatMap(v => txnsIn(fs, baseDir, v))
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).max }
      .toSeq.sortBy(_._1)
    val origLines =
      Seq(deltaPath(baseDir, keepFrom), manifestPath(baseDir, keepFrom))
        .find(fs.exists(_)).map(readRawLines(fs, _)).getOrElse(Nil)
    val floorMeta = metaFrom(origLines).copy(schema = floorSnap.schema)
    val mPath = manifestPath(baseDir, keepFrom)
    if (dryRun) () // a report must not self-contain the floor either
    else if (!fs.exists(mPath))
      writeManifestCheckpoint(spark, fs, baseDir, keepFrom, floor.toSeq,
        carried, floorMeta, opFrom(origLines).orElse(Some("floor")),
        tsFrom(origLines), floorSnap.stats, floorSnap.dvs, floorSnap.blooms)
    else {
      // the floor may already have a CADENCE checkpoint — written at
      // commit time with no txn marks. The marks living only in the
      // about-to-drop records must not die with them: rewrite the
      // checkpoint (tmp + rename) when any carried mark isn't already
      // covered. Crash-safe: until the rename lands, the floor's delta
      // and ancestors are all still present, so nothing is unresolvable.
      val existing = readRawLines(fs, mPath)
        .filter(_.startsWith("#txn=")).map(parseTxn).toMap
      val covered = carried.forall { case (s, id) =>
        existing.get(s).exists(_ >= id) }
      if (!covered) {
        val tmp = new Path(logDir(baseDir), s"$keepFrom.manifest.tmp")
        fs.delete(tmp, false)
        // the rewritten floor keeps the ORIGINAL record's ratcheted
        // requirement (origLines carries it), raised if the floor
        // snapshot's own content needs more
        val floorProto = maxProtocol(protocolFrom(origLines),
          protocolNeededBy(floorMeta.colmap, floorMeta.coldrop,
            floorSnap.dvs))
        val bytes =
          if (!parquetCheckpoints)
            manifestContent(floorProto, floor.toSeq.sorted, carried,
              floorMeta, opFrom(origLines), tsFrom(origLines),
              floorSnap.stats, floorSnap.dvs, floorSnap.blooms)
          else {
            // new sidecar first (derived, token-named — the old one
            // stays referenced until the header rename lands, so a
            // crash anywhere leaves a resolvable floor); the old
            // token's sidecar becomes unreferenced residue the sweep
            // below (or the next vacuum) reclaims
            val token = newToken()
            writeCheckpointSidecar(fs, baseDir, keepFrom, token,
              floor.toSeq.sorted, floorSnap.stats, floorSnap.dvs,
              floorSnap.blooms)
            checkpointHeaderContent(floorProto, token, floor.size,
              carried, floorMeta, opFrom(origLines), tsFrom(origLines))
          }
        val out = fs.create(tmp, true)
        try out.write(bytes)
        finally out.close()
        fs.delete(mPath, false)
        require(fs.rename(tmp, mPath),
          s"failed to install rewritten floor checkpoint $mPath")
      }
    }
    val doomed = (listDataFiles(spark, fs, baseDir) -- kept).toSeq.sorted
    // committed-history files (referenced by the records about to drop)
    // reclaim unconditionally; files in NO record are possibly a
    // concurrent writer's in-flight stage — age-guarded (doc above)
    val priorRefs: Set[String] = (1 until keepFrom).flatMap { v =>
      val d = deltaPath(baseDir, v)
      if (fs.exists(d)) readDelta(fs, baseDir, v)._1
      else {
        val m = manifestPath(baseDir, v)
        if (!fs.exists(m)) Nil
        else {
          // a parquet-body checkpoint's file refs live in its sidecar
          val lines = readRawLines(fs, m)
          markerFrom(lines) match {
            case Some(tok) =>
              readCheckpointSidecar(spark, fs, baseDir, v, tok)._1.toSeq
            case None => lines.filterNot(_.startsWith("#"))
          }
        }
      }
    }.toSet
    val (committedDoomed, orphans) = doomed.partition(priorRefs)
    // CDC tokens of the records being dropped — committed history whose
    // change rows reclaim unconditionally (collected BEFORE the drop)
    val droppedCdc = (1 to keepFrom).flatMap { v =>
      val d = deltaPath(baseDir, v)
      if (fs.exists(d)) cdcFrom(readRawLines(fs, d)) else None
    }.toSet
    // DV and bloom tokens of the records being dropped — collected
    // BEFORE the drop for the same reason as droppedCdc
    val droppedDv: Set[String] = (1 to keepFrom).flatMap { v =>
      val d = deltaPath(baseDir, v)
      if (fs.exists(d)) dvsFrom(readRawLines(fs, d)).values else Nil
    }.toSet
    val droppedBloom: Set[String] = (1 to keepFrom).flatMap { v =>
      val d = deltaPath(baseDir, v)
      if (fs.exists(d)) bloomsFrom(readRawLines(fs, d)).values else Nil
    }.toSet
    val cutoff = System.currentTimeMillis() - math.max(0L, orphanMinAgeMs)
    val oldOrphans = orphans.filter { f =>
      try fs.getFileStatus(new Path(dataDir(baseDir), f))
        .getModificationTime <= cutoff
      catch { case _: java.io.FileNotFoundException => false }
    }
    if (dryRun)
      return (committedDoomed.size + oldOrphans.size,
        (1 until keepFrom).count(v =>
          fs.exists(manifestPath(baseDir, v)) ||
            fs.exists(deltaPath(baseDir, v))))
    val nDeleted =
      deleteDataFiles(spark, fs, baseDir, committedDoomed ++ oldOrphans)
    // drop the now-unservable records AFTER the files: a crash between
    // the two leaves dangling records (readVersion fails loudly), never
    // a version silently missing data
    val dropped = (1 until keepFrom).count { v =>
      val m = fs.delete(manifestPath(baseDir, v), false)
      val d = fs.delete(deltaPath(baseDir, v), false)
      m || d
    }
    // the floor's delta is redundant once its checkpoint exists and its
    // ancestors are gone; dropping it is log hygiene, not a version drop
    fs.delete(deltaPath(baseDir, keepFrom), false)
    // change-feed rows are addressable ONLY through a retained record's
    // #cdc token: reclaim every change dir no retained delta references —
    // dropped versions' rows, the floor's own (windows start above it),
    // and aborted commits' orphan captures alike. O(retained versions)
    // metadata reads + one _change listing (O(rewrite commits) entries).
    val referenced = ((keepFrom + 1) to latest).flatMap(v =>
      cdcFrom(readRawLines(fs, deltaPath(baseDir, v)))).toSet
    val cr = changeRoot(baseDir)
    if (fs.exists(cr))
      fs.listStatus(cr).foreach { st =>
        val tok = st.getPath.getName
        // dropped-record tokens are committed history: reclaim. A token
        // in NO record may be an in-flight CDC commit's capture (written
        // before its record) — the same age guard as data orphans,
        // applied to the dir's NEWEST content (see the vacuum doc).
        if (!referenced(tok) && (droppedCdc(tok) ||
            newestMtime(fs, st) <= cutoff))
          fs.delete(st.getPath, true) }
    // DV artifacts are addressable through any RETAINED version's
    // resolution: the floor snapshot's bindings plus every retained
    // delta's `#dv=` tokens (a binding set below the floor and still
    // live surfaces in the floor's resolution; one set later rides its
    // own retained record). Artifact dirs outside that set: committed
    // history whose every binding was superseded or dropped (tokens in
    // the dropped records — reclaim now), or a possibly-in-flight
    // commit's artifact (written before its record — age-guarded, like
    // every other pre-record landing).
    val dvReferenced: Set[String] = floorSnap.dvs.values.toSet ++
      ((keepFrom + 1) to latest).flatMap { v =>
        val d = deltaPath(baseDir, v)
        if (fs.exists(d)) dvsFrom(readRawLines(fs, d)).values else Nil
      }
    val dvr = dvRoot(baseDir)
    if (fs.exists(dvr))
      fs.listStatus(dvr).foreach { st =>
        val tok = st.getPath.getName
        if (!dvReferenced(tok) && (droppedDv(tok) ||
            newestMtime(fs, st) <= cutoff))
          fs.delete(st.getPath, true) }
    // bloom artifacts: the same addressability rule as DV artifacts
    val bloomReferenced: Set[String] = floorSnap.blooms.values.toSet ++
      ((keepFrom + 1) to latest).flatMap { v =>
        val d = deltaPath(baseDir, v)
        if (fs.exists(d)) bloomsFrom(readRawLines(fs, d)).values else Nil
      }
    val br = bloomRoot(baseDir)
    if (fs.exists(br))
      fs.listStatus(br).foreach { st =>
        val tok = st.getPath.getName
        if (!bloomReferenced(tok) && (droppedBloom(tok) ||
            newestMtime(fs, st) <= cutoff))
          fs.delete(st.getPath, true) }
    // a crashed writer's STAGING dir (files written, the move never ran)
    // is the same garbage class: a live writer's staging is younger than
    // the age threshold, a dead one's leaks forever without this sweep
    val sr = new Path(baseDir, "_staging")
    if (fs.exists(sr))
      fs.listStatus(sr).foreach { st =>
        if (newestMtime(fs, st) <= cutoff) fs.delete(st.getPath, true) }
    // a writer that crashed between its temp write and the atomic
    // install ([[LogStore]]) leaks `.<name>.<token>.tmp` in the log dir:
    // never parsed as a log entry, but never reclaimed without this
    // age-guarded sweep (a LIVE writer's temp is milliseconds old)
    val ld = logDir(baseDir)
    if (fs.exists(ld)) {
      // sidecars whose token no retained manifest references: dropped
      // versions' bodies (their records just went — reclaim now) and
      // racing losers' / superseded floor-rewrite bodies (age-guarded,
      // like every possibly-in-flight artifact)
      val referencedSidecars: Set[String] = (keepFrom to latest).flatMap {
        v =>
          val m = manifestPath(baseDir, v)
          if (!fs.exists(m)) None
          else markerFrom(readRawLines(fs, m))
            .map(t => s"$v.$t.checkpoint.parquet")
      }.toSet
      fs.listStatus(ld).foreach { st =>
        val n = st.getPath.getName
        if (st.isFile && n.endsWith(".tmp") &&
            st.getModificationTime <= cutoff)
          fs.delete(st.getPath, false)
        else if (st.isFile && n.endsWith(".checkpoint.parquet") &&
            !referencedSidecars(n)) {
          val v = n.takeWhile(_ != '.').toInt
          if (v < keepFrom || st.getModificationTime <= cutoff)
            fs.delete(st.getPath, false)
        }
      }
    }
    (nDeleted, dropped)
  }

  /** The newest mtime anywhere under `st` (the entry itself or any
    * descendant) — the age a dir should be GUARDED by: a top-level
    * dir's own mtime reflects when its immediate entries were created,
    * not whether a writer is still producing files deeper inside. */
  private[operators] def newestMtime(fs: FileSystem,
      st: org.apache.hadoop.fs.FileStatus): Long = {
    var m = st.getModificationTime
    if (st.isDirectory) {
      try {
        val it = fs.listFiles(st.getPath, true)
        while (it.hasNext) m = math.max(m, it.next().getModificationTime)
      } catch {
        // an entry vanished between the caller's listStatus and this
        // traversal (stageWrite deletes its _staging/<token> dir in a
        // finally the moment its move completes): a writer was LIVE
        // here an instant ago — treat the dir as not sweepable this
        // pass rather than aborting the whole vacuum
        case _: java.io.FileNotFoundException => return Long.MaxValue
      }
    }
    m
  }

  /** One commit still in the log. `nAdded`/`nRemoved` are the record's
    * file counts (for a checkpoint-only floor, the full retained list
    * counts as adds — it IS the resolvable content there). `txns` are
    * ALL the record's transaction markers, stream-id-sorted — one for a
    * live commit, possibly several for a vacuum floor checkpoint
    * carrying multiple streams' high-water marks. `op` is the commit
    * kind (`init`/`append`/`upsert`/`delete`/`compact`; a vacuum floor
    * keeps its ORIGINAL kind, `floor` only on pre-metadata logs);
    * `timestampMs` the commit's recorded wall-clock (vacuum preserves
    * the original). op/ts None only on pre-metadata logs. */
  final case class CommitInfo(version: Int, nAdded: Int, nRemoved: Int,
      txns: Seq[(String, Long)], checkpointed: Boolean,
      op: Option[String] = None, timestampMs: Option[Long] = None)

  /** DESCRIBE HISTORY: one row per commit the log still holds, newest
    * first — version, recorded file adds/removes, the txn marker if the
    * commit carried one, whether a checkpoint exists at that version,
    * the commit kind, and its wall-clock. Pure log metadata:
    * O(retained versions) small reads, no data access. */
  def history(spark: SparkSession, baseDir: String): Seq[CommitInfo] = {
    val fs = hadoopFs(spark, baseDir)
    val entries = logEntries(fs, baseDir)
    entries.keys.toSeq.sorted.reverse.map { v =>
      val (hasManifest, hasDelta) = entries(v)
      val lines = readRawLines(fs,
        if (hasDelta) deltaPath(baseDir, v) else manifestPath(baseDir, v))
      val txns = lines.filter(_.startsWith("#txn="))
        .map(parseTxn).sortBy(_._1)
      val nAdded =
        if (hasDelta) lines.count(_.startsWith("+"))
        else lines.collectFirst {
          // parquet-body checkpoint: the header records the file count
          case l if l.startsWith("#nfiles=") =>
            l.stripPrefix("#nfiles=").toInt
        }.getOrElse(lines.count(l => !l.startsWith("#")))
      val nRemoved = if (hasDelta) lines.count(_.startsWith("-")) else 0
      CommitInfo(v, nAdded, nRemoved, txns, hasManifest,
        opFrom(lines), tsFrom(lines))
    }
  }

  /** DESCRIBE DETAIL: one structured snapshot of the table's current
    * state — version, file count and bytes, partition column, schema,
    * and every active policy (constraints, bloom index, column
    * mapping) plus the merge-on-read surface (DV/bloom-bound file
    * counts). Metadata cost: one log resolve + one `listStatus` per
    * partition dir (sizes come from the dir listings, O(dirs) calls,
    * no data access). */
  final case class TableDetail(version: Int, numFiles: Int,
      sizeBytes: Long, partitionColumn: String,
      schema: Option[org.apache.spark.sql.types.StructType],
      constraints: Map[String, String],
      bloomIndex: Map[String, (Long, Double)],
      columnMapping: Map[String, String],
      dvBoundFiles: Int, bloomBoundFiles: Int)

  def detail(spark: SparkSession, baseDir: String): TableDetail = {
    val latest = latestVersion(spark, baseDir)
    require(latest >= 1, s"$baseDir has no commits")
    val fs = hadoopFs(spark, baseDir)
    val snap = resolveFull(spark, baseDir, latest)
    val meta = metaOfRecord(fs, baseDir, latest)
    val sizeBytes = snap.files.groupBy(dirOf)
      .iterator.map { case (dir, fls) =>
        val wanted = fls.map(baseName).toSet
        val p = if (dir.isEmpty) dataDir(baseDir)
          else new Path(dataDir(baseDir), dir)
        fs.listStatus(p)
          .filter(st => st.isFile && wanted(st.getPath.getName))
          .map(_.getLen).sum
      }.sum
    TableDetail(latest, snap.files.size, sizeBytes,
      partColsLogical(snap.files, snap.colmap).mkString(","), snap.schema,
      meta.constraints, meta.bloomIdx, snap.colmap,
      snap.dvs.size, snap.blooms.size)
  }

  /** CLONE the table AS OF `version` into `dstDir` — a full fork at
    * ZERO data-copy cost on link-capable filesystems: every data file
    * (and every DV / bloom artifact the version binds) HARD-LINKS into
    * the clone, and the clone's v1 checkpoint carries the source
    * version's stats, bindings, schema, and policies verbatim. Unlike
    * Delta's shallow clone (which REFERENCES the source's paths, so a
    * source VACUUM breaks the clone), a hard-linked clone shares
    * inodes, not paths: both tables evolve, compact, and vacuum fully
    * independently from the moment of the fork, and the shared bytes
    * are freed only when NEITHER side references them — the filesystem
    * does the refcounting. Where links aren't supported (cross-device,
    * non-local FS), files COPY instead — same contract, data-copy
    * cost; above [[DistributedFsThreshold]] the per-file work fans out
    * as a Spark job. Txn markers are NOT carried: streams writing to
    * the clone are new streams. Returns the clone's version (1). */
  def cloneAt(spark: SparkSession, baseDir: String, dstDir: String,
      version: Int = Int.MaxValue): Int = {
    val fs = hadoopFs(spark, baseDir)
    // destination metadata/log writes go through the DESTINATION's
    // filesystem — a cross-FS clone (local → HDFS) would otherwise die
    // on Hadoop's wrong-FS check before the copy fallback ever ran
    val dstFs = hadoopFs(spark, dstDir)
    val src = latestVersion(spark, baseDir)
    require(src >= 1, s"$baseDir has no commits — nothing to clone")
    val v = if (version == Int.MaxValue) src else version
    require(latestVersion(spark, dstDir) == 0,
      s"$dstDir already has commits — clone into a fresh dir")
    val snap = resolveFull(spark, baseDir, v)
    require(snap.files.nonEmpty, s"version $v of $baseDir is empty")
    // data files: link (or copy) each under the same relative path
    val srcData = fs.makeQualified(dataDir(baseDir)).toString
    val dstData = dstFs.makeQualified(dataDir(dstDir)).toString
    linkOrCopyAll(spark, fs, snap.files.map(f => (s"$srcData/$f",
      s"$dstData/$f")))
    // DV and bloom artifacts the version binds: whole token dirs
    // (artifact rows for files outside this snapshot are inert — the
    // read-side binding join ignores them)
    (snap.dvs.values.toSeq.distinct.map(t =>
      (dvDir(baseDir, t), dvDir(dstDir, t))) ++
      snap.blooms.values.toSeq.distinct.map(t =>
        (bloomDir(baseDir, t), bloomDir(dstDir, t)))).foreach {
      case (from, to) =>
        val qTo = dstFs.makeQualified(to).toString
        val arts = fs.listStatus(from).filter(_.isFile).map(_.getPath)
          .map(p => (fs.makeQualified(p).toString, s"$qTo/${p.getName}"))
          .toSeq
        linkOrCopyAll(spark, fs, arts)
    }
    writeManifestCheckpoint(spark, dstFs, dstDir, 1, snap.files, Nil,
      metaOfRecord(fs, baseDir, v).copy(schema = snap.schema),
      Some("clone"), None, snap.stats, snap.dvs, snap.blooms)
    commitStats.put(dstDir, CommitStats(1, Set.empty, snap.files.size, 0,
      checkpointed = true))
    1
  }

  /** Hard-link each (src, dst) pair, falling back to a byte copy when
    * the filesystem can't link; distributed above the threshold. */
  private def linkOrCopyAll(spark: SparkSession, fs: FileSystem,
      pairs: Seq[(String, String)],
      threshold: Int = DistributedFsThreshold): Unit = {
    // the RAW local path behind a `file:` qualified string — NO
    // java.net.URI round-trip: Hadoop path strings carry escaped
    // partition dir names (`part=a%3Ab`) as literal characters, and
    // URI parsing would decode the %XX into a nonexistent path, making
    // every link attempt silently fail into a full byte copy
    def rawLocal(s: String): Option[java.nio.file.Path] =
      if (!s.startsWith("file:")) None
      else {
        val p = s.stripPrefix("file:")
        Some(java.nio.file.Paths.get(
          if (p.startsWith("///")) p.drop(2) else p))
      }
    def one(conf: org.apache.hadoop.conf.Configuration)(
        pair: (String, String)): Unit = {
      val (from, to) = pair
      val toPath = new Path(to)
      val f = toPath.getFileSystem(conf)
      f.mkdirs(toPath.getParent)
      val linked = (rawLocal(from), rawLocal(to)) match {
        case (Some(lf), Some(lt)) =>
          try { java.nio.file.Files.createLink(lt, lf); true }
          catch { case _: Exception => false }
        case _ => false
      }
      if (!linked)
        org.apache.hadoop.fs.FileUtil.copy(
          new Path(from).getFileSystem(conf), new Path(from),
          f, toPath, false, conf)
    }
    if (pairs.size <= threshold)
      pairs.foreach(one(fs.getConf))
    else {
      val confW = new SerializableHadoopConf(
        spark.sparkContext.hadoopConfiguration)
      spark.sparkContext
        .parallelize(pairs, math.max(1, math.min(pairs.size / 16, 64)))
        .foreach(p => one(confW.conf)(p))
    }
  }

  /** Timestamp-based time travel: the latest version whose recorded
    * commit wall-clock is at or before `tsMillis` — `readVersion(
    * versionAsOf(...))` is the AS OF TIMESTAMP read. Timestamps are
    * forced monotone over versions before comparing (a clock that
    * stepped backwards between commits cannot make a LATER version
    * resolve to an EARLIER time — Delta applies the same
    * monotonization). A pre-metadata record with a timestamped ancestor
    * inherits that ancestor's effective time; one with NO timestamped
    * ancestor is never eligible (there is no evidence of when it was
    * committed — fail loudly, don't guess). Version numbers stay the
    * authoritative history; this is the human-friendly index over it.
    * Throws when every retained commit is later than `tsMillis`. */
  /** A record's commit wall-clock from its LEADING metadata lines only
    * — the read stops at the first `#stats=`/file line, so even a
    * table-scale floor checkpoint costs a few hundred bytes here
    * (metadata lines are written before stats and files by
    * construction). */
  private def commitTimestamp(fs: FileSystem, baseDir: String,
      v: Int): Option[Long] = {
    val p = Seq(deltaPath(baseDir, v), manifestPath(baseDir, v))
      .find(fs.exists(_))
    p.flatMap { path =>
      val in = fs.open(path)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .takeWhile(l => l.startsWith("#") && !l.startsWith("#stats="))
        .collectFirst {
          case l if l.startsWith("#ts=") => l.stripPrefix("#ts=").toLong }
      finally in.close()
    }
  }

  def versionAsOf(spark: SparkSession, baseDir: String,
      tsMillis: Long): Int =
    versionAsOfOption(spark, baseDir, tsMillis).getOrElse {
      val fs = hadoopFs(spark, baseDir)
      val versions = logEntries(fs, baseDir).keys.toSeq.sorted
      val stamps = versions.flatMap(v => commitTimestamp(fs, baseDir, v))
      throw new IllegalArgumentException(
        s"no version of $baseDir has a recorded commit time at or " +
          s"before $tsMillis (earliest retained timestamp: " +
          s"${stamps.headOption}) — pre-metadata " +
          "commits are never timestamp-addressable; use readVersion")
    }

  /** [[versionAsOf]] that answers the PRE-HISTORY case with None
    * instead of throwing: a timestamp earlier than every retained
    * commit is a legitimate question ("start from wherever history
    * begins") that callers like the streaming source's
    * `sinceTimestamp` must distinguish from a damaged or uninitialized
    * log — which still throws, so a real failure is never silently
    * mapped to "start from v1". */
  def versionAsOfOption(spark: SparkSession, baseDir: String,
      tsMillis: Long): Option[Int] = {
    val fs = hadoopFs(spark, baseDir)
    val versions = logEntries(fs, baseDir).keys.toSeq.sorted
    require(versions.nonEmpty, s"$baseDir has no commits")
    // metadata-only reads: never the table-scale body of a checkpoint
    val stamps = versions.map(v => v -> commitTimestamp(fs, baseDir, v))
    var eff = Long.MinValue
    val eligible = stamps.flatMap { case (v, ts) =>
      ts.foreach(t => eff = math.max(eff, t))
      if (eff != Long.MinValue && eff <= tsMillis) Some(v) else None
    }
    eligible.maxOption
  }

  /** Insert-only CHANGE FEED — the incremental-consumption shape a
    * downstream pipeline wants from an append-mode table (the Delta
    * streaming-source/`readChangeFeed` idea on this log): exactly the
    * rows versions `(sinceVersion, endVersion]` APPENDED, read from the
    * `#op=append` deltas' add files alone — no snapshot scan, cost
    * O(rows appended in the window) however large the table. A consumer
    * keeps a version cursor: bootstrap from `readVersion(v0)`, then
    * repeatedly `readAppendsSince(cursor)` + advance the cursor to
    * [[latestVersion]] — windows compose exactly (`(a,b] ++ (b,c] =
    * (a,c]`). `compact` commits are skipped whole: a compaction rewrites
    * already-delivered rows without changing content (Delta's
    * `dataChange=false` files), so delivering its adds would duplicate.
    * Rewrite commits (`upsert`/`delete`) are REFUSED loudly — an
    * insert-only feed cannot represent updates; consumers of mutable
    * tables re-read a full version instead (q151's snapshotDiff is the
    * batch diff for that case). A vacuumed-away record in the window
    * also fails loudly: restart from a fresh snapshot. Rows come back
    * under `endVersion`'s committed schema (earlier appends NULL-fill
    * columns added since — same semantics as reading the table). */
  def readAppendsSince(spark: SparkSession, baseDir: String,
      sinceVersion: Int, endVersion: Int = Int.MaxValue): DataFrame = {
    val latest = latestVersion(spark, baseDir)
    val end = if (endVersion == Int.MaxValue) latest else endVersion
    val addFiles = appendWindowAdds(spark, baseDir, sinceVersion, end)
      .flatMap(_._2)
    readAddFiles(spark, baseDir, addFiles, end,
      s"empty window ($sinceVersion, $end] of $baseDir has no logged " +
        "schema to type an empty result with")
  }

  /** The per-version ADD-FILE lists of an append window `(since, end]`
    * — the same acceptance/refusal contract as [[readAppendsSince]]
    * (appends deliver, compact/constraint commits contribute nothing,
    * rewrites refuse loudly, vacuumed windows refuse loudly), exposed
    * at file granularity for consumers that need sub-commit windows
    * (the streaming source's row-based admission). File order within a
    * version is the record's sorted order — stable across reads, which
    * is what makes a mid-version offset meaningful. */
  /** A column-mapping commit inside a consumer's window: acceptable
    * whenever the consumer's DELIVERY schema postdates it — windows
    * deliver every row under one schema version's logical names, and
    * files carry stable PHYSICAL names, so any mapping commit at or
    * before that version is metadata-only from the consumer's seat
    * (zero rows, files unchanged; the delivery mapping projects every
    * file, pre- and post-rename alike). A streaming consumer pinned
    * BEFORE the change must RESTART: delivering new rows under its
    * stale names would hide the rename from the downstream sink. The
    * restart is lossless — the checkpoint offset is the cursor, and
    * post-restart windows re-read every add under the new names. This
    * is Delta's schema-tracking restart contract: fail the query once
    * at the change, resume clean. A backlog holding SEVERAL mapping
    * commits drains after one restart: the tip-pinned schema postdates
    * them all, so each is accepted (no per-commit exact-schema match —
    * the round-14 shape that made two queued renames permanently
    * unreadable). Batch consumers (`consumerPinnedAt` None) deliver
    * under the window-END version's mapping, so every in-window
    * mapping commit is acceptable by construction. */
  private def colmapWindowVerdict(baseDir: String, v: Int,
      consumerPinnedAt: Option[Int]): Unit =
    consumerPinnedAt match {
      case Some(p) if v > p => throw new IllegalStateException(
        s"version $v of $baseDir renamed or dropped columns after this " +
          "stream pinned its schema — RESTART the stream to resume " +
          "under the new column names (the checkpoint offset is " +
          "preserved: no rows are lost or re-delivered; Delta's " +
          "schema-tracking restart contract)")
      case _ => () // delivery schema postdates the change: metadata-only
    }

  /** `consumerPinnedAt`: the version whose schema the window consumer
    * pinned and delivers under (the streaming source's). None = batch
    * consumer — delivery is under the window-END version's schema and
    * mapping, so column-mapping commits inside the window are always
    * representable. */
  private[graft] def appendWindowAdds(spark: SparkSession,
      baseDir: String, sinceVersion: Int, endVersion: Int,
      consumerPinnedAt: Option[Int] = None)
      : Seq[(Int, Seq[String])] = {
    val fs = hadoopFs(spark, baseDir)
    val latest = latestVersion(spark, baseDir)
    require(sinceVersion >= 1 && sinceVersion <= endVersion &&
      endVersion <= latest,
      s"window ($sinceVersion, $endVersion] out of range for $baseDir " +
        s"(latest: $latest)")
    val entries = logEntries(fs, baseDir)
    ((sinceVersion + 1) to endVersion).map { v =>
      require(entries.get(v).exists(_._2),
        s"version $v of $baseDir has no commit record (vacuumed away): " +
          "the incremental window is not reconstructible — restart from " +
          "a full readVersion snapshot")
      val lines = readRawLines(fs, deltaPath(baseDir, v))
      val (adds, removes) = addsRemovesFrom(lines)
      v -> (opFrom(lines) match {
        case Some("append") => adds
        case Some("compact") => Nil // dataChange=false: already delivered
        case Some("repartition") => Nil // rows identical, dirs moved
        case Some("constraint") => Nil // metadata-only: no rows to deliver
        case Some("bloomidx") => Nil // metadata-only: no rows to deliver
        case Some("protocol") => Nil // metadata-only: no rows to deliver
        case Some("evolve") => Nil // schema widening: no rows to deliver
        case Some("colmap") =>
          colmapWindowVerdict(baseDir, v, consumerPinnedAt)
          Nil // metadata-only once the consumer reads the new names
        case None if removes.isEmpty => adds // pre-#op log, provably adds-only
        case other => throw new IllegalArgumentException(
          s"version $v of $baseDir is a " +
            s"${other.getOrElse("pre-metadata rewrite")} commit: an " +
            "insert-only change feed cannot represent updates or " +
            "deletes — re-read the full version (or snapshotDiff) instead")
      })
    }
  }

  /** Version `v`'s add files paired with their RECORDED row and byte
    * counts (the stats payload's `!rows=`/`!bytes=` tokens; None on
    * records written before they were recorded), in the record's
    * stable order — the streaming source's row/byte-admission walk.
    * One metadata read, no data access. */
  private[graft] def addRowCounts(spark: SparkSession, baseDir: String,
      v: Int): Seq[(String, (Option[Long], Option[Long]))] = {
    val fs = hadoopFs(spark, baseDir)
    val lines = readRawLines(fs, deltaPath(baseDir, v))
    val stats = statsFrom(lines)
    addsRemovesFrom(lines)._1
      .map(f => f -> ((stats.get(f).flatMap(parseRowCount),
        stats.get(f).flatMap(parseByteCount))))
  }

  /** The newest version at or below `fromVersion` whose committed
    * schema carries exactly `pinnedNames` — how the streaming source
    * binds its pinned field names back to a VERSION (whose column
    * mapping then governs every batch read, however far behind the
    * batch windows trail). Normally one record read (the tip matches);
    * the walk-back only pays when commits raced the stream's schema
    * resolution. No match = the schema moved between resolution and
    * start: fail with the restart contract. */
  private[graft] def pinSchemaVersion(spark: SparkSession,
      baseDir: String, pinnedNames: Seq[String],
      fromVersion: Int): Int = {
    val fs = hadoopFs(spark, baseDir)
    // ORDERED comparison: the pinned names come from the log's
    // committed schema (tableSchemaAt), so record order is the shared
    // spelling — and order is load-bearing: a rename chain that swaps
    // two column NAMES preserves the name SET but not the sequence, so
    // set-matching could bind the wrong version's column mapping and
    // deliver swapped column values
    val pinned = pinnedNames.toSeq
    (fromVersion to 1 by -1).find(v =>
      metaOfRecord(fs, baseDir, v).schema
        .exists(_.fieldNames.toSeq == pinned))
      .getOrElse(throw new IllegalStateException(
        s"no retained version of $baseDir carries this stream's pinned " +
          s"schema (${pinnedNames.mkString(", ")}) — the table's schema " +
          "changed while the stream was starting; RESTART the stream " +
          "to pin the current names"))
  }

  /** Read a set of add files under `schemaVersion`'s committed schema
    * and column mapping (an empty set types as an empty frame). */
  private[graft] def readAddFiles(spark: SparkSession, baseDir: String,
      files: Seq[String], schemaVersion: Int,
      emptyMsg: String): DataFrame = {
    val fs = hadoopFs(spark, baseDir)
    val meta = metaOfRecord(fs, baseDir, schemaVersion)
    if (files.isEmpty) {
      val s = meta.schema.getOrElse(
        throw new IllegalArgumentException(emptyMsg))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    } else readFiles(spark, baseDir, files.sorted, meta.schema, meta.colmap)
  }

  /** Row-level change-type column every CDC row carries:
    * `insert` / `update_preimage` / `update_postimage` / `delete`
    * (Delta CDF's vocabulary). */
  val ChangeTypeCol = "_change_type"
  /** The commit each CDC row belongs to. */
  val CommitVersionCol = "_commit_version"

  /** Land a commit's row-level changes under `_change/<token>/` —
    * written BEFORE the commit record, so a committed rewrite either
    * has its change rows or never committed. The TOKEN (not a version
    * number) is the address: the record's `#cdc=` line binds them, so
    * a rebase landing the commit at a different version than predicted
    * still points at the right rows, and an ABORTED commit leaves an
    * orphan dir no record references (vacuum reclaims it) — never rows
    * a later commit at the same version number could be confused with.
    * Cost is O(rows touched): every input here is already restricted
    * to the affected partitions and batch keys. */
  private[operators] def writeChanges(spark: SparkSession, baseDir: String,
      token: String, parts: Seq[DataFrame]): Unit =
    parts.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
      .write.mode("overwrite").parquet(changeDir(baseDir, token).toString)

  /** CHANGE DATA FEED over `(sinceVersion, endVersion]` — the full-CDC
    * extension of [[readAppendsSince]] for tables that also UPDATE and
    * DELETE: every row the window changed, tagged with
    * [[ChangeTypeCol]] (`insert` / `update_preimage` /
    * `update_postimage` / `delete`) and [[CommitVersionCol]]. Appends
    * need no change files (their add files ARE the inserted rows —
    * read directly, exactly as the insert-only feed does); rewrite
    * commits must have been made with `changeFeed = true`, which
    * captured their row-level changes at commit time for O(rows
    * touched) — the only moment the pre/post images are both in hand
    * without a version diff. A rewrite commit that recorded no change
    * rows fails loudly (re-read a full version or snapshotDiff
    * instead); `compact` commits deliver nothing (pure rewrite of
    * already-delivered rows). Rows come back under `endVersion`'s
    * committed schema plus the two CDC columns, NULL-filling columns
    * added since a change was captured. Windows compose exactly:
    * `(a,b] ++ (b,c] = (a,c]`. */
  /** One row-admission unit of a CDC window — either an ADD file of
    * an append commit (its rows deliver as `insert` changes) or one
    * parquet file of a rewrite commit's captured change rows.
    * `rows`/`bytes` None = unknown: admits and exhausts the budget,
    * conservative. */
  private[graft] final case class CdcUnit(path: String, isAdd: Boolean,
      rows: Option[Long], bytes: Option[Long] = None)

  private def parquetRowCount(fs: FileSystem, p: Path): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, fs.getConf))
    try r.getRecordCount finally r.close()
  }

  /** Version `v`'s CDC admission units in a STABLE order (record
    * order for adds, name order for change files) — what makes a
    * mid-version CDC offset meaningful across restarts. Cost: one
    * record read, plus one footer read per change file for a rewrite
    * commit (append adds reuse the recorded `!rows=` counts); callers
    * cache per version. The same acceptance contract as
    * [[readChangesSince]]: metadata and compact commits contribute
    * nothing, a capture-less rewrite refuses, a colmap commit passes
    * only when the consumer's pinned schema version postdates it. */
  private[graft] def cdcUnits(spark: SparkSession, baseDir: String,
      v: Int, consumerPinnedAt: Option[Int]): Seq[CdcUnit] = {
    val fs = hadoopFs(spark, baseDir)
    require(fs.exists(deltaPath(baseDir, v)),
      s"version $v of $baseDir has no commit record (vacuumed away): " +
        "the change window is not reconstructible — restart from a " +
        "full readVersion snapshot")
    val lines = readRawLines(fs, deltaPath(baseDir, v))
    val (adds, removes) = addsRemovesFrom(lines)
    opFrom(lines) match {
      case Some("append") =>
        val stats = statsFrom(lines)
        adds.sorted.map(f => CdcUnit(f, isAdd = true,
          stats.get(f).flatMap(parseRowCount),
          stats.get(f).flatMap(parseByteCount)))
      case None if removes.isEmpty => // pre-#op adds-only: an append
        adds.sorted.map(f => CdcUnit(f, isAdd = true, None))
      case Some("compact") | Some("constraint") | Some("bloomidx") |
           Some("protocol") | Some("evolve") | Some("repartition") => Nil
      case Some("colmap") =>
        colmapWindowVerdict(baseDir, v, consumerPinnedAt)
        Nil
      case op =>
        val tok = cdcFrom(lines).getOrElse(
          throw new IllegalArgumentException(
            s"version $v of $baseDir is a ${op.getOrElse("rewrite")} " +
              "commit that recorded no change rows (changeFeed was " +
              "off at commit time) — re-read a full version or " +
              "snapshotDiff"))
        val cd = changeDir(baseDir, tok)
        require(fs.exists(cd), s"version $v of $baseDir references " +
          s"change rows at $cd that no longer exist")
        fs.listStatus(cd).filter(st => st.isFile &&
            st.getPath.getName.endsWith(".parquet"))
          .sortBy(_.getPath.getName).toSeq
          .map(st => CdcUnit(st.getPath.toString, isAdd = false,
            Some(parquetRowCount(fs, st.getPath)), Some(st.getLen)))
    }
  }

  /** Read a CDC window at UNIT granularity (`unitsByVersion` from
    * [[cdcUnits]], possibly a partial slice per version): rows come
    * back under `schemaVersion`'s committed schema plus the CDC
    * columns — the streaming source's sub-commit CDC batch, composing
    * exactly with whole-version windows because unit order is
    * stable. */
  private[graft] def readCdcUnits(spark: SparkSession, baseDir: String,
      unitsByVersion: Seq[(Int, Seq[CdcUnit])],
      schemaVersion: Int): DataFrame = {
    val fs = hadoopFs(spark, baseDir)
    val delivery = metaOfRecord(fs, baseDir, schemaVersion)
    val schema = delivery.schema.getOrElse(
      throw new IllegalArgumentException(
        s"$baseDir's log records no schema — pre-metadata tables have " +
          "no change feed"))
    val deliveryColmap = delivery.colmap
    val frames = unitsByVersion.flatMap { case (v, units) =>
      if (units.isEmpty) None
      else {
        val (addUnits, cdcFiles) = units.partition(_.isAdd)
        val lines = readRawLines(fs, deltaPath(baseDir, v))
        val parts = Seq(
          // add files read under the DELIVERY version's schema+mapping
          // (files carry stable physical names), never the commit's own
          // — reading at-v logical names and realigning by name would
          // NULL-fill every column renamed between v and delivery
          if (addUnits.isEmpty) None
          else Some(readFiles(spark, baseDir,
              addUnits.map(_.path).sorted, Some(schema), deliveryColmap)
            .withColumn(ChangeTypeCol, lit("insert"))),
          // captured change rows were written under v's LOGICAL names:
          // project them onto the delivery names via the physical names
          if (cdcFiles.isEmpty) None
          else Some(remapCaptureNames(
            spark.read.parquet(cdcFiles.map(_.path): _*),
            colmapFrom(lines), deliveryColmap))
        ).flatten
        parts.map(_.withColumn(CommitVersionCol, lit(v)))
          .reduceOption(_.unionByName(_, allowMissingColumns = true))
      }
    }
    alignChangeFrames(spark, schema, frames)
  }

  /** Project a change-capture frame's CAPTURE-TIME logical names onto
    * the delivery version's logical names through the stable PHYSICAL
    * names — the same identity [[readFiles]]' column-mapping projection
    * uses for data files, applied to captured parquet whose column
    * names are the capture commit's logical schema. A capture column
    * whose physical name the delivery version dropped keeps its
    * physical name and falls out in [[alignChangeFrames]]' final
    * select. Simultaneous (one select, not chained renames): a
    * rename-swap between capture and delivery must not collide. */
  private def remapCaptureNames(df: DataFrame,
      captureColmap: Map[String, String],
      deliveryColmap: Map[String, String]): DataFrame = {
    val physToDelivery = deliveryColmap.map(_.swap)
    df.select(df.columns.map { c =>
      if (c == ChangeTypeCol || c == CommitVersionCol) col(c)
      else {
        val phys = captureColmap.getOrElse(c, c)
        col(c).as(physToDelivery.getOrElse(phys, phys))
      }
    }.toIndexedSeq: _*)
  }

  /** Deliver change frames under `schema` + the CDC columns,
    * NULL-filling columns a capture predates (shared by the
    * whole-version and unit-granular CDC reads). */
  private def alignChangeFrames(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      frames: Seq[DataFrame]): DataFrame = {
    val out = schema.fields.map(f => col(f.name).cast(f.dataType)) ++
      Seq(col(ChangeTypeCol), col(CommitVersionCol))
    if (frames.isEmpty) {
      import org.apache.spark.sql.types._
      val s = StructType(schema.fields ++ Seq(
        StructField(ChangeTypeCol, StringType),
        StructField(CommitVersionCol, IntegerType)))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    } else frames
      .map { df =>
        val have = df.columns.toSet
        val widened = schema.fields.filterNot(f => have(f.name))
          .foldLeft(df)((d, f) =>
            d.withColumn(f.name, lit(null).cast(f.dataType)))
        widened.select(out.toIndexedSeq: _*)
      }
      .reduce(_.unionByName(_))
  }

  def readChangesSince(spark: SparkSession, baseDir: String,
      sinceVersion: Int, endVersion: Int = Int.MaxValue,
      consumerPinnedAt: Option[Int] = None): DataFrame = {
    val fs = hadoopFs(spark, baseDir)
    val latest = latestVersion(spark, baseDir)
    val end = if (endVersion == Int.MaxValue) latest else endVersion
    require(sinceVersion >= 1 && sinceVersion <= end && end <= latest,
      s"window ($sinceVersion, $end] out of range for $baseDir " +
        s"(latest: $latest)")
    val entries = logEntries(fs, baseDir)
    // the DELIVERY version: every row comes back under its schema and
    // column mapping (a streaming consumer's pinned version, else the
    // window end) — one consistent name space however many renames the
    // window crosses, since files and captures project through stable
    // physical names
    val deliveryV = consumerPinnedAt.getOrElse(end)
    val delivery = metaOfRecord(fs, baseDir, deliveryV)
    val schema = delivery.schema.getOrElse(
      throw new IllegalArgumentException(
        s"$baseDir's log records no schema — pre-metadata tables have " +
          "no change feed"))
    val deliveryColmap = delivery.colmap
    val frames = ((sinceVersion + 1) to end).flatMap { v =>
      require(entries.get(v).exists(_._2),
        s"version $v of $baseDir has no commit record (vacuumed away): " +
          "the change window is not reconstructible — restart from a " +
          "full readVersion snapshot")
      val lines = readRawLines(fs, deltaPath(baseDir, v))
      val (adds, removes) = addsRemovesFrom(lines)
      opFrom(lines) match {
        case Some("colmap") =>
          colmapWindowVerdict(baseDir, v, consumerPinnedAt)
          None // metadata-only once the consumer reads the new names
        // pre-#op adds-only records are provably appends — the same
        // acceptance readAppendsSince gives them. Adds read under the
        // DELIVERY schema+mapping (files carry stable physical names):
        // a rename between v and delivery projects, never NULL-fills
        case Some("append") | None if removes.isEmpty =>
          if (adds.isEmpty) None
          else Some(readFiles(spark, baseDir, adds.sorted,
            Some(schema), deliveryColmap)
            .withColumn(ChangeTypeCol, lit("insert"))
            .withColumn(CommitVersionCol, lit(v)))
        case Some("compact") => None // dataChange=false
        case Some("repartition") => None // rows identical, dirs moved
        case Some("constraint") => None // metadata-only commit
        case Some("bloomidx") => None // metadata-only commit
        case Some("protocol") => None // metadata-only commit
        case Some("evolve") => None // schema widening: metadata-only
        case op =>
          val tok = cdcFrom(lines).getOrElse(
            throw new IllegalArgumentException(
              s"version $v of $baseDir is a ${op.getOrElse("rewrite")} " +
                "commit that recorded no change rows (changeFeed was off " +
                "at commit time) — re-read a full version or snapshotDiff"))
          val cd = changeDir(baseDir, tok)
          require(fs.exists(cd),
            s"version $v of $baseDir references change rows at $cd " +
              "that no longer exist")
          // captured rows carry v's LOGICAL names: project them onto
          // the delivery names via the stable physical names
          Some(remapCaptureNames(spark.read.parquet(cd.toString),
            colmapFrom(lines), deliveryColmap)
            .withColumn(CommitVersionCol, lit(v)))
      }
    }
    // deliver under the delivery version's schema + the CDC columns:
    // changes captured before an evolution NULL-fill the added columns
    alignChangeFrames(spark, schema, frames)
  }
}
