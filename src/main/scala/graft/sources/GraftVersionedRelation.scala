package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.StructType

import graft.operators.TimeTravel

/** DECLARATIVE batch read of the [[TimeTravel]] versioned table — the
  * Delta read path (`spark.read.format("delta").option("versionAsOf",
  * N)`) on this log: `spark.read.format("graft-versioned")
  * .option("path", dir)` reads the LATEST version,
  * `option("versionAsOf", N)` / `option("timestampAsOf", ts)` time
  * travel, all through [[VersionedTableSourceProvider]]'s
  * `RelationProvider` face (reference analogue: the consumer examples
  * in README.md:13-28 are plain declarative reads of the export).
  *
  * The relation is a `HadoopFsRelation` over the LOG-BACKED
  * [[org.apache.spark.sql.graftshim.LogFileIndex]], NOT a row-producing
  * `buildScan`: Spark's own FileSourceStrategy plans it, so the scan is
  * the native vectorized parquet reader with whole-stage codegen,
  * column pruning (`ReadSchema`), parquet-level `PushedFilters`, AND
  * partition pruning — everything a hand-rolled RDD relation would
  * forfeit.
  * What the log adds on top (exactly Delta's TahoeLogFileIndex split):
  *   - the FILE SET and each file's size and mtime come from the
  *     commit log, never a directory listing — stale files from
  *     superseded versions are invisible, and the chosen version stays
  *     frozen for the relation's lifetime (a consistent snapshot
  *     however many commits land meanwhile);
  *   - `listFiles` evaluates partition-column predicates against the
  *     directory values (exact — any predicate shape, not just ranges)
  *     and hands data-column conjuncts to [[TimeTravel.ScanPlan]]'s
  *     `kept`: range/equality stats-skipping against the log's
  *     per-file min/max plus the bloom probe — files provably disjoint
  *     from the predicate are never even planned as splits, the same
  *     metadata-only pruning [[TimeTravel.readVersionSkippingAll]]
  *     does imperatively.
  *
  * At 100 TB: planning cost is one log resolve (O(retained files) in
  * the driver) — never a listing, never a footer read; the pruned
  * splits then fan out to executors like any parquet scan.
  *
  * Column order note: like every `HadoopFsRelation`, the partition
  * column comes LAST in the relation's schema (data columns first);
  * select explicitly where order matters.
  */
object GraftVersionedRelation {

  def apply(spark: SparkSession, baseDir: String,
      versionAsOf: Option[Int], timestampAsOf: Option[String])
      : BaseRelation = {
    require(versionAsOf.isEmpty || timestampAsOf.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    val version = versionAsOf
      .orElse(timestampAsOf.map(ts =>
        TimeTravel.versionAsOf(spark, baseDir, parseTs(ts))))
      .getOrElse {
        val latest = TimeTravel.latestVersion(spark, baseDir)
        require(latest >= 1, s"$baseDir has no commits")
        latest
      }
    // an EMPTY snapshot (CREATE-TABLE-empty v1, or a restore to it):
    // a typed zero-row relation — no files to plan
    TimeTravel.emptySchemaAt(spark, baseDir, version) match {
      case Some(s) => new GraftEmptyRelation(spark, s)
      case None =>
        val plan = TimeTravel.scanPlan(spark, baseDir, version)
        // FAST PATH — plain snapshots: a HadoopFsRelation plans raw
        // parquet splits (vectorized reader, whole-stage codegen,
        // parquet-level PushedFilters). It reads file columns by NAME
        // and cannot inject an anti-join, so two snapshot states need
        // the MERGE-ON-READ relation instead: an active column mapping
        // (files carry physical names the relation must project back
        // to logical) and deletion-vector bindings (a raw split scan
        // would resurrect deleted rows — the hazard Delta gates behind
        // a reader-version bump).
        if (plan.colmap.isEmpty && !plan.hasDeletionVectors)
          plan.relation(filters =>
            plan.kept(filters.flatMap(TimeTravel.predicateRanges)))
        else new GraftVersionedMorRelation(spark, baseDir, version, plan)
    }
  }

  /** `timestampAsOf` accepts epoch millis or a
    * `yyyy-MM-dd HH:mm:ss[.f…]` local timestamp (the
    * `java.sql.Timestamp.valueOf` shape Delta also takes). Shared with
    * the streaming source's `sinceTimestamp`. */
  private[graft] def parseTs(s: String): Long =
    try s.trim.toLong
    catch { case _: NumberFormatException =>
      java.sql.Timestamp.valueOf(s.trim).getTime }
}

/** MERGE-ON-READ declarative relation — the read path for snapshot
  * states a raw-split `HadoopFsRelation` cannot represent: versions
  * with deletion-vector bindings (positions must anti-join out, or
  * deleted rows resurrect) and versions under an active column mapping
  * (files carry physical names that must project back to the
  * version's logical schema). The Delta analogue is its DV-aware scan
  * planning: the declarative surface keeps working the moment a team
  * adopts merge-on-read deletes, instead of breaking until a
  * compaction materializes the vectors.
  *
  * Pushed filters do BOTH kinds of work they do on the fast path:
  *   - file skipping: pushed conjuncts translate to
  *     [[TimeTravel.ColRange]]s and prune the version's file list via
  *     the log's stats (range + bloom), BEFORE any data is planned;
  *   - parquet pushdown: the same conjuncts re-apply as `Column`
  *     filters INSIDE the body scan, where Catalyst pushes them
  *     through the DV anti-join down to the vectorized parquet reader
  *     (the inner scan shows its own PushedFilters).
  * Everything stays distributed: the body is [[TimeTravel]]'s normal
  * file-list scan (vectorized parquet + broadcast anti-join on only
  * the DV-bound files); the only seam is the Row boundary every V1
  * `buildScan` has. All filters report unhandled, so Spark re-applies
  * them above the scan — pruning is a superset optimization, exactly
  * the PushedFilters contract.
  *
  * At 100 TB: planning is one log resolve (`sizeInBytes` sums the
  * log's file sizes), skipping is metadata-only, and the scan fans out
  * like any parquet read. The relation is the TRANSITIONAL-state
  * reader by design — compaction materializes DVs away and the
  * provider routes back to the codegen fast path. */
private[graft] final class GraftVersionedMorRelation(spark: SparkSession,
    baseDir: String, version: Int,
    plan: TimeTravel.ScanPlan) extends BaseRelation
    with org.apache.spark.sql.sources.PrunedFilteredScan {

  import org.apache.spark.sql.sources
  import org.apache.spark.sql.sources.{Filter, EqualTo, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, StringContains, StringEndsWith, StringStartsWith}
  import org.apache.spark.sql.functions.{col, lit}

  override def sqlContext: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  override val schema: StructType = plan.schema

  /** Real bytes (the log's file sizes, summed once): keeps the
    * optimizer from broadcasting a large snapshot by default-size
    * accident. */
  override lazy val sizeInBytes: Long = plan.sizeInBytes

  /** Skipping is a SUPERSET prune — every filter re-applies above. */
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters

  /** Pushed conjuncts → stats ranges (file skipping). Only shapes the
    * log's min/max can answer translate; everything else prunes
    * nothing — conservative, never wrong. */
  private def ranges(f: Filter): Seq[TimeTravel.ColRange] = f match {
    case EqualTo(a, v) => Seq(TimeTravel.ColRange(a, v, v))
    case GreaterThan(a, v) => Seq(TimeTravel.ColRange(a, v, null))
    case GreaterThanOrEqual(a, v) => Seq(TimeTravel.ColRange(a, v, null))
    case LessThan(a, v) => Seq(TimeTravel.ColRange(a, null, v))
    case LessThanOrEqual(a, v) => Seq(TimeTravel.ColRange(a, null, v))
    case sources.And(l, r) => ranges(l) ++ ranges(r)
    case _ => Nil
  }

  /** Pushed filters → `Column`s for the INNER scan (parquet-level
    * pushdown through the DV anti-join); None = not expressible here,
    * the outer Filter still applies it. */
  private def toColumn(f: Filter): Option[org.apache.spark.sql.Column] =
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, p) => Some(col(a).startsWith(p))
      case StringEndsWith(a, p) => Some(col(a).endsWith(p))
      case StringContains(a, p) => Some(col(a).contains(p))
      case sources.And(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) }
        yield lc && rc
      case sources.Or(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) }
        yield lc || rc
      case sources.Not(c) => toColumn(c).map(!_)
      case _ => None
    }

  /** The OPTIMIZED logical plan of this relation's merge-on-read scan,
    * file-skipped by `preds` — the [[graft.plans.MorScanRewrite]]
    * hook: the optimizer rule splices this plan (native parquet scans
    * + the DV anti-join, full codegen) in place of the V1 relation,
    * which only remains as the rule-less fallback with its Row
    * boundary.
    *
    * `cond`: the query's own filter over this relation, remapped onto
    * the scan's attributes and optimized WITH the subplan — the splice
    * happens in the LATE user-rules batch, after Spark's own pushdown
    * already ran, so the inner optimization is what carries the
    * predicate through the DV anti-join down to the parquet readers.
    * The subplan must be the OPTIMIZED plan (not analyzed): the early
    * batches (hint resolution, subquery cleanup) have already run on
    * the outer query, and an un-eliminated ResolvedHint would reach
    * the planner and fail. The subplan holds no MOR relations, so its
    * own optimization cannot recurse into the rule.
    *
    * `required`: the PARENT's needed columns (None = all) — the splice
    * runs AFTER Spark's own ColumnPruning, so the subplan must carry
    * the projection itself or a narrow query over a DV-bound version
    * physically reads every column. The select lands BELOW the inner
    * optimization, which prunes the parquet ReadSchema down to
    * projection + filter references. */
  private[graft] def logicalScan(preds: Seq[TimeTravel.ColRange],
      cond: Option[org.apache.spark.sql.catalyst.expressions.Expression],
      required: Option[Seq[String]] = None)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    val base = plan.readKept(preds).queryExecution.analyzed
    val byName = base.output.map(a => a.name -> a).toMap
    val withFilter = cond.fold(base) { c =>
      val remapped = c.transform {
        case a: AttributeReference => byName.getOrElse(a.name,
          throw new IllegalStateException(
            s"MOR scan lacks filter column '${a.name}' " +
              s"(has: ${base.output.map(_.name).mkString(", ")})"))
      }
      org.apache.spark.sql.catalyst.plans.logical.Filter(remapped, base)
    }
    val projected = required.fold(withFilter) { names =>
      org.apache.spark.sql.catalyst.plans.logical.Project(
        names.map(n => byName.getOrElse(n,
          throw new IllegalStateException(
            s"MOR scan lacks required column '$n' " +
              s"(has: ${base.output.map(_.name).mkString(", ")})"))),
        withFilter)
    }
    spark.sessionState.executePlan(projected).optimizedPlan
  }

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter])
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    // fast-path discoverability: a vanilla session (no GraftExtensions /
    // installOptimizations) reaches this correct-but-Row-boundary V1
    // fallback — say so ONCE per JVM instead of silently serving the
    // slow path forever
    if (!spark.conf.get("spark.graft.mor.rewrite", "false").toBoolean &&
        GraftVersionedMorRelation.slowPathWarned.compareAndSet(false, true)) {
      GraftVersionedMorRelation.slowPathWarnings.incrementAndGet()
      org.slf4j.LoggerFactory.getLogger(classOf[GraftVersionedMorRelation])
        .warn(s"serving $baseDir@v$version through the V1 merge-on-read " +
          "fallback (Row boundary, no whole-stage codegen): install " +
          "graft.GraftSession.installOptimizations(spark) or the " +
          "GraftExtensions session extension to enable the optimized " +
          "MorScanRewrite splice")
    }
    val body = plan.readKept(filters.flatMap(ranges).toSeq)
    val filtered = filters.flatMap(toColumn)
      .foldLeft(body)((df, c) => df.filter(c))
    // empty projection (COUNT(*)) still needs the row CARDINALITY
    val projected =
      if (requiredColumns.isEmpty) filtered.select()
      else filtered.select(requiredColumns.map(col).toIndexedSeq: _*)
    projected.rdd
  }

  override def toString: String =
    s"GraftVersionedMorRelation[$baseDir@v$version, " +
      s"dv=${plan.hasDeletionVectors}, mapped=${plan.colmap.nonEmpty}]"
}

/** A typed ZERO-ROW relation — the declarative face of an empty
  * snapshot (a CREATE-TABLE-empty v1 before its first batch). */
private[graft] final class GraftEmptyRelation(spark: SparkSession,
    override val schema: StructType) extends BaseRelation
    with org.apache.spark.sql.sources.TableScan {
  override def sqlContext: org.apache.spark.sql.SQLContext =
    spark.sqlContext
  override def buildScan()
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row]
  override def sizeInBytes: Long = 0L
}

private[graft] object GraftVersionedMorRelation {
  /** One-time latch + observable count for the V1 slow-path warning
    * (spec-asserted: fires exactly once per JVM). */
  private[graft] val slowPathWarned =
    new java.util.concurrent.atomic.AtomicBoolean(false)
  private[graft] val slowPathWarnings =
    new java.util.concurrent.atomic.AtomicLong(0L)
}
