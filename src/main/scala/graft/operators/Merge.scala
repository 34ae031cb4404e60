package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Building blocks of the keyed copy-on-write MERGE/DELETE that
  * [[TimeTravel.upsert]] and [[TimeTravel.delete]] commit as versions
  * (Delta/Iceberg MERGE INTO semantics: WHEN MATCHED THEN UPDATE ALL /
  * WHEN NOT MATCHED THEN INSERT ALL, and delete-by-key): the broadcast
  * gate on the batch's key set, the one-checkpoint rule for the batch,
  * and the NULL-partition refusal — plus [[snapshotDiff]], the audit
  * that verifies a merge from two table versions.
  */
object Merge {

  /** Key-count ceiling for broadcasting a merge batch's key set: ~4M
    * long keys ≈ tens of MB built once per executor — comfortably under
    * typical driver/executor memory; beyond it the discovery and anti
    * joins fall back to shuffle joins (slower, but they complete). */
  val DefaultBroadcastKeyLimit: Long = 4L * 1000 * 1000

  /** Broadcast `keys` only when the batch is plausibly build-side-sized;
    * a backfill-scale key set (billions of keys at 100 TB) must degrade
    * to a shuffle join, not force a driver-side broadcast build and OOM.
    * `upperBound` is a CHEAP over-estimate the caller already has (the
    * checkpointed batch's row count — one pass over materialized
    * partitions, no shuffle): when it clears the limit, the common
    * small-batch case decides without ever running the distinct
    * aggregation; only an over-limit bound pays the exact distinct
    * count before falling back to a shuffle join. */
  private[operators] def gateBroadcast(keys: DataFrame, limit: Long,
      upperBound: => Long): DataFrame =
    if (upperBound <= limit || keys.count() <= limit) broadcast(keys)
    else keys

  /** `localCheckpoint()` unless the frame already IS a materialized
    * checkpoint (its analyzed plan is the checkpoint's LogicalRDD) —
    * re-checkpointing one copies every row into a second set of blocks
    * for no isolation gain. A checkpoint marked but not yet materialized
    * reports `isCheckpointed = false` and keeps the old re-checkpoint
    * behavior — the conservative side. */
  private[operators] def ensureCheckpointed(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD
          if l.rdd.isCheckpointed => df
      case _ => df.localCheckpoint()
    }

  /** Refuse a NULL in ANY component of an affected partition tuple,
    * BEFORE any write: a NULL has no `col=<v>` directory identity in this
    * copy-on-write scheme, so the affected-partition read-back would
    * silently skip it (a moved key's stale row survives and the key
    * surfaces twice). A general lakehouse layer models NULL as
    * `__HIVE_DEFAULT_PARTITION__`, a contract this path deliberately
    * does not enter. */
  private[operators] def requireNoNullPartitionTuple(
      affected: Seq[Seq[Any]], partCols: Seq[String]): Unit =
    affected.foreach { vs =>
      vs.zip(partCols).foreach { case (v, c) =>
        require(v != null,
          s"NULL value in partition column '$c': partition-granular " +
            "merge/delete cannot address the null partition; filter or " +
            "default the partition value upstream")
      }
    }

  /** Snapshot DIFF: classify every key across two table versions as
    * added / removed / changed / unchanged and count which columns
    * changed — the audit a pipeline runs between two exports (and the
    * natural verification of a merge: diff(before, applied-merge) must
    * equal the merge batch exactly). One full-outer key join; comparisons
    * are row-local; the output is a single summary row of exact BIGINT
    * counts, with one changed-count column per compared attribute.
    * NULL-safe equality (`<=>`) so NULL→value transitions count as
    * changes, not as equality with the absent. */
  def snapshotDiff(before: DataFrame, after: DataFrame, keyCol: String,
      compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "compareCols must be non-empty")
    val b = before.select((keyCol +: compareCols).map(c =>
      col(c).as(s"b_$c")): _*)
    val a = after.select((keyCol +: compareCols).map(c =>
      col(c).as(s"a_$c")): _*)
    val j = b.join(a, col(s"b_$keyCol") === col(s"a_$keyCol"), "full_outer")
    val added = col(s"b_$keyCol").isNull
    val removed = col(s"a_$keyCol").isNull
    val anyChanged = compareCols.map(c =>
      !(col(s"b_$c") <=> col(s"a_$c"))).reduce(_ || _)
    // coalesce: sum over an empty join (both snapshots empty) is NULL,
    // and an empty diff must report zeros, not NULLs
    def zsum(c: Column): Column = coalesce(sum(c), lit(0L))
    val aggs =
      zsum(when(added, 1L).otherwise(0L)).as("n_added") +:
        zsum(when(removed, 1L).otherwise(0L)).as("n_removed") +:
        zsum(when(!added && !removed && anyChanged, 1L).otherwise(0L))
          .as("n_changed") +:
        zsum(when(!added && !removed && !anyChanged, 1L).otherwise(0L))
          .as("n_unchanged") +:
        compareCols.map(c =>
          zsum(when(!added && !removed && !(col(s"b_$c") <=> col(s"a_$c")), 1L)
            .otherwise(0L)).as(s"changed_$c"))
    j.agg(aggs.head, aggs.tail: _*)
  }
}
