package graft.operators

import graft.SparkSpec

/** Snapshot-diff invariants (added/removed/changed classification with
  * NULL-safe compares, exact zero counts on empty snapshots) and the
  * one-checkpoint rule for a merge batch. The copy-on-write MERGE/DELETE
  * these helpers serve is covered by TimeTravelSpec. */
class MergeSpec extends SparkSpec {

  import spark.implicits._

  test("snapshotDiff: added/removed/changed classification with NULL-safe compares") {
    val before = Seq[(Long, String, java.lang.Double)](
      (1L, "a", 1.0), (2L, "b", null), (3L, "c", 3.0), (4L, "d", 4.0))
      .toDF("id", "s", "v")
    val after = Seq[(Long, String, java.lang.Double)](
      (1L, "a", 1.0),   // unchanged
      (2L, "b", 2.0),   // NULL → value must count as changed
      (3L, "cc", 3.0),  // s changed
      (5L, "e", 5.0))   // added; 4 removed
      .toDF("id", "s", "v")
    val r = Merge.snapshotDiff(before, after, "id", Seq("s", "v"))
      .collect().head
    assert((r.getAs[Long]("n_added"), r.getAs[Long]("n_removed"),
      r.getAs[Long]("n_changed"), r.getAs[Long]("n_unchanged"))
      === ((1L, 1L, 2L, 1L)))
    assert(r.getAs[Long]("changed_s") === 1L)
    assert(r.getAs[Long]("changed_v") === 1L)
  }

  test("snapshotDiff of two empty snapshots is all zeros, not NULLs") {
    val empty = Seq.empty[(Long, String, Double)].toDF("id", "s", "v")
    val r = Merge.snapshotDiff(empty, empty, "id", Seq("s", "v"))
      .collect().head
    assert((0 until 6).forall(!r.isNullAt(_)), r.toString)
    assert((r.getAs[Long]("n_added"), r.getAs[Long]("n_removed"),
      r.getAs[Long]("n_changed"), r.getAs[Long]("n_unchanged"),
      r.getAs[Long]("changed_s"), r.getAs[Long]("changed_v"))
      === ((0L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("ensureCheckpointed reuses a materialized checkpoint and checkpoints anything else") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    def isCheckpoint(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.analyzed
        .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    val pinned = Merge.ensureCheckpointed(df)
    assert(!(pinned eq df) && isCheckpoint(pinned))
    // a materialized checkpoint passes through as the same frame
    assert(Merge.ensureCheckpointed(pinned) eq pinned)
    assert(pinned.orderBy("id").as[(Long, String)].collect().toSeq
      === Seq((1L, "a"), (2L, "b")))
  }
}
