package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.TimeTravel

/** The lakehouse CRUD rows over their versioned orders tables: repeated
  * runs (Bench samples every query several times) keep each row's
  * content fixed, commit only what the batch changes, and never leak one
  * row's commits into another row's table. */
class CrudQueriesSpec extends SparkSpec {

  private def contents(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("o_orderkey").collect().toSeq

  test("q133: each run commits one version over only the 1997/1998 months, and the content converges") {
    val first = contents(PipelineQueries.q133.run(spark, sf))
    val t = PipelineQueries.stagedOrdersTable(spark, sf, "graft-merge-orders")
    val v = TimeTravel.latestVersion(spark, t)
    assert(v >= 2)
    val second = contents(PipelineQueries.q133.run(spark, sf))
    assert(TimeTravel.latestVersion(spark, t) === v + 1)
    assert(second === first)
    val dirs = TimeTravel.lastCommitStats(t).get.dirsListed
    assert(dirs.nonEmpty && dirs.forall(d =>
      d.startsWith("o_month=1997-") || d.startsWith("o_month=1998-")), dirs)
    // q151 diffs q133's latest version: still exactly the batch
    val diff = PipelineQueries.q151.run(spark, sf).head()
    assert(diff.getAs[Long]("n_removed") === 0L)
    assert(diff.getAs[Long]("changed_o_custkey") === 0L)
  }

  test("q142: a re-run commits nothing, and q133's upserts never reach its table") {
    PipelineQueries.q133.run(spark, sf)
    val first = contents(PipelineQueries.q142.run(spark, sf))
    val t = PipelineQueries.stagedOrdersTable(spark, sf, "graft-delete-orders")
    val v = TimeTravel.latestVersion(spark, t)
    val again = PipelineQueries.q142.run(spark, sf)
    assert(contents(again) === first)
    assert(TimeTravel.latestVersion(spark, t) === v)
    // no 'R' updates and no shifted-key inserts from q133's batch
    assert(again.filter(col("o_orderstatus") === "R").count() === 0)
    assert(again.filter(col("o_orderkey") >= 10000000L).count() === 0)
  }
}
