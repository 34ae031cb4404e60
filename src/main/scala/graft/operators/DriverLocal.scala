package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

/** The one driver-local decision behind the small-input fast paths: when
  * an operator's input is small enough, collect it once and solve on the
  * driver instead of running a distributed loop whose per-round fixed
  * cost (several exchanges, an eager checkpoint, a convergence probe)
  * dwarfs the arithmetic — the same collect-the-small-side trade a
  * broadcast join makes. Above the cap the distributed shape runs
  * unchanged; at 100 TB that is the only shape that works.
  *
  * The caps, one conf key each (0 = never local):
  *
  *  - [[ClustersKey]], default 4M edges: union-find connected components
  *    ([[Dedup.dupClusters]], [[Dedup.dupClustersStar]]). ≈64 MB of long
  *    pairs on the driver, the [[Merge.DefaultBroadcastKeyLimit]] sizing
  *    contract; union-find is O(m·α), so memory is the bound.
  *  - [[TrianglesKey]], default 256k edges: triangle counting
  *    ([[Graph.triangleStats]]). Far below the clusters cap because the
  *    work is O(m^1.5) wedge probes on driver CPU — 256k edges bounds the
  *    worst case at ~1.3e8 sorted-array probes, under a second.
  *  - [[BpeKey]], default 1M distinct words: BPE merge training
  *    ([[Corpus.bpeTrain]]). Training is vocab-bounded by construction,
  *    and below broadcast scale a driver loop beats 2 vocab-wide jobs
  *    per merge round.
  *
  * Every local path is bit-identical to its distributed twin (TextSpec,
  * GraphSpec and BpeSpec force cap 0 and compare). */
object DriverLocal {

  val ClustersKey = "spark.graft.clusters.localEdgeLimit"
  val ClustersCap = 4000000L
  val TrianglesKey = "spark.graft.graph.localEdgeLimit"
  val TrianglesCap = 262144L
  val BpeKey = "spark.graft.bpe.localVocabLimit"
  val BpeCap = 1000000L

  /** `Right(df.collect())` when the cap at `key` (else `default`) is > 0
    * and `df` has at most that many rows, else `Left(df.count())`.
    *
    * Count-then-collect, not `limit(cap + 1).collect()`: the limit's
    * `executeTake` scans 1 partition, then 4×-growing sets of partitions,
    * so on a multi-partition input it is several jobs; counting and then
    * collecting the (already checkpointed) input is always two. */
  def collectUnder(df: DataFrame, key: String,
      default: Long): Either[Long, Array[Row]] = {
    val cap = df.sparkSession.conf.getOption(key).fold(default) { v =>
      val parsed = v.trim.toLongOption
      require(parsed.exists(_ >= 0),
        s"$key must be a non-negative row count, got '$v'")
      parsed.get
    }
    val n = df.count()
    if (cap > 0 && n <= cap) Right(df.collect()) else Left(n)
  }
}
