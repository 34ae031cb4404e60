package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed graph statistics beyond connectivity (the connected-
  * components family lives in [[Dedup]]): triangle counting by
  * degree-ORIENTED wedge join — the motif-counting primitive behind
  * clustering coefficients and dense-duplicate-cluster diagnostics.
  *
  * Why orientation matters at scale: the naive wedge join explodes every
  * high-degree node into deg² candidate pairs — a power-law hub with
  * deg 10⁶ contributes 10¹² wedges. Orienting each edge from its
  * (deg, id)-smaller endpoint to the larger caps every node's OUT-degree
  * at O(√m) (a classic arboricity bound), so the self-join cost drops to
  * Σ outdeg² = O(m^{3/2}) regardless of skew, and each triangle is
  * counted exactly once — at its (deg, id)-minimum vertex, whose two
  * out-edges form the wedge and whose opposite edge is checked in
  * CANONICAL (a<b) form via a plain equi-join (no OR-join, no broadcast
  * of the full edge set).
  */
object Graph {

  /** One-row statistics of the simple undirected graph given as edge rows
    * (`a`, `b`): node/edge counts, wedge count Σ d(d−1)/2, and the exact
    * triangle count. Input edges are canonicalized (a<b, dedup'd), so any
    * orientation/duplication in the input is tolerated. */
  def triangleStats(edges0: DataFrame): DataFrame = {
    val spark = edges0.sparkSession
    val edges = edges0.select(
        least(col("a"), col("b")).cast("long").as("a"),
        greatest(col("a"), col("b")).cast("long").as("b"))
      .filter(col("a") < col("b")).distinct()
      .localCheckpoint() // reused 4× (degrees, orientation, closure probe)
    // small-graph fast path: collect once and count on the driver
    // (sorted-adjacency intersection) instead of the 8-relation-op
    // dataflow below, whose half-dozen exchanges over a few thousand
    // edges cost two orders of magnitude more scheduling than the
    // arithmetic (see [[DriverLocal]])
    DriverLocal.collectUnder(edges, DriverLocal.TrianglesKey,
        DriverLocal.TrianglesCap) match {
      case Right(rows) => return localTriangleStats(spark, rows)
      case Left(_) =>
    }
    val deg = edges.select(col("a").as("v"))
      .union(edges.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val aFirst = edges
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .withColumn("fwd",
        col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")))
    val oriented = aFirst.select(
        when(col("fwd"), col("a")).otherwise(col("b")).as("src"),
        when(col("fwd"), col("b")).otherwise(col("a")).as("dst"))
      .localCheckpoint() // the wedge self-join reads it twice
    val wedgePairs = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.src") === col("e2.src"))
      .filter(col("e1.dst") < col("e2.dst"))
      .select(col("e1.dst").as("a"), col("e2.dst").as("b"))
    val triangles = wedgePairs.join(edges, Seq("a", "b"))
      .agg(count(lit(1)).as("n_triangles"))
    // broadcast-hinted 1-row sides: AQE would pick BroadcastNLJ anyway,
    // but the hint pins the plan independent of runtime stats
    val nodesEdges = edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"),
        // coalesce: sum over an EMPTY degree relation is NULL, and an
        // edgeless graph must report 0 wedges, not a NULL
        coalesce(sum(expr("deg * (deg - 1) div 2")), lit(0L))
          .as("n_wedges"))))
    nodesEdges.crossJoin(broadcast(triangles))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"))
  }

  /** The same four counts computed driver-side from the collected
    * canonical edge set: identical orientation rule ((deg, id)-smaller
    * endpoint emits the wedge) and exact integer arithmetic, so the
    * one-row answer is bit-identical to the distributed plan's
    * (GraphSpec pins the equivalence with the limit forced to 0). */
  private def localTriangleStats(spark: SparkSession,
      edges: Array[Row]): DataFrame = {
    val arr = edges.map(r => (r.getLong(0), r.getLong(1)))
    val deg = new java.util.HashMap[Long, Long](arr.length * 2)
    arr.foreach { case (a, b) =>
      deg.merge(a, 1L, _ + _); deg.merge(b, 1L, _ + _)
    }
    var wedges = 0L
    deg.values.forEach(d => wedges += d * (d - 1) / 2)
    // orient each edge from its (deg, id)-smaller endpoint; adjacency
    // arrays sorted so the per-edge closure probe is a merge walk
    def fwd(a: Long, b: Long): Boolean = {
      val da = deg.get(a); val db = deg.get(b)
      da < db || (da == db && a < b)
    }
    val grouped = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]()
    arr.foreach { case (a, b) =>
      val (s, d) = if (fwd(a, b)) (a, b) else (b, a)
      grouped.computeIfAbsent(s,
        _ => scala.collection.mutable.ArrayBuffer.empty[Long]).append(d)
    }
    val adj = new java.util.HashMap[Long, Array[Long]](grouped.size * 2)
    grouped.forEach { (s, buf) =>
      val a = buf.toArray
      java.util.Arrays.sort(a)
      adj.put(s, a)
    }
    var triangles = 0L
    arr.foreach { case (a, b) =>
      val (s, d) = if (fwd(a, b)) (a, b) else (b, a)
      val ns = adj.get(s)
      val nd = adj.get(d)
      if (ns != null && nd != null) {
        // sorted-array intersection |N+(s) ∩ N+(d)|: every triangle is
        // counted exactly once, at its (deg, id)-minimum vertex s
        var i = 0; var j = 0
        while (i < ns.length && j < nd.length) {
          val x = ns(i); val y = nd(j)
          if (x == y) { triangles += 1; i += 1; j += 1 }
          else if (x < y) i += 1
          else j += 1
        }
      }
    }
    spark.createDataFrame(
      java.util.Collections.singletonList(
        Row(deg.size.toLong, arr.length.toLong, wedges, triangles)),
      StructType(Seq(
        StructField("n_nodes", LongType, nullable = false),
        StructField("n_edges", LongType, nullable = false),
        StructField("n_wedges", LongType, nullable = false),
        StructField("n_triangles", LongType, nullable = false))))
  }
}
