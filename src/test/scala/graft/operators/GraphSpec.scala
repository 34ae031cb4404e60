package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Triangle-statistics invariants: hand-counted motifs, equivalence of
  * the degree-oriented count with the naive three-way join, and input
  * canonicalization. */
class GraphSpec extends SparkSpec {

  import spark.implicits._

  private def stats(edges: Seq[(Long, Long)]) =
    Graph.triangleStats(edges.toDF("a", "b")).collect().head

  test("K4: 4 triangles, 12 wedges, 6 edges, 4 nodes") {
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val r = stats(k4)
    assert((r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges"),
      r.getAs[Long]("n_wedges"), r.getAs[Long]("n_triangles"))
      === ((4L, 6L, 12L, 4L)))
  }

  test("path graph has wedges but no triangles; reversed/duplicate edges canonicalize") {
    val r = stats(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    assert(r.getAs[Long]("n_triangles") === 0L)
    assert(r.getAs[Long]("n_wedges") === 2L)
    // same graph, messy input: reversed orientation + duplicates
    val messy = stats(Seq((2L, 1L), (1L, 2L), (3L, 2L), (4L, 3L), (3L, 4L)))
    assert(messy === r)
  }

  test("edgeless graph reports zero counts, not NULLs") {
    val r = Graph.triangleStats(
      Seq.empty[(Long, Long)].toDF("a", "b")).collect().head
    assert((r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges"),
      r.getAs[Long]("n_wedges"), r.getAs[Long]("n_triangles"))
      === ((0L, 0L, 0L, 0L)))
    assert((0 until 4).forall(!r.isNullAt(_)))
  }

  test("driver-local fast path ≡ the distributed oriented join, row-identical") {
    var s = 987654321L
    def next(): Long = { s = (s * 6364136223846793005L + 1442695040888963407L) >>> 1; s }
    val edges = (1 to 600).map { _ =>
      val a = next() % 60; val b = next() % 60; (a, b)
    }.filter { case (a, b) => a != b }
    // the empty edge set too: cap 0 never takes the fast path, not even
    // for 0 edges
    for (g <- Seq(edges, Seq.empty[(Long, Long)])) {
      val df = g.toDF("a", "b")
      val local = Graph.triangleStats(df).collect().head // default limit: local
      spark.conf.set("spark.graft.graph.localEdgeLimit", 0L)
      try {
        val dist = Graph.triangleStats(df).collect().head
        assert(local === dist)
      } finally spark.conf.unset("spark.graft.graph.localEdgeLimit")
    }
  }

  test("pseudo-random graph: oriented count equals the naive 3-join count") {
    // deterministic LCG edge set — skewed enough to exercise orientation
    var s = 12345L
    def next(): Long = { s = (s * 1103515245L + 12345L) % 2147483648L; s }
    val edges = (1 to 400).map { _ =>
      val a = next() % 40; val b = next() % 40; (a, b)
    }.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val r = stats(edges)
    val canon = edges.toSet
    val naive = (for {
      (x, y) <- edges; z <- 0L until 40L
      if y < z && canon.contains((y, z)) && canon.contains((x, z))
    } yield (x, y, z)).size.toLong
    assert(r.getAs[Long]("n_triangles") === naive)
    assert(r.getAs[Long]("n_edges") === edges.size.toLong)
  }
}
