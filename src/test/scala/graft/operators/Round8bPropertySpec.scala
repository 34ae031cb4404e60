package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Property coverage for the round-8 continuation operators: partition
  * stability, window-formulation parity, random-batch versioned-upsert
  * equivalence, and nearest-rank bucket-size bounds. */
class Round8bPropertySpec extends SparkSpec {

  import spark.implicits._

  private def lcg(seed: Long): Iterator[Long] =
    Iterator.iterate(seed)(s => (s * 6364136223846793005L + 1442695040888963407L))
      .map(s => (s >>> 17) & 0x7fffffffL)

  test("weightedSample equals the window formulation and is partition-stable") {
    val docs = Tables.load(spark, sf, "documents")
    def viaOp(df: org.apache.spark.sql.DataFrame) =
      Sampling.weightedSample(df, col("source"), col("doc_id"), col("text"),
        col("n_chars"), n = 5)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val got = viaOp(docs)
    // the straightforward window formulation over the same priority key
    val u = (Sampling.orderKey53(col("text")) + lit(0.5)) /
      lit(4503599627370496.0)
    val key = round((lit(-1.0) * log(u)) / col("n_chars") * lit(1e9))
      .cast("long")
    val ref = docs.filter(col("text").isNotNull && col("n_chars") > 0)
      .select(col("source"), col("doc_id"), key.as("k"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("k"), col("doc_id"))))
      .filter(col("rk") <= 5)
      .collect().map(r => (r.getString(0), r.getInt(3), r.getLong(1))).toSet
    assert(got === ref)
    assert(viaOp(docs.repartition(17)) === got)
  }

  test("rrfFuse is invariant to input list row order and partitioning") {
    val rng = lcg(42L)
    val a = (1L to 40L).map(i => (i, (rng.next() % 40 + 1).toInt)).distinct
      .groupBy(_._2).map(_._2.head).toSeq // unique ranks
      .map { case (id, r) => (id, r) }
    val b = (10L to 50L).map(i => (i, (rng.next() % 40 + 1).toInt)).distinct
      .groupBy(_._2).map(_._2.head).toSeq
    def run(shuffleSeed: Long): Seq[(Long, Int)] = {
      val r = new scala.util.Random(shuffleSeed)
      val la = r.shuffle(a).toDF("id", "rank").repartition(7)
      val lb = r.shuffle(b).toDF("id", "rank").repartition(3)
      Retrieval.rrfFuse(Seq("x" -> la, "y" -> lb), k = 15)
        .collect().map(r2 => r2.getAs[Long]("id") -> r2.getAs[Int]("rank"))
        .toSeq.sorted
    }
    assert(run(1L) === run(99L))
  }

  test("TimeTravel.upsert equals the in-memory reference merge on random batches") {
    val rng = lcg(7L)
    val base = (1L to 60L).map(i => (i, s"p${i % 5}", rng.next().toDouble))
    val dir = tmpDir("prop-merge")
    TimeTravel.init(spark, dir, base.toDF("id", "part", "v"), "part")
    var expected = base.map { case (i, p, v) => i -> ((p, v)) }.toMap
    for (round <- 1 to 3) {
      val ups = (1 to 12).map { _ =>
        val id = rng.next() % 80 + 1 // some new, some existing
        (id, s"p${rng.next() % 5}", rng.next().toDouble)
      }.groupBy(_._1).map(_._2.head).toSeq // unique keys per batch
      val got = TimeTravel.readVersion(spark, dir, TimeTravel.upsert(spark,
          dir, ups.toDF("id", "part", "v"), "id", "part"))
        .collect().map(r => r.getAs[Long]("id") ->
          ((r.getAs[String]("part"), r.getAs[Double]("v"))))
      expected = expected ++ ups.map { case (i, p, v) => i -> ((p, v)) }
      assert(got.toMap === expected, s"round $round")
      assert(got.length === expected.size, s"round $round: stale copies")
    }
  }

  test("bucketByGlobalQuantiles: distinct values split into near-even buckets") {
    for (seed <- Seq(3L, 11L); n <- Seq(37, 64, 101); k <- Seq(4, 8)) {
      val vals = lcg(seed).map(_ % 100000L).distinct.take(n).toSeq
      val out = Quantiles.bucketByGlobalQuantiles(vals.toDF("v"), "v", k)
        .collect().map(r => r.getAs[Long]("v") -> r.getAs[Int]("bucket"))
      val sizes = out.groupBy(_._2).view.mapValues(_.length).toMap
      assert(sizes.keySet === (1 to k).toSet, s"seed=$seed n=$n k=$k")
      assert(sizes.values.max - sizes.values.min <= 1,
        s"seed=$seed n=$n k=$k sizes=$sizes")
      // bucket assignment must be monotone in the value
      val byVal = out.sortBy(_._1).map(_._2)
      assert(byVal.sameElements(byVal.sorted), s"seed=$seed n=$n k=$k")
    }
  }
}
