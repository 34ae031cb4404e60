package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VecCols

/** Similarity search over embedding columns (`ArrayType(FloatType)`).
  *
  * Baseline: brute-force cosine top-k (one scan, TakeOrderedAndProject —
  * no global sort). Scale path: random-hyperplane LSH bucketing so the
  * scan only touches the query's bucket(s); planes are generated from a
  * fixed seed so bucketing is deterministic across runs and engines.
  *
  * All vector math uses the native codegen expressions in
  * [[graft.functions]] (FloatVecDot/Cosine/Norm) — a single primitive loop
  * per row inside whole-stage codegen, vs. the interpreted per-element
  * lambda of `zip_with`+`aggregate`.
  */
object Similarity {

  private def litVec(q: Seq[Double]): Column =
    typedlit(q.map(_.toFloat))

  /** dot(embedding, literal query vector) in double precision. */
  def dotWithLit(emb: Column, q: Seq[Double]): Column =
    VecCols.dot(emb, litVec(q))

  /** Cosine similarity against a literal query vector. */
  def cosineWithLit(emb: Column, q: Seq[Double]): Column =
    VecCols.cosine(emb, litVec(q))

  /** Brute-force cosine top-k neighbors of `q` (excluding `excludeId`). */
  def cosineTopK(emb: DataFrame, q: Seq[Double], k: Int,
      excludeId: Long = -1L): DataFrame =
    emb.filter(col("vec_id") =!= excludeId)
      .select(col("vec_id"), col("label"),
        cosineWithLit(col("embedding"), q).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)

  /** Brute-force cosine kNN JOIN: the k nearest corpus vectors for EVERY
    * query in a (small) batch, as (query_id, rank, vec_id) — rank by
    * (cosine desc, vec_id asc), a query's own vector excluded when its id
    * matches a corpus id.
    *
    * Scale shape: the query batch rides the plan as literal structs (a
    * broadcast in spirit — Q·dim constants, no join), each corpus row
    * scores all Q queries inside one codegen'd projection, and per-query
    * ranking happens in [[graft.functions.TopKAgg]] — map-side k-buffers
    * mean the single shuffle carries partitions × Q × k rows, never the
    * scored relation. A window ranker here would funnel every scored row
    * into Q partitions (the classic kNN-join skew); the aggregate keeps
    * the hot path embarrassingly parallel. Q·N score arithmetic is
    * inherent to the brute-force contract; for large Q or N, cut the
    * scored relation first (IVF cells or LSH buckets), then rank the
    * survivors the same way. */
  def knnJoin(emb: DataFrame, queries: Seq[(Long, Seq[Double])], k: Int): DataFrame = {
    require(queries.nonEmpty, "knnJoin needs at least one query")
    val qArr = array(queries.map { case (qid, v) =>
      struct(lit(qid).as("query_id"), litVec(v).as("qv"))
    }: _*)
    emb
      .select(col("vec_id"), col("embedding"), explode(qArr).as("q"))
      .filter(col("vec_id") =!= col("q.query_id"))
      .groupBy(col("q.query_id").as("query_id"))
      .agg(graft.functions.TopKAgg.topk(
        VecCols.cosine(col("embedding"), col("q.qv")), col("vec_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "vec_id")))
      .select(col("query_id"), (col("pos") + 1).cast(IntegerType).as("rank"),
        col("vec_id"))
  }

  /** IVF-bucketed cosine kNN JOIN — the large-Q scale path [[knnJoin]]'s
    * scaladoc promises: instead of scoring every (query, corpus) pair,
    * both sides are assigned to IVF cells (corpus rows to their max-dot
    * cell, each query to its `nProbe` nearest cells) and only same-cell
    * pairs are scored. Queries arrive as a RELATION (query_id BIGINT,
    * qv ARRAY<FLOAT>), not driver-side literals, so Q is unbounded.
    *
    * Output shape matches [[knnJoin]]: (query_id, rank, vec_id), rank by
    * (cosine desc, vec_id asc), self-matches excluded — but results are
    * the exact kNN *within the probed cells* (ANN semantics, like
    * [[ivfTopKWith]] vs [[cosineTopK]]), with the corollary that a query
    * whose probed cells contain no other corpus vector emits NO rows
    * (where brute-force [[knnJoin]] always emits k per query): callers
    * must treat absent query_ids as empty neighbor sets, not errors.
    *
    * Scale shape: probe selection is row-local (centroids are plan
    * constants — nCells × dim floats), so the query side never shuffles to
    * pick cells. With `saltBuckets = 0` (default) the probe relation
    * (Q × nProbe rows) is broadcast — corpus rows never move; each corpus
    * partition scores only the queries probing its rows' cells, and
    * [[graft.functions.TopKAgg]] keeps k-buffers map-side so the one real
    * shuffle carries partitions × Q × k rows.
    *
    * For Q × nProbe too large to broadcast, pass `saltBuckets = S > 0`:
    * the broadcast hint is dropped and the join becomes a shuffle join on
    * the composite key (cell, salt) — each corpus row takes ONE salt
    * (hash(vec_id) mod S) while each probe row is exploded across all S
    * salts, so every (corpus row, probing query) pair still meets exactly
    * once but a hot cell's corpus rows spread over S reducers instead of
    * one. Replication cost is salt-side-bounded: Q × nProbe × S probe rows
    * shuffle, never the corpus (which shuffles once, unreplicated).
    * Results are IDENTICAL to the broadcast path — salting only re-keys
    * the join; candidate membership and ranking don't change. */
  def knnJoinBucketed(emb: DataFrame, queries: DataFrame, k: Int,
      centroids: Seq[Seq[Double]], nProbe: Int,
      saltBuckets: Int = 0): DataFrame = {
    val cells = emb
      .select(col("vec_id"), col("embedding"),
        ivfAssign(col("embedding"), centroids).as("cell"))
    rankSameCell(cells, probeCells(queries, centroids, nProbe), k,
      saltBuckets)
  }

  /** Per-query nProbe nearest cells, computed inside the row: sort
    * struct(-dot, cell) ascending = dot desc with min-cell tiebreak, the
    * same order ivfAssign's array_position-of-max induces for the top-1.
    * Probe selection is row-local — centroids ride the plan as nCells ×
    * dim literals, so the query side never shuffles to pick cells. */
  private def probeCells(queries: DataFrame, centroids: Seq[Seq[Double]],
      nProbe: Int): DataFrame = {
    require(nProbe >= 1 && nProbe <= centroids.size,
      s"nProbe=$nProbe out of [1, ${centroids.size}]")
    val cellDots = array(centroids.zipWithIndex.map { case (c, i) =>
      struct((-VecCols.dot(col("qv"), litVec(c))).as("nd"), lit(i).as("cell"))
    }: _*)
    queries
      .select(col("query_id"), col("qv"),
        explode(slice(array_sort(cellDots), 1, nProbe)).as("p"))
      .select(col("query_id"), col("qv"), col("p.cell").as("cell"))
  }

  /** The same-cell candidate join + map-side top-k ranking shared by the
    * live ([[knnJoinBucketed]]) and index-serving ([[knnJoinFromIndex]])
    * kNN joins — broadcast probes by default, salted shuffle join on
    * (cell, salt) when the probe relation outgrows a broadcast. */
  private def rankSameCell(cells: DataFrame, probes: DataFrame, k: Int,
      saltBuckets: Int): DataFrame = {
    require(saltBuckets >= 0, s"saltBuckets=$saltBuckets must be >= 0")
    val candidates =
      if (saltBuckets == 0) cells.join(broadcast(probes), Seq("cell"))
      else {
        val salted = cells.withColumn("salt",
          pmod(xxhash64(col("vec_id")), lit(saltBuckets)).cast(IntegerType))
        val probesAllSalts = probes.withColumn("salt",
          explode(array((0 until saltBuckets).map(s => lit(s)): _*)))
        salted.join(probesAllSalts, Seq("cell", "salt"))
      }
    candidates
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.topk(
        VecCols.cosine(col("embedding"), col("qv")), col("vec_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "vec_id")))
      .select(col("query_id"), (col("pos") + 1).cast(IntegerType).as("rank"),
        col("vec_id"))
  }

  /** The centroid sidecar of a [[writeIvfIndex]] artifact — nCells × dim
    * doubles, index METADATA (the same driver-held bound as the inline
    * centroid variants). */
  private def indexCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Seq[Double]] =
    spark.read.parquet(s"$path/centroids")
      .orderBy(col("cell")).collect()
      .map(r => r.getSeq[Double](1).toSeq).toSeq

  /** Batch kNN JOIN served FROM a persisted [[writeIvfIndex]] artifact —
    * the production serving shape: an UNBOUNDED query relation probes
    * the index, and the corpus scan is PHYSICALLY pruned to the probed
    * cells. The union of probed cells across all queries is collected
    * first (≤ nCells values — index metadata, not data) and applied as a
    * static partition filter, so the scan plan carries real
    * PartitionFilters (VectorSpec asserts it): at 100 TB the join reads
    * only the probed cell directories, never the corpus, no matter how
    * many queries ride in the batch. Results are identical to
    * [[knnJoinBucketed]] over the live corpus under the same centroids
    * (assignment was computed by the same expression at build time), so
    * the live path's oracle verifies serving verbatim; `saltBuckets`
    * carries the same hot-cell fallback contract. */
  def knnJoinFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, k: Int, nProbe: Int,
      saltBuckets: Int = 0): DataFrame = {
    val centroids = indexCentroids(spark, path)
    // pinned: the probe relation feeds both the probed-cell collect and
    // the serving join — without the checkpoint the query relation is
    // scanned (and its nCells dot products recomputed) twice
    val probes = probeCells(queries, centroids, nProbe).localCheckpoint()
    val probed = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val cells = spark.read.parquet(s"$path/cells")
      .filter(col("cell").isin(probed: _*))
      .select(col("vec_id"), col("embedding"), col("cell"))
    rankSameCell(cells, probes, k, saltBuckets)
  }

  /** Deterministic random hyperplanes: nPlanes × dim gaussians from a
    * seeded PRNG (driver-side constants, folded into the plan). Capped at
    * 63 planes: bucket ids are one bit per plane in a signed Long, and
    * `1L << 64` silently wraps to 1 — planes past 63 would alias earlier
    * bit positions and quietly break the (1−θ/π)^r collision model. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    require(nPlanes >= 1 && nPlanes <= 63,
      s"nPlanes=$nPlanes out of [1, 63]: bucket bits live in a signed Long")
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-of-dot LSH bucket id (one bit per plane). */
  def lshBucket(emb: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dotWithLit(emb, p) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** LSH-bucketed ANN top-k: score only the vectors in the query's bucket.
    * At cluster scale the bucket column would be a partition/bucketing key,
    * making this a single-partition lookup instead of a full scan. */
  def annTopK(emb: DataFrame, q: Seq[Double], k: Int, nPlanes: Int,
      seed: Long, excludeId: Long = -1L): DataFrame = {
    val dim = q.length
    val planes = hyperplanes(nPlanes, dim, seed)
    // mirror the executor arithmetic exactly: litVec casts plane/query
    // values to float32, so the driver-side bucket must too — otherwise a
    // near-zero plane dot can flip sign and the query misses its own bucket
    val qBucket = planes.zipWithIndex.map { case (p, i) =>
      val dot = p.zip(q).map { case (a, b) =>
        a.toFloat.toDouble * b.toFloat.toDouble
      }.sum
      if (dot >= 0) 1L << i else 0L
    }.sum
    emb.withColumn("bucket", lshBucket(col("embedding"), planes))
      .filter(col("bucket") === qBucket && col("vec_id") =!= excludeId)
      .select(col("vec_id"), col("label"),
        cosineWithLit(col("embedding"), q).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** IVF (inverted-file) cell assignment: index of the max-dot centroid.
    * Centroids are a deterministic coarse quantizer (here: the first
    * nCells vectors by id; a k-means refinement drops in without changing
    * the operator). At scale `cell` is the partition/bucket key. */
  def ivfAssign(emb: Column, centroids: Seq[Seq[Double]]): Column = {
    val dots = array(centroids.map(c => dotWithLit(emb, c)): _*)
    (array_position(dots, array_max(dots)) - 1).cast(IntegerType)
  }

  /** First-N coarse quantizer: the first `nCells` vectors by id (the
    * deterministic seed [[kmeansCentroids]] refines). */
  def firstNCentroids(emb: DataFrame, nCells: Int): Seq[Seq[Double]] =
    emb.orderBy(col("vec_id")).limit(nCells)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq

  /** Lloyd's k-means refinement of the first-N seed: `iters` rounds of
    * assign (max-dot cell) → per-cell mean. Each round is ONE scan with a
    * partial-aggregating shuffle of at most nCells×(dim+1) running sums
    * per partition — the shape that holds at 100 TB (centroids live
    * driver-side as nCells×dim doubles; no per-row driver traffic). The
    * per-cell mean is [[graft.functions.CentroidAgg]], folding each
    * vector into a (count, Σ per dim) buffer IN PLACE — the earlier
    * `posexplode` + avg formulation shuffled the same bounded volume but
    * paid a dim× map-side ROW inflation (768× on production embeddings)
    * before the partial agg collapsed it; arithmetic is identical
    * (float→double widening, row-order accumulation — VectorSpec pins
    * centroid parity). An emptied cell keeps its previous centroid. */
  def kmeansCentroids(emb: DataFrame, nCells: Int, iters: Int): Seq[Seq[Double]] =
    kmeansRefine(emb, firstNCentroids(emb, nCells), iters)

  /** Lloyd refinement from EXPLICIT initial centroids — the index
    * maintenance entry ([[reclusterIvfIndex]] re-trains a drifted
    * quantizer starting from its CURRENT centroids, not a fresh seed:
    * warm-started refinement both converges faster and keeps cell
    * identities roughly stable). Same per-round shape and arithmetic
    * as [[kmeansCentroids]]. */
  def kmeansRefine(emb: DataFrame, initial: Seq[Seq[Double]],
      iters: Int): Seq[Seq[Double]] = {
    var centroids = initial
    val dim = centroids.headOption.map(_.length).getOrElse(
      return centroids)
    for (_ <- 0 until iters) {
      val means = emb
        // NULL embeddings drop here, as the exploded formulation dropped
        // them (posexplode of NULL emitted no rows) — without the filter
        // they'd group under a NULL cell and NPE the collect
        .filter(col("embedding").isNotNull)
        .select(ivfAssign(col("embedding"), centroids).as("cell"),
          col("embedding"))
        .groupBy(col("cell"))
        .agg(graft.functions.CentroidAgg.vecMean(col("embedding"), dim)
          .as("m"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq)
        .toMap
      centroids = centroids.indices.map(i => means.getOrElse(i, centroids(i)))
    }
    centroids
  }

  /** IVF ANN top-k over explicit centroids: probe the `nProbe` cells
    * nearest the query and score only those cells' vectors. */
  def ivfTopKWith(emb: DataFrame, q: Seq[Double], k: Int,
      centroids: Seq[Seq[Double]], nProbe: Int,
      excludeId: Long = -1L): DataFrame = {
    // float-cast mirror of ivfAssign's executor arithmetic (see annTopK)
    val qDots = centroids.map(c => c.zip(q).map { case (a, b) =>
      a.toFloat.toDouble * b.toFloat.toDouble
    }.sum)
    val probes = qDots.zipWithIndex.sortBy(-_._1).take(nProbe).map(_._2)
    emb.withColumn("cell", ivfAssign(col("embedding"), centroids))
      .filter(col("cell").isin(probes: _*) && col("vec_id") =!= excludeId)
      .select(col("vec_id"), col("label"),
        cosineWithLit(col("embedding"), q).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** IVF ANN top-k with the first-N quantizer — the coarse-quantization
    * alternative to [[annTopK]]'s hyperplane LSH. */
  def ivfTopK(emb: DataFrame, q: Seq[Double], k: Int, nCells: Int,
      nProbe: Int, excludeId: Long = -1L): DataFrame =
    ivfTopKWith(emb, q, k, firstNCentroids(emb, nCells), nProbe, excludeId)

  /** Persist an IVF index ARTIFACT: the corpus written `partitionBy(cell)`
    * (each coarse cell its own parquet directory) plus a tiny centroid
    * sidecar relation (cell, centroid). This is the q118 persisted-index
    * contract for vectors — assignment is paid ONCE at index build, and a
    * query's nProbe cell filter becomes PHYSICAL partition pruning: the
    * scan touches only the probed cells' files, never the corpus
    * ([[ivfTopKFromIndex]]'s plan shows the cell PartitionFilters,
    * VectorSpec asserts it). At 100 TB this layout is the difference
    * between an ANN query reading ~nProbe/nCells of the corpus and
    * re-scanning all of it per query. */
  def writeIvfIndex(emb: DataFrame, centroids: Seq[Seq[Double]],
      path: String): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.withColumn("cell", ivfAssign(col("embedding"), centroids))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$path/cells")
    centroids.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "centroid")
      .repartition(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** INCREMENTAL index maintenance: append a new vector batch to a
    * [[writeIvfIndex]] artifact under the FROZEN coarse quantizer — the
    * weekly-ingest path of a served ANN index (the q125/q118
    * frozen-artifact discipline, for vectors). The batch is assigned with
    * the centroids read back from the index's own sidecar (never
    * recomputed — a re-fit would silently shift every existing cell) and
    * lands `partitionBy(cell)` in append mode, so existing cell files are
    * untouched and serving sees the union immediately; partition pruning
    * keeps working because the directory layout is the index. */
  def appendToIvfIndex(emb: DataFrame, path: String): Unit = {
    val centroids = indexCentroids(emb.sparkSession, path)
    emb.withColumn("cell", ivfAssign(col("embedding"), centroids))
      .write.partitionBy("cell").mode("append").parquet(s"$path/cells")
  }

  /** INDEX MAINTENANCE: re-train a DRIFTED coarse quantizer.
    * [[appendToIvfIndex]] assigns new batches under frozen centroids —
    * the right serving discipline, but after many appends the corpus
    * distribution walks away from the quantizer and recall at a fixed
    * probe budget degrades SILENTLY (the cells still exist; they're
    * just no longer where the vectors are). This is the paired
    * maintenance op: re-train the centroids over the index's full
    * current contents (Lloyd refinement warm-started from the CURRENT
    * sidecar — [[kmeansRefine]]), then rewrite the cell partitions as a
    * NEW index generation at `outPath`. The old generation stays fully
    * readable at `path` (an immutable artifact — serving flips to the
    * new path when its build completes, the zero-downtime index-swap
    * every ANN serving stack does). Cost: `iters` scans for the
    * re-train + one read-rewrite of the corpus; centroids stay
    * driver-held at nCells×dim. Returns the refined centroids. */
  def reclusterIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, outPath: String, iters: Int): Seq[Seq[Double]] = {
    require(outPath != path,
      "recluster writes a NEW generation — outPath must differ " +
        "(the old generation stays readable for serving until the swap)")
    val current = indexCentroids(spark, path)
    val vecs = spark.read.parquet(s"$path/cells").drop("cell")
    val refined = kmeansRefine(vecs, current, iters)
    writeIvfIndex(vecs, refined, outPath)
    refined
  }

  /** ANN top-k served FROM a [[writeIvfIndex]] artifact: load the
    * centroid sidecar (nCells×dim doubles — index metadata, not data),
    * pick the `nProbe` max-dot cells for the query, and scan ONLY those
    * cell partitions, ranking by exact cosine. Identical results to
    * [[ivfTopKWith]] over the live corpus with the same centroids (the
    * assignment was computed by the same expression at build time) —
    * which is what lets q124 reuse q34's oracle verbatim. */
  def ivfTopKFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      q: Seq[Double], k: Int, nProbe: Int, excludeId: Long = -1L): DataFrame = {
    val centroids = indexCentroids(spark, path)
    val qDots = centroids.map(c => c.zip(q).map { case (a, b) =>
      a.toFloat.toDouble * b.toFloat.toDouble
    }.sum)
    val probes = qDots.zipWithIndex.sortBy(-_._1).take(nProbe).map(_._2)
    spark.read.parquet(s"$path/cells")
      .filter(col("cell").isin(probes: _*) && col("vec_id") =!= excludeId)
      .select(col("vec_id"), col("label"),
        cosineWithLit(col("embedding"), q).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** SEMANTIC decontamination against a persisted [[writeIvfIndex]]
    * train-split index: every eval vector whose cosine to some indexed
    * train vector reaches `threshold` — the embedding-space counterpart
    * of the shingle-overlap decontamination (q63/q88), catching
    * benchmark leakage that paraphrasing hides from lexical overlap.
    *
    * Shape: probe selection is row-local (the centroid sidecar rides the
    * plan as nCells×dim literals — index metadata), each eval row
    * explodes to its `nProbe` max-dot cells, and candidates come from an
    * EQUI-join on `cell` against the indexed corpus — cell-bucketed
    * shuffle keys, never a cartesian. Every candidate is then verified
    * with the EXACT cosine, so output pairs are true contamination; the
    * probe count only governs recall. `nProbe = nCells` degenerates to
    * exhaustive coverage — the exact contamination relation computed
    * with the SAME join plan, which is what lets a caller pin the
    * low-probe recall in-band (the q119 discipline) without any
    * all-pairs operator existing. A train vector lives in exactly one
    * cell and an eval row probes distinct cells, so each pair meets at
    * most once — no dedup stage. Returns (eval_id, train_id). */
  def contaminationFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, evalDf: DataFrame, threshold: Double,
      nProbe: Int): DataFrame = {
    val centroids = indexCentroids(spark, path)
    require(nProbe >= 1 && nProbe <= centroids.size,
      s"nProbe=$nProbe out of [1, ${centroids.size}]")
    // nProbe nearest cells per row: sort struct(-dot, cell) ascending =
    // dot desc with min-cell tiebreak — the knnJoinBucketed idiom, and
    // the same order ivfAssign's position-of-max induces for the top-1
    val cellDots = array(centroids.zipWithIndex.map { case (c, i) =>
      struct((-dotWithLit(col("embedding"), c)).as("nd"),
        lit(i).as("cell"))
    }: _*)
    val ev = evalDf.select(col("vec_id").as("eval_id"),
        col("embedding").as("ev"),
        explode(slice(array_sort(cellDots), 1, nProbe)).as("p"))
      .select(col("eval_id"), col("ev"), col("p.cell").as("cell"))
    spark.read.parquet(s"$path/cells")
      .select(col("vec_id").as("train_id"), col("embedding").as("tv"),
        col("cell"))
      .join(ev, Seq("cell"))
      .filter(VecCols.cosine(col("ev"), col("tv")) >= threshold)
      .select(col("eval_id"), col("train_id"))
  }

  /** The SQ8 codebook scalar: the largest |coordinate| of any
    * L2-NORMALIZED corpus vector. Symmetric (zero-preserving) quantization
    * of normalized vectors is what makes an integer code dot approximate
    * COSINE rank-preservingly — an offset (min/max) quantizer's shift term
    * dominates the dot and destroys the ranking (measured recall 0/10 on
    * this corpus), and per-dim scales reweight dims inside the dot. One
    * global scalar has neither distortion: code dot ≈ (127/S)²·cosine.
    * Driver-side cost: one scan-aggregate returning a double (at scale:
    * index-build metadata, not query work). Zero-norm degenerate case:
    * excluded from the scale here, and [[sq8Codes]] gives such vectors
    * ALL-ZERO codes explicitly (double 0/0 is IEEE NaN, and what NaN
    * rounds/casts to differs by engine — the explicit branch is what keeps
    * the oracle portable). An all-zero code vector scores candidate dot
    * 0.0, and if it reaches the exact re-rank, FloatVecCosine's zero-norm
    * branch scores it 0.0 there too — any positive-cosine vector outranks
    * it. */
  def sq8Scale(emb: DataFrame): Double = {
    val row = emb.select((array_max(transform(col("embedding"),
        v => abs(v.cast(DoubleType)))) / VecCols.norm(col("embedding"))).as("m"))
      .filter(!isnan(col("m")))
      .agg(max(col("m"))).head()
    require(!row.isNullAt(0),
      "sq8Scale: corpus has no vectors with a nonzero norm to calibrate on")
    row.getDouble(0)
  }

  /** Symmetric SQ8 codes of a normalized vector: code_i =
    * round(v_i / ‖v‖ · 127 / S) ∈ [−127, 127]. The arithmetic is the same
    * op sequence (div, mul, div, half-away-from-zero round) in every
    * engine, so an oracle reproduces the codes; the only cross-engine
    * drift source is ‖v‖'s summation order, ~1 ulp, which flips a code
    * only if the rounding argument sits within ~1e-14 of a .5 boundary —
    * the q33 micro-rounding class of accepted risk. `nm` is the
    * precomputed norm column (projected once, not recomputed per
    * element). */
  def sq8Codes(emb: Column, nm: Column, scale: Double): Column =
    transform(emb, v =>
      when(nm === 0.0, lit(0))
        .otherwise(round(v.cast(DoubleType) / nm * lit(127.0) / lit(scale))
          .cast(IntegerType)))

  /** Driver-side mirror of [[sq8Codes]] for the query vector: identical
    * op sequence, and BigDecimal HALF_UP to match Spark's `Round`
    * (math.round's floor(x+0.5) diverges on boundary-adjacent doubles and
    * rounds negatives toward +∞ instead of away from zero). */
  def sq8QuantizeVec(q: Seq[Double], scale: Double): Seq[Int] = {
    var nm = 0.0
    q.foreach(x => nm += x * x) // sequential, like the codegen norm
    val n = math.sqrt(nm)
    if (n == 0.0) q.map(_ => 0) // mirror sq8Codes' zero-norm branch
    else q.map(x => java.math.BigDecimal.valueOf(x / n * 127.0 / scale)
      .setScale(0, java.math.RoundingMode.HALF_UP).intValue)
  }

  /** Scalar-quantized (SQ8) ANN with exact re-rank: score every corpus
    * vector by the INTEGER dot of its int8 codes against the query's
    * codes — 4× smaller reads than float32, and the integer dot is exact,
    * so the candidate ranking carries no float drift — keep the top
    * `rerank` candidates (TakeOrderedAndProject, no global sort), then
    * rank those few by exact cosine over the original embeddings. The
    * classic SQ8 shape: quantization error only matters if it reorders
    * across the rerank boundary.
    *
    * Codes ≤ 127 are exact in float32, so the existing codegen
    * [[graft.functions.VecCols]] dot serves as the integer-dot engine
    * (products ≤ 16129, sums ≪ 2^53 — every intermediate exact). */
  def quantizedTopK(emb: DataFrame, q: Seq[Double], k: Int,
      scale: Double, rerank: Int, excludeId: Long = -1L): DataFrame = {
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    val qCodes = sq8QuantizeVec(q, scale).map(_.toDouble)
    val cand = emb.filter(col("vec_id") =!= excludeId)
      .select(col("vec_id"), col("label"), col("embedding"),
        VecCols.norm(col("embedding")).as("nm"))
      .select(col("vec_id"), col("label"), col("embedding"),
        VecCols.dot(
          VecCols.sq8Codes(col("embedding"), col("nm"), scale),
          litVec(qCodes)).as("qdot"))
      .orderBy(col("qdot").desc, col("vec_id"))
      .limit(rerank)
    cand.select(col("vec_id"), col("label"),
        cosineWithLit(col("embedding"), q).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Product-quantization (PQ) ANN with exact re-rank: the vector is cut
    * into `m` subvectors, each encoded as the id of its nearest codebook
    * centroid (L2, smallest-id tie-break), and candidate ranking scores a
    * vector by the ADC (asymmetric distance computation) sum — per
    * subspace, a precomputed table lookup of dot(query subvector,
    * centroid) — so the scan reads m×log₂(kCent) BITS of code per vector
    * instead of dim floats, the memory-bound regime's answer when even
    * SQ8's 4× cut is too wide. The top `rerank` ADC candidates re-rank by
    * exact cosine over the original embeddings (the [[quantizedTopK]]
    * shape: quantization error only matters if it reorders across the
    * rerank boundary).
    *
    * Deterministic codebook for verifiability: subspace centroids are the
    * subvectors of the `kCent` smallest-id corpus vectors
    * ([[firstNCentroids]] — q34's coarse-quantizer contract; swap in
    * per-subspace k-means offline for recall, the plan is unchanged).
    * Encoding distances run per row over literal centroid arrays
    * (`zip_with`+`aggregate` on m·kCent 8-dim folds; at these SFs the
    * interpreted lambda is immaterial — the codegen route is the
    * |c|²−2·dot expansion over [[graft.functions.VecCols]] if a profile
    * ever says otherwise). Driver state is the codebook + ADC tables:
    * O(kCent·dim + m·kCent) constants, the index-artifact contract. */
  /** PQ codes (ARRAY<INT>, one element per subspace) for `embedding`
    * over an explicit codebook — shared by the live [[pqTopK]] and the
    * index build ([[writeIvfPqIndex]]), so stored codes are
    * byte-identical to on-the-fly encoding. One native codegen pass
    * ([[graft.functions.PqEncode]]): the previous `slice`+`zip_with`+
    * `aggregate` formulation evaluated m×kCent interpreted lambdas per
    * row and was ~2/3 of the PQ chain's profiled wall time; arithmetic
    * and the smallest-j tie-break are identical. */
  private def pqCodesCol(cents: Seq[Seq[Double]], m: Int): Column =
    graft.functions.VecCols.pqEncode(col("embedding"), cents, m)

  /** ADC tables: t(s)(j) = dot(query subvector s, centroid j's
    * subvector s), float-cast elements, sequential double fold — the
    * same arithmetic the litVec/zip_with path performs per row. */
  private def pqAdcTables(q: Seq[Double], cents: Seq[Seq[Double]],
      m: Int, sub: Int): Seq[Seq[Double]] =
    (0 until m).map { s =>
      cents.map { c =>
        var acc = 0.0
        var i = s * sub
        while (i < (s + 1) * sub) {
          acc += q(i).toFloat.toDouble * c(i).toFloat.toDouble
          i += 1
        }
        acc
      }
    }

  def pqTopK(emb: DataFrame, q: Seq[Double], k: Int, m: Int = 8,
      kCent: Int = 16, rerank: Int = 40, excludeId: Long = -1L): DataFrame = {
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    val dim = q.length
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    val sub = dim / m
    // codebook: float32 values, as the executors will see them
    val cents: Seq[Seq[Double]] = firstNCentroids(emb, kCent)
    require(cents.nonEmpty && cents.head.length == dim,
      s"codebook dim ${cents.headOption.map(_.length)} != $dim")
    val tables = pqAdcTables(q, cents, m, sub)
    val adc = (0 until m).map { s =>
      element_at(lit(tables(s).toArray), element_at(col("_codes"), s + 1) + 1)
    }.reduce(_ + _)
    val cand = emb.filter(col("vec_id") =!= excludeId)
      .select(col("vec_id"), col("label"), col("embedding"),
        pqCodesCol(cents, m).as("_codes"))
      .withColumn("_adc", adc)
      .orderBy(col("_adc").desc, col("vec_id"))
      .limit(rerank)
    cand.select(col("vec_id"), col("label"),
        cosineWithLit(col("embedding"), q).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** IVF-PQ COMPOSED index: the [[writeIvfIndex]] layout (corpus
    * `partitionBy(cell)` + centroid sidecar) with PRODUCT-QUANTIZED
    * codes stored per row — the serving shape real ANN stacks run
    * (FAISS's IVFPQ): the candidate scan reads m small INTEGER codes
    * per vector instead of dim floats, and parquet's columnar layout
    * makes that physical (the ADC projection touches only the `codes`
    * column's bytes; the float embeddings live in the same rows but
    * their column chunks are never read until the exact re-rank wants
    * the few candidates). Codes are encoded AT BUILD TIME with the
    * exact [[pqTopK]] expression over the deterministic first-`kCent`
    * codebook, stored alongside in a `codebook` sidecar (with `m`) so
    * serving never re-derives them. At 100 TB: a query reads
    * ~nProbe/nCells of the corpus's CODE bytes (m×4 per vector here;
    * a production int8/bit-packed layout shrinks further without
    * changing the plan) plus `rerank` embeddings — versus nProbe/
    * nCells of full float vectors for plain IVF. */
  def writeIvfPqIndex(emb: DataFrame, centroids: Seq[Seq[Double]],
      path: String, m: Int = 8, kCent: Int = 16): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val dim = probeDim(emb).getOrElse(throw new IllegalArgumentException(
      "writeIvfPqIndex: empty corpus — nothing to index"))
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    val cents = firstNCentroids(emb, kCent)
    emb
      .withColumn("codes", pqCodesCol(cents, m))
      .withColumn("cell", ivfAssign(col("embedding"), centroids))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$path/cells")
    centroids.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "centroid")
      .repartition(1).write.mode("overwrite").parquet(s"$path/centroids")
    cents.zipWithIndex.map { case (c, j) => (j, c, m) }
      .toDF("j", "centroid", "m")
      .repartition(1).write.mode("overwrite").parquet(s"$path/codebook")
  }

  /** ANN served from a [[writeIvfPqIndex]] artifact: probe the
    * `nProbe` max-dot cells (physical partition pruning, as
    * [[ivfTopKFromIndex]]), rank candidates by the ADC sum over the
    * STORED codes (the scan projects only `(vec_id, codes)` — the
    * byte-bound phase), keep the top `rerank`, then re-rank those few
    * by exact cosine over the original embeddings (a broadcast
    * semi-join of ≤ rerank ids back into the pruned cells — only the
    * candidates' embedding bytes are read). Results equal [[pqTopK]]
    * restricted to the probed cells — the candidate set is the same
    * ADC order over the same stored-at-build codes — which is what
    * lets the declared query's oracle compose q34's cell chain with
    * q116's PQ chain verbatim. */
  def ivfPqTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, q: Seq[Double], k: Int, nProbe: Int,
      rerank: Int = 40, excludeId: Long = -1L): DataFrame = {
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    val centroids = indexCentroids(spark, path)
    val qDots = centroids.map(c => c.zip(q).map { case (a, b) =>
      a.toFloat.toDouble * b.toFloat.toDouble
    }.sum)
    val probes = qDots.zipWithIndex.sortBy(-_._1).take(nProbe).map(_._2)
    val cbRows = spark.read.parquet(s"$path/codebook")
      .orderBy(col("j")).collect()
    val cents = cbRows.map(_.getSeq[Double](1).toSeq).toSeq
    val m = cbRows.head.getInt(2)
    val dim = q.length
    require(dim % m == 0, s"dim=$dim not divisible by indexed m=$m")
    val tables = pqAdcTables(q, cents, m, dim / m)
    val adc = (0 until m).map { s =>
      element_at(lit(tables(s).toArray),
        element_at(col("codes"), s + 1) + 1)
    }.reduce(_ + _)
    val cells = spark.read.parquet(s"$path/cells")
      .filter(col("cell").isin(probes: _*))
    val cand = cells
      .filter(col("vec_id") =!= excludeId)
      .select(col("vec_id"), adc.as("_adc")) // codes-column bytes only
      .orderBy(col("_adc").desc, col("vec_id"))
      .limit(rerank)
    cells
      .join(broadcast(cand.select(col("vec_id"))), Seq("vec_id"))
      .select(col("vec_id"), col("label"),
        cosineWithLit(col("embedding"), q).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Multi-table (OR-amplified) hyperplane-LSH near-duplicate pairs: L
    * independent tables of r planes each. Candidates are pairs sharing ANY
    * table's bucket; exact cosine then verifies against the threshold.
    *
    * This is the scale shape [[cosineNearDupPairs]] lacks: r planes give
    * 2^r buckets per table, so the within-bucket self-join touches
    * ~L·n²/2^r pairs instead of n²/2^nPlanes — r=8, L=6 is 64× fewer
    * candidate pairs than a single 3-plane table, while OR-ing L tables
    * keeps recall high in the near-dup regime (collision prob per table
    * (1−θ/π)^r, amplified to 1−(1−p)^L). At cluster scale (table, bucket)
    * is the shuffle key and bucket population stays bounded. */
  /** One Spark job probing the corpus' vector dimension; None on an empty
    * corpus (shared by both near-dup variants). */
  private def probeDim(emb: DataFrame): Option[Int] =
    emb.select(col("embedding")).head(1).headOption
      .map(_.getSeq[Float](0).length)

  /** The empty-corpus degenerate result: an empty (vec_a, vec_b, cosine)
    * relation with the right schema. */
  private def emptyPairs(emb: DataFrame): DataFrame =
    emb.limit(0).select(col("vec_id").as("vec_a"),
      col("vec_id").as("vec_b"), lit(0.0).as("cosine"))

  def cosineNearDupPairsBanded(emb: DataFrame, planesPerTable: Int,
      nTables: Int, seed: Long, threshold: Double,
      dimHint: Option[Int] = None): DataFrame = {
    // dimHint skips the dimension-probe job when the caller already knows
    // the corpus dimensionality (static table metadata, e.g. a memoized
    // query-vector fetch) — one fewer driver job per invocation
    val dim = dimHint.orElse(probeDim(emb)).getOrElse(return emptyPairs(emb))
    val tables = (0 until nTables).map { t =>
      val planes = hyperplanes(planesPerTable, dim, seed + t)
      struct(lit(t).as("tbl"), lshBucket(col("embedding"), planes).as("bucket"))
    }
    // bucket relation only carries (vec_id, tbl, bucket): the embeddings
    // are NOT exploded L× — they re-join once per verified candidate
    val buckets = emb
      .select(col("vec_id"), explode(array(tables: _*)).as("tb"))
      .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val cand = buckets.as("a").join(buckets.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val e = emb.select(col("vec_id"), col("embedding"))
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        VecCols.cosine(col("ea"), col("eb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Embedding-cosine near-duplicate pairs via LSH buckets: only pairs in
    * the same bucket are scored (bucket-equi-join, never the full cross
    * product), then thresholded on exact cosine. */
  def cosineNearDupPairs(emb: DataFrame, nPlanes: Int, seed: Long,
      threshold: Double): DataFrame = {
    val dim = probeDim(emb).getOrElse(return emptyPairs(emb))
    val planes = hyperplanes(nPlanes, dim, seed)
    val b = emb.select(col("vec_id"), col("embedding"),
      lshBucket(col("embedding"), planes).as("bucket"))
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        VecCols.cosine(col("a.embedding"), col("b.embedding")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
