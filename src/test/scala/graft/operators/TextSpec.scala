package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.queries.TextQueries

/** Unit semantics for text analysis + dedup operators. */
class TextSpec extends SparkSpec {

  import spark.implicits._

  test("shingles3: 1-based windows; fewer than 3 tokens gives empty, not error") {
    val df = Seq("a b c d", "a b", "  x   y z  ").toDF("text")
      .select(TextAnalysis.shingles3(TextAnalysis.tokens(col("text"))).as("sh"))
    val got = df.collect().map(_.getSeq[String](0))
    assert(got(0) === Seq("a b c", "b c d"))
    assert(got(1) === Seq.empty)
    assert(got(2) === Seq("x y z")) // trim + \s+ collapse
  }

  test("wordOccurrences counts exact tokens incl. edges and adjacent markers") {
    val df = Seq("the cat the dog", "theory of the", "nothing here",
      "the the the").toDF("text")
      .select(TextAnalysis.wordOccurrences(col("text"), "the").as("c"))
    assert(df.collect().map(_.getInt(0)).toSeq === Seq(2, 1, 0, 3))
  }

  test("langGuess: highest marker count wins, precedence breaks ties, und on none") {
    val df = Seq(
      "the cat sat on the mat",     // en
      "der hund und der vogel",     // de
      "xyz qrs",                    // und
      "the der"                     // tie -> en (precedence)
    ).toDF("text").select(TextAnalysis.langGuess(col("text")).as("g"))
    assert(df.collect().map(_.getString(0)).toSeq === Seq("en", "de", "und", "en"))
  }

  test("duplicateSpans: shared passages found per occurrence, unique text silent") {
    val passage = (1 to 25).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $passage gamma"),
      (2L, s"$passage delta epsilon zeta"),
      (3L, "entirely unrelated words " + (1 to 30).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(docs, span = 20).collect()
    // doc 3 shares nothing: never reported
    assert(!got.exists(_.getLong(0) === 3L))
    // the 25-token shared passage has 6 distinct 20-token windows, each in
    // both docs: every reported row counts exactly 2 occurrences
    assert(got.nonEmpty && got.forall(_.getAs[Long]("n_occurrences") === 2L))
    val byDoc = got.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(byDoc(1L) === byDoc(2L)) // symmetric occurrence counts
    // doc 1's shared windows start after its 2-token prefix
    assert(got.filter(_.getLong(0) === 1L).map(_.getAs[Int]("start_tok")).min === 3)
  }

  test("scrubPii: emails and phone runs become typed placeholders, rest intact") {
    val rows = Seq(
      "mail me at a.b+c@sub.example.org today",
      "call +1-555-010-7788 or 555-010-7788 now",
      "no pii here, just 2021 and a dash-word",
      "u1@x.io and u2@y.co, then +44-20-7946-0958")
      .toDF("text")
      .select(TextAnalysis.scrubPii(col("text")).as("s"))
      .collect().map(_.getString(0))
    assert(rows(0) === "mail me at <EMAIL> today")
    assert(rows(1) === "call <PHONE> or <PHONE> now")
    // short digit runs (2021) survive; dash-word untouched
    assert(rows(2) === "no pii here, just 2021 and a dash-word")
    assert(rows(3) === "<EMAIL> and <EMAIL>, then <PHONE>")
  }

  test("exact dedup groups cover the corpus exactly once") {
    val docs = Tables.load(spark, sf, "documents")
    val groups = Dedup.exactGroups(docs).collect()
    assert(groups.map(_.getAs[Long]("n_copies")).sum === docs.count())
  }

  test("prefix-filtered Jaccard equals the naive inverted-index join exactly") {
    val docs = Tables.load(spark, sf, "documents")
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        math.round(r.getAs[Double]("jaccard") * 1e9))).toSet
    assert(pairs(Dedup.jaccardPairsPrefix(docs, 0.5)) ===
      pairs(Dedup.jaccardPairs(docs, 0.5)))
    // a lower threshold exercises longer prefixes
    assert(pairs(Dedup.jaccardPairsPrefix(docs, 0.3)) ===
      pairs(Dedup.jaccardPairs(docs, 0.3)))
    // the hash-ordered prefix path must be exactly as lossless: the
    // pigeonhole argument holds for ANY fixed total order
    assert(pairs(Dedup.jaccardPairsPrefixHash(docs, 0.5)) ===
      pairs(Dedup.jaccardPairs(docs, 0.5)))
    assert(pairs(Dedup.jaccardPairsPrefixHash(docs, 0.3)) ===
      pairs(Dedup.jaccardPairs(docs, 0.3)))
  }

  test("df-capped Jaccard: exact values, recall contract, no-op at high cap") {
    import spark.implicits._
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        math.round(r.getAs[Double]("jaccard") * 1e9))).toSet
    // "a b c" is hot (4 docs); docs 0/1 share ONLY it; docs 4/5 share rare
    // shingles and are near-identical
    val docs = Seq(
      (0L, "a b c p q r"),
      (1L, "a b c x y z"),
      (2L, "a b c m n o"),
      (3L, "a b c u v w"),
      (4L, "k l m n k l m"),
      (5L, "k l m n k l j")).toDF("doc_id", "text")
    val naive = pairs(Dedup.jaccardPairs(docs, 0.1))
    val capped = pairs(Dedup.jaccardPairsCapped(docs, 0.1, maxDf = 3L))
    // reported pairs are exact (a subset of naive, same jaccard values)
    assert(capped.subsetOf(naive))
    // missed iff every shared shingle is hot: 0-1 share only "a b c"
    assert(naive.exists { case (a, b, _) => a == 0L && b == 1L })
    assert(!capped.exists { case (a, b, _) => a == 0L && b == 1L })
    // found when at least one shared shingle is rare: 4-5 survive
    assert(capped.exists { case (a, b, _) => a == 4L && b == 5L })
    // a cap above every df is a no-op: identical to the naive join
    assert(pairs(Dedup.jaccardPairsCapped(docs, 0.1, maxDf = 1000L)) === naive)
    // and on the real corpus too
    val corpus = Tables.load(spark, sf, "documents")
    assert(pairs(Dedup.jaccardPairsCapped(corpus, 0.5, maxDf = 100000L)) ===
      pairs(Dedup.jaccardPairs(corpus, 0.5)))
  }

  test("minhash-LSH near-dups (q27) find the same pairs as exact Jaccard (q26)") {
    val exact = TextQueries.q26.run(spark, sf).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = TextQueries.q27.run(spark, sf).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH candidates are Jaccard-verified, so lsh ⊆ exact always; at these
    // banding parameters recall on this corpus is total
    assert(lsh.subsetOf(exact))
    assert(lsh === exact)
  }

  test("incremental minhash dedup against a persisted index equals the " +
      "batch operator filtered to pairs touching the new batch") {
    val docs = Tables.load(spark, sf, "documents")
    val idxPath = tmpDir("graft-mh-index")
    Dedup.writeMinHashIndex(docs.filter(col("doc_id") % 2 === 0), k = 32,
      path = idxPath)
    val idx = spark.read.parquet(idxPath)
    // the index carries everything verification needs
    assert(idx.columns.toSet === Set("doc_id", "sig", "shingles", "n_shingles"))
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        math.round(r.getAs[Double]("jaccard") * 1e9))).toSet
    val inc = pairs(Dedup.minHashNearDupsIncremental(
      docs.filter(col("doc_id") % 2 =!= 0), idx,
      k = 32, rowsPerBand = 4, threshold = 0.5))
    val full = pairs(Dedup.minHashNearDups(docs, k = 32, rowsPerBand = 4,
      threshold = 0.5)).filter { case (a, b, _) => a % 2 == 1 || b % 2 == 1 }
    assert(inc === full)
    // indexed-vs-indexed pairs (batch 1's own report) never re-emit
    assert(!inc.exists { case (a, b, _) => a % 2 == 0 && b % 2 == 0 })
    // append cadence: adding batch 2 to the index leaves a batch-3 run
    // with nothing new to report against an unchanged corpus
    Dedup.writeMinHashIndex(docs.filter(col("doc_id") % 2 =!= 0), k = 32,
      path = idxPath, mode = "append")
    val idx2 = spark.read.parquet(idxPath)
    assert(idx2.count() === docs.count())
    assert(Dedup.minHashNearDupsIncremental(docs.limit(0), idx2,
      k = 32, rowsPerBand = 4, threshold = 0.5).count() === 0L)
  }

  test("row-local minhash signature equals the one-pass aggregate, and " +
      "the streaming gate equals its batch cross-pair result") {
    val docs = Tables.load(spark, sf, "documents")
    // signature identity: same xxhash64(seed=i) family, bit-for-bit
    val viaAgg = Dedup.minHashSignatures(docs, k = 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaCol = Dedup.docSetsLocal(docs).filter(col("n_shingles") > 0)
      .select(col("doc_id"),
        Dedup.minHashSignatureCol(col("shingles"), 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaCol === viaAgg)
    // the native one-pass expression is bit-identical to the k-pass
    // compositional transform+array_min formulation it replaced
    val viaComp = Dedup.docSetsLocal(docs).filter(col("n_shingles") > 0)
      .select(col("doc_id"),
        Dedup.minHashSignatureColCompositional(col("shingles"), 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaCol === viaComp)
    // native sorted-shingle builder equals the compositional chain it
    // replaced, element for element — on real docs AND edge strings
    // (empty, <3 tokens, leading tab keeping its empty token, repeats)
    import spark.implicits._
    val edge = Seq("", "one two", "\ta b c", "x y z x y z x y z",
      "  padded   out  ", "solo").toDF("text")
      .withColumn("doc_id", monotonically_increasing_id())
    val both = docs.select(col("doc_id"), col("text")).unionByName(edge)
    val viaNative = both.select(col("doc_id"),
        graft.functions.SetCols.sortedShingles3(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val viaChain = both
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), array_sort(array_distinct(
        TextAnalysis.shingles3(col("toks")))).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(viaNative === viaChain)
    // gate parity on a BATCH frame (the transform is engine-agnostic):
    // equals the incremental operator's cross pairs at the same params
    val idxPath = tmpDir("graft-gate-idx")
    Dedup.writeMinHashIndex(docs.filter(col("doc_id") % 2 === 0), k = 32,
      path = idxPath)
    val idx = spark.read.parquet(idxPath)
    val gate = Dedup.streamNearDupGate(
        docs.filter(col("doc_id") % 2 =!= 0), idx, 32, 4, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val incPairs: Set[(Long, Long)] = Dedup.minHashNearDupsIncremental(
        docs.filter(col("doc_id") % 2 =!= 0), idx, 32, 4, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cross = incPairs.filter(p => (p._1 % 2 == 0) != (p._2 % 2 == 0))
      .map(p => if (p._1 % 2 == 1) (p._1, p._2) else (p._2, p._1))
    assert(gate === cross)
  }

  test("incremental clustering: label edges reproduce old components, new " +
      "pairs bridge ACROSS old clusters, result equals from-scratch CC") {
    import spark.implicits._
    // batch 1 components: {0,1,2} (labeled 0), {3,4} (labeled 3), {5} solo
    val oldLabels = Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 3L), (4L, 3L),
      (5L, 5L)).toDF("doc_id", "cluster")
    val docs = (0L to 7L).toDF("doc_id")
    // batch 2: 6 joins {3,4}; 7 BRIDGES the two old clusters via 2 and 4
    val newPairs = Seq((6L, 3L), (7L, 2L), (7L, 4L)).toDF("doc_a", "doc_b")
    val inc = Dedup.dupClustersIncremental(docs, newPairs, oldLabels)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // from-scratch reference: CC over old-structure pairs + new pairs
    val oldPairs = Seq((0L, 1L), (1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val full = Dedup.dupClustersStar(docs, oldPairs.union(newPairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc === full)
    // the bridge genuinely merged everything except the singletons
    assert((0L to 4L).forall(inc(_) == 0L) && inc(6L) == 0L && inc(7L) == 0L)
    assert(inc(5L) === 5L)
  }

  test("simhash: 64-bit signatures, deterministic, one per doc") {
    val a = Dedup.simHash(Tables.load(spark, sf, "documents")).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("simhash")).toMap
    val b = Dedup.simHash(Tables.load(spark, sf, "documents")).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("simhash")).toMap
    assert(a === b)
    assert(a.size === Tables.load(spark, sf, "documents").count())
  }

  test("one-pass SimHashAgg matches the compositional explode formulation") {
    val docs = Tables.load(spark, sf, "documents")
    val agg = Dedup.simHash(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("simhash")).toMap
    val ref = Dedup.simHashViaExplode(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("simhash")).toMap
    assert(agg === ref)
  }

  test("BPE-ish tokenization splits letters/digits/punct marks") {
    val df = Seq("don't stop 123 x-y!").toDF("text")
      .select(TextAnalysis.bpeTokens(col("text")).as("t"))
    assert(df.collect().head.getSeq[String](0) ===
      Seq("don", "'", "t", "stop", "123", "x", "-", "y", "!"))
  }

  test("rolling hash: order-sensitive and deterministic") {
    val df = Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b c")).toDF("doc_id", "text")
      .select(col("doc_id"),
        TextAnalysis.rollingHash(TextAnalysis.tokens(col("text"))).as("h"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) === m(3L))   // same token order -> same fingerprint
    assert(m(1L) !== m(2L))   // reversed order -> different fingerprint
  }

  test("prefix filter stays lossless at thresholds where (1-t)*n is integral") {
    // t=0.8, 5-shingle docs: (1-t)*n = 0.9999999999999999 in FP — a naive
    // floor would shorten the prefix to 1 and can miss true pairs. Doc b =
    // doc a minus one shingle gives J = 4/5 = 0.8 exactly.
    val a = "w1 w2 w3 w4 w5 w6 w7" // 5 shingles
    val b = "w2 w3 w4 w5 w6 w7"    // 4 shingles, all shared with a
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val naive = Dedup.jaccardPairs(docs, 0.8).collect()
    val prefix = Dedup.jaccardPairsPrefix(docs, 0.8).collect()
    assert(naive.length === 1)
    assert(prefix.map(r => (r.getLong(0), r.getLong(1))).toSet ===
      naive.map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("dupClusters: min-label components over pairs; singletons keep their id") {
    // components: {1,2,3} (chain), {10,11}, singletons 4,5
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.dupClusters(docs, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L,
      10L -> 10L, 11L -> 10L))
    // a longer chain still converges (propagation runs to fixpoint, not one
    // round): 20-21-22-23-24 all collapse to 20
    val chain = Seq((20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L))
      .toDF("doc_a", "doc_b")
    val chainDocs = Seq(20L, 21L, 22L, 23L, 24L).toDF("doc_id")
    val got2 = Dedup.dupClusters(chainDocs, chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2.values.toSet === Set(20L))
  }

  test("dupClusters equals a driver-side union-find on random graphs") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 3) {
      val n = 30
      val edges = Seq.fill(25)((rnd.nextInt(n), rnd.nextInt(n)))
        .filter(p => p._1 != p._2)
        .map(p => (math.min(p._1, p._2).toLong, math.max(p._1, p._2).toLong))
        .distinct
      val expected = unionFind(n, edges)
      val docs = (0 until n).map(_.toLong).toDF("doc_id")
      val pairs = edges.toDF("doc_a", "doc_b")
      val got = Dedup.dupClusters(docs, pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected)
    }
  }

  test("dupClustersStar matches union-find on random graphs and chains, " +
      "converging in O(log n) rounds where propagation needs the diameter") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 3) {
      val n = 40
      val edges = Seq.fill(30)((rnd.nextInt(n), rnd.nextInt(n)))
        .filter(p => p._1 != p._2)
        .map(p => (math.min(p._1, p._2).toLong, math.max(p._1, p._2).toLong))
        .distinct
      val docs = (0 until n).map(_.toLong).toDF("doc_id")
      val got = Dedup.dupClustersStar(docs, edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === unionFind(n, edges))
    }
    // the case the variant exists for: a 64-node chain (diameter 63).
    // maxRounds=10 would fail plain diameter-bound propagation; star
    // contraction collapses it in O(log n) rounds.
    val chain = (0L until 63L).map(i => (i, i + 1))
    val chainDocs = (0L until 64L).toDF("doc_id")
    val gotChain = Dedup.dupClustersStar(chainDocs,
        chain.toDF("doc_a", "doc_b"), maxRounds = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotChain === (0L until 64L).map(_ -> 0L).toMap)
    // reversed/shuffled edge orientation must not matter
    val swapped = chain.map { case (a, b) => (b, a) }
    val gotSwap = Dedup.dupClustersStar(chainDocs,
        swapped.toDF("doc_a", "doc_b"), maxRounds = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotSwap === gotChain)
  }

  test("cluster operators: the distributed loops equal the driver-side " +
      "fast path (spark.graft.clusters.localEdgeLimit honored)") {
    // small graphs take the union-find fast path by default; forcing
    // localEdgeLimit=0 runs the distributed propagation/contraction
    // loops — both must label identically, chain included (the shape
    // that stresses contraction round count), and the empty edge set
    // too (cap 0 never takes the fast path, not even for 0 edges)
    val rnd = new scala.util.Random(23)
    val n = 50
    val random = (Seq.fill(60)((rnd.nextInt(n), rnd.nextInt(n)))
      .filter(p => p._1 != p._2)
      .map(p => (p._1.toLong, p._2.toLong)) ++
      (0L until 40L).map(i => (i, i + 1))).distinct
    val docs = (0 until n).map(_.toLong).toDF("doc_id")
    def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (edges <- Seq(random, Seq.empty[(Long, Long)])) {
      val pairs = edges.toDF("doc_a", "doc_b")
      val fastStar = labelsOf(Dedup.dupClustersStar(docs, pairs))
      val fastProp = labelsOf(Dedup.dupClusters(docs, pairs))
      assert(fastStar === unionFind(n, edges))
      assert(fastProp === fastStar)
      spark.conf.set("spark.graft.clusters.localEdgeLimit", "0")
      try {
        assert(labelsOf(Dedup.dupClustersStar(docs, pairs)) === fastStar)
        assert(labelsOf(Dedup.dupClusters(docs, pairs, maxRounds = 60)) === fastProp)
      } finally spark.conf.unset("spark.graft.clusters.localEdgeLimit")
    }
  }

  /** Union-find reference with min-root unions: the final root of every
    * node is exactly its component's minimum element. */
  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      if (parent(x) != x) parent(x) = find(parent(x)); parent(x)
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0 until n).map(i => i.toLong -> find(i).toLong).toMap
  }

  test("identical texts get identical shingle fingerprints; different texts differ") {
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "alpha beta gamma epsilon"))
      .toDF("doc_id", "text")
    df.createOrReplaceTempView("fp_docs")
    val fp = df.select(col("doc_id"),
      TextAnalysis.shingleFingerprint(TextAnalysis.tokens(col("text"))).as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) === fp(2L))
    assert(fp(1L) !== fp(3L))
  }
}
