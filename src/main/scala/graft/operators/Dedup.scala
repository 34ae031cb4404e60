package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import TextAnalysis._

/** Deduplication operators for large text corpora.
  *
  * Scale design: every variant is expressed as shuffle-on-key DataFrame ops
  * (explode → groupBy → join) with no driver-side materialization, so the
  * same plan runs on a 1000-executor cluster. Candidate generation (LSH
  * banding) keeps the pair space linear-ish in corpus size instead of the
  * quadratic all-pairs join; the exact-Jaccard verify only touches candidate
  * pairs.
  */
object Dedup {

  /** Exact dedup: one surviving doc_id per distinct text (min id wins),
    * grouped on md5 so the shuffle key is 16 bytes, not the document. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  private def integralIdType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }

  /** Min-label component labels for every endpoint of `edges`, by
    * union-find with MIN-ROOT union and path halving: roots only ever
    * lose root status to smaller roots, so each final root IS its
    * component's minimum id — exactly the label the distributed loops
    * converge to (spec-asserted equal). */
  private[operators] def unionFindLabels(
      edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long](edges.length * 2)
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) {
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp) // path halving
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    val nodes = new java.util.HashSet[Long](edges.length * 2)
    edges.foreach { case (a, b) =>
      nodes.add(a); nodes.add(b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val out = new Array[(Long, Long)](nodes.size)
    var i = 0
    val it = nodes.iterator()
    while (it.hasNext) {
      val n = it.next()
      out(i) = (n, find(n))
      i += 1
    }
    out
  }

  /** The (doc_id, cluster) label relation for collected (long, long)
    * edge rows: union-find, re-created with the ids' ORIGINAL type `idt` so
    * the output schema is bit-identical to the distributed path's. */
  private def localLabels(spark: org.apache.spark.sql.SparkSession,
      edges: Array[org.apache.spark.sql.Row], idt: DataType): DataFrame = {
    val rows = unionFindLabels(edges.map(r => (r.getLong(0), r.getLong(1))))
      .map(t => org.apache.spark.sql.Row(t._1, t._2))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq,
        math.max(1, math.min(rows.length / 100000 + 1, 32))),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("cluster", LongType, nullable = false))))
    df.select(col("doc_id").cast(idt).as("doc_id"),
      col("cluster").cast(idt).as("cluster"))
  }

  /** Every doc with its component label; docs in no edge are their own
    * singleton cluster. */
  private def labeled(docs: DataFrame, labels: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("cluster"))

  /** Duplicate clusters: connected components over an undirected near-dup
    * pair relation, as min-label propagation to a fixpoint — every doc gets
    * `cluster` = the smallest doc_id reachable through near-dup edges
    * (docs in no pair are their own singleton cluster).
    *
    * This is the step a dedup pipeline runs AFTER pair detection: keep one
    * canonical doc per cluster instead of dropping both ends of each pair.
    * Each round is one shuffle-on-key join + aggregate over only the docs
    * that appear in pairs; rounds = component diameter, which for near-dup
    * graphs (cliques of copies) is 1-2. The driver-side loop holds no data
    * — only the converged? count — so the same plan runs at cluster scale
    * ([[dupClustersStar]] is the O(log n)-round drop-in for components
    * that grow chain-shaped). */
  def dupClusters(docs: DataFrame, pairs: DataFrame,
      maxRounds: Int = 20): DataFrame = {
    // eager localCheckpoint, not persist: iterative plans must TRUNCATE
    // lineage each round or planning cost (and the printed plan) grows as
    // nested cached subtrees — the same discipline GraphX/ALS apply. A
    // reliable checkpoint dir replaces localCheckpoint on a real cluster.
    // Pairs are materialized BEFORE the union mirrors them: the union
    // references the relation twice, and un-checkpointed that re-runs the
    // whole (expensive) pair-detection pipeline once per reference.
    val p = pairs.select(col("doc_a"), col("doc_b")).localCheckpoint(true)
    // small-edge-set fast path: one collect + union-find replaces
    // diameter-many driver-loop rounds (see [[DriverLocal]]); the
    // distributed propagation below is the at-scale shape
    val idt = p.schema("doc_a").dataType
    if (integralIdType(idt)) {
      DriverLocal.collectUnder(
          p.select(col("doc_a").cast(LongType), col("doc_b").cast(LongType)),
          DriverLocal.ClustersKey, DriverLocal.ClustersCap) match {
        case Right(rows) =>
          return labeled(docs, localLabels(docs.sparkSession, rows, idt))
        case Left(_) =>
      }
    }
    val fwd = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("cluster"))
      .localCheckpoint(true)
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      // ONE join + ONE aggregate per round: each doc's next label is
      // min(own ∪ neighbors' labels), so the neighbor contributions
      // (edges ⋈ labels on dst, re-keyed to src) UNION the self row and a
      // single groupBy-min produces the new label — the former
      // nbrMin-then-rejoin shape paid a third exchange per round just to
      // reattach the old label. The self flag rides the union so the same
      // aggregate also yields the old label, and `improved` (labels only
      // ever decrease, so "new < old" is exactly "changed") stays a
      // trivial scan of the just-checkpointed blocks
      val next = edges
        .join(labels.select(col("doc_id").as("dst"), col("cluster")), Seq("dst"))
        .select(col("src").as("doc_id"), col("cluster"), lit(false).as("self"))
        .union(labels.select(col("doc_id"), col("cluster"), lit(true).as("self")))
        .groupBy(col("doc_id"))
        .agg(min(col("cluster")).as("cluster"),
          min(when(col("self"), col("cluster"))).as("old_cluster"))
        .select(col("doc_id"), col("cluster"),
          (col("cluster") < col("old_cluster")).as("improved"))
        .localCheckpoint(true)
      changed = next.filter(col("improved")).limit(1).count()
      labels = next.drop("improved")
      round += 1
    }
    // a component with diameter > maxRounds would return partially-merged
    // labels: surface it rather than silently emitting wrong clusters
    // (the changed probe is limit(1)-short-circuited, so it carries no
    // meaningful count — phrase the failure as a boolean state)
    require(changed == 0,
      s"dupClusters did not converge in $maxRounds rounds (labels were still changing); raise maxRounds")
    labeled(docs, labels)
  }

  /** Connected components via alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", MR-CC): converges in O(log n) rounds regardless of component
    * DIAMETER, where [[dupClusters]]' label propagation needs
    * diameter-many rounds. Same contract: every doc labels with its
    * component's minimum doc_id, singletons label themselves.
    *
    * Use this variant when components can go chain-shaped (transcript
    * streams, crawl chains); near-dup graphs are clique-ish (diameter
    * 1-2), where plain propagation wins on constant factors — which is why
    * it stays the default in the curation pipeline.
    *
    * Each round is two shuffle-on-key aggregate+join passes over the edge
    * relation only (never the corpus), lineage-truncated per round; the
    * driver holds only the convergence counter. Edges stay oriented
    * (src > dst) throughout, so the relation never doubles. */
  def dupClustersStar(docs: DataFrame, pairs: DataFrame,
      maxRounds: Int = 30): DataFrame = {
    // large-star: every u attaches its LARGER neighbors to m = min(N(u) ∪ u).
    // NO distinct here: duplicate (src, dst) rows change neither smallStar's
    // groupBy-min nor its terminal distinct, so deduping in between is a
    // pure extra exchange+agg per round — smallStar's own distinct is the
    // one that defines the round's output set. Row count stays bounded by
    // 2|e| (each oriented occurrence emits at most one row).
    def largeStar(e: DataFrame): DataFrame = {
      val nb = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val m = nb.groupBy(col("src")).agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
      nb.join(m, "src").filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
    }
    // small-star: every u attaches its SMALLER neighbors (and itself) to m
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy(col("src")).agg(min(col("dst")).as("m"))
      e.join(m, "src").filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(m.select(col("src"), col("m").as("dst")))
        .distinct()
    }
    var e = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("src"),
        least(col("doc_a"), col("doc_b")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint(true)
    var round = 0
    var done = false
    // |e| is carried across rounds: this round's |next| is next round's
    // |e|, so only the first round pays a count job for the old side:
    // the small-edge-set gate's (see [[DriverLocal]]). Under the cap, one
    // collect + union-find replaces O(log n) contraction rounds of
    // several exchanges + an eager checkpoint + a convergence probe each
    val idt = e.schema("src").dataType
    var eCount =
      if (!integralIdType(idt)) e.count()
      else DriverLocal.collectUnder(
          e.select(col("src").cast(LongType), col("dst").cast(LongType)),
          DriverLocal.ClustersKey, DriverLocal.ClustersCap) match {
        case Right(rows) =>
          return labeled(docs, localLabels(docs.sparkSession, rows, idt))
        case Left(n) => n
      }
    while (!done && round < maxRounds) {
      val next = smallStar(largeStar(e)).localCheckpoint(true)
      // fixpoint = edge set unchanged over a full round (the converged
      // state is a star per component, which both operations preserve).
      // Two-tier probe: a COUNT of the just-checkpointed blocks (a scan,
      // the cheapest possible job) gates the real set-equality check —
      // while the contraction is still shrinking the edge set, counts
      // differ and no join runs at all; only when counts agree does one
      // semi-join count |e ∩ next| (both are distinct sets, so
      // |e| = |next| = |e ∩ next| is equality). Rounds-1 join jobs saved
      // vs probing with a join every round.
      val nNext = next.count()
      if (nNext == eCount) {
        done = e.join(next, Seq("src", "dst"), "left_semi").count() == eCount
      }
      eCount = nNext
      e = next
      round += 1
    }
    require(done,
      s"dupClustersStar did not converge in $maxRounds rounds; raise maxRounds")
    labeled(docs, e.groupBy(col("src")).agg(min(col("dst")).as("cluster"))
      .select(col("src").as("doc_id"), col("cluster")))
  }

  /** Distinct 3-gram shingles per doc: (doc_id, shingle), via the native
    * one-pass [[graft.functions.SortedShingles3]] (same contents as the
    * old tokens→shingles3→distinct chain; the extra sort is free and
    * irrelevant post-explode). */
  def shingleRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.functions.SetCols.sortedShingles3(col("text")))
        .as("shingle"))

  /** Exact pairwise Jaccard (on distinct 3-gram shingle sets) for every
    * pair of docs sharing at least one shingle, thresholded.
    *
    * The shared-shingle equi-join is the classic inverted-index candidate
    * generation: pairs with zero overlap are never materialized. At very
    * large scale, hot shingles need bounding — [[jaccardPairsCapped]]
    * (explicit df cap, documented recall trade) or [[minHashCandidates]]
    * (sub-linear banding) are the alternatives.
    */
  def jaccardPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val sh = persisted(shingleRows(TextAnalysis.parallelized(docs)))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    jaccardFromCommon(docSizes(sh), inter).filter(col("jaccard") >= threshold)
  }

  /** [[jaccardPairs]] with a document-frequency cap on the inverted index:
    * shingles occurring in more than `maxDf` documents generate NO
    * candidates, bounding the worst inverted-list join a priori (one
    * df-D shingle alone contributes D·(D−1)/2 candidate rows — a stopword
    * 3-gram at corpus scale is a cross product).
    *
    * RECALL CONTRACT (the losslessness-vs-cap trade, explicit): every
    * REPORTED pair is exact — the verify stage intersects the FULL shingle
    * sets, so capping never distorts a Jaccard value or admits a false
    * positive. A true pair is MISSED iff every shingle the two docs share
    * is hotter than the cap; pairs sharing at least one ≤`maxDf` shingle
    * are always found. The prefix paths ([[jaccardPairsPrefixHash]] for
    * flat df distributions, [[jaccardPairsPrefix]]'s rarest-first order
    * for hot-shingle corpora) remain the lossless defaults; the cap is
    * for corpora where even prefix generation must be bounded. */
  def jaccardPairsCapped(docs: DataFrame, threshold: Double,
      maxDf: Long): DataFrame = {
    val sets = persisted(docSetsLocal(TextAnalysis.parallelized(docs)))
    val sh = sets.select(col("doc_id"), explode(col("shingles")).as("shingle"))
    val rare = sh.join(
      sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf),
      "shingle").select(col("doc_id"), col("shingle"))
    val cand = rare.as("a").join(rare.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    jaccardPairs0(sets, cand, threshold).distinct()
  }

  /** The shingle relation feeds several consumers (frequency ranking,
    * candidate join, verify join, size counts); without materialization
    * each consumer re-runs the regex tokenize+shingle scan. Materializing
    * the inverted index before joining against it is the standard
    * PPJoin/LSH shape at any scale. Eager localCheckpoint, not persist:
    * checkpoint blocks are owned by the RDD and freed by the
    * ContextCleaner when the plan becomes unreachable, whereas
    * `persist` registers with the session's CacheManager and the entry
    * (plus its blocks) survives until an explicit unpersist — a leak for
    * every operator invocation in a long-lived session. On a real cluster
    * a reliable checkpoint dir replaces localCheckpoint. */
  private def persisted(df: DataFrame): DataFrame =
    df.localCheckpoint(true)

  /** Exact thresholded Jaccard with PREFIX FILTERING (AllPairs/PPJoin
    * family): index only each doc's first ⌊(1−t)·n⌋+1 shingles under a
    * global rarest-first order. Two sets with J ≥ t must share a prefix
    * element, so candidate generation over prefixes is LOSSLESS — results
    * are identical to [[jaccardPairs]] — while the inverted-index join
    * shrinks by ~t and skips the hottest shingles entirely. The exact
    * Jaccard verify then runs only on candidates. */
  def jaccardPairsPrefix(docs: DataFrame, threshold: Double): DataFrame = {
    // Per-doc sorted distinct shingle SETS, computed row-locally — no
    // explode→groupBy round trip; the only relation-wide work left is the
    // document-frequency aggregate and one regroup to attach df ranks.
    // Materialized: the relation is consumed twice (document-frequency
    // branch + regroup probe), and the checkpoint doubles as a plan
    // barrier — fused un-materialized, the optimizer re-inlines the
    // token-split into each consumer's generator and the regex runs per
    // shingle reference again (measured 2.5× the whole operator).
    val sets = persisted(docSetsLocal(TextAnalysis.parallelized(docs)))
    val sh = sets.select(col("doc_id"), explode(col("shingles")).as("shingle"))
    // global order: document frequency ascending (rarest first), tiebreak
    // on the shingle itself for determinism
    val df = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    // +1e-9 before floor: (1-t)*n computed in floating point can land just
    // BELOW a mathematically-integer value (0.1*10 = 0.9999999999999998),
    // and truncating there shortens the prefix below the lossless minimum
    // ⌊(1-t)n⌋+1 — silently dropping true pairs. The epsilon can only ever
    // lengthen the prefix (still lossless, marginal extra candidates).
    val prefLen = (floor(lit(1.0 - threshold) * col("n_shingles") + lit(1e-9)) + 1)
      .cast(IntegerType)
    // Rank within a ROW, not a window over the relation: one regroup
    // collects each doc's (df, shingle) pairs, array_sort orders them
    // rarest-first (struct sort = lexicographic over fields), and `slice`
    // keeps the prefix — replacing the former row_number window's
    // relation-wide shuffle+sort. The ONE materialized relation of the
    // operator: it carries both the prefix (candidate generation reads it
    // on build and probe side) and the value-sorted set (the merge-walk
    // verify below).
    val packs = persisted(sh.join(df, "shingle")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("shingle")))).as("by_df"))
      .select(col("doc_id"), size(col("by_df")).cast(LongType).as("n_shingles"),
        col("by_df"))
      .select(col("doc_id"), col("n_shingles"),
        slice(col("by_df"), lit(1), prefLen).as("prefix"),
        array_sort(transform(col("by_df"), x => x.getField("shingle")))
          .as("shingles")))
    val prefixes = packs
      .select(col("doc_id"), col("n_shingles"), posexplode(col("prefix")))
      .select(col("doc_id"), col("col.shingle").as("shingle"),
        (col("pos") + 1).as("rank"), col("n_shingles"))
    val cand = prefixCandidates(prefixes, threshold)
    jaccardPairs0(packs.select(col("doc_id"), col("shingles"), col("n_shingles")),
      cand, threshold).distinct()
  }

  /** PPJoin candidate generation from a (doc_id, shingle, rank,
    * n_shingles) prefix relation, with pruning at generation time — all
    * three prunes LOSSLESS for J ≥ t:
    *  - length filter: J ≤ min/max, so mismatched sizes can't qualify;
    *  - positional filter: a qualifying pair needs overlap ≥
    *    α = ⌈t/(1+t)·(na+nb)⌉, and a shared prefix element at ranks
    *    (ra, rb) bounds the remaining overlap by 1 + min(na−ra, nb−rb).
    *    The bound only has to hold for SOME shared occurrence and it
    *    always holds for the first one, so pruning per-occurrence before
    *    any dedup drops no true pair. Epsilons lean the same safe way as
    *    the prefix-length floor: α can only shrink.
    * Evaluated-and-rejected round-8 additions, both measured at sf0.1:
    *  - PPJoin's asymmetric INDEXING-prefix cut (smaller side's rank ≤
    *    ⌊(1−t)/(1+t)·n⌋+1) removes ZERO candidates here — the positional
    *    filter SUBSUMES it: violating the index bound means
    *    na−ra < α−1, which already fails the positional test. The
    *    index/probe split only pays in architectures that index the
    *    short prefix INSTEAD of evaluating the positional filter.
    *  - A Bloom prefilter of candidate doc_ids over the verify-side
    *    sets: the 220k candidates cover 97.5% of the 5000 docs, so the
    *    bloom prunes nothing and costs an extra aggregate.
    *
    * The join key is whatever column `key` names — the hash-order path
    * joins on an 8-byte xxhash64 instead of the shingle string (narrower
    * shuffle; collisions only ADD candidates, which the exact verify
    * then drops — recall is untouched because equal shingles always
    * collide equal).
    *
    * NO distinct() on the output: deduping per-occurrence candidates is a
    * shuffle of the (large) candidate relation, and on shingle corpora it
    * removes only ~5% of rows — the merge-walk verify re-checks the few
    * duplicates cheaper than the exchange costs, and the final distinct
    * runs over the (tiny) verified pair set instead. */
  private def prefixCandidates(prefixes: DataFrame, threshold: Double,
      key: String = "shingle"): DataFrame = {
    val alpha = ceil(
      lit(threshold) / lit(1.0 + threshold) *
        (col("a.n_shingles") + col("b.n_shingles")) - lit(1e-9))
    prefixes.as("a").join(prefixes.as("b"),
        col(s"a.$key") === col(s"b.$key") && col("a.doc_id") < col("b.doc_id"))
      .filter(least(col("a.n_shingles"), col("b.n_shingles")) >=
        lit(threshold) * greatest(col("a.n_shingles"), col("b.n_shingles")) - lit(1e-9))
      .filter(least(col("a.n_shingles") - col("a.rank"),
        col("b.n_shingles") - col("b.rank")) + 1 >= alpha)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
  }

  /** [[jaccardPairsPrefix]] under a HASH total order instead of
    * rarest-first document frequency: prefix-filter losslessness only
    * needs SOME fixed total order shared by every document (the pigeonhole
    * argument never uses what the order means), and ordering shingles by
    * (xxhash64, value) is computable inside each row — the df aggregate,
    * the df join, and the regroup vanish, leaving the candidate equi-join
    * and the verify joins as the ONLY relation-wide operations.
    *
    * The candidate join runs on the 8-BYTE HASH, not the shingle string:
    * the prefix relation and its shuffle carry (doc_id, h, rank, n) longs
    * only — no text. Distinct shingles colliding on h can only ADD
    * candidate occurrences (equal shingles always hash equal, so no true
    * pair is lost), and the exact merge-walk verify drops them; the
    * (h, shingle) struct sort keeps the ORDER total even under collision,
    * so prefix ranks stay globally consistent. Order portability across
    * engines is not needed — the oracle is the order-free inverted-index
    * join.
    *
    * The trade: rarest-first deliberately pushes hot shingles out of
    * prefixes, minimizing candidates; a hash order admits them at their
    * natural rate, so a shingle of document frequency D that lands in
    * prefixes contributes O(D²) per-occurrence candidates. On corpora
    * whose shingle df distribution is flat (natural text at modest scale),
    * the extra candidates cost less than the two saved shuffles; on
    * corpora with genuinely hot shingles, [[jaccardPairsPrefix]]'s df
    * order (or [[jaccardPairsCapped]]'s explicit bound) is the right
    * tool. Results are identical to [[jaccardPairs]] either way —
    * spec-verified. */
  def jaccardPairsPrefixHash(docs: DataFrame, threshold: Double): DataFrame = {
    val sets = persisted(docSetsLocal(TextAnalysis.parallelized(docs)))
    val prefLen = (floor(lit(1.0 - threshold) * col("n_shingles") + lit(1e-9)) + 1)
      .cast(IntegerType)
    val prefixes = sets
      .select(col("doc_id"), col("n_shingles"),
        slice(array_sort(transform(col("shingles"),
          s => struct(xxhash64(s).as("h"), s.as("shingle")))),
          lit(1), prefLen).as("prefix"))
      .select(col("doc_id"), col("n_shingles"), posexplode(col("prefix")))
      .select(col("doc_id"), col("col.h").as("h"),
        (col("pos") + 1).as("rank"), col("n_shingles"))
    val cand = prefixCandidates(prefixes, threshold, key = "h")
    jaccardPairs0(sets, cand, threshold).distinct()
  }

  /** Per-doc distinct-shingle counts — the |A| and |B| of the Jaccard
    * formula. */
  private def docSizes(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))

  /** Per-doc shingle SETS (one sorted array row + size per doc) — the
    * verify-stage relation; `sort_array` keeps the gather deterministic.
    * Array size is bounded by document length, so the row shape holds at
    * corpus scale. */
  private def docSets(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("shingle"))).as("shingles"),
        count(lit(1)).as("n_shingles"))

  /** [[docSets]] computed ROW-LOCALLY — no explode→groupBy round trip: a
    * document's distinct-shingle set is a function of that document alone,
    * so gathering it through a relation-wide shuffle is pure waste. Keeps
    * docs with zero shingles (n_shingles = 0); they produce no inverted-
    * index rows, so candidate paths never see them.
    *
    * The set is built by the native one-pass
    * [[graft.functions.SortedShingles3]] rather than the compositional
    * tokens→shingles3→distinct→sort chain: four stacked interpreted
    * higher-order lambdas made shingling ITSELF the dominant cost of any
    * consumer that cannot persist the sets (the streaming gate re-derives
    * them every micro-batch), and Catalyst freely duplicates the chain
    * through filters/projections, multiplying that cost. The native
    * expression is cheap enough that even a duplicated evaluation is
    * noise, and TextSpec pins its output to the old chain element for
    * element. */
  def docSetsLocal(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.SetCols.sortedShingles3(col("text")).as("shingles"))
      .select(col("doc_id"), col("shingles"),
        size(col("shingles")).cast(LongType).as("n_shingles"))

  /** Cross-set contamination (train/eval decontamination): every
    * candidate doc sharing at least `minShared` distinct 3-gram shingles
    * with some reference doc, with the overlap count — the pairs a
    * pretraining pipeline drops from the training side before an eval
    * set is considered clean. Candidates and reference are two slices of
    * ONE relation: it is tokenized and shingled ONCE into a persisted
    * index and filtered both ways, so the scan + shingle pipeline never
    * runs per side. `isReference` marks the reference (eval) side. Same
    * inverted-index equi-join shape as [[jaccardPairs]] (shuffle on
    * shingle, never a cross product). */
  def crossContaminationWithin(docs: DataFrame, isReference: Column,
      minShared: Long): DataFrame = {
    val sh = persisted(TextAnalysis.parallelized(docs)
      .select(col("doc_id"), isReference.as("is_ref"),
        explode(graft.functions.SetCols.sortedShingles3(col("text")))
          .as("shingle")))
    crossContamination0(
      sh.filter(!col("is_ref")).select(col("doc_id").as("cand_id"), col("shingle")),
      sh.filter(col("is_ref")).select(col("doc_id").as("ref_id"), col("shingle")),
      minShared)
  }

  private def crossContamination0(shA: DataFrame, shB: DataFrame,
      minShared: Long): DataFrame =
    shA.join(shB, "shingle")
      .groupBy(col("cand_id"), col("ref_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)

  /** [[crossContaminationWithin]] with a Bloom pre-filter: build a
    * [[graft.functions.BloomFilterAgg]] sketch over the reference
    * shingles (one aggregate, megabytes for millions of keys), then
    * discard candidate shingles the filter rejects ROW-LOCALLY before the
    * verification join. Blooms have no false negatives, so every truly
    * shared shingle survives the pre-filter; the join then computes exact
    * overlap counts over survivors only — the result is IDENTICAL to the
    * exact operator (BloomSpec asserts it), but the join's candidate side
    * shrinks from the whole corpus's shingles to true matches plus an
    * `fpp` sliver.
    *
    * 100 TB shape: the exact join must shuffle BOTH sides on shingle —
    * O(corpus) — even when the reference is far too big to broadcast. The
    * bloom condenses the reference to a plan-shipped constant (~9.6
    * bits/key at fpp 1 %), cutting the shuffled candidate volume to
    * matches + fpp·corpus while the reference side stays O(reference);
    * when contamination is rare (the normal case) that is orders less I/O.
    * Driver holds O(bloom bytes), not O(data) — same contract as the
    * centroid/hot-set collects; past ~100 MB raise fpp or pre-partition
    * the reference. */
  def bloomDecontaminateWithin(docs: DataFrame, isReference: Column,
      minShared: Long, fpp: Double = 0.01): DataFrame = {
    import graft.functions.BloomCols
    val sh = persisted(TextAnalysis.parallelized(docs)
      .select(col("doc_id"), isReference.as("is_ref"),
        explode(graft.functions.SetCols.sortedShingles3(col("text")))
          .as("shingle")))
    val ref = sh.filter(col("is_ref"))
      .select(col("doc_id").as("ref_id"), col("shingle"))
    // row count upper-bounds distinct keys: an oversized filter only
    // lowers the realized fpp
    val nRef = math.max(1L, ref.count())
    val bloomBytes = ref
      .agg(BloomCols.bloomAgg(col("shingle"), nRef, fpp))
      .head().getAs[Array[Byte]](0)
    val survivors = sh.filter(!col("is_ref"))
      .select(col("doc_id").as("cand_id"), col("shingle"))
      .filter(BloomCols.mightContain(lit(bloomBytes), col("shingle")))
    crossContamination0(survivors, ref, minShared)
  }

  /** MinHash signatures via the custom one-pass aggregate
    * ([[graft.functions.MinHashAgg]]): (doc_id, sig ARRAY<BIGINT> of k
    * minima). One shuffle keyed on doc_id, buffer of k longs per doc —
    * no k× row expansion. */
  def minHashSignatures(docs: DataFrame, k: Int): DataFrame =
    minHashSignatures0(shingleRows(docs), k)

  private def minHashSignatures0(sh: DataFrame, k: Int): DataFrame =
    sh.groupBy(col("doc_id"))
      .agg(graft.functions.MinHashAgg.minhash(col("shingle"), k).as("sig"))

  /** LSH banding over MinHash signatures → candidate near-dup pairs.
    * Each signature is cut into k/rowsPerBand bands; the band key is a
    * hash of that slice, and docs sharing any band bucket become
    * candidates (Broder/LSH banding: P[candidate] = 1-(1-j^r)^b for
    * Jaccard j). */
  def minHashCandidates(docs: DataFrame, k: Int, rowsPerBand: Int): DataFrame =
    minHashCandidates0(minHashSignatures(docs, k), k, rowsPerBand)

  /** (doc_id, band, band_key [, carried…]) banding rows for a
    * (doc_id, sig, …) relation — the LSH bucket keys, computed
    * row-locally. `carry` names extra columns to keep on each band row
    * (the streaming gate carries the STREAM doc's shingle set so its
    * verification never needs a stateful join back to the stream; static
    * relations re-join their payloads by id instead). */
  private def bandRows(sigs: DataFrame, k: Int, rowsPerBand: Int,
      carry: Seq[String] = Nil): DataFrame = {
    require(k % rowsPerBand == 0,
      s"k=$k must be a multiple of rowsPerBand=$rowsPerBand — a remainder " +
        "would silently drop signature positions from banding")
    val nBands = k / rowsPerBand
    val bandStructs = (0 until nBands).map { j =>
      struct(lit(j).as("band"),
        hash(slice(col("sig"), j * rowsPerBand + 1, rowsPerBand)).as("band_key"))
    }
    sigs
      .select(col("doc_id") +: carry.map(col) :+
        explode(array(bandStructs: _*)).as("b"): _*)
      .select(col("doc_id") +: carry.map(col) :+
        col("b.band").as("band") :+ col("b.band_key").as("band_key"): _*)
  }

  /** The [[minHashSignatures0]] signature computed ROW-LOCALLY from a
    * doc's distinct-shingle array: for each seed i, min over the array of
    * the SAME `XxHash64Function.hash(s, seed=i)` the one-pass aggregate
    * applies — bit-identical signatures (DedupSpec asserts it), which is
    * what lets a STREAMING doc sign itself statelessly and band-join a
    * static index built by the batch path. Empty arrays yield NULL mins
    * (such docs produce no signature rows in the batch path either —
    * callers filter n_shingles > 0). */
  def minHashSignatureCol(shingles: Column, k: Int): Column =
    graft.functions.MinHashSig.minhashSig(shingles, k)

  /** The pre-round-9 compositional formulation of [[minHashSignatureCol]],
    * kept for the spec that pins the native expression to it: k separate
    * interpreted transform+array_min passes (that k× interpreted loop was
    * the q127 row cost the native [[graft.functions.MinHashSig]] removes). */
  private[operators] def minHashSignatureColCompositional(
      shingles: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    array((0 until k).map { i =>
      array_min(transform(shingles, s =>
        column(org.apache.spark.sql.catalyst.expressions.XxHash64(
          Seq(expression(s)), i.toLong))))
    }: _*)
  }

  private def minHashCandidates0(sigs: DataFrame, k: Int,
      rowsPerBand: Int): DataFrame = {
    val bands = bandRows(sigs, k, rowsPerBand)
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** MinHash-LSH near-dup detection: candidates from banding, then exact
    * Jaccard verification restricted to candidate pairs. */
  def minHashNearDups(docs: DataFrame, k: Int, rowsPerBand: Int,
      threshold: Double): DataFrame = {
    val sh = persisted(shingleRows(TextAnalysis.parallelized(docs)))
    val cand = minHashCandidates0(minHashSignatures0(sh, k), k, rowsPerBand)
    jaccardPairs0(docSets(sh), cand, threshold)
  }

  /** Persist a batch's near-dup INDEX: (doc_id, sig ARRAY<BIGINT>,
    * shingles, n_shingles) — MinHash signature for LSH candidate
    * generation plus the sorted distinct-shingle set for exact Jaccard
    * verification. The signatures alone could only ESTIMATE similarity;
    * carrying the sets is what lets a later batch verify cross-batch
    * candidates exactly without re-tokenizing this one. `mode` is
    * "overwrite" for a rebuild or "append" for the weekly-delta cadence —
    * each export appends only its own signatures, so index cost is
    * O(delta), not O(corpus), per export. */
  def writeMinHashIndex(docs: DataFrame, k: Int, path: String,
      mode: String = "overwrite"): Unit = {
    val sh = persisted(shingleRows(TextAnalysis.parallelized(docs)))
    minHashSignatures0(sh, k).join(docSets(sh), "doc_id")
      .write.mode(mode).parquet(path)
  }

  /** Incremental near-dup detection against a persisted
    * [[writeMinHashIndex]] relation: every exact-Jaccard-verified pair
    * with AT LEAST ONE side in `newDocs` — new-vs-indexed and
    * new-vs-new, but never indexed-vs-indexed (those were reported when
    * their batches landed; re-reporting them weekly is the reprocess-the-
    * world cost this operator exists to avoid). Only `newDocs` is
    * tokenized and signed; the prior corpus enters as parquet columns.
    *
    * Scale shape: the banding join is ASYMMETRIC — new-batch band rows
    * (O(delta)) against index∪delta band rows — so the shuffle is keyed
    * on (band, band_key) with the small side the weekly delta; the exact
    * verify then touches only candidate docs' sets. With the same (k,
    * rowsPerBand, threshold) as the batch operator, the result equals
    * [[minHashNearDups]] on the union corpus filtered to pairs touching
    * the delta (recall is identical: the asymmetric join finds every
    * banded pair whose one side is new), which is what the q118 oracle
    * recomputes from scratch. */
  def minHashNearDupsIncremental(newDocs: DataFrame, index: DataFrame,
      k: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val sh = persisted(shingleRows(TextAnalysis.parallelized(newDocs)))
    val newSigs = persisted(minHashSignatures0(sh, k))
    val bandsNew = bandRows(newSigs, k, rowsPerBand)
    val bandsAll = bandRows(
      index.select(col("doc_id"), col("sig")).union(newSigs), k, rowsPerBand)
    // normalize pair identity: new×new pairs are found from both sides,
    // old×new from one; least/greatest + distinct dedupes either way
    val cand = bandsNew.as("a").join(bandsAll.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    val sets = index.select(col("doc_id"), col("shingles"), col("n_shingles"))
      .union(docSets(sh))
    jaccardPairs0(sets, cand, threshold)
  }

  /** INCREMENTAL connected components: the clustering layer of
    * incremental dedup. The prior batch's CONVERGED labels re-enter as
    * (node → label) edges — one edge per non-singleton node, already the
    * star shape contraction converges to — and only `newPairs` (the
    * delta's near-dup pairs, e.g. [[minHashNearDupsIncremental]]'s
    * output) add structure, so [[dupClustersStar]] spends its O(log n)
    * rounds on NEW merge chains only. The prior batch's PAIR relation —
    * the thing that grows with corpus size — never recomputes and never
    * re-enters; labels are O(nodes). Result contract: identical to
    * clustering the UNION pair set from scratch (label edges encode
    * exactly the old components' connectivity), which q128's
    * transitive-closure oracle checks corpus-wide. */
  def dupClustersIncremental(docs: DataFrame, newPairs: DataFrame,
      oldLabels: DataFrame): DataFrame = {
    val labelEdges = oldLabels
      .filter(col("doc_id") =!= col("cluster"))
      .select(col("doc_id").as("doc_a"), col("cluster").as("doc_b"))
    dupClustersStar(docs,
      newPairs.select(col("doc_a"), col("doc_b")).union(labelEdges))
  }

  /** STREAMING near-dup gate: an unbounded stream of documents checked
    * against a STATIC [[writeMinHashIndex]] reference relation, emitting
    * (new_id, ref_id, jaccard) for every exact-verified match — the
    * ingest-time filter that keeps a training corpus from re-absorbing
    * what it already contains (or an eval set: decontamination at the
    * door instead of as a batch sweep).
    *
    * Everything stream-side is STATELESS and row-local: shingle sets
    * ([[docSetsLocal]] — pure projections), the signature
    * ([[minHashSignatureCol]] — bit-identical to the index's aggregate
    * signatures), and the band explode. Candidates come from a
    * stream-STATIC equi-join on (band, band_key) — no watermarks, no
    * join state. The INDEX side of that band join is signature-only —
    * (ref_id, ref_n, band, band_key), the asymmetric shape of
    * [[minHashNearDupsIncremental]] — because the static relation is
    * re-planned EVERY micro-batch: banding it with shingle payloads
    * would ship nBands copies of the whole reference corpus per trigger.
    * The reference shingle sets enter once, through an id-keyed
    * stream-static equi-join against the size-prefiltered candidates,
    * and only then does the exact
    * [[graft.functions.SortedIntersectSize]] verify run; a pair sharing
    * several bands is collapsed by the final streaming dropDuplicates.
    * State story: ONLY the dropDuplicates keeps state (one (new_id,
    * ref_id) key per emitted match — bounded by true matches, not input;
    * a deployment with an event-time column would add a watermark to age
    * it). The STREAM side still carries its own shingle array onto its
    * nBands band rows — that is the price of statelessness (re-joining
    * the stream against itself would be a stateful stream-stream join),
    * and it is bounded by the micro-batch, not the corpus. Same (k,
    * rowsPerBand) as the index ⇒ same recall argument as
    * [[minHashNearDupsIncremental]]'s asymmetric join; q127 verifies the
    * replay against a from-scratch cross-pair oracle, and TextSpec
    * asserts pair-set identity with the incremental operator's cross
    * pairs. */
  def streamNearDupGate(docsStream: DataFrame, index: DataFrame,
      k: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val sets = docSetsLocal(docsStream).filter(col("n_shingles") > 0)
    val sigs = sets.withColumn("sig", minHashSignatureCol(col("shingles"), k))
    val newBands = bandRows(sigs, k, rowsPerBand,
      carry = Seq("shingles", "n_shingles"))
    val idxBands = bandRows(
      index.select(col("doc_id"), col("sig"), col("n_shingles")),
      k, rowsPerBand, carry = Seq("n_shingles"))
      .select(col("doc_id").as("ref_id"), col("n_shingles").as("ref_n"),
        col("band"), col("band_key"))
    val refSets = index.select(col("doc_id").as("ref_id"),
      col("shingles").as("ref_shingles"))
    newBands.join(idxBands, Seq("band", "band_key"))
      .filter(col("doc_id") =!= col("ref_id"))
      .filter(least(col("n_shingles"), col("ref_n")) >=
        lit(threshold) * greatest(col("n_shingles"), col("ref_n")) - lit(1e-9))
      .select(col("doc_id"), col("shingles"), col("n_shingles"),
        col("ref_id"), col("ref_n"))
      .join(refSets, Seq("ref_id"))
      .withColumn("n_common", graft.functions.SetCols
        .sortedIntersectSize(col("shingles"), col("ref_shingles")))
      .withColumn("jaccard", col("n_common").cast(DoubleType) /
        (col("n_shingles") + col("ref_n") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id").as("new_id"), col("ref_id"), col("jaccard"))
      .dropDuplicates("new_id", "ref_id")
  }

  /** Exact Jaccard evaluated only on the given candidate (doc_a, doc_b)
    * pairs — the verify stage of both LSH paths, over a [[docSets]]
    * relation. A candidate pair costs a single codegen'd merge walk over
    * the two pre-sorted shingle arrays ([[graft.functions
    * .SortedIntersectSize]]) instead of re-exploding both docs' shingle
    * rows through two shuffle joins and a pair-keyed aggregation (which
    * dominated q26 at 4.2 s of its 4.5 s total), and ~30× cheaper per pair
    * than `array_intersect`'s per-row hash set (34 µs → ~1 µs measured). A
    * size-ratio prefilter drops pairs where even full containment could
    * not reach the threshold (J ≤ min/max) before the intersection runs —
    * redundant for prefix-path candidates (already length-filtered) but
    * load-bearing for the MinHash-banding path. Duplicate candidate rows
    * produce duplicate (identical) output rows; callers that feed
    * per-occurrence candidates dedupe the (small) verified output. */
  private def jaccardPairs0(sets: DataFrame, cand: DataFrame,
      threshold: Double): DataFrame = {
    cand
      .join(sets.select(col("doc_id").as("doc_a"),
        col("shingles").as("sa"), col("n_shingles").as("na")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"),
        col("shingles").as("sb"), col("n_shingles").as("nb")), Seq("doc_b"))
      // -1e-9: FP t·max can round just ABOVE the real product and drop an
      // exact-boundary pair; the epsilon only ever keeps extra candidates,
      // and the exact jaccard filter below still decides them correctly
      .filter(least(col("na"), col("nb")) >=
        lit(threshold) * greatest(col("na"), col("nb")) - lit(1e-9))
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"),
        graft.functions.SetCols.sortedIntersectSize(col("sa"), col("sb"))
          .as("n_common"))
      .withColumn("jaccard",
        col("n_common").cast(DoubleType) / (col("na") + col("nb") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** The shared Jaccard arithmetic: attach per-doc set sizes to a
    * (doc_a, doc_b, n_common) relation and compute |∩|/|∪|. Single source
    * of truth for the formula across the exhaustive and verify paths. */
  private def jaccardFromCommon(sizes: DataFrame, common: DataFrame): DataFrame = {
    common
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_shingles").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_shingles").as("nb")), "doc_b")
      .withColumn("jaccard",
        col("n_common").cast(DoubleType) / (col("na") + col("nb") - col("n_common")))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Exact duplicated-SPAN detection: every `span`-token window (stride 1)
    * that occurs at least `minOccurrences` times corpus-wide, reported per
    * occurrence as (doc_id, start_tok, span_hash, n_occurrences) — the
    * passage-level cousin of document dedup: boilerplate headers, license
    * blocks, and copied paragraphs recur across otherwise-distinct
    * documents, and span-level detection is what a substring-dedup pass
    * (the suffix-array technique, bounded to a fixed window) removes.
    *
    * Window hashes are computed ROW-LOCALLY (one md5 per window over the
    * doc's own token slice — no cross-row state), so the only relation-
    * wide operations are one partial-aggregated groupBy on the 32-char
    * hash and the occurrence re-join; at corpus scale both shuffle on the
    * hash key, never on text. */
  def duplicateSpans(docs: DataFrame, span: Int,
      minOccurrences: Long = 2L): DataFrame = {
    require(span > 0, s"span must be positive, got $span")
    val occ = TextAnalysis.parallelized(docs)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= span)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("toks")) - (span - 1)),
          i => md5(concat_ws(" ", slice(col("toks"), i, lit(span))).cast("binary"))))
          .as(Seq("pos", "span_hash")))
      .select(col("doc_id"), (col("pos") + 1).as("start_tok"), col("span_hash"))
      .localCheckpoint(true)
    val hot = occ.groupBy(col("span_hash"))
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= minOccurrences)
    occ.join(hot, "span_hash")
      .select(col("doc_id"), col("start_tok"), col("span_hash"),
        col("n_occurrences"))
  }

  /** 64-bit SimHash over whitespace tokens via the one-pass
    * [[graft.functions.SimHashAgg]]: one shuffle keyed on doc_id, a 64-int
    * vote buffer per doc, map-side partial merge — no row expansion. */
  def simHash(docs: DataFrame): DataFrame =
    TextAnalysis.parallelized(docs)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.SimHashAgg.simhash(col("tok")).as("simhash"))

  /** Near-duplicate pairs over any 64-bit signature relation (SimHash
    * text signatures, perceptual image dHashes): every pair whose
    * signatures differ in at most `maxHamming` bits.
    *
    * Candidates come from HAMMING BANDING — the signature is cut into
    * `nBands` contiguous bit chunks and pairs sharing ANY chunk value
    * become candidates. Pigeonhole-LOSSLESS for maxHamming < nBands: a
    * pair with ≤ maxHamming differing bits has at least one chunk with
    * zero of them, so the banded result EQUALS the all-pairs scan (the
    * prefix-filter argument in bit space; callers must pass
    * nBands > maxHamming, enforced). Verification is one codegen'd
    * `bit_count(xor)` per candidate — no arrays shipped, the signatures
    * ARE the rows.
    *
    * 100 TB shape: the banding join shuffles (band, chunk) keyed rows —
    * 8 bytes of signature per row, never payloads or vectors; chunk
    * population is 2^(64/nBands)-bounded under random bits, and a hot
    * chunk (constant image regions) is a salting candidate like any hot
    * key. */
  def hammingNearDupPairs(sigs: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int, nBands: Int = 4): DataFrame = {
    require(nBands > maxHamming,
      s"nBands=$nBands must exceed maxHamming=$maxHamming for lossless banding")
    require(64 % nBands == 0, s"nBands=$nBands must divide 64")
    val width = 64 / nBands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val bandStructs = (0 until nBands).map { j =>
      struct(lit(j).as("band"),
        shiftright(col(sigCol), j * width).bitwiseAND(lit(mask)).as("chunk"))
    }
    val bands = sigs
      .select(col(idCol).as("id"), col(sigCol).as("sig"),
        explode(array(bandStructs: _*)).as("b"))
      .select(col("id"), col("sig"),
        col("b.band").as("band"), col("b.chunk").as("chunk"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Compositional SimHash (explode 64 rows per token → groupBy-sum votes):
    * the reference formulation [[simHash]] is verified against — 64× the
    * pre-shuffle rows, kept only as the test oracle for the aggregate.
    * Token hash = first 8 bytes of md5 (hi 4 bits ∥ lo 60 bits via conv,
    * since conv of 16 hex chars can exceed Long) — identical to
    * [[graft.functions.SimHashAgg.tokenHash64]]. */
  def simHashViaExplode(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"),
        md5(col("tok").cast("binary")).as("hex"))
      .select(col("doc_id"),
        shiftleft(conv(substring(col("hex"), 1, 1), 16, 10).cast(LongType), 60)
          .bitwiseOR(conv(substring(col("hex"), 2, 15), 16, 10).cast(LongType))
          .as("h"),
        explode(sequence(lit(0), lit(63))).as("bit"))
      .select(col("doc_id"), col("bit"),
        when(expr("shiftright(h, bit)").bitwiseAND(1) === 1, 1)
          .otherwise(-1).as("vote"))
      .groupBy(col("doc_id"), col("bit"))
      .agg(sum(col("vote")).as("votes"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("votes") > 0, expr("shiftleft(CAST(1 AS BIGINT), bit)"))
        .otherwise(0L)).as("simhash"))
}
