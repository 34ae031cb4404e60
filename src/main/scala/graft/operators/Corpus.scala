package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.operators.{TextAnalysis => TA}

/** Corpus-level analytics and transforms for training-data pipelines:
  * n-gram frequency statistics, cross-source vocabulary overlap,
  * document-frequency-capped stopword scrubbing, and context-window token
  * chunking. Everything here is either scan-only (chunking, and the scrub
  * once its small hot-set is built) or one partial-aggregated shuffle of
  * the token/shingle relation — the shapes that survive a 100 TB corpus.
  */
object Corpus {

  /** Top-`k` 3-gram shingles corpus-wide by occurrence count, with the
    * number of distinct documents containing each (`n_docs`).
    *
    * Two-phase aggregation instead of `countDistinct`: the first groupBy
    * on (shingle, doc_id) collapses per-document repeats WITH map-side
    * partial aggregation, so the wide shuffle carries one row per
    * (shingle, doc) incidence, and the second groupBy — already tiny —
    * derives both totals. `countDistinct(doc_id)` would plan an Expand
    * (2× the exploded relation) to share one shuffle; at corpus scale two
    * small shuffles beat one doubled one. The final total order
    * (count desc, shingle asc) is deterministic, so the LIMIT cutoff is
    * too; Spark plans it as TakeOrderedAndProject (no global sort). */
  def ngramTopK(docs: DataFrame, k: Int): DataFrame =
    // tokens in their OWN projection: shingles3's transform dereferences
    // the token array ~3× per shingle, and inlined the regex split would
    // re-run per reference (the docSetsLocal pitfall — measured ~7× the
    // stage). CollapseProject keeps multi-referenced non-cheap
    // projections apart, so the split runs once per row.
    TA.parallelized(docs)
      .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(TA.shingles3(col("toks"))).as("shingle"))
      .groupBy(col("shingle"), col("doc_id"))
      .agg(count(lit(1)).as("n_in_doc"))
      .groupBy(col("shingle"))
      .agg(sum(col("n_in_doc")).as("n_occurrences"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("shingle").asc)
      .limit(k)

  /** Pairwise Jaccard similarity of the distinct 3-gram-shingle
    * vocabularies of every two `source` groups (a < b), with intersection
    * and union sizes — the source-level cousin of document near-dup: which
    * corpora overlap enough that sampling weights should account for it.
    * Shingles, not unigram tokens: unigram vocabularies saturate (every
    * large corpus contains every common word, Jaccard → 1), while the
    * 3-gram space is sparse enough to discriminate at any scale.
    *
    * ONE corpus-sized shuffle: the incidence relation groups by shingle
    * with `collect_set(source)` deduping map-side (no separate distinct
    * pass, no self-join — a join would re-exchange both sides and emit
    * per-occurrence rows through a second shuffle). Each shingle's sorted
    * source list (≤ nSources elements) then expands to its a<b pairs
    * ROW-LOCALLY, and everything downstream aggregates relations bounded
    * by nSources², independent of corpus size. Pairs sharing zero
    * shingles are (correctly) absent. */
  def vocabOverlap(docs: DataFrame): DataFrame = {
    // native one-pass shingle builder (distinct by construction; the
    // sort is irrelevant pre-explode) — no interpreted lambda chain
    val byShingle = TA.parallelized(docs)
      .select(col("source"),
        explode(graft.functions.SetCols.sortedShingles3(col("text")))
          .as("tok"))
      .groupBy(col("tok"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
    // DIMENSION COLLAPSE before pair expansion: distinct source-LISTS are
    // few (bounded by the source-set lattice actually realized, not by
    // shingle count — corpora share hot co-occurrence patterns), so
    // grouping shingles by their whole list first shrinks the pair
    // explode from |shingles|·pairs rows to |distinct lists|·pairs, and
    // every downstream count becomes a weighted sum
    val setCounts = byShingle.groupBy(col("srcs")).agg(count(lit(1)).as("cnt"))
    // per-source vocabulary sizes from the weighted lists
    val sizes = setCounts.select(explode(col("srcs")).as("source"), col("cnt"))
      .groupBy(col("source")).agg(sum(col("cnt")).as("n_vocab"))
    // ordered pairs from each sorted list: element i with every later one
    val pairsCol = flatten(transform(col("srcs"), (a, i) =>
      transform(slice(col("srcs"), i + lit(2), size(col("srcs"))),
        b => struct(a.as("source_a"), b.as("source_b")))))
    val common = setCounts
      .select(explode(pairsCol).as("p"), col("cnt"))
      .groupBy(col("p.source_a").as("source_a"), col("p.source_b").as("source_b"))
      .agg(sum(col("cnt")).as("n_common"))
    common
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n_vocab").as("na"))),
        "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n_vocab").as("nb"))),
        "source_b")
      .select(col("source_a"), col("source_b"), col("n_common"),
        (col("na") + col("nb") - col("n_common")).as("n_union"),
        (col("n_common").cast(DoubleType) /
          (col("na") + col("nb") - col("n_common"))).as("jaccard"))
  }

  /** Remove every token whose document frequency is ≥ `minDfFraction` of
    * the corpus from every document, preserving the order of the survivors
    * (C4-style corpus-adaptive stopword scrubbing).
    *
    * The hot set is SMALL BY CONSTRUCTION: a token qualifies only if it
    * appears in ≥ f·N documents, and with D distinct tokens per doc on
    * average there are at most D/f such tokens — independent of corpus
    * size. So the plan computes df with one partial-aggregated shuffle of
    * the distinct-token relation, closes the hot set against the corpus
    * row count via a 1-row cross join (no driver action, the plan stays
    * lazy), collapses it to ONE array row, and broadcast-cross-joins that
    * row back onto the corpus where the actual scrub is a row-local array
    * filter. Nothing per-document ever shuffles. */
  def scrubHotWords(docs: DataFrame, minDfFraction: Double): DataFrame = {
    val total = docs.agg(count(lit(1)).as("n_total"))
    val hot = docs
      .select(explode(array_distinct(TA.tokens(col("text")))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .join(total)
      .filter(col("df").cast(DoubleType) >= lit(minDfFraction) * col("n_total"))
    // sort_array: the membership test is order-independent, but a
    // deterministic array makes plans and debugging stable
    val hotRow = hot.agg(sort_array(collect_list(col("tok"))).as("hot_toks"))
    docs
      .crossJoin(broadcast(hotRow))
      .select(col("doc_id"), TA.tokens(col("text")).as("toks"), col("hot_toks"))
      .select(col("doc_id"), col("toks"),
        filter(col("toks"), t => not(array_contains(col("hot_toks"), t))).as("kept"))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(col("kept")).as("n_kept"),
        array_join(col("kept"), " ").as("scrubbed"))
  }

  /** Frequency-ranked unigram vocabulary: (tok, n_occurrences, token_id)
    * with dense 0-based ids by (count desc, token asc) — the
    * tokenizer-prep step that turns corpus statistics into an id space.
    *
    * The corpus-wide work is ONE partial-aggregated shuffle of the token
    * relation; the ranking then runs over the minCount-SURVIVORS only — a
    * vocabulary is tens of thousands of rows regardless of corpus size
    * (Heaps' law + the count floor), so the default single-partition
    * ranking sort (`rankPartitions = 1`) is bounded.
    *
    * For very large vocabularies (low minCount, shingle/BPE token spaces),
    * pass `rankPartitions = P > 1`: the survivors are RANGE-partitioned on
    * the ranking key, ranked per partition (each sort touches ~1/P of the
    * vocab), and per-partition offsets — a P-row relation — convert local
    * ranks to the same global dense ids. The two paths produce IDENTICAL
    * output: the ranking key (count desc, tok asc) is total (tok is
    * unique), so ids don't depend on where range boundaries land. The
    * survivor relation is localCheckpoint'ed in this path so the
    * corpus-sized explode+aggregate runs once, not once per downstream
    * reference. */
  def vocabulary(docs: DataFrame, minCount: Long,
      rankPartitions: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rankPartitions >= 1, s"rankPartitions=$rankPartitions")
    val counts = docs.select(explode(TA.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= minCount)
    val ord = Seq(col("n_occurrences").desc, col("tok").asc)
    if (rankPartitions == 1)
      counts.select(col("tok"), col("n_occurrences"),
        (row_number().over(Window.orderBy(ord: _*)) - 1).as("token_id"))
    else {
      // explicit numPartitions pins the exchange (AQE won't coalesce it);
      // pid is stable once materialized, so ranks and offsets agree
      val parts = counts.repartitionByRange(rankPartitions, ord: _*)
        .withColumn("pid", spark_partition_id())
        .localCheckpoint()
      val local = parts.withColumn("lr",
        row_number().over(Window.partitionBy(col("pid")).orderBy(ord: _*)))
      // offset(p) = rows in earlier partitions; the only single-partition
      // window left runs over P rows, not the vocabulary
      val offsets = parts.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
        .select(col("pid"), (sum(col("cnt")).over(Window.orderBy(col("pid")))
          - col("cnt")).as("offset"))
      local.join(broadcast(offsets), Seq("pid"))
        .select(col("tok"), col("n_occurrences"),
          (col("lr") - 1 + col("offset")).cast(IntegerType).as("token_id"))
    }
  }

  /** Encode every document as (doc_id, pos, token_id) under a vocabulary,
    * out-of-vocabulary tokens → −1. The vocab side is broadcast (small by
    * the [[vocabulary]] bound), so the corpus side is scan + explode +
    * broadcast-hash-join — no corpus-sized shuffle at any scale. `pos` is
    * 1-based. */
  def encodeTokens(docs: DataFrame, vocab: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(TA.tokens(col("text"))).as(Seq("pos", "tok")))
      .join(broadcast(vocab.select(col("tok"), col("token_id"))), Seq("tok"), "left")
      .select(col("doc_id"), (col("pos") + 1).as("pos"),
        coalesce(col("token_id"), lit(-1)).as("token_id"))

  /** Split each document's token sequence into context windows of at most
    * `window` tokens starting every `stride` tokens (overlap = window −
    * stride), the chunking step in front of tokenizer/packing in a
    * training pipeline. Chunk starts are 1, 1+s, 1+2s, …; the count
    * 1 + ⌈max(n−w, 0)/s⌉ is exactly enough that the last chunk reaches the
    * final token (it may be shorter than `window`; with stride ≤ window
    * every token is covered). Entirely row-local — a scan-only generate,
    * no shuffle at any scale. */
  def chunkTokens(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val n = size(col("toks"))
    val nChunks = when(n <= window, lit(1))
      .otherwise(ceil((n - lit(window)).cast(DoubleType) / lit(stride))
        .cast(IntegerType) + lit(1))
    docs
      .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0), nChunks - 1)).as(Seq("chunk_idx", "i")))
      .select(col("doc_id"), col("chunk_idx"),
        (col("i") * stride + 1).as("start_tok"),
        slice(col("toks"), col("i") * stride + 1, lit(window)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx").cast(IntegerType).as("chunk_idx"),
        col("start_tok").cast(IntegerType).as("start_tok"),
        size(col("chunk")).as("n_chunk_tokens"),
        array_join(col("chunk"), " ").as("chunk_text"))
  }

  /** Top-`k` TF-IDF terms per source: which tokens are DISTINCTIVE of each
    * corpus slice, not merely frequent in it — the relevance/topicality
    * statistic behind quality filters ("does this source over-index on
    * boilerplate?") and mixture design. Output: (source, token, tf_total,
    * df, tfidf_1e6, rank) with rank 1..k by (score desc, token asc).
    *
    * Scoring: tfidf = tf_total(source, token) · ln(N / df), with N the
    * corpus document count and df the CORPUS-WIDE document frequency —
    * per-source tf against global idf, so a token every source repeats
    * scores ~0 everywhere. The score is emitted as integer MICROS
    * (`round(x·1e6)`), the same cross-engine contract as the cosine
    * queries: every arithmetic step (long→double promotion, one exact
    * division, `ln`, two multiplications, round-half-up) is evaluated in
    * the same order by any IEEE engine, and the top-k cutoff itself runs
    * on the rounded micros, so rank boundaries can't drift on a last-ulp
    * disagreement. (Micros stay exactly representable up to 2^53 —
    * tf_total·ln(N/df) < ~9e9 — beyond which widen the scale.)
    *
    * Shape at scale: shuffle 1 partial-aggregates the exploded token
    * relation to (source, doc, token) tf rows — in-document repeats
    * collapse map-side; shuffle 2 collapses that to the (source, token)
    * relation (vocab-bounded, Heaps' law); df then derives from the
    * aggregate — `sum` of per-source doc counts — NOT from a second pass
    * over the corpus, and the df join exchanges only vocab-sized
    * relations. N closes via a broadcast 1-row cross join (plan stays
    * lazy, no driver action).
    *
    * Ranking: `rankPartitions = 1` (default) ranks with one window
    * partitioned by source — fine while per-source vocabularies sort in
    * one task. For large vocabs pass P > 1: rows are RANGE-partitioned on
    * the full (source, score, token) ranking key — a big source spreads
    * across MANY partitions, so no per-source executor hot spot — ranked
    * locally, pruned to local-rank ≤ k (global rank ≥ local rank, so
    * nothing prunable can reach the top k), and per-(partition, source)
    * offsets — a P×sources relation — convert local to global ranks.
    * Both paths emit identical rows: the ranking key is total (token is
    * unique per source), so ranks don't depend on boundary placement. */
  def tfidfTopTerms(docs0: DataFrame, k: Int,
      rankPartitions: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"k=$k")
    require(rankPartitions >= 1, s"rankPartitions=$rankPartitions")
    val docs = TA.parallelized(docs0)
    val total = docs.agg(count(lit(1)).cast(DoubleType).as("n_total"))
    val tf = docs
      .select(col("source"), col("doc_id"),
        explode(TA.tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val bySourceToken = tf.groupBy(col("source"), col("token"))
      .agg(sum(col("tf")).as("tf_total"), count(lit(1)).as("nd"))
    val dfRel = bySourceToken.groupBy(col("token"))
      .agg(sum(col("nd")).as("df"))
    val scored = bySourceToken.join(dfRel, Seq("token"))
      .crossJoin(broadcast(total))
      .select(col("source"), col("token"), col("tf_total"), col("df"),
        round(col("tf_total") * log(col("n_total") / col("df")) * lit(1e6))
          .cast(LongType).as("tfidf_1e6"))
    val ord = Seq(col("tfidf_1e6").desc, col("token").asc)
    val out = Seq(col("source"), col("token"), col("tf_total"), col("df"),
      col("tfidf_1e6"))
    if (rankPartitions == 1)
      scored.select(out :+ row_number().over(
          Window.partitionBy(col("source")).orderBy(ord: _*)).as("rank"): _*)
        .filter(col("rank") <= k)
    else {
      // explicit numPartitions pins the exchange (AQE won't coalesce it);
      // pid is stable once materialized, so ranks and offsets agree
      val parts = scored
        .repartitionByRange(rankPartitions, col("source") +: ord: _*)
        .withColumn("pid", spark_partition_id())
        .localCheckpoint()
      val local = parts.withColumn("lr", row_number().over(
          Window.partitionBy(col("pid"), col("source")).orderBy(ord: _*)))
        .filter(col("lr") <= k) // global rank >= local rank: safe prune
      val offsets = parts.groupBy(col("pid"), col("source"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("pid"), col("source"),
          (sum(col("cnt")).over(
            Window.partitionBy(col("source")).orderBy(col("pid")))
            - col("cnt")).as("offset"))
      local.join(broadcast(offsets), Seq("pid", "source"))
        .select(out :+ (col("lr") + col("offset")).cast(IntegerType)
          .as("rank"): _*)
        .filter(col("rank") <= k)
    }
  }

  /** Corpus-trained bigram language-model scoring: every document's total
    * Laplace-smoothed bigram log-probability under a model fitted on the
    * corpus itself — the KenLM-style statistical quality filter of
    * pretraining pipelines (an incoherent or boilerplate document scores
    * far from the corpus mean for its length; the score feeds the same
    * selection step as [[TextAnalysis]]'s heuristic quality features, but
    * is distribution-aware).
    *
    * Model: p(w₂|w₁) = (c(w₁w₂) + 1) / (c(w₁) + |V|), c(w₁) summed over
    * observed bigram starts, |V| the corpus's distinct-token count.
    *
    * Exactness: all model inputs are BIGINT counts, so each bigram's
    * probability is ONE exact double division; the per-bigram log rides
    * the integer-micro contract (round(ln·10⁶) — the q93 precedent) and
    * the per-doc total is a BIGINT sum of those integers:
    * partition-order-independent and cross-engine hash-exact. Documents
    * with < 2 tokens score (0, 0) — present, not dropped.
    *
    * Shape at scale: the model is vocab²-BOUNDED, far below corpus size —
    * two partial-aggregated shuffles build it (bigram counts, then start
    * counts off the already-tiny bigram relation); |V| closes via a
    * broadcast 1-row aggregate. Scoring joins the corpus-sized bigram
    * stream against those model relations (broadcast when the model fits
    * — the usual case; sort-merge on the bigram key beyond that), and the
    * per-doc total is ONE partial-aggregated doc-key shuffle. No driver
    * materialization anywhere. */
  def bigramLogProb(docs: DataFrame): DataFrame =
    bigramLogProbScored(docs, docs)

  /** [[bigramLogProb]] with the MODEL corpus and the SCORED corpus
    * decoupled — the held-out evaluation shape (fit on train, score
    * val/test; q147 splits on doc parity). Scored bigrams absent from
    * the model take the Laplace floor ((0+1)/(0+|V|) at worst — both
    * counts COALESCE to 0 through left joins), so unseen-token documents
    * score finitely and deterministically. When `modelDocs eq scoreDocs`
    * every join hits and this is exactly the self-scored q106 semantics
    * (the LEFT joins degenerate to inner). */
  /** Adjacent-token (w1, w2) pairs — the ONE bigram relation the LM
    * scoring, TextRank, and collocation operators all consume (a
    * tokenizer or windowing change lands here once). `carryDocId` keeps
    * the document key for per-doc scoring; the corpus-level consumers
    * drop it before their aggregates. */
  private def bigramRows(docs: DataFrame, carryDocId: Boolean): DataFrame = {
    // NOT widened: every consumer aggregates the bigram relation into
    // vocab-bounded frames right away, and the iterative consumers
    // (textRank) are loop-dominated — an A/B at sf0.1 measured the added
    // exchange as a consistent LOSS on q135 (+0.2 s) with no gain on
    // q106/q145
    val keep = if (carryDocId) Seq(col("doc_id")) else Nil
    val toksed = docs.select(keep :+ TA.tokens(col("text")).as("toks"): _*)
    val n = size(col("toks"))
    toksed.select(keep :+ explode(zip_with(
        slice(col("toks"), lit(1), n - 1),
        slice(col("toks"), lit(2), n - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"): _*)
      .select(keep ++ Seq(col("bg.w1").as("w1"), col("bg.w2").as("w2")): _*)
  }

  def bigramLogProbScored(modelDocs: DataFrame,
      scoreDocs: DataFrame): DataFrame = {
    def toBigrams(d: DataFrame): DataFrame = bigramRows(d, carryDocId = true)
    val c12 = toBigrams(modelDocs).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n12"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("n12")).as("n1"))
    val vocab = modelDocs
      .select(explode(TA.tokens(col("text"))).as("tok"))
      .agg(countDistinct(col("tok")).as("vocab"))
    val lp = round(log(
        (coalesce(col("n12"), lit(0L)) + lit(1.0)) /
          (coalesce(col("n1"), lit(0L)) + col("vocab")))
      * lit(1000000.0)).cast(LongType)
    val scored = toBigrams(scoreDocs)
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(lp).as("logprob_micros"))
    scoreDocs.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("logprob_micros"), lit(0L)).as("logprob_micros"))
  }

  /** ln 2 as the one correctly-rounded double, embedded as a LITERAL on
    * both engines so neither runtime's `ln(2)` call (last-ulp risk) enters
    * the contract. */
  private val Ln2 = 0.6931471805599453

  /** Pairwise Jensen–Shannon divergence between the unigram token
    * DISTRIBUTIONS of every two `source` groups (a < b), in integer
    * micro-nats — the distribution-level companion to [[vocabOverlap]]:
    * overlap says which corpora share vocabulary, divergence says how
    * differently they USE it, the quantity mixture design actually weighs
    * (JS is symmetric, bounded by ln 2, and zero-safe — KL is none of
    * those).
    *
    * Per union token the contribution is p·ln(2p/(p+q)) + q·ln(2q/(p+q))
    * (≥ 0 by the log-sum inequality; p or q absent → the p·ln 2 limit),
    * halved into the micro scaling (×5·10⁵). Exactness: p and q are ONE
    * exact double division of BIGINT counts each; every term is a fixed
    * op sequence both engines evaluate identically (the q93 integer-micro
    * contract, with [[Ln2]] pinned as a literal), and the per-pair total
    * is a BIGINT sum of term micros — partition-order independent.
    *
    * Shape at scale: ONE corpus-sized shuffle (the (source, token) count).
    * Everything downstream is vocab-bounded: totals are |sources| rows,
    * the pair relation |sources|², and the term relations join the
    * vocab-sized counts against broadcast pairs — the a-side LEFT join
    * supplies common and a-only tokens, a LEFT ANTI join isolates b-only
    * tokens. No driver materialization. */
  def sourceDivergence(docs: DataFrame): DataFrame = {
    // NOT widened: `st` is referenced three times (a-side, b-only probe
    // and anti side) and the added repartition re-plans per reference —
    // measured a consistent loss at sf0.1 (q108 1.02 → 1.23 s)
    val st = docs
      .select(col("source"), explode(TA.tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("n"))
    val tot = st.groupBy(col("source")).agg(sum(col("n")).as("nt"))
    val pairs = tot.select(col("source").as("sa"), col("nt").as("na_t"))
      .crossJoin(broadcast(
        tot.select(col("source").as("sb"), col("nt").as("nb_t"))))
      .filter(col("sa") < col("sb"))
    val p = col("na") / col("na_t")
    val q = col("nb") / col("nb_t")
    val common = round((p * log(lit(2.0) * p / (p + q)) +
      q * log(lit(2.0) * q / (p + q))) * lit(500000.0)).cast(LongType)
    val aTerm = when(col("nb").isNull,
      round(p * lit(Ln2) * lit(500000.0)).cast(LongType)).otherwise(common)
    val bTerm = round(q * lit(Ln2) * lit(500000.0)).cast(LongType)
    val aSide = st.select(col("source").as("sa"), col("tok"), col("n").as("na"))
      .join(broadcast(pairs), Seq("sa"))
      .join(st.select(col("source").as("sb"), col("tok"), col("n").as("nb")),
        Seq("sb", "tok"), "left")
      .select(col("sa"), col("sb"), aTerm.as("t"))
    val bOnly = st.select(col("source").as("sb"), col("tok"), col("n").as("nb"))
      .join(broadcast(pairs), Seq("sb"))
      .join(st.select(col("source").as("sa"), col("tok")), Seq("sa", "tok"),
        "left_anti")
      .select(col("sa"), col("sb"), bTerm.as("t"))
    aSide.unionByName(bOnly)
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("n_union"), sum(col("t")).as("js_micros"))
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
        col("n_union"), col("js_micros"))
  }

  /** Per-source Zipf slope: the least-squares slope of ln(frequency) on
    * ln(rank) over the source's token frequency table — natural text sits
    * near −1; flat slopes flag template/boilerplate-heavy sources and
    * steep ones degenerate vocabularies, making this the corpus-health
    * diagnostic run next to [[sourceDivergence]] when composing training
    * mixtures.
    *
    * Exactness: ranks are dense integers over the TOTAL order
    * (count desc, token asc) — no boundary ambiguity; each point's
    * ln(rank)/ln(count) is one correctly-rounded double from an exact
    * integer; the four OLS sums ride DECIMAL(28,10)
    * ([[graft.queries.Exact]]) so they are partition-order independent,
    * and the slope is computed in one fixed op sequence both engines
    * evaluate identically.
    *
    * Shape at scale: one corpus-sized partial-aggregated shuffle to the
    * (source, token) counts; the ranking window and the OLS aggregate run
    * on the vocab-bounded relation (per-source partitions — the
    * range-partitioned ranking of [[vocabulary]] is the drop-in if a
    * single source's vocabulary ever outgrows a partition). */
  def zipfSlope(docs: DataFrame): DataFrame = {
    import graft.queries.Exact
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(col("source"), explode(TA.tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("n"))
    val rank = row_number().over(Window.partitionBy(col("source"))
      .orderBy(col("n").desc, col("tok").asc))
    val pts = counts
      .select(col("source"), log(rank.cast(DoubleType)).as("x"),
        log(col("n").cast(DoubleType)).as("y"))
    pts.groupBy(col("source"))
      .agg(count(lit(1)).as("n_points"),
        Exact.dsum(col("x")).as("sx"), Exact.dsum(col("y")).as("sy"),
        Exact.dsum(col("x") * col("y")).as("sxy"),
        Exact.dsum(col("x") * col("x")).as("sxx"))
      .select(col("source"), col("n_points"), {
        // degenerate single-point fit → NULL in both engines, not 0/0
        val num = col("n_points") * col("sxy") - col("sx") * col("sy")
        val den = col("n_points") * col("sxx") - col("sx") * col("sx")
        (num / when(den =!= 0.0, den)).as("zipf_slope")
      })
  }

  /** Okapi BM25 retrieval for a fixed bag of query `terms`: the global
    * top-`k` documents by Σ_t idf(t)·tf·(k1+1)/(tf + k1·(1−b + b·dl/avgdl)),
    * with Lucene's always-positive idf variant ln((N−df+½)/(df+½)+1) —
    * the standard keyword-retrieval scorer a training-data pipeline uses
    * for targeted corpus slicing and hybrid (lexical+vector) search.
    *
    * Single-shuffle shape: because the query terms are a small FIXED
    * literal set, per-term tf is a conditional-sum COLUMN of one
    * per-document aggregate over the exploded token relation — map-side
    * partial aggregation collapses each document's tokens before the
    * exchange, so the only wide shuffle carries one row per document.
    * Every corpus statistic the score needs (N, Σdl for avgdl, per-term
    * df) then derives from a 1-row aggregate of that per-document
    * relation, folded back in as a broadcast cross join; there is no join
    * against the token relation and no second corpus pass. Ranking is a
    * TakeOrderedAndProject (orderBy+limit — no global sort), with the
    * k-row window ranking only the already-pruned result.
    *
    * Exactness contract (the q93/q108 discipline): each term's
    * contribution is a fixed scalar expression tree over deterministic
    * ints and ratios of exact integer aggregates, quantized to integer
    * micros BEFORE the cross-term sum, so FP summation order can never
    * flip a rank; ties break on doc_id, a total order. */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    // terms become column-name suffixes (tf_<t>, df_<t>): dots/backticks
    // would break column resolution, and Spark's case-insensitive
    // resolver would report case-only-distinct terms as ambiguous
    require(terms.forall(_.matches("[A-Za-z0-9_]+")),
      s"query terms must be word-like (they name columns): $terms")
    require(terms.map(_.toLowerCase).distinct.size == terms.size,
      s"terms must be case-insensitively distinct: $terms")
    require(k > 0, s"k=$k")
    import org.apache.spark.sql.expressions.Window
    val tfAggs = count(lit(1)).as("dl") +:
      terms.map(t => sum(when(col("token") === t, 1L).otherwise(0L))
        .as(s"tf_$t"))
    // localCheckpoint: the per-document relation feeds BOTH the 1-row
    // stats aggregate and the scoring projection — without pinning it,
    // Catalyst plans two independent corpus scans (exchange reuse only
    // catches one pair); pinned, the corpus is tokenized exactly once
    // and everything downstream reads N_docs rows
    val perDoc = TA.parallelized(docs)
      .select(col("doc_id"), col("source"),
        explode(TA.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("source"))
      .agg(tfAggs.head, tfAggs.tail: _*)
      .localCheckpoint()
    val statAggs =
      count(lit(1)).cast(DoubleType).as("n") +:
        sum(col("dl")).as("total_dl") +:
        terms.map(t => sum(when(col(s"tf_$t") > 0L, 1L).otherwise(0L))
          .as(s"df_$t"))
    val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)
    val contribs = terms.map { t =>
      val tf = col(s"tf_$t")
      val df = col(s"df_$t")
      val idf = log((col("n") - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0))
      val denom = tf + lit(k1) *
        (lit(1.0 - b) + lit(b) * col("dl") / (col("total_dl") / col("n")))
      when(tf > 0L,
        round(idf * tf * lit(k1 + 1.0) / denom * lit(1e6)).cast(LongType))
        .otherwise(0L)
    }
    val nTerms = terms.map(t => when(col(s"tf_$t") > 0L, 1L).otherwise(0L))
      .reduce(_ + _)
    val scored = perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("source"), col("dl").as("n_tokens"),
        nTerms.cast(LongType).as("n_terms"),
        contribs.reduce(_ + _).as("bm25_1e6"))
      .filter(col("n_terms") > 0L)
    val ord = Seq(col("bm25_1e6").desc, col("doc_id").asc)
    scored.orderBy(ord: _*).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(ord: _*)).cast(IntegerType))
  }

  /** TextRank keyword scoring (Mihalcea & Tarau '04): weighted PageRank
    * over the corpus's directed bigram-adjacency graph — nodes are
    * tokens, edge u→v weighs how often "u v" occurs. The stationary
    * score surfaces structurally-central vocabulary (keyword extraction /
    * corpus characterization), the graph-centrality companion to the
    * frequency-only [[tfidfTopTerms]].
    *
    * INTEGER-ARITHMETIC power iteration: ranks live in 1e-9 units
    * (r₀ = 10⁹ div N), and one iteration is
    *   r'(v) = (15·10⁷ div N) + ((Σᵤ (r(u)·w(u,v)) div wout(u)) · 85) div 100
    * — every operation is 64-bit integer multiply/floor-divide/sum, so
    * there is NO floating point anywhere: cross-engine exact by
    * construction, no quantization epsilon to reason about, and the
    * per-node inflow sum is partition-order independent. (Damping 0.85 as
    * the 85/100 rational; dangling mass leaks, identically on both
    * sides. At r·w beyond 2⁶³ — ~10⁹ corpus bigram repeats — widen to
    * decimal; far past any real vocabulary graph.)
    *
    * Shape at scale: ONE corpus-sized shuffle builds the bigram edge
    * relation; everything after is vocab²-bounded (the q106 model-size
    * argument). Each iteration is one edge⋈wout⋈rank join + one dst-key
    * aggregate over that bounded relation — the GraphX message-passing
    * shape without per-round corpus rescans (edges/nodes are
    * localCheckpoint-pinned). The node count is collected once as the
    * teleport base — an index-artifact scalar, not per-row driver work. */
  def textRank(docs: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters=$iters")
    import org.apache.spark.sql.expressions.Window
    val edges = bigramRows(docs, carryDocId = false)
      .groupBy(col("w1").as("src"), col("w2").as("dst"))
      .agg(count(lit(1)).as("w"))
      .localCheckpoint()
    val nodes = edges.select(col("src").as("token"))
      .union(edges.select(col("dst"))).distinct().localCheckpoint()
    val nCount = nodes.count()
    require(nCount > 0,
      "textRank: corpus yields no bigram edges (every document has < 2 tokens)")
    val wout = edges.groupBy(col("src")).agg(sum(col("w")).as("wout"))
      .localCheckpoint()
    var rank = nodes.select(col("token"), lit(1000000000L / nCount).as("r"))
    for (_ <- 1 to iters) {
      val inflow = edges.join(wout, Seq("src"))
        .join(rank.withColumnRenamed("token", "src"), Seq("src"))
        .select(col("dst"), expr("(r * w) div wout").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
      rank = nodes
        .join(inflow.withColumnRenamed("dst", "token"), Seq("token"), "left")
        .select(col("token"),
          (lit(150000000L / nCount) +
            expr("(coalesce(inflow, cast(0 as bigint)) * 85) div 100"))
            .as("r"))
        .localCheckpoint()
    }
    rank.select(col("token"), col("r").as("rank_1e9"),
      row_number().over(Window.orderBy(col("r").desc, col("token").asc))
        .cast(IntegerType).as("pos"))
  }

  /** Collocation mining: the top-`k` adjacent token pairs by pointwise
    * mutual information, PMI = ln(p(w₁w₂) / (p(w₁)·p(w₂))) with bigram
    * probability over the bigram total N and unigram probabilities over
    * the token total T — the phrase-detection step (word2vec-style
    * "new_york" merging) of corpus preprocessing. A `minCount` floor
    * keeps the rare-pair PMI explosion out (the classic PMI failure
    * mode).
    *
    * Exactness: the score is ln((c₁₂·T²)/(N·c₁·c₂)) — integer products
    * (exact in BIGINT, and exact again as doubles while < 2⁵³; swap to
    * DECIMAL beyond ~10¹⁵-token corpora), ONE division, one ln, rounded
    * to integer micros (q93 discipline). Ranking is total (pmi desc,
    * pair asc).
    *
    * Shape at scale: the same one corpus shuffle as every token
    * aggregate; the bigram and unigram count relations are vocab²- and
    * vocab-bounded, and the final join runs entirely on those bounded
    * relations with broadcast totals. */
  def collocations(docs: DataFrame, minCount: Long, k: Int): DataFrame = {
    require(minCount >= 1 && k > 0, s"minCount=$minCount k=$k")
    import org.apache.spark.sql.expressions.Window
    val bigrams = bigramRows(docs, carryDocId = false)
    // two corpus passes total (bigram counts, unigram counts), both
    // pinned: N derives from the UNFILTERED vocab²-bounded bigram-count
    // relation (Σc₁₂ ≡ the bigram total) and T from the unigram counts —
    // a third corpus-sized count(*) pass would be pure waste
    val c12All = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12")).localCheckpoint()
    val c12 = c12All.filter(col("c12") >= minCount)
    val uni = TA.parallelized(docs)
      .select(explode(TA.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c")).localCheckpoint()
    val totals = uni.agg(sum(col("c")).as("t_tokens"))
      .crossJoin(c12All.agg(sum(col("c12")).as("n_bigrams")))
    val scored = c12
      .join(broadcast(uni.select(col("tok").as("w1"), col("c").as("c1"))), "w1")
      .join(broadcast(uni.select(col("tok").as("w2"), col("c").as("c2"))), "w2")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c12"),
        round(log((col("c12") * col("t_tokens") * col("t_tokens"))
            / (col("n_bigrams") * col("c1") * col("c2")))
          * lit(1e6)).cast(LongType).as("pmi_1e6"))
    val ord = Seq(col("pmi_1e6").desc, col("w1").asc, col("w2").asc)
    scored.orderBy(ord: _*).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(ord: _*)).cast(IntegerType))
  }

  /** Subword seed-vocabulary induction: the top-`k` within-token character
    * n-grams (lengths `minN`..`maxN`) by corpus occurrence count — the
    * seed-vocab step of SentencePiece/unigram-LM tokenizer training
    * (candidate pieces are frequent substrings; training then prunes).
    *
    * The scale move: substrings are generated from the TOKEN-COUNT
    * relation, not the corpus — each distinct token explodes once,
    * carrying its corpus count as a weight, so the explode is
    * vocab-bounded (Heaps' law) while occurrence totals stay exact
    * (Σ count(token) · occurrences-in-token). The corpus itself pays only
    * the one partial-aggregated token shuffle every Corpus operator
    * shares. Counts are BIGINT sums — exact under any partitioning — and
    * the (count desc, ngram asc) ranking is total, so the top-k cutoff is
    * deterministic; orderBy+limit plans as TakeOrderedAndProject. */
  /** Distinct-word frequency relation (word, freq) — the input BPE
    * training actually needs. One partial-aggregated token shuffle over
    * the corpus, after which every training round is bounded by the
    * DISTINCT vocabulary (Heaps' law), never the corpus. */
  def bpeWordFreqs(docs: DataFrame): DataFrame =
    TA.parallelized(docs)
      .select(explode(TA.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** A word as its BPE symbol-sequence STRING under the invariant
    * `' s1  s2  …  sn '` — two spaces between adjacent symbols, one at
    * each end, symbols never containing spaces. The invariant makes the
    * greedy left-to-right non-overlapping pair merge expressible as a
    * single literal `replace(' l  r ' → ' lr ')`: each match consumes one
    * boundary space from each side and the replacement restores them, so
    * consecutive occurrences (`a a a a` under pair `(a,a)`) all merge in
    * one pass, partial-symbol matches are impossible, and — crucially for
    * the oracle contract — Spark and DuckDB `replace` agree exactly. */
  private def bpeSeq(word: Column): Column =
    // (?s): Java's '.' skips U+2028/U+2029/U+0085 (which \s+ tokenizing
    // does NOT strip), RE2's '.' skips only \n — DOTALL makes both wrap
    // every code point, keeping the invariant and the oracle aligned on
    // any input
    regexp_replace(word, "(?s)(.)", " $1 ")

  private def bpeMergeOnce(s: Column, l: String, r: String): Column =
    call_function("replace", s, lit(s" $l  $r "), lit(s" $l$r "))

  /** Adjacent-pair counts of the current symbolization, weighted by word
    * frequency (overlapping repeats count per position, the standard BPE
    * convention). One shuffle on the vocab-bounded word relation. */
  private def bpePairCounts(cur: DataFrame): DataFrame =
    cur.select(split(trim(col("s")), "  ").as("syms"), col("freq"))
      // the size guard also keeps sequence() ascending (it DESCENDS when
      // stop < start — single-symbol words must not explode)
      .filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, size(syms) - 1), " +
          "i -> struct(syms[i-1] AS l, syms[i] AS r))")).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("n"))

  /** Pair-count ROUNDS (Spark jobs) the most recent [[bpeTrain]] ran —
    * the observable contract of merge batching: on a diverse corpus,
    * rounds ≪ merges (BpeSpec asserts it). The driver-local path reports
    * 0 (it runs no distributed pair-count rounds at all). */
  @volatile private[graft] var lastBpeTrainRounds: Int = 0

  private def utf8Less(a: String, b: String): Boolean =
    org.apache.spark.unsafe.types.UTF8String.fromString(a).compareTo(
      org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0

  /** One greedy non-overlapping left-to-right merge pass — the driver
    * twin of [[bpeMergeOnce]]'s literal replace under the double-space
    * invariant (replace scans the original left to right and resumes
    * after each consumed match, exactly this loop on symbol arrays). */
  private def mergeSyms(syms: Array[String], l: String,
      r: String): Array[String] = {
    var i = 0
    var changed = false
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += l + r; i += 2; changed = true
      } else { out += syms(i); i += 1 }
    }
    if (changed) out.toArray else syms
  }

  /** Exact sequential greedy BPE on the driver: per merge, full adjacent
    * pair recount (freq-weighted, overlapping repeats per position — the
    * [[bpePairCounts]] convention), argmax under (n desc, l asc, r asc)
    * with UTF8-BINARY string order (what Spark's StringType sort
    * compares), merge applied to every word. No batching needed: there
    * is no per-round job cost to amortize, and one-merge-per-round IS
    * the reference greedy. */
  private[operators] def bpeTrainLocal(words0: Array[(Array[String], Long)],
      nMerges: Int): Seq[(Int, String, String, Long)] = {
    var words = words0
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    while (merges.length < nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, f) <- words; i <- 0 until syms.length - 1)
        counts.updateWith((syms(i), syms(i + 1)))(
          c => Some(c.getOrElse(0L) + f))
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), n) = counts.reduceLeft { (a, b) =>
          val ((al, ar), an) = a
          val ((bl, br), bn) = b
          if (bn > an || (bn == an && (utf8Less(bl, al) ||
            (bl == al && utf8Less(br, ar))))) b else a
        }
        merges += ((merges.length + 1, l, r, n))
        words = words.map { case (syms, f) => (mergeSyms(syms, l, r), f) }
      }
    }
    merges.toSeq
  }

  /** Iterative BPE merge-loop TRAINING (Sennrich et al., ACL'16): start
    * from characters, and for each of `nMerges` rounds count adjacent
    * symbol pairs across the (frequency-weighted) distinct-word relation,
    * pick the argmax pair under the total order (count desc, left asc,
    * right asc), and merge it corpus-wide. Returns the learned merge
    * table (rank, left_sym, right_sym, pair_n) — the tokenizer artifact a
    * training pipeline freezes and ships.
    *
    * Scale shape: the corpus is touched exactly once (the token shuffle
    * inside [[bpeWordFreqs]], checkpointed here); every round after that
    * is explode+aggregate over DISTINCT words — vocab-bounded work, with
    * one deliberately driver-held ranked-head fetch per round (the same
    * contractual bound as k-means centroids). Round k re-derives the
    * symbolization as nested literal replaces over the LAST
    * materialization — `cur` is re-checkpointed every
    * [[bpeCheckpointRounds]] merges, so plan depth and per-round
    * re-derivation stay bounded by a CONSTANT (≤ R replaces over a
    * vocab-bounded relation) no matter how large `nMerges` grows.
    *
    * MERGE BATCHING: BPE's merge dependency is inherently sequential —
    * merge k's pair counts depend on merges 1..k-1 — so the baseline is
    * one driver-held argmax row per merge: a production 32k–100k-merge
    * run is that many sequential (vocab-bounded) Spark jobs. Batching
    * cuts that: each round takes the TOP-B prefix of the ranked pair list
    * and applies every member that PROVABLY gets the same turn under
    * sequential greedy, so the learned table is BIT-IDENTICAL to
    * single-merge training (BpeSpec pins parity) while a batchable
    * corpus pays ~B× fewer rounds. A prefix member p_k is provably
    * safe when:
    *   1. it shares no symbol with any earlier batch member's inputs
    *      OR MERGED OUTPUT (so its own count is untouched by them —
    *      merging destroys only pairs adjacent to the merged symbols
    *      and creates only pairs containing the new symbol), AND its
    *      output is a BRAND-NEW string — not a previous merge's output,
    *      the only way a string can already live as a symbol — so no
    *      existing pair can GAIN count from the batch (the
    *      output-collision count-stacking case stops the batch), and
    *   2. its count STRICTLY exceeds every pair that interacts with
    *      the batch's symbols (fetched ones checked directly;
    *      unfetched ones bounded by the fetch floor): with rule 1's
    *      collision stop, any pair a batch merge CREATES is brand-new
    *      and every occurrence of it was previously an interacting
    *      pair's occurrence — count bounded by an interacting
    *      pre-round count, strictly below p_k, so it can never preempt
    *      p_k's greedy turn, even via tie-break.
    * The batch truncates at the first member either rule rejects
    * (later members' turns depend on the rejected one); an empty safe
    * prefix falls back to the plain single argmax, which is exact
    * greedy unconditionally — interaction-heavy corpora (single-letter
    * alphabets, where every merge chains on the last) degrade to the
    * baseline, never to a wrong table. */
  def bpeTrain(words: DataFrame, nMerges: Int,
      batchCap: Int = 64): DataFrame = {
    require(nMerges > 0, s"nMerges=$nMerges")
    require(batchCap >= 1, s"batchCap=$batchCap")
    val spark = words.sparkSession
    val base = words.select(bpeSeq(col("word")).as("s"), col("freq"))
      .localCheckpoint()
    DriverLocal.collectUnder(base.select(col("s"), col("freq").cast("long")),
        DriverLocal.BpeKey, DriverLocal.BpeCap) match {
      case Right(rows) =>
        // sub-broadcast-scale vocabulary (see [[DriverLocal]]): exact
        // greedy on the driver, BIT-IDENTICAL to the distributed loop
        // (BpeSpec pins it). Parse the SAME symbolization that loop
        // reads — strip the invariant's single edge spaces (space chars
        // only, like Spark's trim — never other control characters a
        // token may legally contain), split on the double-space symbol
        // separator.
        val collected = rows.map { r =>
          val t = r.getString(0).stripPrefix(" ").stripSuffix(" ")
          (if (t.isEmpty) Array.empty[String] else t.split("  "),
            r.getLong(1))
        }
        lastBpeTrainRounds = 0
        return spark.createDataFrame(bpeTrainLocal(collected, nMerges))
          .toDF("rank", "left_sym", "right_sym", "pair_n")
      case Left(_) =>
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    // every output string a prior merge created: the ONLY way a merge's
    // output can pre-exist as a live symbol (symbols are single chars or
    // previous outputs), i.e. the only way an existing pair can GAIN
    // count from a batch merge — rule 1's collision stop checks this
    val priorOutputs = scala.collection.mutable.Set.empty[String]
    var cur = base
    var depth = 0 // replaces stacked on the last materialization
    var rounds = 0
    var exhausted = false
    while (merges.length < nMerges && !exhausted) {
      val cap = math.min(batchCap, nMerges - merges.length)
      // enough of the ranked head to check rule 2 against real counts;
      // anything unfetched is bounded by the last fetched count (floor)
      val fetchN = 4 * cap + 16
      val fetched = bpePairCounts(cur)
        .orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(fetchN).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      rounds += 1
      if (fetched.isEmpty) exhausted = true // every word fully merged
      else {
        // rule 1: maximal CONSECUTIVE non-interacting prefix, capped.
        // The collision stop (`priorOutputs(l + r)`) is load-bearing for
        // rule 2's soundness: if a member's output string ALREADY exists
        // as a symbol (only possible when a previous merge created it —
        // live symbols are single chars or prior outputs), an existing
        // pair containing that symbol would GAIN count from the merge
        // (post = pre + created), which the dominance bound below does
        // not cover; stopping there means every batch output is a
        // brand-new string, so no existing pair can gain — only lose.
        val used = scala.collection.mutable.Set.empty[String]
        val prefix =
          scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var stopped = false
        for (p @ (l, r, _) <- fetched if !stopped)
          if (prefix.length >= cap || used(l) || used(r) || used(l + r) ||
              priorOutputs(l + r))
            stopped = true
          else { prefix += p; used ++= Seq(l, r, l + r) }
        // rule 2: strict dominance over every interacting pair's count.
        // Sound because (given the collision stop) a pair a batch merge
        // CREATES is a brand-new pair whose every occurrence was
        // previously an interacting pair's occurrence — count ≤ an
        // interacting pre-round count — and existing pairs only lose.
        // Interacting pairs are checked directly among the fetched; the
        // unfetched tail is bounded by the fetch floor.
        val floor = if (fetched.length < fetchN) -1L else fetched.last._3
        val inPrefix = prefix.toSet
        val mBound = (floor +: fetched.toSeq.filterNot(inPrefix).collect {
          case (l, r, n) if used(l) || used(r) => n
        }).max
        val safe = prefix.takeWhile(_._3 > mBound)
        // progress guarantee: when the safe prefix is empty (which
        // includes the collision stop firing at position 0, leaving
        // `prefix` itself empty), fall back to the true argmax. A
        // SINGLE top-pair merge is unconditionally exact greedy — it
        // is literally the reference's one-merge-per-round step, and
        // count-stacking onto an existing symbol is fine when only one
        // merge applies — so every round advances `merges.length`.
        val batch = if (safe.isEmpty) fetched.take(1).toSeq else safe
        for ((l, r, n) <- batch) {
          merges += ((merges.length + 1, l, r, n))
          priorOutputs += l + r
          cur = cur.withColumn("s", bpeMergeOnce(col("s"), l, r))
          depth += 1
          if (depth >= bpeCheckpointRounds) {
            // pin the symbolization: each round's pair count replays at
            // most R replaces, and Catalyst never sees an unbounded chain
            cur = cur.localCheckpoint()
            depth = 0
          }
        }
      }
    }
    lastBpeTrainRounds = rounds
    spark.createDataFrame(merges.toSeq)
      .toDF("rank", "left_sym", "right_sym", "pair_n")
  }

  /** Re-materialize the training symbolization every this-many merge
    * rounds: the ceiling on expression-chain depth (and on how many
    * replaces any single round re-derives). The checkpointed relation is
    * the distinct-word vocabulary — small — so the trade is a cheap
    * materialization per R rounds against unbounded plan growth. */
  private val bpeCheckpointRounds = 16

  /** Encode a word under a FROZEN ordered merge list: the symbol string
    * after replaying every learned merge in rank order — one codegen'd
    * chain of literal replaces, entirely row-local (no shuffle, no state;
    * the merge table is driver-held, bounded by nMerges). Returns the
    * symbol array. */
  def bpeEncode(word: Column, merges: Seq[(String, String)]): Column =
    split(trim(merges.foldLeft(bpeSeq(word)) {
      case (s, (l, r)) => bpeMergeOnce(s, l, r)
    }), "  ")

  /** Per-document token counts under a FROZEN BPE merge list — the
    * length accounting a packing/budgeting stage needs once the learned
    * tokenizer is in force. Scale shape: DISTINCT words encode once
    * (vocab-bounded, broadcast), the corpus pays one token explode +
    * broadcast join + one doc-key shuffle — never a per-occurrence
    * replay of the merge chain. */
  def bpeDocTokenCounts(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val wordLens = docs
      .select(explode(TA.tokens(col("text"))).as("word")).distinct()
      .select(col("word"),
        size(bpeEncode(col("word"), merges)).cast(LongType).as("wlen"))
    docs.select(col("doc_id"), explode(TA.tokens(col("text"))).as("word"))
      .join(broadcast(wordLens), Seq("word"))
      .groupBy(col("doc_id")).agg(sum(col("wlen")).as("n_tokens"))
  }

  def subwordSeedVocab(docs: DataFrame, minN: Int, maxN: Int,
      k: Int): DataFrame = {
    require(minN >= 1 && maxN >= minN && k > 0, s"minN=$minN maxN=$maxN k=$k")
    import org.apache.spark.sql.expressions.Window
    val tc = docs.select(explode(TA.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    // sequence(1, stop) DESCENDS when stop < 1 — the IF guards short tokens
    val subs = tc.select(col("n"), explode(expr(
      s"""flatten(transform(sequence($minN, $maxN), l ->
         IF(length(tok) >= l,
            transform(sequence(1, length(tok) - l + 1),
                      i -> substring(tok, i, l)),
            array())))""")).as("ngram"))
    val agg = subs.groupBy(col("ngram")).agg(sum(col("n")).as("n_occ"))
    val ord = Seq(col("n_occ").desc, col("ngram").asc)
    agg.orderBy(ord: _*).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(ord: _*)).cast(IntegerType))
  }
}
