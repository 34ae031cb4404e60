package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** BPE merge-loop training invariants: a hand-traced merge sequence,
  * greedy left-to-right non-overlapping merge semantics on repeats,
  * frequency weighting, deterministic tie-breaks, early exhaustion, and
  * train/encode agreement under a frozen merge table. */
class BpeSpec extends SparkSpec {

  import spark.implicits._

  private def words(rows: (String, Long)*) =
    rows.toDF("word", "freq")

  private def withVocabLimit[T](limit: String)(body: => T): T = {
    val key = "spark.graft.bpe.localVocabLimit"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, limit)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def toTable(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("rank").collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[String]("left_sym"),
        r.getAs[String]("right_sym"), r.getAs[Long]("pair_n"))).toSeq

  /** Trains through the DISTRIBUTED loop (local path disabled) — these
    * tests pin the batching machinery, which a sub-limit vocabulary
    * would otherwise bypass via the driver-local path. */
  private def trained(rows: Seq[(String, Long)], n: Int) =
    withVocabLimit("0") { toTable(Corpus.bpeTrain(words(rows: _*), n)) }

  test("hand-traced training: merges chain on earlier merges' outputs") {
    // 'abab' x3, 'ab' x2: round 1 pair (a,b) n = 3*2 + 2*1 = 8;
    // round 2: words are [ab,ab] x3, [ab] x2 -> pair (ab,ab) n = 3;
    // round 3: [abab] x3, [ab] x2 -> no pairs left, training exhausts
    val m = trained(Seq("abab" -> 3L, "ab" -> 2L), 5)
    assert(m === Seq((1, "a", "b", 8L), (2, "ab", "ab", 3L)))
  }

  test("repeat runs merge greedily left-to-right, counts overlap per position") {
    // 'aaaa' x1: pairs (a,a) at 3 positions -> n=3; after merging,
    // greedy non-overlap gives [aa, aa] -> round 2 pair (aa,aa) n=1
    val m = trained(Seq("aaaa" -> 1L), 2)
    assert(m === Seq((1, "a", "a", 3L), (2, "aa", "aa", 1L)))
    // odd run: 'aaa' -> [aa, a] -> round 2 is (aa, a)
    val m3 = trained(Seq("aaa" -> 1L), 2)
    assert(m3 === Seq((1, "a", "a", 2L), (2, "aa", "a", 1L)))
  }

  test("frequency outweighs type count; ties break on (left, right) ascending") {
    // (x,y) appears in one word type with freq 5; (p,q) in two types freq 2
    val m = trained(Seq("xy" -> 5L, "pq" -> 2L, "pqr" -> 2L), 1)
    assert(m.head === ((1, "x", "y", 5L)))
    // exact tie on count: 'ab' and 'aa' both n=2 -> (a,a) < (a,b)
    val t = trained(Seq("ab" -> 2L, "aa" -> 2L), 1)
    assert(t.head === ((1, "a", "a", 2L)))
  }

  test("training exhausts early when no pairs remain; single chars train nothing") {
    assert(trained(Seq("a" -> 10L, "b" -> 3L), 4) === Seq.empty)
    val m = trained(Seq("ab" -> 1L), 10)
    assert(m === Seq((1, "a", "b", 1L)))
  }

  /** Driver-side reference BPE trainer: per-position adjacent-pair
    * counting, argmax under (count desc, left asc, right asc), greedy
    * left-to-right non-overlapping merge — the exact semantics
    * [[Corpus.bpeTrain]]'s replace-invariant encodes, in plain Scala. */
  private def refBpe(ws: Seq[(String, Long)],
      nMerges: Int): Seq[(Int, String, String, Long)] = {
    var cur: Seq[(Vector[String], Long)] =
      ws.map { case (w, f) => (w.map(_.toString).toVector, f) }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    var stop = false
    while (out.length < nMerges && !stop) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      cur.foreach { case (syms, f) =>
        (0 until syms.length - 1).foreach { i =>
          val k = (syms(i), syms(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + f
        }
      }
      if (counts.isEmpty) stop = true
      else {
        val ((l, r), n) = counts.toSeq
          .minBy { case ((pl, pr), pn) => (-pn, pl, pr) }
        out += ((out.length + 1, l, r, n))
        cur = cur.map { case (syms, f) =>
          val b = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              b += (l + r); i += 2
            } else { b += syms(i); i += 1 }
          }
          (b.result(), f)
        }
      }
    }
    out.toSeq
  }

  test("256-merge training matches the driver-side reference loop exactly (plan depth stays bounded)") {
    // a corpus rich enough to sustain >256 merges, deterministic seed;
    // crossing the internal re-checkpoint cadence ~16 times proves the
    // depth-bounding materialization never perturbs a single argmax
    val rnd = new scala.util.Random(42)
    val alpha = "abcdef"
    val corpus = Iterator.continually {
        val len = 4 + rnd.nextInt(9)
        (1 to len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      }.distinct.take(150).map(w => w -> (1L + rnd.nextInt(9))).toSeq
    val got = trained(corpus, 256)
    val want = refBpe(corpus, 256)
    assert(got.length === want.length)
    got.zip(want).foreach { case (g, w) => assert(g === w, s"rank ${w._1}") }
    // merge batching: identical table, fewer pair-count rounds — on a
    // SIX-letter alphabet merges chain heavily, so the reduction is
    // modest (~17%); the disjoint-family test below pins the strong case
    assert(Corpus.lastBpeTrainRounds < got.length,
      s"expected batched rounds < ${got.length} merges, " +
        s"got ${Corpus.lastBpeTrainRounds}")
  }

  test("disjoint word families batch aggressively: one round covers many " +
      "merges") {
    // 32 two-letter words over pairwise-DISJOINT alphabets with strictly
    // descending freqs: every prefix member shares no symbol and strictly
    // dominates all interacting counts, so whole prefixes land per round
    val alpha = ('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')
    val corpus = (0 until 31).map(i =>
      s"${alpha(2 * i)}${alpha(2 * i + 1)}" -> (1000L - 10 * i))
    val got = trained(corpus, 31)
    assert(got === refBpe(corpus, 31))
    assert(Corpus.lastBpeTrainRounds <= 3,
      s"expected ~1 round for 31 disjoint merges, " +
        s"got ${Corpus.lastBpeTrainRounds}")
  }

  test("batched training is bit-identical to single-merge training on " +
      "tie- and interaction-heavy corpora") {
    // every word of length ≤ 4 over {a, b}, all freq 1: maximal count
    // ties AND maximal symbol sharing — the corpus class where a naive
    // top-B batch would deviate from greedy (a merge's new pairs tie
    // with later batch members), so rule 2's strict-dominance truncation
    // and the single-merge fallback both get exercised
    val twoLetter = (1 to 4).flatMap(l => (0 until (1 << l)).map(i =>
      (0 until l).map(j =>
        if (((i >> j) & 1) == 0) 'a' else 'b').mkString)).map(_ -> 1L)
    // three letters with skewed freqs: interactions with unequal counts
    val rnd = new scala.util.Random(7)
    val threeLetter = (1 to 3).flatMap(l =>
      Iterator.continually((1 to l).map(_ =>
        "abc"(rnd.nextInt(3))).mkString).distinct.take(1 << l).toSeq)
      .distinct.map(w => w -> (1L + rnd.nextInt(4)))
    for (corpus <- Seq(twoLetter, threeLetter)) {
      val batched = trained(corpus, 40)
      val want = refBpe(corpus, 40)
      assert(batched === want)
      val single = Corpus.bpeTrain(words(corpus: _*), 40, batchCap = 1)
        .orderBy("rank").collect()
        .map(r => (r.getAs[Int]("rank"), r.getAs[String]("left_sym"),
          r.getAs[String]("right_sym"), r.getAs[Long]("pair_n"))).toSeq
      assert(batched === single)
    }
  }

  test("output-collision stress: batched training equals the reference " +
      "on corpora where a merge's output string pre-exists as a symbol") {
    // tiny alphabets + long words make later merges' outputs collide
    // with strings already live as symbols — the case where a pair can
    // GAIN count from a batch merge (post = pre + created), which rule
    // 2's 4×-dominance bound must absorb; 5 seeds for coverage
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val corpus = Iterator.continually {
          val len = 2 + rnd.nextInt(5)
          (1 to len).map(_ => "ab"(rnd.nextInt(2))).mkString
        }.distinct.take(40).map(w => w -> (1L + rnd.nextInt(6))).toSeq
      assert(trained(corpus, 50) === refBpe(corpus, 50), s"seed $seed")
    }
  }

  test("a fully chained corpus degrades to one merge per round, never a " +
      "wrong table") {
    // 16 a's: each merge's pair is built from the previous merge's
    // output — nothing is ever batchable
    val corpus = Seq("aaaaaaaaaaaaaaaa" -> 1L)
    val got = trained(corpus, 4)
    assert(got === refBpe(corpus, 4))
    assert(got === Seq((1, "a", "a", 15L), (2, "aa", "aa", 7L),
      (3, "aaaa", "aaaa", 3L), (4, "aaaaaaaa", "aaaaaaaa", 1L)))
    assert(Corpus.lastBpeTrainRounds === 4)
  }

  test("driver-local training (sub-limit vocab) is bit-identical to the " +
      "distributed loop and the reference") {
    val rnd = new scala.util.Random(11)
    val alpha = "abcde"
    val corpus = Iterator.continually {
        val len = 2 + rnd.nextInt(8)
        (1 to len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      }.distinct.take(120).map(w => w -> (1L + rnd.nextInt(7))).toSeq
    val viaLocal = withVocabLimit("1000000") {
      toTable(Corpus.bpeTrain(words(corpus: _*), 64))
    }
    // proves the LOCAL path actually ran (it reports zero distributed
    // pair-count rounds), then pins it against both the distributed
    // loop and the plain-Scala reference
    assert(Corpus.lastBpeTrainRounds === 0)
    assert(viaLocal === trained(corpus, 64))
    assert(viaLocal === refBpe(corpus, 64))
    // exhaustion + tie-break edges through the local path too
    val edges = Seq("aaaa" -> 1L, "ab" -> 2L, "aa" -> 2L, "z" -> 9L)
    assert(withVocabLimit("1000000") {
      toTable(Corpus.bpeTrain(words(edges: _*), 10))
    } === refBpe(edges, 10))
  }

  test("a malformed local-vocab cap fails naming its key") {
    // negative or non-numeric: rejected, never silently a disabled path
    for (bad <- Seq("-1", "abc")) {
      val e = intercept[IllegalArgumentException] {
        withVocabLimit(bad) { Corpus.bpeTrain(words("ab" -> 1L), 1) }
      }
      assert(e.getMessage.contains("spark.graft.bpe.localVocabLimit"), bad)
    }
  }

  test("bpeEncode replays the learned merges: encoding train words reproduces the final symbolization") {
    val corpus = Seq("abab" -> 3L, "ab" -> 2L, "cab" -> 4L, "z" -> 1L)
    val table = Corpus.bpeTrain(words(corpus: _*), 3)
      .orderBy("rank").collect()
      .map(r => (r.getAs[String]("left_sym"), r.getAs[String]("right_sym")))
      .toSeq
    val enc = words(corpus: _*)
      .select(col("word"), Corpus.bpeEncode(col("word"), table).as("syms"))
      .collect().map(r => r.getAs[String]("word") ->
        r.getSeq[String](1).toList).toMap
    // learned order: (a,b) n=12, then (c,ab) n=4, then (ab,ab) n=3
    assert(enc("abab") === List("abab"))
    assert(enc("ab") === List("ab"))
    assert(enc("z") === List("z"))
    assert(enc("cab") === List("cab"))
    // encoding with an EMPTY merge list is plain characters
    val chars = words("abc" -> 1L)
      .select(Corpus.bpeEncode(col("word"), Seq.empty).as("syms"))
      .collect().head.getSeq[String](0).toList
    assert(chars === List("a", "b", "c"))
  }

  test("bpeDocTokenCounts equals per-doc sums of encoded word lengths") {
    val merges = Seq(("a", "b"), ("ab", "c"))
    val docs = Seq(
      (1L, "abc abc xyz"),   // abc->1 symbol each, xyz->3 => 1+1+3 = 5
      (2L, "ab abc"),        // ab->[ab]? (a,b) merges: "ab"->1; abc->1 => 2
      (3L, ""),              // single empty token -> 1 symbol
      (4L, "q")              // single char -> 1
    ).toDF("doc_id", "text")
    val got = Corpus.bpeDocTokenCounts(docs, merges)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("n_tokens")).toMap
    assert(got === Map(1L -> 5L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
  }

  test("packByCounts: hand-traced bins, oversized doc closes its own pack") {
    // single shard (nShards=1) so order is the md5 pseudo-shuffle of ids
    val counts = Seq((1L, 100L), (2L, 300L), (3L, 50L), (4L, 120L))
      .toDF("doc_id", "n_tokens")
    val out = Packing.packByCounts(counts, nShards = 1, seed = 3L,
        tokenBudget = 200)
      .orderBy("pos").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Int]("bin")))
    // bins follow the cumulative rule in the deterministic order
    var cum = 0L
    out.foreach { case (_, n, bin) =>
      cum += n
      assert(bin === math.max(1, math.ceil(cum / 200.0).toInt))
    }
    // and packSequences == packByCounts over whitespace counts
    val docs = Seq((1L, "a b c"), (2L, "d e"), (3L, "f")).toDF("doc_id", "text")
    val viaSeq = Packing.packSequences(docs, 2, 7L, 2)
      .collect().map(_.toSeq).toSet
    val viaCnt = Packing.packByCounts(
        docs.select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens")),
        2, 7L, 2)
      .collect().map(_.toSeq).toSet
    assert(viaSeq === viaCnt)
  }

  test("encode is per-type deterministic: same word, same symbols, regardless of freq") {
    val table = Seq(("a", "b"), ("ab", "c"))
    val out = words("abc" -> 1L, "xabcx" -> 7L)
      .select(col("word"), Corpus.bpeEncode(col("word"), table).as("syms"))
      .collect().map(r => r.getAs[String]("word") ->
        r.getSeq[String](1).toList).toMap
    assert(out("abc") === List("abc"))
    assert(out("xabcx") === List("x", "abc", "x"))
  }
}
