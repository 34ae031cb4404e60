package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis building blocks for a training-data pipeline, expressed as
  * codegen-friendly Column expressions (no UDFs — everything here stays
  * inside whole-stage codegen and is evaluated row-local, so it scales
  * embarrassingly: no shuffle is introduced by any of these).
  *
  * Counting tricks (`length`-difference instead of regexp_count) are chosen
  * so the DuckDB oracle can express the identical integer arithmetic.
  */
object TextAnalysis {

  /** Widen a low-parallelism corpus before CPU-heavy row-local work
    * (tokenize/shingle/regex): a small corpus arrives as a one-file,
    * one-partition scan and would run its whole tokenize pass on a
    * single core — profiled at 0.2–0.6 s single-threaded stages inside
    * otherwise-parallel text queries. Keyed (hash) repartition, never
    * round-robin: round-robin first pays a per-partition sort
    * (sortBeforeRepartition) and is retry-hazardous on non-deterministic
    * inputs. At scale a multi-file scan is already wide and this is a
    * no-op — the guard exists so no full-corpus shuffle is ever ADDED to
    * a properly-partitioned input. (Every consumer — the dedup family
    * included — is order-insensitive: aggregates, joins, sorted
    * collects.) */
  def parallelized(docs: org.apache.spark.sql.DataFrame,
      key: String = "doc_id"): org.apache.spark.sql.DataFrame = {
    val parallelism = docs.sparkSession.sparkContext.defaultParallelism
    // partition count from the INTERNAL plan RDD (queryExecution.toRdd):
    // planning only — no job, and none of df.rdd's external-row encoder
    // layer
    if (docs.queryExecution.toRdd.getNumPartitions >=
        math.min(parallelism, 8)) docs
    else docs.repartition(parallelism, col(key))
  }

  /** Whitespace tokenization of trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Word 3-gram shingles (1-based element_at, empty below 3 tokens —
    * mirrors DuckDB's generate_series(1, len-2) semantics). */
  def shingles3(toks: Column): Column =
    when(size(toks) < 3, array().cast(ArrayType(StringType)))
      .otherwise(transform(sequence(lit(1), size(toks) - 2), i =>
        concat_ws(" ", element_at(toks, i), element_at(toks, i + 1),
          element_at(toks, i + 2))))

  /** Occurrences of a marker word in text, as an int: exact token-equality
    * count over the whitespace tokens (a replace-based length diff would
    * undercount adjacent markers because each match consumes the delimiter
    * the next one needs). `list_filter` expresses the same count in the
    * DuckDB oracle dialect. */
  def wordOccurrences(text: Column, word: String): Column =
    size(filter(tokens(text), t => t === word)).cast(IntegerType)

  /** Type-token ratio: distinct tokens / tokens (lexical diversity). */
  def typeTokenRatio(toks: Column): Column =
    size(array_distinct(toks)).cast(DoubleType) / size(toks)

  /** Deterministic content fingerprint: md5 over the sorted distinct
    * 3-gram shingles (rolling-window content signature; equal fingerprints
    * ⇒ identical shingle sets). */
  def shingleFingerprint(toks: Column): Column =
    md5(concat_ws("|", array_sort(array_distinct(shingles3(toks)))))

  /** Marker-word language-ID heuristic. Returns the language whose marker
    * count is highest (ties resolved in fixed precedence order), 'und' when
    * nothing matches. Cross-engine deterministic: pure integer compares. */
  val langMarkers: Seq[(String, String)] =
    Seq("en" -> "the", "de" -> "der", "fr" -> "le", "es" -> "el")

  /** BPE-ish pre-tokenization: letter runs, digit runs, single
    * non-alphanumeric marks — the classic subword-tokenizer pre-split.
    * Plain enough to behave identically under Java and RE2-style engines
    * (so the DuckDB oracle matches). */
  val bpePattern: String = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(bpePattern), lit(0))

  /** Portable per-token 60-bit hash: the first 15 hex chars of md5(token).
    * md5 is bit-identical across engines, so fingerprints built from it
    * are oracle-checkable — unlike engine-seeded xxhash64/murmur3. */
  def tokenHash60(t: Column): Column =
    conv(substring(md5(t.cast("binary")), 1, 15), 16, 10).cast(org.apache.spark.sql.types.LongType)

  /** Polynomial rolling hash over the token stream (order-sensitive
    * document fingerprint): fold acc*31 + tokenHash60(token) with Java
    * wraparound (needs non-ANSI mode; the engine's sessions set it).
    * The same fold runs in DuckDB via list_reduce + HUGEINT mod 2^64,
    * so q35 verifies against a real oracle. */
  def rollingHash(toks: Column): Column =
    aggregate(transform(toks, tokenHash60(_)), lit(0L),
      (acc, h) => acc * lit(31L) + h)

  /** PII scrubbing patterns, restricted to the Java-regex ∩ RE2 common
    * subset (no lookaround, no boundaries) so the DuckDB oracle applies
    * the identical automata: email local@host.tld, and phone-ish runs —
    * an optional +, then ≥8 digit/dash characters bracketed by digits.
    * Deliberately eager (a date range like 2020-2021 scrubs as PHONE):
    * a curation pipeline prefers false positives over leaked numbers,
    * and the contract is deterministic either way. */
  val emailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern: String = "\\+?[0-9][0-9-]{6,}[0-9]"

  /** Replace emails then phone-runs with typed placeholders — row-local,
    * codegen'd, zero shuffles at any scale. Email first: the phone pattern
    * can match digit runs inside an address's local part, and scrubbing it
    * first would corrupt the address instead of typing it. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "<EMAIL>"),
      phonePattern, "<PHONE>")

  /** Rule: first language (in [[langMarkers]] order) whose count equals the
    * greatest count wins; all-zero ⇒ 'und'. */
  def langGuess(text: Column): Column = {
    val counts = langMarkers.map { case (lang, w) => lang -> wordOccurrences(text, w) }
    val g = greatest(counts.map(_._2): _*)
    counts.foldRight(lit("und")) { case ((lang, c), els) =>
      when(g > 0 && c === g, lit(lang)).otherwise(els)
    }
  }
}
