package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for LLM training-data pipelines: tokenizing,
 * quality features, shingling, language heuristics, built from
 * `org.apache.spark.sql.functions` and native kernels (no UDFs).
 * Spark's higher-order functions (`zip_with`, `filter`, `transform`,
 * `aggregate`) are `CodegenFallback` in Spark 4.1: each lambda call is
 * interpreted, and a projection holding one falls out of
 * WholeStageCodegen. The hot paths (quality score, MinHash signatures,
 * shingle hashes, repetition signals) therefore run as native kernels
 * that stay in the codegen span; the HOF chains that remain
 * ([[shinglesAll]], [[stopwordRatio]], [[meanTokenLen]], [[langId]])
 * serve the analysis queries and the oracle-facing feature columns.
 */
object TextFunctions {

  /** whitespace word tokens, lowercased.
    * NOTE: empty/whitespace-only text yields `[""]` (one empty-string
    * token) — Spark's split semantics, REPLICATED EXACTLY by the DuckDB
    * oracle twin (`string_split_regex`), so both engines agree at the
    * gate. Pipelines where empty docs are possible should filter them
    * upstream rather than change this (a one-sided "fix" would silently
    * break cross-engine parity). */
  def tokens(text: Column): Column =
    split(lower(trim(text)), "\\s+")

  /** BPE-ish subword segmentation: letter runs, digit runs, single punct */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))

  private val urlPattern = "https?://[^\\s]+"
  private val emailPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"

  /** scrub URLs and email addresses (PII hygiene for training corpora) */
  def scrub(text: Column): Column =
    regexp_replace(regexp_replace(text, urlPattern, "<URL>"), emailPattern, "<EMAIL>")

  /** count of URL / email occurrences (for scrub auditing) */
  def urlCount(text: Column): Column =
    size(regexp_extract_all(text, lit(urlPattern), lit(0)))
  def emailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(emailPattern), lit(0)))

  /**
   * Contiguous word n-gram shingles (distinct); empty below n tokens.
   * Built as a zip_with chain over shifted slices so every lambda only
   * touches its own element variables — referencing the outer tokens
   * expression inside a HOF lambda would re-evaluate it per element
   * (O(tokens^2) per document, a real 20x slowdown at bench scale).
   */
  def shingles(toks: Column, n: Int): Column =
    array_distinct(shinglesAll(toks, n))

  /** all contiguous n-grams including repeats (repetition analysis) */
  def shinglesAll(toks: Column, n: Int): Column = {
    val win = size(toks) - (n - 1)
    val parts = (0 until n).map(j => slice(toks, lit(j + 1), win))
    val grams = parts.reduce((a, b) => zip_with(a, b, (x, y) => concat_ws(" ", x, y)))
    when(size(toks) >= n, grams).otherwise(array().cast("array<string>"))
  }

  /**
   * Share of the most frequent n-gram among all n-grams of the doc
   * (Gopher repetition signal), computed per-row with NO shuffle by a
   * native codegen'd kernel ([[TextKernels.topShingleRatio]]) — the
   * multiset mode via sort + longest-equal-run in one compiled call.
   * Exact (token-sequence comparison, no hashing). NULL below n tokens,
   * mirroring the group-by formulation's no-row-for-gram-less-docs.
   */
  def topShingleRatio(toks: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(TopShingleRatio(GraftBridge.expression(toks), n))
  }

  /** fraction of n-grams occurring more than once (Gopher duplicate-gram
    * signal) — same shuffle-free codegen'd kernel family as
    * [[topShingleRatio]]; NULL below n tokens */
  def dupShingleFraction(toks: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(DupShingleFraction(GraftBridge.expression(toks), n))
  }

  /**
   * Per-shingle 60-bit positive hashes, replayable in ANSI SQL: the
   * first 15 md5 hex digits of each k-token shingle as a BIGINT (the
   * content-bucket hash family at fingerprint width — 16 digits could
   * flip the sign bit, which engines cast differently). A native
   * kernel ([[graft.functions.ShingleHashes15]]) — one compiled call
   * per row instead of an md5-per-lambda HOF tree, and registrable on
   * the SQL surface.
   */
  def shingleHashes15(toks: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.functions.ShingleHashes15(GraftBridge.expression(toks), k))
  }

  /** distinct xxhash64 k-gram hashes in one compiled pass — the native
    * twin of `transform(shingles(toks, k), s => xxhash64(s))` (see
    * [[graft.functions.ShingleHashesXx]]) */
  def shingleHashesXx(toks: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.functions.ShingleHashesXx(GraftBridge.expression(toks), k))
  }

  /**
   * Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken '03,
   * the MOSS local fingerprinting scheme): slide a w-hash window over
   * the shingle-hash sequence and keep each window's MINIMUM hash,
   * distinct in first-occurrence order. Guarantee: any token run of
   * >= k+w-1 tokens shared by two docs yields a shared fingerprint,
   * while only ~2/(w+1) of all hashes are kept. Sequences shorter than
   * w collapse to one global-min window; empty input selects nothing.
   * Native kernel: [[graft.functions.WinnowSelect]].
   */
  def winnowSelect(hs: Column, w: Int): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.functions.WinnowSelect(GraftBridge.expression(hs), w))
  }

  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "for", "on", "with", "as", "at", "by")

  /** fraction of tokens that are stopwords (0 when no tokens) */
  def stopwordRatio(toks: Column): Column = {
    val stops = size(filter(toks, t => t.isInCollection(stopwords)))
    when(size(toks) > 0, stops.cast("double") / size(toks).cast("double")).otherwise(lit(0.0))
  }

  /** fraction of distinct tokens — low values indicate boilerplate/spam */
  def uniqueRatio(toks: Column): Column =
    when(size(toks) > 0, size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
      .otherwise(lit(0.0))

  private val punctClass = "[.,;:!?'\"()\\[\\]{}-]"

  /** fraction of characters that are punctuation */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      (length(text) - length(regexp_replace(text, punctClass, ""))).cast("double") /
        length(text).cast("double"))
      .otherwise(lit(0.0))

  def meanTokenLen(toks: Column): Column =
    when(size(toks) > 0,
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
        size(toks).cast("double"))
      .otherwise(lit(0.0))

  /**
   * Composite quality score in [0,1] — rewards mid-length docs with
   * diverse tokens, light punctuation, and a natural stopword rate
   * (the C4/Gopher-style heuristic family, arithmetic-only so the
   * DuckDB oracle reproduces it bit-for-bit):
   * `least(size(t)/64, 1)/4 + uniqueRatio(t)/4 +
   * least(4 stopwordRatio(t), 1)/4 + (1 - least(4 punctRatio(text), 1))/4`.
   */
  def qualityScore(text: Column): Column = qualityScoreT(text, tokens(text))

  /** [[qualityScore]] over a given token expression, as one native
    * kernel ([[QualityScore]]) that evaluates `t` once per row and
    * derives every component from that one array. */
  def qualityScoreT(text: Column, t: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(new QualityScore(GraftBridge.expression(text), GraftBridge.expression(t)))
  }

  /**
   * Stopword-profile language heuristic: score each candidate language
   * by hits of its most frequent function words among the tokens, pick
   * the argmax (ties -> alphabetical). A real-data heuristic — on the
   * synthetic corpus it exercises plumbing + determinism only.
   */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist", "ein", "mit"),
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "es", "un"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "est"),
    "zh" -> Seq("de", "shi", "bu", "le", "ren", "wo", "you", "ta"))

  def langId(toks: Column): Column = {
    // argmax via array_max over (hits, priority, lang) structs — struct
    // comparison is field-ordered, and priority breaks hit-ties toward
    // the alphabetically first language, deterministically
    val n = langProfiles.size
    val scored = langProfiles.zipWithIndex.map { case ((lang, words), idx) =>
      struct(
        size(filter(toks, t => t.isInCollection(words))).as("hits"),
        lit(n - idx).as("prio"),
        lit(lang).as("lang"))
    }
    array_max(array(scored: _*)).getField("lang")
  }
}
