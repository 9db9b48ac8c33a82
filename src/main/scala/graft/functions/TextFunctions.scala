package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale corpus processing (the
  * training-data-pipeline surface; BASELINE.json north star). Everything is
  * built from `org.apache.spark.sql.functions` higher-order array functions
  * — no UDFs — so the whole layer stays inside whole-stage codegen and is a
  * pure per-row projection: zero shuffles, linear scale-out.
  */
object TextFunctions {

  /** Whitespace tokenizer (split on runs of whitespace, trimmed). The
    * empty-fragment filter matters: bare split returns [""] for empty or
    * all-whitespace text, which would give blank documents a token count
    * of 1 and let them slip past min-length/quality filters.
    *
    * Multi-metric consumers (the q204 funnel, the q206 datasheet) should
    * tokenize ONCE into a named column and feed the `...OfTokens`
    * variants below — the text-based forms each embed their own copy of
    * this tree, and higher-order functions sit outside whole-stage
    * codegen's subexpression elimination, so five text-based metrics in
    * one projection tokenize five times (measured 3.9x on the q204 funnel).
    */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => t =!= lit(""))

  /** Token count; long to keep integer types uniform across engines. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** A BPE-ish subword proxy: split on whitespace AND on transitions
    * between word chars and non-word chars, the way byte-pair tokenizers
    * fragment punctuation-heavy text. Counts sub-tokens.
    */
  def subwordCount(text: Column): Column =
    size(filter(split(text, "\\s+|(?<=\\W)(?=\\w)|(?<=\\w)(?=\\W)"), t => length(t) > 0))
      .cast("long")

  /** Mean token length (characters per token), null-safe for empty text. */
  def meanTokenLength(text: Column): Column = {
    val ts = tokens(text)
    val totalChars = aggregate(ts, lit(0L), (acc, t) => acc + length(t).cast("long"))
    when(size(ts) > 0, totalChars.cast("double") / size(ts).cast("double"))
  }

  /** Fraction of tokens that are (lowercased) stopwords. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val ts = tokens(text)
    val stops = size(filter(ts, t => lower(t).isin(stopwords: _*)))
    when(size(ts) > 0, stops.cast("double") / size(ts).cast("double"))
  }

  /** Fraction of characters that are punctuation. */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double") /
        length(text).cast("double"))

  /** Composite quality score in [0,1]: rewards mid-length docs, penalizes
    * punctuation soup and stopword-free (likely non-linguistic) text.
    * Heuristic in the spirit of C4/Gopher quality filters — cheap,
    * per-row, tune-able.
    */
  def qualityScore(text: Column, stopwords: Seq[String]): Column =
    qualityScoreOfTokens(text, tokens(text), stopwords)

  /** Content fingerprint: md5 of the whitespace-normalized text. Stable
    * across engines (md5 is standardized), which makes it the exact-dedup
    * key and the cross-engine-verifiable fingerprint.
    */
  def fingerprint(text: Column): Column =
    md5(array_join(tokens(text), " "))

  /** Word k-shingles as an array column: ["a b c", "b c d", ...]. The
    * building block for n-gram Jaccard and MinHash.
    */
  def shingles(text: Column, k: Int): Column =
    shinglesOfTokens(tokens(text), k)

  /** 64-bit hashes of the word k-shingles, computed DIRECTLY from the
    * token windows (`xxhash64(tok_i, ..., tok_{i+k-1})`) — the at-scale
    * sibling of [[shinglesOfTokens]] for callers that only ever JOIN on
    * the gram (Decontaminate's `hashGrams` mode): no per-gram string is
    * ever concatenated or allocated, the join key is 8 bytes, and the
    * multi-arg hash is collision-equivalent to hashing the joined string
    * (whitespace-free tokens make the space-join injective). Empty array
    * below k tokens — the contamination-family convention (sub-k docs
    * assert no grams), NOT the whole-text fallback of the string form.
    */
  def shingleHashesOfTokens(ts: Column, k: Int): Column =
    when(size(ts) >= k,
      transform(sequence(lit(0), size(ts) - k),
        i => xxhash64((0 until k).map(j => element_at(ts, i + j + 1)): _*)))
      .otherwise(array().cast("array<bigint>"))

  /** [[shingles]] over an already-tokenized array column. */
  def shinglesOfTokens(ts: Column, k: Int): Column =
    when(size(ts) >= k,
      transform(sequence(lit(1), size(ts) - (k - 1)),
        i => array_join(slice(ts, i, lit(k)), " ")))
      .otherwise(array(array_join(ts, " ")))

  /** Adjacent word bigrams ("a b") of a token array via one map-side
    * zip_with — never a token self-join. The slice LENGTH operand is
    * clamped to >= 0 (`greatest`): Spark's `slice` throws at runtime on
    * a negative length, so the unclamped `size - 1` form failed on any
    * sub-2-token document (ADVICE r14 — it only survived because the
    * fixture had none). Empty array below 2 tokens, never an error.
    */
  def bigramsOfTokens(ts: Column): Column = {
    val len = greatest(size(ts) - 1, lit(0))
    zip_with(slice(ts, lit(1), len), slice(ts, lit(2), len),
      (a, b) => concat(a, lit(" "), b))
  }

  /** Adjacent word trigrams ("a b c"), same clamped-slice discipline as
    * [[bigramsOfTokens]]. Empty array below 3 tokens, never an error.
    */
  def trigramsOfTokens(ts: Column): Column = {
    val len = greatest(size(ts) - 2, lit(0))
    zip_with(
      zip_with(slice(ts, lit(1), len), slice(ts, lit(2), len),
        (a, b) => concat(a, lit(" "), b)),
      slice(ts, lit(3), len),
      (ab, c) => concat(ab, lit(" "), c))
  }

  /** [[stopwordRatio]] over an already-tokenized array column. */
  def stopwordRatioOfTokens(ts: Column, stopwords: Seq[String]): Column = {
    val stops = size(filter(ts, t => lower(t).isin(stopwords: _*)))
    when(size(ts) > 0, stops.cast("double") / size(ts).cast("double"))
  }

  /** [[qualityScore]] with the token array supplied by the caller (the
    * punct term still reads the raw text — punctuation is a character
    * property the tokenizer erases).
    */
  def qualityScoreOfTokens(text: Column, ts: Column, stopwords: Seq[String]): Column = {
    val nTok = size(ts).cast("double")
    val lengthTerm = least(nTok / lit(64.0), lit(1.0))
    val punctTerm = lit(1.0) - least(punctRatio(text) * 4.0, lit(1.0))
    val stopTerm = least(stopwordRatioOfTokens(ts, stopwords) * 4.0, lit(1.0))
    round((lengthTerm + punctTerm + stopTerm) / 3.0, 4)
  }

  /** [[fingerprint]] over an already-tokenized array column. */
  def fingerprintOfTokens(ts: Column): Column = md5(array_join(ts, " "))

  /** [[langId]] over an already-tokenized array column. */
  def langIdOfTokens(ts: Column,
      markers: Map[String, Seq[String]] = langMarkers): Column = {
    val scores = markers.toSeq.sortBy(_._1).map { case (lang, words) =>
      lang -> size(filter(ts, t => lower(t).isin(words: _*)))
    }
    val best = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((lang, score), rest) =>
      when(score > 0 && score === best, lit(lang)).otherwise(rest)
    }
  }

  /** Distinct hashed shingles (long). */
  def shingleHashes(text: Column, k: Int): Column =
    array_distinct(transform(shingles(text, k), s => xxhash64(s)))

  /** Tiny per-language marker-word sets for n-gram/stopword language ID.
    * Real deployments would ship larger tables; the mechanism (score =
    * marker hits per language, argmax) is the operator under test.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "una", "por"),
    "fr" -> Seq("le", "la", "les", "et", "est", "des", "une", "dans"),
    "zh" -> Seq("的", "是", "在", "了", "我", "有", "和", "不"))

  /** Heuristic language ID: argmax of marker-word hit counts; "und"
    * (undetermined) when no marker matches. Deterministic tie-break by
    * language code order.
    */
  def langId(text: Column, markers: Map[String, Seq[String]] = langMarkers): Column =
    langIdOfTokens(tokens(text), markers)
}
