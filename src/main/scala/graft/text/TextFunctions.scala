package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis functions for large-scale training-data pipelines:
  * normalization, tokenization, quality scoring, language-ID heuristics,
  * and document fingerprinting. All pure Column expressions (codegen'd, no
  * UDFs) so they vectorize inside whole-stage codegen over 100 TB of text.
  *
  * These extend beyond the reference's surface (per BASELINE.json's north
  * star); the string discipline (lower-casing, trim semantics) matches the
  * reference's conversion layer (SURVEY §2.7).
  */
object TextFunctions {

  /** lower + collapse runs of whitespace + trim — canonical form for
    * fingerprinting and shingling. Fused single-byte-scan native form
    * ([[graft.functions.GraftStrings]]); the regex original is kept as
    * [[normalizeRegex]] (parity pinned in GraftStringsSpec; A/B in
    * PLANS.md "d13 (cont.): single-pass native tokenize"). */
  def normalize(c: Column): Column = graft.functions.GraftStrings.normalizeCol(c)

  /** whitespace tokens of the normalized text; empty text → empty array.
    * One fused native pass over the RAW text — no intermediate
    * normalized string, no regex engine. */
  def tokens(c: Column): Column = graft.functions.GraftStrings.tokensCol(c)

  /** tokens over an ALREADY-NORMALIZED text column. A normalized string
    * is a fixpoint of normalization, so the fused raw-text tokenizer is
    * also the fast path here (it re-lowercases — a no-op byte pass —
    * and splits on the already-single spaces). */
  def tokensOf(normText: Column): Column =
    graft.functions.GraftStrings.tokensCol(normText)

  /** The pre-fusion regex form of [[normalize]] (two regex passes). */
  def normalizeRegex(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** The pre-fusion regex form of [[tokensOf]]. */
  def tokensOfRegex(normText: Column): Column =
    when(length(normText) === 0, array().cast(ArrayType(StringType)))
      .otherwise(split(normText, " "))

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword tokenization: alphanumeric runs and individual
    * punctuation marks as separate tokens (`[a-z0-9]+|[^a-z0-9\s]` over
    * the normalized text) — the pre-tokenizer split rule most BPE vocab
    * builders apply before merges. Same regex semantics in Java and RE2,
    * so it is oracle-checkable. */
  def subwordTokens(c: Column): Column =
    graft.functions.GraftStrings.subwordTokensCol(c)

  /** The pre-fusion regex form of [[subwordTokens]]. */
  def subwordTokensRegex(c: Column): Column =
    regexp_extract_all(normalizeRegex(c), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0))

  /** Deterministic document fingerprint: md5 of the normalized text (the
    * rolling-hash analog; md5 keeps it oracle-checkable cross-engine). */
  def fingerprint(c: Column): Column = md5(normalize(c))

  /** Ratio of punctuation chars to total length, 4 decimals.
    * `translate` (plain char-set deletion) instead of a regexp_replace:
    * same chars removed, no per-row regex engine on the 100 TB scan. */
  def punctRatio(c: Column): Column = {
    val total = length(c)
    val punct = total - length(translate(c, ".,;:!?", ""))
    round(punct.cast(DoubleType) / nullif(total, lit(0)).cast(DoubleType), 4)
  }

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Occurrence count of `members` tokens in the token array — ONE fused
    * native pass ([[graft.functions.GraftStrings.countTokensIn]], kept
    * inside whole-stage codegen via StaticInvoke). History of this hot
    * path: `size(filter(...))` is CodegenFallback (boxed lambda per
    * token); Σ (size − size(array_remove)) stayed codegen'd but ran
    * 2·|members| array passes and allocated a fresh array per
    * array_remove per row. Cast to int: the pre-fusion form summed
    * ints, and downstream oracles pin that schema. */
  private def occurrences(toks: Column, members: Seq[String]): Column =
    graft.functions.GraftStrings.countTokensInCol(toks, members).cast("int")

  /** The pre-fusion composable form of [[occurrences]] (parity twin). */
  private[graft] def occurrencesComposable(toks: Column, members: Seq[String]): Column =
    members.map(m => size(toks) - size(array_remove(toks, m))).reduce(_ + _)

  /** Integer stopword occurrence count over a token array (the numerator
    * of [[stopwordRatioOf]]; the Gopher-rules battery compares it as an
    * integer to keep rule verdicts parity-exact). */
  def stopwordCountOf(toks: Column): Column = occurrences(toks, Stopwords)

  /** Fraction of tokens that are stopwords, 4 decimals. */
  def stopwordRatio(c: Column): Column = stopwordRatioOf(tokens(c))

  /** stopwordRatio over an ALREADY-TOKENIZED column — callers scoring
    * several measures should tokenize once (`withColumn`) and pass the
    * attribute, so the regex tokenization runs once per row instead of
    * once per occurrence of the token subtree (CollapseProject keeps a
    * non-cheap multi-referenced alias in its own projection). */
  def stopwordRatioOf(toks: Column): Column = {
    val stops = occurrences(toks, Stopwords)
    round(stops.cast(DoubleType) / nullif(size(toks), lit(0)).cast(DoubleType), 4)
  }

  /** Mean token length, 4 decimals. */
  def avgTokenLen(c: Column): Column = avgTokenLenOf(normalize(c), tokens(c))

  /** avgTokenLen over pre-computed normalized-text + token columns (see
    * [[stopwordRatioOf]] for why callers should pre-compute). */
  def avgTokenLenOf(normText: Column, toks: Column): Column = {
    val chars = length(normText) - (size(toks) - lit(1)) // minus separators
    round(chars.cast(DoubleType) / nullif(size(toks), lit(0)).cast(DoubleType), 4)
  }

  /** Marker-token sets for the n-gram/stopword language-ID heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the"),
    "de" -> Seq("der", "die", "das"),
    "fr" -> Seq("le", "la", "les"),
    "es" -> Seq("el", "los", "las"))

  /** Predicted language: argmax of marker scores with deterministic
    * first-wins tie-break in LangMarkers order; all-zero → "und". One
    * primitive pass over the token array via the custom Catalyst
    * expression (the equivalent CASE-chain of per-language marker counts
    * re-derived tokenization per branch — ~20× the work per row); the
    * DuckDB oracle states the identical CASE-chain logic. */
  def langId(c: Column): Column =
    graft.functions.LangIdExpr.langIdOfTokens(tokens(c), LangMarkers)

  /** PII scrubbing (training-data curation gate): pattern set chosen to
    * be portable between Java regex and RE2 (no lookbehind/backrefs) so
    * the scrub restates in SQL engines. Redaction order matters and is
    * fixed — emails first (they contain digits and dots that the later
    * patterns would otherwise bite into), then IPv4, then long digit
    * runs (account/phone/card-shaped ids). All three are codegen'd
    * `regexp_replace`/`regexp_count` expressions: the scrub is one
    * narrow projection pass over the corpus, no shuffle. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val LongDigitsRe = "\\b\\d{9,}\\b"

  def piiRedact(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      LongDigitsRe, "<ID>")

  /** (emails, ips, long-digit-runs) match counts, same pattern order. */
  def piiCounts(c: Column): Seq[Column] = {
    val afterEmail = regexp_replace(c, EmailRe, "<EMAIL>")
    Seq(
      regexp_count(c, lit(EmailRe)),
      regexp_count(afterEmail, lit(Ipv4Re)),
      regexp_count(regexp_replace(afterEmail, Ipv4Re, "<IP>"), lit(LongDigitsRe)))
  }
}
