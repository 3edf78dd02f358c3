package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting.
  *
  * Everything here is a pure Catalyst `Column` expression (whole-stage
  * codegen, no UDFs), so the same pipeline that filters 500 fixture docs
  * filters 100 TB: the expressions ride inside the parquet scan stage with
  * column pruning and predicate pushdown intact.
  *
  * The reference has no string processing at all (SURVEY §1.4 — strings are
  * aspirational in HPAT, `src/cgen-hpat-pattern-match.jl:861-864` rejects
  * them); this module is part of the beyond-reference training-data surface.
  */
object Text {

  /** Whitespace tokenization of lower-cased text. */
  def tokens(text: Column): Column =
    split(trim(lower(text)), "\\s+")

  /** DuckDB mirror of [[tokens]] over the SQL expression `textExpr`. */
  def tokensSql(textExpr: String): String =
    s"regexp_split_to_array(trim(lower($textExpr)), '\\s+')"

  /** Token count (whitespace tokenizer). */
  def tokenCount(text: Column): Column =
    size(tokens(text))

  /** GPT-2-style BPE pre-tokenizer split pattern: contraction suffixes,
    * letter runs, digit runs, punctuation runs (whitespace dropped).
    * Kept to constructs with identical semantics in Java regex and RE2
    * so the DuckDB oracle can run the same pattern. */
  val bpeSplitRe: String = "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s']+"

  /** BPE-ish token count — counts pre-tokenizer pieces, which tracks
    * real BPE token counts far more closely than whitespace words
    * (digits and punctuation split off, contractions split). The
    * canonical corpus-budget signal for training-data pipelines. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit(bpeSplitRe), lit(0)))

  /** Mean token length in characters, as double. */
  def avgTokenLen(text: Column): Column =
    length(regexp_replace(trim(text), "\\s+", "")).cast("double") /
      size(tokens(text))

  /** Count of word tokens drawn from `set` (exact membership). */
  def tokenHits(text: Column, set: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(set.map(lit): _*)))

  /** Fraction of tokens that are common-English stopwords — a crude but
    * standard fluency signal for corpus quality filtering. */
  val stopwordsEn: Seq[String] = Seq(
    "the", "a", "an", "of", "and", "to", "in", "is", "it", "that", "for",
    "on", "with", "as", "was", "at", "by", "be", "this", "are")

  def stopwordRatio(text: Column): Column =
    tokenHits(text, stopwordsEn).cast("double") / size(tokens(text))

  /** Fraction of characters that are digits. */
  def digitRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[0-9]", ""))).cast("double") /
      length(text)

  /** Fraction of characters that are sentence punctuation. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[.,!?;:]", ""))).cast("double") /
      length(text)

  /** Composite document-quality score in [0,1]-ish range: rewards stopword
    * fluency and mid-length tokens, penalizes digit/punct noise. Weights
    * are arbitrary but fixed; downstream filters threshold on it. */
  def qualityScore(text: Column): Column =
    lit(0.4) * stopwordRatio(text) +
      lit(0.3) * (lit(1.0) - digitRatio(text)) +
      lit(0.3) * (lit(1.0) - punctRatio(text))

  /** Per-language stopword seed lists for the n-gram/stopword-hit
    * language-ID heuristic. Tiny by design — language ID at corpus scale
    * is a first-pass routing signal, not a classifier. */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr" -> Seq("le", "les", "des", "et", "est", "une", "dans"),
    "es" -> Seq("el", "los", "las", "y", "es", "una", "que"),
    "zh" -> Seq("de", "shi", "le", "bu", "wo", "zai", "you"))

  /** Predicted language = argmax of per-language stopword hits, ties broken
    * by list order (en first), "und" (undetermined) when no list scores. */
  def langId(text: Column): Column = {
    val scores = langStopwords.map { case (l, ws) => l -> tokenHits(text, ws) }
    val best = scores.tail.foldLeft(scores.head._2)((m, s) => greatest(m, s._2))
    val cases = scores.foldLeft(when(best <= 0, lit("und"))) {
      case (acc, (l, _)) => acc.when(scores.toMap.apply(l) === best, lit(l))
    }
    cases.otherwise(lit("und"))
  }

  /** Content fingerprint of whitespace-normalized text (md5 hex) — the
    * exact-dedup key. Stable across engines, oracle-checkable. */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", tokens(text)))

  /** 64-bit internal fingerprint (xxhash64 of normalized text) — cheaper
    * than md5 for shuffle keys; Spark-internal (not oracle-matched). */
  def fingerprint64(text: Column): Column =
    xxhash64(concat_ws(" ", tokens(text)))

  /** Fraction of tokens that are repeats of an earlier token —
    * `1 − |distinct|/|tokens|`, the Gopher-style within-document
    * repetition signal (repetitious boilerplate scores high). Pure
    * O(len) array expression, rides in the scan stage. */
  def dupTokenFraction(ts: Column): Column =
    lit(1.0) - size(array_distinct(ts)).cast("double") / size(ts)

  /** Word k-shingles from an ALREADY-MATERIALIZED token-array column —
    * the native codegen'd [[TokenShingles]] kernel (one static call
    * per row; the interpreted-HOF formulation it replaced is kept
    * below for the differential spec). */
  def shinglesOfTokens(ts: Column, k: Int): Column =
    ShingleFunctions.tokenShingles(ts, k)

  /** The higher-order-function formulation [[shinglesOfTokens]]
    * replaced (transform/slice/concat_ws — interpreted lambdas, ~49 s
    * for a bare 500k-doc bigram explode in the r6 probe). Retained
    * ONLY as the independent reference the TextSpec differential law
    * checks the native kernel against. */
  private[graft] def shinglesOfTokensHof(ts: Column, k: Int): Column =
    when(size(ts) < k, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0), size(ts) - k),
        i => concat_ws(" ", slice(ts, i + 1, lit(k)))))

  /** Word k-shingles straight from text — convenience for single-row /
    * test use. In pipelines prefer staging [[tokens]] into a column and
    * calling [[shinglesOfTokens]] (see note there). */
  def shingles(text: Column, k: Int): Column =
    shinglesOfTokens(tokens(text), k)

  /** PII patterns for corpus redaction, ordered most-specific first
    * (emails contain dots; IPs must win over phone digit runs). Kept
    * to constructs with identical semantics in Java regex and RE2 so
    * the DuckDB oracle runs the same patterns (ASCII classes, `\b`,
    * no lookaround). */
  val piiPatterns: Seq[(String, String)] = Seq(
    ("[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "<IP>"),
    ("\\+?[0-9][0-9()\\- ]{7,}[0-9]", "<PHONE>"))

  /** Redact PII spans with deterministic placeholders — the corpus
    * scrubbing step. A pure chain of codegen'd `regexp_replace`s in
    * the scan stage; application order is part of the contract
    * (specific → general so a redacted email's domain can't re-match
    * as a phone-ish digit run). */
  def redact(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (re, tag)) =>
      regexp_replace(c, re, tag)
    }

  /** Per-pattern PII hit count (before redaction). */
  def piiCount(text: Column, pattern: String): Column =
    regexp_count(text, lit(pattern))
}
