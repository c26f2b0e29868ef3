package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines.
  *
  * Narrow Column expressions with no UDFs: at 100 TB these run inside the
  * parquet scan stage with zero shuffle. Most compose built-ins; where a
  * composition re-ran the same work per row, a native kernel from
  * [[graft.expressions.native]] replaces it — [[tokenShingles]]
  * (`TextTokenNGrams`) and [[qualityScore]] (`TextQualityScore`) — and the
  * specs check each kernel against the built-in composition
  * ([[qualityScoreHof]] also serves collated text). Cross-engine exactness
  * (for the DuckDB oracle) comes from integer arithmetic and sequential
  * left-fold accumulation, which we verified is bit-identical across engines.
  */
object TextFunctions {

  /** Whitespace tokens of trimmed text. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  def tokenCount(c: Column): Column = size(tokens(c)).cast("long")

  def distinctTokenCount(c: Column): Column =
    size(array_distinct(tokens(c))).cast("long")

  /** BPE-style pre-tokenizer pattern (the public GPT-2 pattern with the
    * trailing-space lookahead dropped so RE2-based engines — and the DuckDB
    * oracle — replay it identically): contractions, space-prefixed
    * letter/digit runs, punctuation runs, whitespace runs. */
  val BpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** Token count under the BPE-ish pre-tokenizer — the cheap proxy for "how
    * many LLM tokens is this document" that a training-mix controller needs;
    * a real BPE merge table would refine, not replace, this split. */
  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(BpePattern), lit(0))).cast("long")

  /** Character n-gram shingles (with duplicates). Text shorter than `n`
    * yields an EMPTY array: the naive `sequence(1, length-n+1)` auto-steps
    * -1 when the end is < 1 (e.g. [1,0]) and would emit phantom shingles
    * (the whole short text, twice) where the oracle's range() is empty. */
  def charShingles(c: Column, n: Int): Column =
    when(length(c) >= n,
      transform(sequence(lit(1), length(c) - lit(n - 1)),
        i => c.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))

  /** Distinct character n-gram shingles. */
  def distinctShingles(c: Column, n: Int): Column =
    array_distinct(charShingles(c, n))

  /** Distinct word n-grams (token shingles), space-joined, first-occurrence
    * order. Fewer than `n` tokens yields an EMPTY array. Native kernel —
    * the HOF form (a slice + concat per gram, interpreted) dominated the
    * contamination queries; the specs check the two are identical. */
  def tokenShingles(c: Column, n: Int): Column =
    graft.expressions.native.token_ngrams(c, n)

  /** Polynomial rolling hash over the characters of `c`:
    * fold(acc * 31 + codepoint) mod 1e9+7 — a content fingerprint that is
    * exactly reproducible in ANSI-ish SQL (no engine-specific hash). */
  def rollingHash(c: Column): Column =
    aggregate(split(c, ""), lit(0L),
      (acc, ch) => (acc * lit(31L) + ascii(ch)) % lit(1000000007L))

  /** Number of occurrences of literal `kw` in `c` via length arithmetic
    * (exact integer, engine-portable). */
  def occurrences(c: Column, kw: String): Column =
    ((length(c) - length(replace(c, lit(kw), lit("")))) / lit(kw.length))
      .cast("long")

  /** Occurrences of `word` as a whole whitespace-delimited token. */
  def wordOccurrences(c: Column, word: String): Column =
    occurrences(concat(lit(" "), c, lit(" ")), s" $word ")

  // -------------------------------------------------------------------------
  // Language ID (n-gram/stopword heuristic)
  // -------------------------------------------------------------------------

  /** Marker stopwords per language. The heuristic scores a document by total
    * whole-word marker hits; argmax (alphabetical tie-break) is the label.
    * Deterministic and integer-exact for oracle parity. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "is", "to"),
    "es" -> Seq("el", "la", "los", "que", "es", "y"),
    "fr" -> Seq("le", "la", "les", "et", "est", "que"),
    "zh" -> Seq("de", "shi", "bu", "le", "wo", "zai"))

  /** Per-language marker-hit score. */
  def langScore(c: Column, lang: String): Column =
    langMarkers.toMap.apply(lang)
      .map(w => wordOccurrences(lower(c), w))
      .reduce(_ + _)

  /** Predicted language: argmax score; ties resolved alphabetically
    * (langMarkers is alphabetically sorted); "unk" if all scores are zero. */
  def predictLang(c: Column): Column = {
    val scored = langMarkers.map { case (l, _) => (l, langScore(c, l)) }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    scored.foldRight(lit("unk"): Column) { case ((l, s), tail) =>
      when(s === best && best > 0, lit(l)).otherwise(tail)
    }
  }

  // -------------------------------------------------------------------------
  // Quality scoring
  // -------------------------------------------------------------------------

  /** Ratio of stopword tokens ({the, a, of, and, is, to}) to all tokens. */
  def stopwordRatio(c: Column): Column =
    langScore(c, "en").cast("double") / tokenCount(c)

  /** Mean token length. */
  def meanTokenLength(c: Column): Column = {
    val t = tokens(c)
    aggregate(t, lit(0L), (acc, w) => acc + length(w)).cast("double") / size(t)
  }

  /** Type-token ratio (lexical diversity). */
  def typeTokenRatio(c: Column): Column =
    distinctTokenCount(c).cast("double") / tokenCount(c)

  /** Composite quality score in [0,1]-ish: favors diverse, stopword-bearing,
    * medium-token-length text. Deterministic arithmetic only. Native kernel
    * (`TextQualityScore`): one split and one lowercase per row where the
    * composition below splits ~8 times and lowers + replaces 12 times;
    * bit-identical to [[qualityScoreHof]] (spec-checked). UTF8_BINARY text
    * only — the kernel rejects collated strings at analysis. */
  def qualityScore(c: Column): Column =
    graft.expressions.native.quality_score(c, langMarkers.toMap.apply("en"))

  /** Pure-built-in formulation of [[qualityScore]], kept for
    * cross-checking the kernel and for collated text. */
  def qualityScoreHof(c: Column): Column =
    typeTokenRatio(c) * lit(0.5) +
      least(stopwordRatio(c) * lit(4.0), lit(1.0)) * lit(0.3) +
      when(meanTokenLength(c).between(3.0, 8.0), lit(0.2)).otherwise(lit(0.0))

  // -------------------------------------------------------------------------
  // Gopher-style document signals (Rae et al. 2021, "Scaling Language
  // Models" appendix A — public filtering heuristics) + PII pattern counts
  // -------------------------------------------------------------------------

  /** Non-empty lines (trimmed length > 0) of the document. */
  def lines(c: Column): Column =
    filter(split(c, "\n"), l => length(trim(l)) > 0)

  /** Fraction of non-empty lines that duplicate an earlier line — the
    * boilerplate/template signal. 0.0 for line-less docs. */
  def duplicateLineFraction(c: Column): Column = {
    val ls = lines(c)
    when(size(ls) > 0,
      lit(1.0) - size(array_distinct(ls)).cast("double") / size(ls))
      .otherwise(lit(0.0))
  }

  /** Fraction of non-empty lines starting (after trim) with a bullet
    * marker — list-heavy pages are poor prose training data. */
  def bulletLineFraction(c: Column): Column = {
    val ls = lines(c)
    val bullets = filter(ls, l =>
      substring(trim(l), 1, 1).isin("-", "*", "•"))
    when(size(ls) > 0, size(bullets).cast("double") / size(ls))
      .otherwise(lit(0.0))
  }

  /** Fraction of tokens containing at least one ASCII letter (Gopher's
    * 80%-alpha-words rule). NULL for token-less docs. */
  def alphaWordFraction(c: Column): Column = {
    val t = tokens(c)
    when(size(t) > 0,
      size(filter(t, w => w.rlike("[A-Za-z]"))).cast("double") / size(t))
  }

  /** Symbol-to-word ratio: '#' and ellipsis occurrences per token
    * (Gopher uses the same two marker symbols). */
  def symbolWordRatio(c: Column): Column =
    (occurrences(c, "#") + occurrences(c, "...") + occurrences(c, "…"))
      .cast("double") / tokenCount(c)

  /** Fraction of tokens that duplicate an earlier token (1 − TTR) — the
    * repetition signal Gopher thresholds per n-gram; the unigram case. */
  def duplicateWordFraction(c: Column): Column =
    lit(1.0) - typeTokenRatio(c)

  // PII pattern counts — the DETECTION half of a scrubbing pass (counts
  // drive filtering/routing decisions; replacement is `regexp_replace`
  // with the same patterns). Conservative regex subset that Java and RE2
  // (the DuckDB oracle) interpret identically.
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
  val Ipv4Pattern =
    "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val PhonePattern =
    "\\+?[0-9][0-9()\\- ]{7,}[0-9]"

  def emailCount(c: Column): Column =
    size(regexp_extract_all(c, lit(EmailPattern), lit(0))).cast("long")
  def ipv4Count(c: Column): Column =
    size(regexp_extract_all(c, lit(Ipv4Pattern), lit(0))).cast("long")
  def phoneCount(c: Column): Column =
    size(regexp_extract_all(c, lit(PhonePattern), lit(0))).cast("long")

  /** Redact every match of `pattern` with `token` — the scrubbing pass
    * itself (narrow, in-scan). */
  def redact(c: Column, pattern: String,
             token: String = "[REDACTED]"): Column =
    regexp_replace(c, pattern, token)
}
