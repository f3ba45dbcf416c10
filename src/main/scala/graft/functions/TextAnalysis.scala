package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (BASELINE.json north-star extensions; not present in the reference —
  * the reference's text surface stops at NUL-stripping,
  * migrate_v3.py:273-278).
  *
  * All are per-row `Column` expressions (codegen'd, embarrassingly
  * parallel — no shuffle), so they scale linearly with input size.
  */
object TextAnalysis {

  /** Whitespace token count (number of \S+ runs). */
  def tokenCount(text: Column): Column =
    graft.plans.GraftFunctions.textCount(text, "token")

  /** BPE-ish subword count: word-ish chunks, numbers, and single
    * punctuation marks, the shape of a GPT-2-style pre-tokenizer regex
    * (`[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]` — counted by the equivalent
    * single-pass scan, see [[graft.plans.TextScan]]).
    */
  def subwordCount(text: Column): Column =
    graft.plans.GraftFunctions.textCount(text, "subword")

  /** Stopword dictionaries for the n-gram/stopword language-ID heuristic.
    * Deterministic, dependency-free; real pipelines swap in fastText — the
    * Spark plumbing (per-row scoring + argmax) is identical.
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "que"),
    "es" -> Seq("el", "los", "las", "es", "un", "una", "que", "por"))

  /** Count of whole-word occurrences of `w` in lowercased text
    * (single-word dictionary scan ≡ `\b w \b` for ASCII word-char
    * words; anything else — apostrophes, hyphens, accents — keeps the
    * regex form, preserving the helper's historical input domain).
    */
  def wordHits(text: Column, w: String): Column =
    if (w.matches("[a-z0-9_]+"))
      graft.plans.GraftFunctions.stopwordCount(lower(text), Seq(w))
    else regexp_count(lower(text), lit("\\b" + w + "\\b")).cast("long")

  /** Per-language stopword-hit score: total whole-word stopword
    * occurrences for that language's dictionary. ONE union-alternation
    * regex per language, not one scan per stopword: whole-word matches
    * of distinct words can never overlap, so the single-pass count
    * equals the per-word sum — at 8 stopwords/language that's 8× less
    * text scanning, and it compounds wherever Catalyst inlines this
    * expression into CASE branches (langId, quality gates).
    */
  def langScore(text: Column, lang: String): Column =
    // single-pass dictionary scan ≡ the \b(?:w1|…|w8)\b alternation
    // regex it replaces (r13; see TextScan's equivalence contract —
    // the DuckDB oracle still runs the regex form and hash-matches).
    // The alternation backtracked 8 ways at every input position and
    // langId pays this once per LANGUAGE — it dominated the sf10
    // quality/curation scans (cu_quality_threshold isolated 19.2 s).
    graft.plans.GraftFunctions.stopwordCount(lower(text),
      stopwords.toMap.apply(lang))

  /** Language-ID: argmax of the per-language scores; 'und' (undetermined)
    * when no stopword hits at all. Ties break by dictionary order
    * (en, de, fr, es) for determinism.
    */
  def langId(text: Column): Column = {
    // argmax over an ARRAY of scores, not a when/otherwise fold: the fold
    // duplicates the running best-score subtree at every step, growing
    // the expression EXPONENTIALLY in the language count (s_en ends up
    // inlined 2^(n-1) times — measured 20× slowdown when this expression
    // lands inside a Filter's CASE branches); the array form computes
    // each score once per array construction. array_position returns the
    // FIRST index equal to the max, preserving dictionary-order ties.
    val scores = array(stopwords.map { case (l, _) => langScore(text, l) }: _*)
    when(array_max(scores) === 0L, lit("und"))
      .otherwise(element_at(
        array(stopwords.map(p => lit(p._1)): _*),
        array_position(scores, array_max(scores)).cast("int")))
  }

  /** Punctuation-character count (`[^A-Za-z0-9\s]` — single-pass scan). */
  def punctCount(text: Column): Column =
    graft.plans.GraftFunctions.textCount(text, "punct")

  /** Uppercase-letter count (`[A-Z]` — single-pass scan). */
  def upperCount(text: Column): Column =
    graft.plans.GraftFunctions.textCount(text, "upper")

  /** Document quality score in [0,1] — length, punctuation-ratio,
    * stopword-ratio and mean-word-length signals, the classic cheap
    * pre-filter for LLM training corpora. Pure double arithmetic
    * (deterministic bit-for-bit on any engine).
    */
  def qualityScore(text: Column): Column = {
    val nChars = length(text).cast("double")
    val nTokens = tokenCount(text).cast("double")
    val punctRatio = punctCount(text).cast("double") / greatest(nChars, lit(1.0))
    val stopRatio = langScore(text, "en").cast("double") / greatest(nTokens, lit(1.0))
    val meanWordLen = nChars / greatest(nTokens, lit(1.0))
    val lengthSignal = least(nChars / lit(500.0), lit(1.0))
    val wordLenSignal =
      when(meanWordLen >= 3.0 && meanWordLen <= 10.0, lit(1.0)).otherwise(lit(0.5))
    val punctSignal = when(punctRatio <= 0.2, lit(1.0)).otherwise(lit(1.0) - punctRatio)
    val stopSignal = least(stopRatio * lit(4.0), lit(1.0))
    (lengthSignal * lit(0.3) + wordLenSignal * lit(0.2) +
      punctSignal * lit(0.2) + stopSignal * lit(0.3))
  }

  /** Document fingerprint: first 16 hex chars of md5 — a stable 64-bit
    * content fingerprint usable as an exact-dedup key.
    */
  def fingerprint(text: Column): Column = substring(md5(text.cast("binary")), 1, 16)

  /** Winnowing fingerprints (rolling Karp-Rabin k-gram hashes → window
    * minima): any shared substring of length ≥ w+k-1 between two
    * documents produces a shared fingerprint — the localized near-dup
    * fingerprint (vs the whole-document md5 above).
    */
  def winnowFingerprints(text: Column, k: Int = 8, w: Int = 4): Column =
    graft.plans.GraftFunctions.winnow(text, k, w)

  /** Character shingles (n-grams) with stride, as an array column:
    * positions 1, 1+stride, ... each yielding substr(text, i, n). Stride
    * trades shingle density for cost; stride=1 is classic w-shingling.
    */
  def charShingles(text: Column, n: Int, stride: Int = 1): Column = {
    val maxStart = length(text) - lit(n - 1)
    filter(
      transform(sequence(lit(1), greatest(maxStart, lit(1)), lit(stride)),
        i => text.substr(i, lit(n))),
      s => length(s) === n)
  }

  /** Distinct word n-grams as an array column. */
  def wordShingles(text: Column, n: Int): Column = {
    val words = split(trim(text), "\\s+")
    val maxStart = size(words) - lit(n - 1)
    array_distinct(filter(
      transform(sequence(lit(1), greatest(maxStart, lit(1))),
        i => when(i <= maxStart, concat_ws(" ", slice(words, i, lit(n))))),
      s => s.isNotNull))
  }
}
