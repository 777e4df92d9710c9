package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.ml.feature.StopWordsRemover

/** Text-processing column functions — the engine's equivalent of the
  * reference's gold-layer NLP surface, kept as pure `Column => Column`
  * compositions so everything stays inside Catalyst codegen (the
  * reference pays a Python-UDF serialization boundary per row;
  * SURVEY §3 EP3).
  */
object TextFunctions {

  /** clean_text (reference notebooks/gold_article_scoring.py:36-41):
    * lowercase, strip a leading "rt ", strip URLs, strip
    * non-alphanumerics. Column-expression only — no UDF.
    */
  def cleanText(c: Column): Column = {
    val lowered = lower(c)
    val noRt    = regexp_replace(lowered, "^rt ", "")
    val noUrl   = regexp_replace(noRt, "(https?://)\\S+", "")
    regexp_replace(noUrl, "[^a-z0-9\\s]", "")
  }

  /** Whitespace tokenizer over cleaned text (reference Tokenizer,
    * gold_article_scoring.py:49-50 — lowercase + split on \\s+).
    */
  def tokenize(c: Column): Column = split(cleanText(c), "\\s+")

  /** Spark ML's default English stop-word list — the exact list the
    * reference uses via StopWordsRemover (gold_article_scoring.py:55-65).
    */
  val englishStopWords: Seq[String] = StopWordsRemover.loadDefaultStopWords("english").toSeq

  /** Stop-word filter over an array column, preserving duplicates
    * (StopWordsRemover semantics — `array_except` would dedup).
    */
  def removeStopWords(tokens: Column): Column = {
    val stops = array(englishStopWords.map(lit): _*)
    filter(tokens, t => !array_contains(stops, t))
  }

  /** The reference's 31-term clean-tech weight dictionary
    * (gold_article_scoring.py:104-136), kept verbatim as the default
    * scoring vocabulary.
    */
  val cleanTechTerms: Map[String, Int] = Map(
    "climate" -> 20, "change" -> 4, "oxide" -> 1, "battery" -> 1,
    "electricity" -> 3, "abatement" -> 1, "emission" -> 1, "kyoto" -> 8,
    "ipcc" -> 20, "lithium" -> 15, "ion" -> 8, "photovoltaic" -> 25,
    "renewable" -> 8, "energy" -> 10, "solar" -> 8, "carbon" -> 5,
    "innovation" -> 20, "technology" -> 30, "clean" -> 9, "green" -> 14,
    "kilowatt" -> 4, "megawatt" -> 4, "polysilicon" -> 30, "biofuel" -> 40,
    "efficiency" -> 12, "fuel" -> 8, "tax" -> 4, "air" -> 2,
    "quality" -> 7, "bio" -> 8, "biogas" -> 12
  )

  /** Intended semantics of the reference's `days_ago` UDF
    * (silver_google_scholar.py:107-117: parse a leading "N days ago"
    * prefix; the reference implementation is buggy — see SURVEY §2.9 U1;
    * we implement the documented intent as a codegen-able expression).
    * Returns a nullable int.
    */
  def daysAgo(c: Column): Column = {
    val extracted = regexp_extract(c, "^(\\d+) days? ago", 1)
    when(extracted === "", lit(null)).otherwise(extracted).cast("int")
  }

  /** Occurrence count of a literal substring — shared building block for
    * the marker-based language-ID heuristic. Pure expression:
    * (len(s) - len(replace(s, m))) / len(m).
    */
  def occurrences(c: Column, marker: String): Column =
    ((length(c) - length(replace(c, lit(marker), lit("")))) /
      lit(marker.length)).cast("int")

  /** Rule-based English lemmatizer over a token array (the engine's
    * stand-in for the reference's WordNet lemmer_udf,
    * gold_article_scoring.py:69-88 — WordNet is Python-only, so plural
    * suffix rules approximate it; deviation documented in tests).
    * Drops tokens of length ≤ 2 after lemmatizing, exactly like the
    * reference. Pure expressions via transform/filter — no UDF, stays
    * inside codegen.
    */
  def lemmatize(tokens: Column): Column = {
    def lemma(t: Column): Column =
      lemmaRules.foldLeft(t) { case (acc, (pat, repl)) => regexp_replace(acc, pat, repl) }
    filter(transform(tokens, lemma _), t => length(t) > 2)
  }

  /** The lemmatizer's suffix rules, applied in order (Java regex, the
    * same engine `regexp_replace` runs): ies → y, sses → ss, and a
    * plural s dropped unless it follows s or u.
    */
  private val lemmaRules: Seq[(String, String)] = Seq(
    "(?<=[a-z]{2})ies$" -> "y",
    "sses$"             -> "ss",
    "([^su])s$"         -> "$1"
  )

  /** [[lemmatize]]'s rules on one driver-side string. */
  private def lemmaOf(word: String): String =
    lemmaRules.foldLeft(word) { case (acc, (pat, repl)) => acc.replaceAll(pat, repl) }

  /** Sum of term weights over the DISTINCT tokens of each row's array —
    * faithful single-expression form of the reference's score_udf
    * (gold_article_scoring.py:92-144 scores vector_unique). For the
    * scalable relational form (explode + broadcast join) see
    * Queries.q15_term_score.
    *
    * `tokens` are [[lemmatize]]d, so the weight keys are put through
    * the same rules: the reference's WordNet lemmatizer keeps
    * `biogas`, the suffix rules make it `bioga`, and only a key in the
    * tokens' normal form can match. Where two keys meet in one form,
    * the key that already was in it keeps its weight.
    */
  def termScore(tokens: Column, weights: Map[String, Int]): Column = {
    val entries = weights.toSeq
      .sortBy { case (k, _) => (lemmaOf(k) == k, k) } // later entries win in toMap
      .map { case (k, v) => lemmaOf(k) -> v }.toMap.toSeq.sortBy(_._1)
    val m = map(entries.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    aggregate(
      array_distinct(tokens),
      lit(0),
      (acc, t) => acc + coalesce(element_at(m, t), lit(0))
    )
  }

  /** PII redaction patterns for training corpora, applied in order
    * (emails first so their digits can't half-match the numeric
    * patterns; SSN before phone — 3-2-4 and 3-3-4 shapes don't
    * overlap under the word boundaries, so order is belt-and-braces).
    * Every pattern lives in the Java-regex ∩ RE2 common subset (no
    * lookaround, no backreferences), so the SAME expressions run in
    * the DuckDB oracle — redaction is cross-engine reproducible,
    * which matters when a corpus is scrubbed by one engine and
    * audited by another.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"            -> "<IP>",
    "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"                -> "<SSN>",
    "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b"          -> "<PHONE>"
  )

  /** Redact [[piiPatterns]] from a string column — a pure per-row
    * codegen regexp chain: scrubbing 100 TB is map-only work that
    * spreads like the bytes, no shuffle anywhere.
    */
  def scrubPii(c: Column): Column =
    piiPatterns.foldLeft(c) { case (acc, (pat, repl)) => regexp_replace(acc, pat, repl) }
}
