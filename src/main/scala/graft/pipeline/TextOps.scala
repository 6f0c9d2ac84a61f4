package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.{DupLineRatio, LangIdHeuristicExpr, QualityScoreExpr, TopWordRatio}

/** Text-analysis primitives for large-scale training-data pipelines: token
  * counting, quality scoring, language-ID heuristic, fingerprinting. All
  * pure Catalyst expressions (codegen'd, shuffle-free per row) so a 100 TB
  * documents scan stays a single map stage with full column pruning.
  */
object TextOps {

  private val bridge = org.apache.spark.sql.graft.GraftSqlBridge

  /** Whitespace tokens (reference point for all token-based ops). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count estimate: words + extra units for long words
    * (a word of length L costs ceil(L/4) units).
    */
  def subwordCountEst(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => acc + ceil(length(t).cast("double") / 4.0).cast("long"))

  def charCount(text: Column): Column = length(text).cast("long")

  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[^\\p{Punct}]", "")).cast("double") /
      greatest(length(text).cast("double"), lit(1.0))

  def upperRatio(text: Column): Column =
    length(regexp_replace(text, "[^A-Z]", "")).cast("double") /
      greatest(length(text).cast("double"), lit(1.0))

  def meanWordLen(text: Column): Column =
    length(regexp_replace(text, "\\s+", "")).cast("double") /
      greatest(tokenCount(text).cast("double"), lit(1.0))

  private val enStop = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "that", "it", "for", "on", "with")

  def stopwordRatio(text: Column, stopwords: Seq[String] = enStop): Column = {
    val stopArr = array(stopwords.map(lit): _*)
    size(filter(tokens(lower(text)), t => array_contains(stopArr, t))).cast("double") /
      greatest(tokenCount(text).cast("double"), lit(1.0))
  }

  /** Composite quality score in [0,1]: length sweet-spot, punctuation
    * sanity, stopword presence, mean word length sanity. Deterministic and
    * SQL-mirrorable (see SparkEntry oracle): the native single-pass
    * [[graft.functions.QualityScoreExpr]] evaluates the same tree of
    * token, regex-ratio and stopword terms in one walk per row.
    */
  def qualityScore(text: Column): Column = bridge.column(QualityScoreExpr(bridge.expression(text)))

  /** n-gram/stopword language-ID heuristic: argmax of per-language marker
    * hits (tiny marker lists; real deployments swap in fastText-style
    * models — the operator shape stays one scan + one argmax projection).
    * Native one-walk argmax ([[graft.functions.LangIdHeuristicExpr]]):
    * first-wins tie-break in marker order (en, de, es, fr), 'und' if no
    * marker hits.
    */
  def langIdHeuristic(text: Column): Column = bridge.column(LangIdHeuristicExpr(bridge.expression(text)))

  /** Document fingerprint: md5 of the whitespace-normalized, lowercased
    * text — the key for exact dedup at scale (hash-groupBy, no pairwise).
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  // -------------------------------------------- PII redaction
  /** Conservative ASCII patterns chosen to evaluate identically under Java
    * regex (Spark) and RE2 (DuckDB oracles): no \w/\b/lookaround, explicit
    * character classes only.
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
  val urlPattern = "https?://[^ \\t\\n]+"
  val ipPattern = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** Redact emails, then URLs, then IPv4 literals (fixed order — a URL
    * containing an email-shaped userinfo is redacted as the email first,
    * deterministically on both engines). Pure chained regexp_replace: the
    * 100 TB scrub stays a single map stage.
    */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        urlPattern, "<URL>"),
      ipPattern, "<IP>")

  /** Match counts per category on the RAW text (email counted before any
    * replacement, mirroring [[redact]]'s order).
    */
  def piiCounts(text: Column): Seq[Column] = Seq(
    size(regexp_extract_all(text, lit(emailPattern), lit(0))).cast("long").as("n_emails"),
    size(regexp_extract_all(text, lit(urlPattern), lit(0))).cast("long").as("n_urls"),
    size(regexp_extract_all(text, lit(ipPattern), lit(0))).cast("long").as("n_ips"))

  // -------------------------------------------- repetition (Gopher-style)
  /** Fraction of non-empty (trimmed) lines that are duplicates of an
    * earlier line — the classic boilerplate/navigation-chrome signal.
    * 0.0 for documents with no non-empty lines.
    */
  def dupLineRatio(text: Column): Column = bridge.column(DupLineRatio(bridge.expression(text)))

  /** Fraction of tokens taken by the single most frequent (lowercased)
    * token — degenerate keyword-stuffed or repeated-word documents score
    * near 1. One hash pass per row ([[graft.functions.TopWordRatio]]);
    * 0.0 for empty documents.
    */
  def topWordRatio(text: Column): Column = bridge.column(TopWordRatio(bridge.expression(text)))
}
