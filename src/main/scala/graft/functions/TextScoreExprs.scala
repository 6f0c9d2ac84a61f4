package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass expressions behind
  * [[graft.pipeline.TextOps.qualityScore]] and
  * [[graft.pipeline.TextOps.langIdHeuristic]].
  *
  * The declarative quality score pays SIX regex executions plus three
  * `split`s and an interpreted-lambda stopword filter per row, and
  * `langIdHeuristic`'s argmax fold re-evaluates every per-language filter
  * inside every `when` branch (up to 4x4 interpreted array traversals per
  * row). These expressions compute the IDENTICAL values in one traversal:
  * the double arithmetic replays the built-in expression tree
  * operation-for-operation (same IEEE ops, same order, same
  * BigDecimal.valueOf HALF_UP rounding as Catalyst `Round`), token
  * boundaries replicate `split(trim(text), "\\s+")` with Java-regex `\s`
  * (ASCII-only) and limit -1 empty-token semantics, `trim` strips 0x20
  * only (the Spark rule — see [[StringRatioExpr.sparkTrim]]), punctuation
  * is Java `\p{Punct}` (the 32 ASCII punct chars), and lengths count code
  * points (UTF8String.numChars parity). TextScoreExprsSpec pins native ≡
  * built-in on adversarial inputs and the fixture corpus; the driver
  * oracles gate them end-to-end.
  *
  * CodegenFallback: one virtual call per ROW — the [[DupLineRatio]] trade.
  */
private[functions] object TextScoreOps {

  /** Java-regex `\s` without UNICODE_CHARACTER_CLASS: ASCII whitespace. */
  @inline def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Java-regex `\p{Punct}`: !"#$%&'()*+,-./:;<=>?@[\]^_`{|}~ */
  @inline def isPunct(c: Int): Boolean =
    (c >= '!' && c <= '/') || (c >= ':' && c <= '@') || (c >= '[' && c <= '`') ||
      (c >= '{' && c <= '~')

  /** Spark `trim`: strip 0x20 spaces only. */
  def sparkTrim(s: String): String = {
    var lo = 0
    var hi = s.length
    while (lo < hi && s.charAt(lo) == ' ') lo += 1
    while (hi > lo && s.charAt(hi - 1) == ' ') hi -= 1
    if (lo == 0 && hi == s.length) s else s.substring(lo, hi)
  }

  /** `size(split(s, "\\s+"))` for an ALREADY-TRIMMED s: Java split with
    * limit -1 yields (number of \s runs) + 1 segments (leading/trailing
    * runs produce empty segments, counted; "" yields [""] = 1).
    */
  def tokenCountTrimmed(s: String): Int = {
    var runs = 0
    var i = 0
    val n = s.length
    while (i < n) {
      if (isWs(s.charAt(i))) {
        runs += 1
        while (i < n && isWs(s.charAt(i))) i += 1
      } else i += 1
    }
    runs + 1
  }

  /** Visit every `\s+`-split segment (Java split, limit -1: leading and
    * trailing `\s` runs produce EMPTY segments, "" yields one empty
    * segment — they match no marker but are visited for count parity).
    */
  def foreachToken(s: String)(f: (String, Int, Int) => Unit): Unit = {
    val n = s.length
    var start = 0
    var i = 0
    while (i < n) {
      if (isWs(s.charAt(i))) {
        f(s, start, i)
        i += 1
        while (i < n && isWs(s.charAt(i))) i += 1
        start = i
      } else i += 1
    }
    f(s, start, n)
  }

  def segmentEquals(s: String, from: Int, until: Int, w: String): Boolean = {
    if (until - from != w.length) return false
    var k = 0
    while (k < w.length) {
      if (s.charAt(from + k) != w.charAt(k)) return false
      k += 1
    }
    true
  }
}

/** Native [[graft.pipeline.TextOps.qualityScore]]. */
case class QualityScoreExpr(child: Expression) extends UnaryExpression with CodegenFallback {
  import TextScoreOps._

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"quality_score expects a string argument, got ${child.dataType.catalogString}")

  private val stopwords = Array("the", "a", "an", "and", "or", "of", "to", "in",
    "is", "that", "it", "for", "on", "with")

  // NULL text scores 1.0 in the declarative tree (least/greatest IGNORE
  // null operands, every when-condition on a null comparison falls to its
  // otherwise branch: 1.0 * 1.0 * 1.0 * (0.5 + 0.5)) — NOT null. Pinned by
  // TextScoreExprsSpec's None row.
  override def nullable: Boolean = false
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 1.0 else nullSafeEval(v)
  }

  override protected def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[UTF8String]
    val text = u.toString
    // one code-point pass: total length, punct count, non-\s count
    var totalCp = 0L
    var punctCp = 0L
    var nonWsCp = 0L
    var i = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      totalCp += 1
      if (cp < 128) {
        if (isPunct(cp)) punctCp += 1
        if (!isWs(cp.toChar)) nonWsCp += 1
      } else nonWsCp += 1 // non-ASCII is never Java-regex \s or \p{Punct}
      i += Character.charCount(cp)
    }
    val nTok = tokenCountTrimmed(sparkTrim(text))
    // stopword hits over split(trim(lower(text))) — UTF8String.toLowerCase
    // IS Spark's lower(); trim after lower, as tokens(lower(text)) does
    val lowered = sparkTrim(u.toLowerCase.toString)
    var hits = 0
    foreachToken(lowered) { (s, from, until) =>
      val len = until - from
      if (len >= 1 && len <= 4) {
        var w = 0
        while (w < stopwords.length) {
          if (segmentEquals(s, from, until, stopwords(w))) { hits += 1; w = stopwords.length }
          else w += 1
        }
      }
    }
    // the built-in tree, operation for operation (left-assoc products)
    val n = nTok.toDouble
    val lenScore = math.min(n / 20.0, 1.0) * (if (n > 5000.0) 0.5 else 1.0)
    val punct = punctCp.toDouble / math.max(totalCp.toDouble, 1.0)
    val punctScore = if (punct > 0.2) 0.3 else 1.0
    val wl = nonWsCp.toDouble / math.max(n, 1.0)
    val wlScore = if (wl < 2.0 || wl > 12.0) 0.5 else 1.0
    val stop = hits.toDouble / math.max(n, 1.0)
    val stopScore = 0.5 + math.min(stop * 5.0, 0.5)
    val raw = lenScore * punctScore * wlScore * stopScore
    // Catalyst Round(double, 6): BigDecimal.valueOf + HALF_UP
    java.math.BigDecimal.valueOf(raw)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  override def prettyName: String = "quality_score"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native one-pass code-point n-gram array — mirrors LangId.gramsCol's
  * declarative `when(length(t) >= n, transform(sequence(1, len-n+1),
  * i => t.substr(i, n))).otherwise(array())` EXACTLY, including the
  * null-input → EMPTY ARRAY edge (the when-condition on a null length
  * falls to the otherwise branch). The declarative form is O(len²) per
  * row: every interpreted `substr(t, i, n)` walks the string from byte 0
  * to find code point i — quadratic in document length, the dominant cost
  * of NB training and an outright hazard on long documents. This walks
  * the code points once.
  */
case class CharNgrams(child: Expression, n: Int) extends UnaryExpression with CodegenFallback {
  require(n >= 1, s"char_ngrams needs n >= 1, got $n")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"char_ngrams expects a string argument, got ${child.dataType.catalogString}")

  private val empty = new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])

  override def nullable: Boolean = false
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) empty else nullSafeEval(v)
  }

  override protected def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    // code-point start offsets (UTF-16 indices)
    val cps = new Array[Int](text.length + 1)
    var m = 0
    var off = 0
    while (off < text.length) {
      cps(m) = off
      off += Character.charCount(text.codePointAt(off))
      m += 1
    }
    cps(m) = text.length
    if (m < n) return empty
    val out = new Array[Any](m - n + 1)
    var i = 0
    while (i + n <= m) {
      out(i) = UTF8String.fromString(text.substring(cps(i), cps(i + n)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def prettyName: String = "char_ngrams"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native [[graft.pipeline.TextOps.langIdHeuristic]]: per-language marker
  * hit counts in one token walk, argmax with the fold's first-wins
  * tie-break in marker order (en, de, es, fr), "und" when all zero.
  */
case class LangIdHeuristicExpr(child: Expression) extends UnaryExpression with CodegenFallback {
  import TextScoreOps._

  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"langid_heuristic expects a string argument, got ${child.dataType.catalogString}")

  // marker lists — MUST stay in lockstep with the declarative oracle's
  // (BuiltinOracles.langIdHeuristic) and q_lang_id's SQL
  private val langs = Array("en", "de", "es", "fr")
  private val markers: Array[Array[String]] = Array(
    Array("the", "and", "of", "to", "is"),
    Array("der", "die", "und", "ist", "das"),
    Array("el", "la", "que", "de", "es"),
    Array("le", "la", "et", "est", "les"))

  // NULL text falls through every when branch of the declarative fold to
  // the "und" default — NOT null (TextScoreExprsSpec's None row).
  override def nullable: Boolean = false
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) UTF8String.fromString("und") else nullSafeEval(v)
  }

  override protected def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[UTF8String]
    val lowered = sparkTrim(u.toLowerCase.toString)
    val hits = new Array[Int](langs.length)
    foreachToken(lowered) { (s, from, until) =>
      val len = until - from
      if (len >= 2 && len <= 3) {
        var l = 0
        while (l < langs.length) {
          val ws = markers(l)
          var w = 0
          while (w < ws.length) {
            if (segmentEquals(s, from, until, ws(w))) { hits(l) += 1; w = ws.length }
            else w += 1
          }
          l += 1
        }
      }
    }
    // foldRight argmax: first language (marker order) with hits > 0 and
    // hits >= every other language's hits; 'und' otherwise
    var l = 0
    while (l < langs.length) {
      if (hits(l) > 0) {
        var ok = true
        var m = 0
        while (m < langs.length) {
          if (m != l && hits(l) < hits(m)) { ok = false; m = langs.length }
          else m += 1
        }
        if (ok) return UTF8String.fromString(langs(l))
      }
      l += 1
    }
    UTF8String.fromString("und")
  }

  override def prettyName: String = "langid_heuristic"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
