package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native SimHash: lowercase/trim -> whitespace tokens -> md5 top-60-bit
  * token hash -> per-bit majority vote, in ONE pass over the tokens.
  *
  * Semantics are bit-identical to the declarative built-in formulation
  * (and the DuckDB oracle): token hash =
  * first 15 hex chars of md5 base-16, bit b of the result is set iff
  * strictly more tokens have bit b set than clear. The higher-order-function
  * version evaluates `bits` separate `aggregate(...)` lambda traversals of
  * the token array per row (~bits x array length interpreted steps) —
  * profiled ~30x slower on the documents corpus at sf0.1. CodegenFallback
  * costs one virtual call per ROW; the md5 floor dominates inside.
  */
case class SimhashExpr(child: Expression, bits: Int)
    extends UnaryExpression with CodegenFallback {

  require(bits >= 1 && bits <= 60, s"simhash bits must be in [1, 60], got $bits")

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash expects a string argument, got ${child.dataType.catalogString}")

  @transient private lazy val ws = java.util.regex.Pattern.compile("\\s+")

  override protected def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toLowerCase.trim().toString
    val toks = ws.split(text, -1)
    val votes = new Array[Int](bits)
    val md = MessageDigest.getInstance("MD5")
    var i = 0
    while (i < toks.length) {
      md.reset()
      val d = md.digest(toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 15 hex chars = top 60 bits of the digest
      var h = 0L
      var b = 0
      while (b < 7) { h = (h << 8) | (d(b) & 0xFFL); b += 1 }
      h = (h << 4) | ((d(7) & 0xF0L) >> 4)
      b = 0
      while (b < bits) {
        if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) {
      if (votes(b) > 0) out |= 1L << b
      b += 1
    }
    out
  }

  override def prettyName: String = "simhash"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
