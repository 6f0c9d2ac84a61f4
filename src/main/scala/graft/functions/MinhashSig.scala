package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash signature: lowercase/trim -> whitespace tokens -> word
  * n-grams (distinct) -> md5 base hash mod (2^61-1) -> 2-universal family ->
  * per-member minimum, all in ONE tight JVM loop per row.
  *
  * Semantics are bit-identical to the declarative built-in formulation
  * (MinhashSigSpec's parity oracle, and therefore the DuckDB oracle): the base
  * hash is the first 15 hex chars of md5 interpreted base-16
  * (= the top 60 bits of the digest), and the family constants come from
  * Dedup.hashA/B/C. The declarative higher-order-function version evaluates
  * an interpreted lambda per (member x shingle) with UTF8String and array
  * allocations per step — profiled ~30x slower than this expression on the
  * documents corpus. CodegenFallback costs one virtual call per ROW, not
  * per element; the md5 floor dominates inside.
  */
case class MinhashSig(child: Expression, numHashes: Int, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash_signature expects a string argument, got ${child.dataType.catalogString}")

  @transient private lazy val ws = java.util.regex.Pattern.compile("\\s+")
  private val M = graft.pipeline.Dedup.MinhashMod
  @transient private lazy val as = Array.tabulate(numHashes)(graft.pipeline.Dedup.hashA)
  @transient private lazy val bs = Array.tabulate(numHashes)(graft.pipeline.Dedup.hashB)
  @transient private lazy val cs = Array.tabulate(numHashes)(graft.pipeline.Dedup.hashC)

  override protected def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toLowerCase.trim().toString
    // whitespace tokens, mirroring split(trim(lower(text)), "\s+")
    val toks = ws.split(text, -1)
    // word n-grams: i in [0, max(len - n, 0)], gram = toks[i, min(i+n, len))
    val nGrams = math.max(toks.length - n, 0) + 1
    val seen = new java.util.HashSet[String](nGrams * 2)
    val md = MessageDigest.getInstance("MD5")
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < nGrams) {
      val hi = math.min(i + n, toks.length)
      val sb = new java.lang.StringBuilder
      var t = i
      while (t < hi) {
        if (t > i) sb.append(' ')
        sb.append(toks(t))
        t += 1
      }
      val gram = sb.toString
      if (seen.add(gram)) {
        md.reset()
        val d = md.digest(gram.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // first 15 hex chars = top 60 bits of the digest
        var h = 0L
        var b = 0
        while (b < 7) { h = (h << 8) | (d(b) & 0xFFL); b += 1 }
        h = (h << 4) | ((d(7) & 0xF0L) >> 4)
        h = h % M
        val hHi = h >> 31
        val hLo = h & 0x7FFFFFFFL
        var k = 0
        while (k < numHashes) {
          val v = (as(k) * hHi + bs(k) * hLo + cs(k)) % M
          if (v < mins(k)) mins(k) = v
          k += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override def prettyName: String = "minhash_signature"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
