package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native distinct word n-grams: lowercase/trim -> whitespace tokens ->
  * n-grams (first-occurrence order) in ONE loop per row.
  *
  * Bit-identical to the declarative built-in formulation
  * (lower -> split(trim, "\s+") ->
  * transform(sequence(...), slice+concat_ws) -> array_distinct) and
  * therefore to the DuckDB oracles built on the same construction. The
  * declarative version evaluates an interpreted lambda per gram with an
  * array slice + string concat allocation per step — profiled ~10x slower
  * warm (and far worse cold) on the documents corpus, which made the
  * contamination scan the most expensive query in the driver bench.
  * CodegenFallback costs one virtual call per ROW; the gram loop inside is
  * primitive (same trade as [[MinhashSig]], which shares the shingling).
  */
case class WordNgrams(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, s"word_ngrams n must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_ngrams expects a string argument, got ${child.dataType.catalogString}")

  @transient private lazy val ws = java.util.regex.Pattern.compile("\\s+")

  override protected def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toLowerCase.trim().toString
    val toks = ws.split(text, -1)
    val nGrams = math.max(toks.length - n, 0) + 1
    // distinct, first-occurrence order (array_distinct semantics)
    val seen = new java.util.LinkedHashSet[String](nGrams * 2)
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
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  override def prettyName: String = "word_ngrams"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
