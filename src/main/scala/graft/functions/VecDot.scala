package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst dot product over two float/double array columns.
  *
  * The declarative formulation `aggregate(zip_with(a, b, _ * _), 0, _ + _)`
  * allocates an intermediate array and evaluates an interpreted lambda per
  * element — per-row overhead that dominates a 100 TB embedding scan. This
  * expression stays inside whole-stage codegen with a primitive loop over
  * the two `ArrayData` buffers: no allocation, no boxing, no virtual calls.
  *
  * Semantics (deliberately NOT identical to the HOF fallback): mismatched
  * lengths truncate to the shorter array and null elements contribute 0.0,
  * where `aggregate(zip_with(...))` returns NULL in both cases. Embedding
  * columns are fixed-width non-null vectors, for which the two agree; the
  * laxer rule keeps the hot loop branch-light and total.
  *
  * Registered as SQL function `vec_dot` via [[GraftExtensions]]
  * (spark.sql.extensions=graft.functions.GraftExtensions), usable from
  * `functions.call_function("vec_dot", a, b)` or plain SQL.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  // accept float or double element arrays per side independently
  // (the per-side element type drives the generated getter below)
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects array<float>/array<double> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def dataType: DataType = DoubleType

  private def elemIsDouble(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    val ld = elemIsDouble(left)
    val rd = elemIsDouble(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val x = if (ld) a.getDouble(i) else a.getFloat(i).toDouble
        val y = if (rd) b.getDouble(i) else b.getFloat(i).toDouble
        s += x * y
      }
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsDouble(left)) "getDouble" else "getFloat"
    val rGet = if (elemIsDouble(right)) "getDouble" else "getFloat"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int ${ev.value}_n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double ${ev.value}_s = 0.0;
         |for (int ${ev.value}_i = 0; ${ev.value}_i < ${ev.value}_n; ${ev.value}_i++) {
         |  if (!$a.isNullAt(${ev.value}_i) && !$b.isNullAt(${ev.value}_i)) {
         |    ${ev.value}_s += (double) $a.$lGet(${ev.value}_i) * (double) $b.$rGet(${ev.value}_i);
         |  }
         |}
         |${ev.value} = ${ev.value}_s;
       """.stripMargin
    })
  }

  override def prettyName: String = "vec_dot"

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Session extensions: registers graft's native SQL functions.
  * Enable with .config("spark.sql.extensions", "graft.functions.GraftExtensions").
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "vec_dot takes exactly 2 arguments")
        VecDot(args.head, args(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash"),
      new ExpressionInfo(classOf[SimhashExpr].getName, "simhash"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "simhash(text, bits)")
        val bits = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(s"bits must be an int literal, got $other")
        }
        SimhashExpr(args.head, bits)
      }))
    ext.injectFunction((
      new FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinhashSig].getName, "minhash_signature"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "minhash_signature(text, numHashes, n)")
        def intArg(e: Expression, name: String): Int = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(s"$name must be an int literal, got $other")
        }
        MinhashSig(args.head, intArg(args(1), "numHashes"), intArg(args(2), "n"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[WordNgrams].getName, "word_ngrams"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "word_ngrams(text, n)")
        val n = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(s"n must be an int literal, got $other")
        }
        WordNgrams(args.head, n)
      }))
    ext.injectFunction((
      new FunctionIdentifier("winnow"),
      new ExpressionInfo(classOf[WinnowExpr].getName, "winnow"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "winnow(text, k, w)")
        def intArg(e: Expression, name: String): Int = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(s"$name must be an int literal, got $other")
        }
        WinnowExpr(args.head, intArg(args(1), "k"), intArg(args(2), "w"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("dup_line_ratio"),
      new ExpressionInfo(classOf[DupLineRatio].getName, "dup_line_ratio"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "dup_line_ratio(text)")
        DupLineRatio(args.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("top_word_ratio"),
      new ExpressionInfo(classOf[TopWordRatio].getName, "top_word_ratio"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "top_word_ratio(text)")
        TopWordRatio(args.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("quality_score"),
      new ExpressionInfo(classOf[QualityScoreExpr].getName, "quality_score"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "quality_score(text)")
        QualityScoreExpr(args.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("char_ngrams"),
      new ExpressionInfo(classOf[CharNgrams].getName, "char_ngrams"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "char_ngrams(text, n)")
        val n = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(s"n must be an int literal, got $other")
        }
        CharNgrams(args.head, n)
      }))
    ext.injectFunction((
      new FunctionIdentifier("langid_heuristic"),
      new ExpressionInfo(classOf[LangIdHeuristicExpr].getName, "langid_heuristic"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "langid_heuristic(text)")
        LangIdHeuristicExpr(args.head)
      }))
  }
}
