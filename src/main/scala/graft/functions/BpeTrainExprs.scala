package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared symbol-fold primitives for the distributed BPE trainer's
  * incremental regime — the EXACT left-to-right merge fold of
  * `BpeTrainer.trainLocalMerges` (one pass, no just-merged flag needed:
  * `a + b` can never equal `a`), applied natively so a merge round never
  * replays an interpreted higher-order-function lineage.
  */
private[functions] object BpeMergeOps {

  def applyMerge(s: Array[String], a: String, b: String): Array[String] = {
    val out = Array.newBuilder[String]
    var k = 0
    while (k < s.length) {
      if (k < s.length - 1 && s(k) == a && s(k + 1) == b) { out += a + b; k += 2 }
      else { out += s(k); k += 1 }
    }
    out.result()
  }

  def containsPair(s: Array[String], a: String, b: String): Boolean = {
    var k = 0
    while (k < s.length - 1) {
      if (s(k) == a && s(k + 1) == b) return true
      k += 1
    }
    false
  }

  /** Symbol arrays must be array<string> with non-null elements: the
    * folds read every element as a string (the trainer's symbol arrays come
    * from `bpe_tokens`, whose elements are never null).
    */
  def checkSymbols(fn: String, t: DataType): TypeCheckResult = t match {
    case ArrayType(StringType, false) => TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, true) => TypeCheckResult.TypeCheckFailure(
      s"$fn expects array<string> with non-null elements (containsNull = false)")
    case _ => TypeCheckResult.TypeCheckFailure(s"$fn expects array<string>, got ${t.catalogString}")
  }

  def toStrings(arr: ArrayData): Array[String] = {
    val n = arr.numElements()
    val out = new Array[String](n)
    var i = 0
    while (i < n) { out(i) = arr.getUTF8String(i).toString; i += 1 }
    out
  }

  def fold(arr: ArrayData, merges: Array[(String, String)]): Array[String] = {
    var s = toStrings(arr)
    var i = 0
    while (i < merges.length) { s = applyMerge(s, merges(i)._1, merges(i)._2); i += 1 }
    s
  }
}

/** Symbol state after folding `merges` (in order) onto a symbol array —
  * the trainer's checkpoint materialization as ONE native call per word
  * instead of a `checkpointEvery`-deep chain of interpreted aggregate
  * folds. Reference-object design ([[LmScore]]): instance-method
  * evaluator, never a companion static (the Janino forwarder trap).
  */
case class BpeFoldMerges(child: Expression, merges: Array[(String, String)])
    extends UnaryExpression {

  @transient private lazy val evaluator = new BpeFoldEval(merges)

  override def checkInputDataTypes(): TypeCheckResult =
    BpeMergeOps.checkSymbols("bpe_fold_merges", child.dataType)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(arr: Any): Any =
    evaluator.eval(arr.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeFoldEval", evaluator, classOf[BpeFoldEval].getName)
    defineCodeGen(ctx, ev, c => s"$ref.eval($c)")
  }

  override def prettyName: String = "bpe_fold_merges"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

final class BpeFoldEval(merges: Array[(String, String)]) extends Serializable {
  def eval(arr: ArrayData): ArrayData = {
    val s = BpeMergeOps.fold(arr, merges)
    val out = new Array[Any](s.length)
    var i = 0
    while (i < s.length) { out(i) = UTF8String.fromString(s(i)); i += 1 }
    new GenericArrayData(out)
  }
}

/** Pair-count deltas of ONE merge round for one word: fold the `prior`
  * merges (the rounds since the last checkpoint) onto the checkpointed
  * symbol array, and if the result contains (a, b) adjacently emit every
  * old adjacent pair with s = −1 and every post-merge adjacent pair with
  * s = +1 — otherwise an empty array (the word is unaffected and the
  * explode above drops it). `sum(cnt * s)` over the corpus is exactly the
  * pair-count delta of applying merge (a, b), so the driver-held counts
  * stay equal to what a full recount would produce (BpeSpec pins the
  * whole regime against the Python golden across 12 checkpoint windows).
  */
case class BpeMergeDeltas(child: Expression, prior: Array[(String, String)],
                          a: String, b: String) extends UnaryExpression {

  @transient private lazy val evaluator = new BpeDeltaEval(prior, a, b)

  override def checkInputDataTypes(): TypeCheckResult =
    BpeMergeOps.checkSymbols("bpe_merge_deltas", child.dataType)

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("a", StringType, nullable = false),
    StructField("b", StringType, nullable = false),
    StructField("s", LongType, nullable = false))), containsNull = false)

  override def nullSafeEval(arr: Any): Any =
    evaluator.eval(arr.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeDeltaEval", evaluator, classOf[BpeDeltaEval].getName)
    defineCodeGen(ctx, ev, c => s"$ref.eval($c)")
  }

  override def prettyName: String = "bpe_merge_deltas"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

final class BpeDeltaEval(prior: Array[(String, String)], a: String, b: String)
    extends Serializable {

  private def pairRow(x: String, y: String, s: Long): GenericInternalRow =
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(x), UTF8String.fromString(y), s))

  def eval(arr: ArrayData): ArrayData = {
    val s = BpeMergeOps.fold(arr, prior)
    if (!BpeMergeOps.containsPair(s, a, b)) return new GenericArrayData(Array.empty[Any])
    val merged = BpeMergeOps.applyMerge(s, a, b)
    val out = new Array[Any](math.max(s.length - 1, 0) + math.max(merged.length - 1, 0))
    var j = 0
    var k = 0
    while (k < s.length - 1) { out(j) = pairRow(s(k), s(k + 1), -1L); j += 1; k += 1 }
    k = 0
    while (k < merged.length - 1) { out(j) = pairRow(merged(k), merged(k + 1), 1L); j += 1; k += 1 }
    new GenericArrayData(out)
  }
}
