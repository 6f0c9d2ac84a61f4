package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Native IVF probe assignment: the indices of the `nProbe` centroids with
  * the highest dot product against the row's vector, ties broken toward the
  * smaller centroid index — exactly the semantics of the declarative
  * formulation (`array_sort` over `(-sim, idx)` structs of per-centroid
  * `vec_dot`s), IvfProbeSpec's parity oracle.
  *
  * Why native: the built-in tree embeds k·dim literal nodes (one per
  * centroid coordinate) and allocates + sorts a k-element struct array per
  * ROW — fine at k = 16, quadratic pain at the corpus-scale
  * k ≈ √N ≈ 1000 guideline, where analysis alone chokes on 16k literals
  * and the per-row sort is O(k log k) interpreted work. Here the centroid
  * matrix rides along as ONE flattened reference object and selection is a
  * primitive O(k·dim + k·nProbe) insertion loop inside whole-stage codegen.
  *
  * Bit-parity: dots accumulate left-to-right in doubles over the element
  * order with null elements contributing 0.0 — the same rule as
  * [[VecDot]], so assignments are bit-identical to the built-in path.
  * Vectors shorter/longer than `dim` truncate to the overlap (VecDot's
  * rule). It carries non-literal state, so it has no SQL name: callers
  * construct it directly via the sql bridge.
  */
case class IvfProbe(child: Expression, centsFlat: Array[Double], k: Int, dim: Int,
                    nProbe: Int) extends UnaryExpression {

  require(k > 0 && dim > 0 && centsFlat.length == k * dim,
    s"centroid matrix shape mismatch: ${centsFlat.length} != $k*$dim")
  require(nProbe > 0, "nProbe must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"ivf_probe expects array<float>/array<double>, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  private def elemIsDouble: Boolean = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  private val p: Int = math.min(nProbe, k)

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), dim)
    val isD = elemIsDouble
    val bestS = Array.fill(p)(Double.NegativeInfinity)
    // identity init: a vector whose sims are all NaN (never strictly
    // greater than anything) yields [0..p-1], matching the built-in
    // stable sort's tie order
    val bestI = Array.tabulate(p)(identity)
    var c = 0
    while (c < k) {
      var s = 0.0
      var i = 0
      val base = c * dim
      while (i < n) {
        if (!a.isNullAt(i)) {
          val x = if (isD) a.getDouble(i) else a.getFloat(i).toDouble
          s += centsFlat(base + i) * x
        }
        i += 1
      }
      // insertion keeping (sim desc, idx asc): displace only on STRICTLY
      // greater sim, so an equal-sim later centroid stays behind
      var j = p
      while (j > 0 && s > bestS(j - 1)) j -= 1
      if (j < p) {
        var m = p - 1
        while (m > j) { bestS(m) = bestS(m - 1); bestI(m) = bestI(m - 1); m -= 1 }
        bestS(j) = s; bestI(j) = c
      }
      c += 1
    }
    new GenericArrayData(bestI)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cref = ctx.addReferenceObj("ivfCents", centsFlat, "double[]")
    val get = if (elemIsDouble) "getDouble" else "getFloat"
    nullSafeCodeGen(ctx, ev, a => {
      val v = ev.value
      s"""
         |int ${v}_n = java.lang.Math.min($a.numElements(), $dim);
         |double[] ${v}_bs = new double[$p];
         |int[] ${v}_bi = new int[$p];
         |java.util.Arrays.fill(${v}_bs, java.lang.Double.NEGATIVE_INFINITY);
         |for (int ${v}_t = 0; ${v}_t < $p; ${v}_t++) ${v}_bi[${v}_t] = ${v}_t;
         |for (int ${v}_c = 0; ${v}_c < $k; ${v}_c++) {
         |  double ${v}_s = 0.0;
         |  int ${v}_base = ${v}_c * $dim;
         |  for (int ${v}_i = 0; ${v}_i < ${v}_n; ${v}_i++) {
         |    if (!$a.isNullAt(${v}_i)) {
         |      ${v}_s += $cref[${v}_base + ${v}_i] * (double) $a.$get(${v}_i);
         |    }
         |  }
         |  int ${v}_j = $p;
         |  while (${v}_j > 0 && ${v}_s > ${v}_bs[${v}_j - 1]) ${v}_j--;
         |  if (${v}_j < $p) {
         |    for (int ${v}_m = $p - 1; ${v}_m > ${v}_j; ${v}_m--) {
         |      ${v}_bs[${v}_m] = ${v}_bs[${v}_m - 1];
         |      ${v}_bi[${v}_m] = ${v}_bi[${v}_m - 1];
         |    }
         |    ${v}_bs[${v}_j] = ${v}_s;
         |    ${v}_bi[${v}_j] = ${v}_c;
         |  }
         |}
         |$v = new org.apache.spark.sql.catalyst.util.GenericArrayData(${v}_bi);
       """.stripMargin
    })
  }

  override def prettyName: String = "ivf_probe"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
