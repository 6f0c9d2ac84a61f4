package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, BoundReference, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** Sort-merge as-of join of two key-clustered, (key, ts)-sorted sides: every
  * left row gets the payload of ONE right row with the same key — the latest
  * with r.ts <= l.ts (backward) or the earliest with r.ts >= l.ts (forward) —
  * or nulls when there is none.
  *
  * Keys compare null-safely (a null key matches a null key) and a null ts
  * sorts below every other ts, exactly as the partition/order spec of the
  * window formulation this operator replaced (kept in src/test as the parity
  * oracle). Among right rows with equal (key, ts) the one matched is
  * unspecified, as it was there.
  *
  * Output: the left columns (all nullable, as the union-based formulation
  * declared them), `payloadOut` (one fresh nullable attribute per right
  * payload column) and, when `matchTs` is set, the matched right row's ts —
  * the input of a staleness gate evaluated by a projection above.
  *
  * `references` names only the keys, the two ts columns and the payload, so
  * ColumnPruning narrows the left child to what the parent needs (the
  * left columns pass through by attribute, never by position).
  */
final case class AsOfMerge(left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute], leftTs: Attribute, rightTs: Attribute,
    payload: Seq[Attribute], payloadOut: Seq[Attribute], matchTs: Option[Attribute],
    forward: Boolean, salted: Boolean) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output.map(_.withNullability(true)) ++ payloadOut ++ matchTs
  override def references: AttributeSet =
    AttributeSet(leftKeys ++ rightKeys ++ payload :+ leftTs :+ rightTs)
  override def producedAttributes: AttributeSet = AttributeSet(payloadOut ++ matchTs)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfMerge =
    copy(left = newLeft, right = newRight)
}

/** Physical [[AsOfMerge]]: both children must be clustered on the key and
  * sorted by (key, ts) ascending — in both directions — so EnsureRequirements
  * adds an exchange or a sort only to a side that lacks them (typically just
  * the small right side). Salted keys `(key, salt)` require clustering on ALL
  * key columns: a partitioning on the key alone would satisfy (key, salt) by
  * the subset rule and put every salt of a hot key in one task.
  *
  * Each partition pair is merged in one pass: the left stream advances
  * against a one-row-lookahead cursor over the right stream.
  */
final case class AsOfMergeExec(left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute], leftTs: Attribute, rightTs: Attribute,
    payload: Seq[Attribute], payloadOut: Seq[Attribute], matchTs: Option[Attribute],
    forward: Boolean, salted: Boolean) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output.map(_.withNullability(true)) ++ payloadOut ++ matchTs
  override def producedAttributes: AttributeSet = AttributeSet(payloadOut ++ matchTs)
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering
  override def requiredChildDistribution: Seq[Distribution] = Seq(
    ClusteredDistribution(leftKeys, requireAllClusterKeys = salted),
    ClusteredDistribution(rightKeys, requireAllClusterKeys = salted))
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTs).map(SortOrder(_, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val l = left.execute()
    val r = right.execute()
    require(l.getNumPartitions == r.getNumPartitions,
      s"as-of merge requires co-partitioned sides, got ${l.getNumPartitions} vs ${r.getNumPartitions}")
    val lOut = left.output
    val rOut = right.output
    val (lk, rk, lt, rt, pay, fwd, mts) = (leftKeys, rightKeys, leftTs, rightTs, payload, forward, matchTs)
    l.zipPartitions(r) { (lIter, rIter) =>
      // both sides projected to [keys..., ts(, payload...)]: one ordering
      // over the (keys, ts) prefix serves both streams
      val kt = lk :+ lt
      val lProj = UnsafeProjection.create(kt, lOut)
      val rProj = UnsafeProjection.create(rk ++ (rt +: pay), rOut)
      val ktOrd = RowOrdering.create(kt.map(SortOrder(_, Ascending)), kt)
      val kOrd = RowOrdering.create(lk.map(SortOrder(_, Ascending)), kt)
      val nL = lOut.length
      val nK = lk.length
      val noMatch = new GenericInternalRow(nK + 1 + pay.length)
      val outProj = UnsafeProjection.create(
        lOut.zipWithIndex.map { case (a, i) => BoundReference(i, a.dataType, nullable = true) } ++
          pay.zipWithIndex.map { case (a, j) =>
            BoundReference(nL + nK + 1 + j, a.dataType, nullable = true) } ++
          mts.map(a => BoundReference(nL + nK, a.dataType, nullable = true)))
      val joined = new JoinedRow()
      def pull(): UnsafeRow = if (rIter.hasNext) rProj(rIter.next()).copy() else null
      var next = pull()
      var cur: UnsafeRow = null
      lIter.map { row =>
        val key = lProj(row)
        val hit =
          if (fwd) {
            // earliest right at or after (key, ts): skip everything below it
            while (next != null && ktOrd.compare(next, key) < 0) next = pull()
            next
          } else {
            // latest right at or before (key, ts): absorb everything up to it
            while (next != null && ktOrd.compare(next, key) <= 0) { cur = next; next = pull() }
            cur
          }
        val m = if (hit != null && kOrd.compare(hit, key) == 0) hit else noMatch
        outProj(joined(row, m))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfMergeExec =
    copy(left = newLeft, right = newRight)
}
