package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, Expression, JoinedRow, SortOrder, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** One-pass point-in-time feature scan over a conversation-clustered,
  * (conv_id, ts, turn_idx)-sorted stream (`PointInTime.baseFeatures`).
  *
  * `in` is the child's output in a fixed role order — conv_id, turn_idx, ts,
  * role, tool, text_len — and passes through. `terms` are per-row
  * expressions over it, evaluated after the sort: the unix seconds of ts and
  * the user/assistant/tool length terms (`when(role = r, text_len)
  * .otherwise(0)`). `features` are produced here, each from the rows of the
  * same conversation at or before the current one in the sort order only,
  * with the window formulation's values, types, nullability and null rules.
  */
final case class PointInTimeScan(gapSecs: Long, in: Seq[Attribute], terms: Seq[Expression],
    features: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = in ++ features
  override def references: AttributeSet = AttributeSet(in)
  override def producedAttributes: AttributeSet = AttributeSet(features)
  override protected def withNewChildInternal(newChild: LogicalPlan): PointInTimeScan =
    copy(child = newChild)
}

object PointInTimeScan {

  /** The scan over `child`, whose output is the role-ordered input columns. */
  def apply(gapSecs: Long, child: LogicalPlan, terms: Seq[Expression]): PointInTimeScan = {
    val in = child.output
    require(in.length == 6 && terms.length == 4, s"point-in-time scan input: ${in.map(_.name)}")
    require(in(1).dataType == IntegerType, s"turn_idx must be int, got ${in(1).dataType.catalogString}")
    def f(name: String, t: DataType, nullable: Boolean) = AttributeReference(name, t, nullable)()
    PointInTimeScan(gapSecs, in, terms, Seq(
      f("turn_idx_delta", IntegerType, nullable = false),
      f("secs_since_prev", LongType, nullable = false),
      f("turns_so_far", IntegerType, nullable = false),
      f("cum_text_len", LongType, nullable = true),
      f("cum_len_user", LongType, nullable = true),
      f("cum_len_assistant", LongType, nullable = true),
      f("cum_len_tool", LongType, nullable = true),
      f("cum_tool_calls", LongType, nullable = true),
      f("session_id", LongType, nullable = true),
      f("last_tool_ffill", in(4).dataType, nullable = true),
      f("turns_in_session", IntegerType, nullable = true),
      f("secs_in_session", LongType, nullable = true)), child)
  }
}

/** Physical [[PointInTimeScan]]: requires the conv_id clustering and the
  * (conv_id, ts, turn_idx) order the windows it replaced required — the same
  * one exchange and one sort — and keeps both, so a downstream consumer
  * keyed and sorted by (conv_id, ts) needs neither. Long arithmetic is
  * exact (it throws on overflow, as ANSI window sums and subtractions do).
  */
final case class PointInTimeScanExec(gapSecs: Long, in: Seq[Attribute], terms: Seq[Expression],
    features: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = in ++ features
  override def producedAttributes: AttributeSet = AttributeSet(features)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def requiredChildDistribution: Seq[Distribution] = Seq(ClusteredDistribution(in.take(1)))
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(in(0), in(2), in(1)).map(SortOrder(_, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val cOut = child.output
    val (inAttrs, rowTerms, feats, gap) = (in, terms, features, gapSecs)
    child.execute().mapPartitions { rows =>
      val Seq(kI, idxI, _, _, toolI, lenI) = inAttrs.map(a => cOut.indexWhere(_.exprId == a.exprId))
      // [unix seconds, user, assistant, tool length terms]
      val termProj = UnsafeProjection.create(rowTerms, cOut)
      val keyT = cOut(kI).dataType
      val toolT = cOut(toolI).dataType
      val outProj = UnsafeProjection.create(inAttrs ++ feats, cOut ++ feats)
      val f = new SpecificInternalRow(feats.map(_.dataType))
      val joined = new JoinedRow()
      // a running sum with SQL null rules: null until a non-null term arrives
      final class Sum { var v = 0L; var seen = false
        def add(row: InternalRow, i: Int): Unit =
          if (!row.isNullAt(i)) { v = Math.addExact(v, row.getLong(i)); seen = true }
        def put(o: Int): Unit = if (seen) f.setLong(o, v) else f.setNullAt(o)
      }
      val sLen, sUser, sAsst, sTool = new Sum
      var key: Any = null
      var first = true
      var rn = 0
      var prevIdx = 0; var prevIdxNull = true
      var prevSecs = 0L; var prevSecsNull = true
      var toolCalls, sessionId = 0L
      var startRn = 0
      var startTs = 0L; var startTsNull = true
      var lastTool: Any = null
      rows.map { row =>
        val k = if (row.isNullAt(kI)) null else row.get(kI, keyT)
        if (first || k != key) {
          first = false
          key = InternalRow.copyValue(k)
          Seq(sLen, sUser, sAsst, sTool).foreach { s => s.v = 0L; s.seen = false }
          rn = 0; prevIdxNull = true; prevSecsNull = true
          toolCalls = 0L; sessionId = 0L; startRn = 0; startTsNull = true; lastTool = null
        }
        rn += 1
        // turn_idx_delta = coalesce(turn_idx - lag(turn_idx), 0)
        val idxNull = row.isNullAt(idxI)
        val idx = if (idxNull) 0 else row.getInt(idxI)
        f.setInt(0, if (idxNull || prevIdxNull) 0 else Math.subtractExact(idx, prevIdx))
        val term = termProj(row)
        // secs_since_prev = coalesce(secs - lag(secs), 0); a gap opens a session
        val secsNull = term.isNullAt(0)
        val secs = if (secsNull) 0L else term.getLong(0)
        val diffNull = secsNull || prevSecsNull
        val diff = if (diffNull) 0L else Math.subtractExact(secs, prevSecs)
        val gapFlag = !diffNull && diff > gap
        f.setLong(1, diff)
        f.setInt(2, rn)
        sLen.add(row, lenI); sLen.put(3)
        sUser.add(term, 1); sUser.put(4)
        sAsst.add(term, 2); sAsst.put(5)
        sTool.add(term, 3); sTool.put(6)
        val hasTool = !row.isNullAt(toolI)
        if (hasTool) toolCalls += 1L
        f.setLong(7, toolCalls)
        if (gapFlag) sessionId += 1L
        f.setLong(8, sessionId)
        if (hasTool) lastTool = InternalRow.copyValue(row.get(toolI, toolT))
        if (lastTool == null) f.setNullAt(9) else f.update(9, lastTool)
        // session start = max(rn) / max(secs) over the turns that opened one
        if (gapFlag || rn == 1) {
          startRn = rn
          if (!secsNull && (startTsNull || secs > startTs)) { startTs = secs; startTsNull = false }
        }
        f.setInt(10, rn - startRn + 1)
        if (secsNull || startTsNull) f.setNullAt(11) else f.setLong(11, Math.subtractExact(secs, startTs))
        prevIdx = idx; prevIdxNull = idxNull
        prevSecs = secs; prevSecsNull = secsNull
        outProj(joined(row, f))
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PointInTimeScanExec =
    copy(child = newChild)
}
