package graft.time

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Point-in-time layer over the transcript table (SURVEY.md §2.10).
  *
  * Every feature at (conv_id, ts) is computed from rows with the same conv_id
  * and (ts, turn_idx) <= the current row only — `lag`, cumulative sums over
  * `rowsBetween(unboundedPreceding, currentRow)`, forward-fill via
  * `last(ignoreNulls)` — so recomputing on a time-truncated snapshot yields
  * identical vectors (zero temporal leakage; see LeakageSpec).
  *
  * Physical shape: [[baseFeatures]] is one native scan over a single
  * hash-exchange on conv_id plus one (conv_id, ts, turn_idx) sort; the
  * window helpers below share that same WindowSpec. `lead` helpers exist for
  * fit-time labeling only and are intentionally NOT part of [[baseFeatures]]
  * (they would leak).
  */
object PointInTime {

  /** The one window ordering every point-in-time computation shares.
    * (ts, turn_idx) ordering = the stable turn ordering from the north rule.
    */
  def convWindow: WindowSpec =
    Window.partitionBy("conv_id").orderBy("ts", "turn_idx")

  private def cum(w: WindowSpec): WindowSpec =
    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** k-offset lag within the conversation. */
  def lagIn(c: Column, k: Int = 1): Column = lag(c, k).over(convWindow)

  /** k-offset lead — FIT-TIME ONLY (future-looking; never serve it). */
  def leadIn(c: Column, k: Int = 1): Column = lead(c, k).over(convWindow)

  /** Forward-fill: last non-null value at or before the current turn. */
  def ffill(c: Column): Column =
    last(c, ignoreNulls = true).over(cum(convWindow))

  /** Session id per conversation: increments when the gap since the previous
    * turn exceeds `gapSecs`. First turn of each conversation is session 0.
    */
  def sessionId(tsCol: Column, gapSecs: Long): Column = {
    val gap = unix_timestamp(tsCol) - unix_timestamp(lag(tsCol, 1).over(convWindow))
    sum(when(gap > gapSecs, 1).otherwise(0)).over(cum(convWindow))
  }

  /** Per-(conv_id, ts) numeric base-feature frame feeding the autofeat layer.
    *
    * Output columns (all point-in-time safe):
    *   conv_id, turn_idx, ts, role, tool,
    *   text_len, turn_idx_delta, secs_since_prev, turns_so_far,
    *   cum_text_len, cum_len_user, cum_len_assistant, cum_len_tool,
    *   cum_tool_calls, session_id, last_tool_ffill, turns_in_session,
    *   secs_in_session
    *
    * Computed in ONE pass by [[graft.plans.PointInTimeScan]]: text is reduced
    * to its length before the conv_id exchange, which then carries the
    * length instead of the text, and the scan folds the sorted stream with
    * the rules of the lag / running-sum / ffill windows
    * (rowsBetween(unboundedPreceding, currentRow) over [[convWindow]]) whose
    * formulation it replaced. Its output keeps the exchange's partitioning
    * and the sort's order.
    */
  def baseFeatures(turns: DataFrame, gapSecs: Long = 1800L): DataFrame = {
    val spark = turns.sparkSession
    graft.plans.GraftStrategy.install(spark)
    val in = turns.select(col("conv_id"), col("turn_idx"), col("ts"), col("role"), col("tool"),
      length(col("text")).cast("long").as("text_len"))
    // per-row terms, resolved against `in` and evaluated inside the scan
    val roleLen = (r: String) => when(col("role") === r, col("text_len")).otherwise(0L)
    val terms = in.select(unix_timestamp(col("ts")), roleLen("user"), roleLen("assistant"), roleLen("tool"))
      .queryExecution.analyzed.expressions.map {
        case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
        case e => e
      }
    org.apache.spark.sql.graft.GraftSqlBridge.ofRows(spark,
      graft.plans.PointInTimeScan(gapSecs, in.queryExecution.analyzed, terms))
  }

  /** Names of the numeric feature columns produced by [[baseFeatures]] —
    * the start features for the autofeat synthesis layer.
    */
  val numericFeatureCols: Seq[String] = Seq(
    "turn_idx", "text_len", "turn_idx_delta", "secs_since_prev", "turns_so_far",
    "cum_text_len", "cum_len_user", "cum_len_assistant", "cum_len_tool",
    "cum_tool_calls", "session_id", "turns_in_session", "secs_in_session"
  )
}
