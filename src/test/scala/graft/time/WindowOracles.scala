package graft.time

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The window formulations the native point-in-time operators replaced,
  * kept as parity oracles: built-in union + `last(ignoreNulls)` window for
  * the as-of join, stacked lag / running-sum windows for the base features.
  */
object WindowOracles {

  private def q(c: String) = col(s"`${c.replace("`", "``")}`")

  /** Unsalted union+window as-of join: both sides union-tagged, the right
    * payload forward-filled over (key | ts, tag) and the left rows kept.
    * Right rows (tag 0) sort before left rows at equal ts, so r.ts == l.ts
    * is visible; forward mirrors the scan with ts DESC.
    */
  def asof(left: DataFrame, right: DataFrame, keyCol: String, tsCol: String,
           rightPayload: Seq[String], prefix: String = "asof_", direction: String = "backward",
           toleranceSecs: Option[Double] = None): DataFrame = {
    val fwd = direction == "forward"
    val lCols = left.columns.toSeq
    val lFrame = left.select(
      Seq(q(keyCol).as("__k"), q(tsCol).as("__ts"), lit(1).as("__tag")) ++ lCols.map(q) ++
        rightPayload.map(c => lit(null).cast(right.schema(c).dataType).as(prefix + c)): _*)
    val rFrame = right.select(
      Seq(q(keyCol).as("__k"), q(tsCol).as("__ts"), lit(0).as("__tag")) ++
        lCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        rightPayload.map(c => q(c).as(prefix + c)): _*)
    val w = Window.partitionBy(col("__k"))
      .orderBy(if (fwd) col("__ts").desc else col("__ts").asc, col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = lFrame.unionByName(rFrame)
      .withColumn("__pay", when(col("__tag") === 0,
        struct(rightPayload.map(c => q(prefix + c)) :+ col("__ts").as("__mts"): _*)))
      .withColumn("__carry", last(col("__pay"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
    val withinTol: Column = toleranceSecs match {
      case None => lit(true)
      case Some(tol) =>
        val dist =
          if (fwd) col("__carry").getField("__mts").cast("double") - col("__ts").cast("double")
          else col("__ts").cast("double") - col("__carry").getField("__mts").cast("double")
        dist <= lit(tol)
    }
    filled.select(lCols.map(q) ++ rightPayload.map { c =>
      when(withinTol, col("__carry").getField(prefix + c)).as(prefix + c)
    }: _*)
  }

  /** Stacked-window base features: every column a window function over
    * partitionBy(conv_id).orderBy(ts, turn_idx), running frames for the
    * cumulative ones, then the per-session counters from the session-start
    * row number and ts.
    */
  def baseFeatures(turns: DataFrame, gapSecs: Long = 1800L): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tsSecs = unix_timestamp(col("ts"))
    val prevTs = lag(tsSecs, 1).over(w)
    val gapFlag = when(tsSecs - prevTs > gapSecs, 1).otherwise(0)
    val rn = row_number().over(w)
    val roleLen = (r: String) =>
      sum(when(col("role") === r, length(col("text"))).otherwise(0L)).over(wc)
    turns.select(
      col("conv_id"), col("turn_idx"), col("ts"), col("role"), col("tool"),
      length(col("text")).cast("long").as("text_len"),
      coalesce(col("turn_idx") - lag(col("turn_idx"), 1).over(w), lit(0)).as("turn_idx_delta"),
      coalesce(tsSecs - prevTs, lit(0L)).as("secs_since_prev"),
      rn.as("turns_so_far"),
      sum(length(col("text"))).over(wc).cast("long").as("cum_text_len"),
      roleLen("user").as("cum_len_user"),
      roleLen("assistant").as("cum_len_assistant"),
      roleLen("tool").as("cum_len_tool"),
      sum(when(col("tool").isNotNull, 1L).otherwise(0L)).over(wc).as("cum_tool_calls"),
      sum(gapFlag).over(wc).as("session_id"),
      max(when(gapFlag === 1 || rn === 1, rn)).over(wc).as("session_start_rn"),
      max(when(gapFlag === 1 || rn === 1, tsSecs)).over(wc).as("session_start_ts"),
      tsSecs.as("ts_secs"),
      last(col("tool"), ignoreNulls = true).over(wc).as("last_tool_ffill"))
      .withColumn("turns_in_session", col("turns_so_far") - col("session_start_rn") + 1)
      .withColumn("secs_in_session", col("ts_secs") - col("session_start_ts"))
      .drop("session_start_rn", "session_start_ts", "ts_secs")
  }
}
