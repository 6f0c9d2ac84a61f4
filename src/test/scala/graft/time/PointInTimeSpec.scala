package graft.time

import java.sql.Timestamp

import graft.SparkSpec
import graft.plans.PointInTimeScanExec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

class PointInTimeSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  lazy val turns = TranscriptGen.generate(spark, nConvs = 50, meanTurns = 20, seed = 42).cache()
  lazy val feats = PointInTime.baseFeatures(turns.toDF()).cache()

  test("generator is deterministic and parallelism-independent") {
    val a = TranscriptGen.generate(spark, 20, 10, 7, partitions = 1)
      .orderBy("conv_id", "turn_idx").collect()
    val b = TranscriptGen.generate(spark, 20, 10, 7, partitions = 8)
      .orderBy("conv_id", "turn_idx").collect()
    assert(a.toSeq == b.toSeq)
  }

  test("per-turn text equality under stable (conv_id, turn_idx) ordering") {
    // the row invariant from BASELINE.json#input_hint: re-reading/shuffling
    // the table must preserve per-turn text under the stable sort
    val sorted1 = turns.orderBy("conv_id", "turn_idx").select("text").as[String].collect()
    val sorted2 = turns.repartition(7).orderBy("conv_id", "turn_idx").select("text").as[String].collect()
    assert(sorted1.toSeq == sorted2.toSeq)
  }

  test("ts strictly increasing within conversation; turn_idx dense") {
    val bad = feats.filter(col("turn_idx_delta") =!= 1 && col("turn_idx") =!= 0).count()
    assert(bad == 0)
    val nonMono = feats.filter(col("secs_since_prev") <= 0 && col("turn_idx") =!= 0).count()
    assert(nonMono == 0)
  }

  test("mega conversation skew exists") {
    val counts = turns.groupBy("conv_id").count().orderBy(desc("count")).limit(2).collect()
    assert(counts(0).getString(0) == "c000000")
    assert(counts(0).getLong(1) > 20 * counts(1).getLong(1))
  }

  test("sessionization: ids monotone, change exactly at gaps > threshold") {
    val gap = 1800L
    val rows = feats.select("conv_id", "turn_idx", "secs_since_prev", "session_id", "turns_in_session")
      .orderBy("conv_id", "turn_idx").collect()
    var prevConv = ""; var prevSess = -1L
    rows.foreach { r =>
      val (conv, idx, sp, sess, tis) =
        (r.getString(0), r.getInt(1), r.getAs[Number](2).longValue, r.getAs[Number](3).longValue,
          r.getAs[Number](4).longValue)
      if (conv != prevConv) { assert(sess == 0); assert(tis == 1) }
      else if (sp > gap) { assert(sess == prevSess + 1); assert(tis == 1) }
      else { assert(sess == prevSess); assert(tis > 1) }
      prevConv = conv; prevSess = sess
      assert(idx >= 0)
    }
  }

  test("cumulative features are consistent at the last turn") {
    val perConv = feats.groupBy("conv_id").agg(
      max("turns_so_far").as("n"),
      count(lit(1)).as("cnt"),
      max("cum_text_len").as("cum"),
      sum("text_len").as("tot")
    ).collect()
    perConv.foreach { r =>
      assert(r.getAs[Int]("n").toLong == r.getAs[Long]("cnt"))
      assert(r.getAs[Long]("cum") == r.getAs[Long]("tot"))
    }
  }

  test("leakage oracle: truncated snapshot reproduces surviving vectors") {
    // cutoff at the median ts: features for all rows with ts <= T must be
    // bit-identical whether computed on the full table or the truncated one
    val cut = turns.toDF().agg(expr("percentile_approx(unix_timestamp(ts), 0.5)"))
      .collect()(0).getAs[Number](0).longValue
    val cutTs = new java.sql.Timestamp(cut * 1000L)
    val full = feats.filter(col("ts") <= lit(cutTs))
    val trunc = PointInTime.baseFeatures(turns.filter(col("ts") <= lit(cutTs)).toDF())
    assert(full.exceptAll(trunc).count() == 0)
    assert(trunc.exceptAll(full).count() == 0)
    assert(full.count() > 0)
  }

  test("ffill carries last non-null tool forward") {
    val rows = feats.select("conv_id", "turn_idx", "tool", "last_tool_ffill")
      .orderBy("conv_id", "turn_idx").collect()
    var prevConv = ""; var lastTool: String = null
    rows.foreach { r =>
      if (r.getString(0) != prevConv) lastTool = null
      if (r.getString(2) != null) lastTool = r.getString(2)
      assert(r.getString(3) == lastTool)
      prevConv = r.getString(0)
    }
  }

  /** Equal schemas (names, types, nullability) and equal row multisets. */
  private def assertSame(got: DataFrame, exp: DataFrame, clue: String): Unit = {
    assert(got.schema == exp.schema, s"$clue schema ${got.schema.treeString} vs ${exp.schema.treeString}")
    assert(got.exceptAll(exp).count() == 0 && exp.exceptAll(got).count() == 0, s"$clue rows differ")
  }

  test("native scan matches the stacked-window oracle, the 2000-turn conversation included") {
    assert(turns.filter(col("conv_id") === "c000000").count() == 2000)
    for (g <- Seq(1800L, 0L, 60L))
      assertSame(PointInTime.baseFeatures(turns.toDF(), g), WindowOracles.baseFeatures(turns.toDF(), g), s"gap=$g")
    // through a parquet round trip every input column is nullable
    val path = java.nio.file.Files.createTempDirectory("pit").resolve("t").toString
    turns.write.parquet(path)
    val read = spark.read.parquet(path)
    assertSame(PointInTime.baseFeatures(read), WindowOracles.baseFeatures(read), "parquet")
  }

  test("hostile: null text, role, tool, ts and conv_id; empty frame") {
    val schema = StructType.fromDDL(
      "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp")
    def t(s: Long) = new Timestamp(s * 1000L)
    val rows = Seq[(String, Integer, String, String, String, Timestamp)](
      ("a", 0, "user", null, null, t(100)), ("a", 1, null, "hello", "bash", t(200)),
      ("a", 2, "tool", "xyz", null, null), ("a", 3, "assistant", "ok", null, t(5000)),
      ("a", 4, "user", null, "read", t(5000)), ("a", 5, "tool", "zz", "read", null),
      ("a", null, "user", "q", null, t(9000)), ("b", 0, null, null, null, null),
      ("b", 1, "user", null, null, null), ("b", 2, "user", "late", null, t(1)),
      (null, 0, "user", "n0", "search", t(10)), (null, 1, "assistant", null, null, t(4000)),
      ("c", 0, "tool", "only", "write", t(-5)))
      .map(r => Row(r.productIterator.toSeq: _*))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    for (g <- Seq(1800L, 0L))
      assertSame(PointInTime.baseFeatures(df, g), WindowOracles.baseFeatures(df, g), s"nulls gap=$g")
    val empty = df.limit(0)
    assertSame(PointInTime.baseFeatures(empty), WindowOracles.baseFeatures(empty), "empty")
    assert(PointInTime.baseFeatures(empty).count() == 0)
  }

  test("the scan keeps the exchange's partitioning and the sort's order") {
    // a gap no other test caches, so the plan is planned rather than read back
    val plan = PointInTime.baseFeatures(turns.toDF(), 61L).queryExecution.executedPlan
    val scans = collect(plan) { case p: PointInTimeScanExec => p }
    assert(scans.size == 1, plan.toString)
    assert(collect(plan) { case e: ShuffleExchangeLike => e }.size == 1, plan.toString)
    assert(collect(plan) { case s: SortExec => s }.size == 1, plan.toString)
    assert(scans.head.outputOrdering.map(_.child.asInstanceOf[Attribute].name) == Seq("conv_id", "ts", "turn_idx"))
  }
}
