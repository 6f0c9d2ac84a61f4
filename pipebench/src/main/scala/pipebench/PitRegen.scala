package pipebench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.expr.{Compile, F, FExpr, Var}
import graft.time.{AsOfJoin, PointInTime, TranscriptGen}

/** The paper's full-table path: point-in-time base features, a session
  * summary, the as-of join of the two, a projection of winner formulas and
  * one aggregate that forces every output column.
  */
final class PitRegen(spark: SparkSession, seed: Long, nConvs: Long) extends Workload {
  import Workload._

  private val meanTurns = 20
  private var turns: DataFrame = _

  /** Turn count of the generated table, recounted on the driver from the
    * generator's own per-conversation streams.
    */
  lazy val expectedTurns: Long =
    (0L until nConvs).iterator.map(c => TranscriptGen.turnsFor(seed, c, meanTurns).size.toLong).sum

  def setup(dir: Path): Unit = {
    val path = dir.resolve("turns").toString
    TranscriptGen.generate(spark, nConvs, meanTurns, seed).write.parquet(path)
    turns = spark.read.parquet(path)
  }

  def run(dir: Path, tracer: Option[Tracer]): Outcome = {
    // the as-of plan as an untraced iteration plans it, read before the spans
    // force (and cache) its inputs
    val exchanges = if (tracer.isEmpty) 0 else {
      val b = baseFeatures()
      PitRegen.exchanges(asof(b, summary(b)))
    }
    val (r, wall) = timed {
      val base = within(tracer, "time.base_features") { force(tracer, baseFeatures()) }
      val sessions = within(tracer, "time.session_summary") { force(tracer, summary(base)) }
      val joined = within(tracer, "time.asof") { force(tracer, asof(base, sessions)) }
      within(tracer, "expr.regen_projection") {
        val out = joined.select(
          Seq(col("asof_session_len").cast("double").as("asof_session_len")) ++
            PitRegen.winners.map(e => Compile.toColumn(e, s => col(s).cast("double")).as(e.name)): _*)
        out.agg(count(lit(1)), out.columns.map(c => sum(col(s"`$c`"))).toIndexedSeq: _*).collect()(0)
      }
    }
    val rows = r.getLong(0)
    val sums = (1 until r.length).map(i => java.lang.Double.doubleToLongBits(r.getDouble(i)))
    Outcome(rows, wall, wall, s"rows=$rows sums=${sums.map(java.lang.Long.toHexString).mkString(",")}",
      Seq("row count equals the generated turn count" -> (rows == expectedTurns),
        "every forced sum is finite" -> (1 until r.length).forall(i => !r.getDouble(i).isNaN && !r.getDouble(i).isInfinite)),
      Map("time.asof.exchanges" -> exchanges.toDouble))
  }

  /** Persisted as in production: the summary and the as-of join both read it. */
  private def baseFeatures(): DataFrame =
    PointInTime.baseFeatures(turns).persist(StorageLevel.MEMORY_AND_DISK)

  private def summary(base: DataFrame): DataFrame =
    base.groupBy(col("conv_id"), col("session_id"))
      .agg(max(col("ts")).as("ts"), sum(col("text_len")).as("session_len"), count(lit(1)).as("session_turns"))

  // skewKeys = Some(Nil): the generator bounds conversation length far below
  // the salting threshold, so production skips the detection scan
  private def asof(base: DataFrame, sessions: DataFrame): DataFrame =
    AsOfJoin.asof(base, sessions, "conv_id", "ts", Seq("session_len", "session_turns"), skewKeys = Some(Nil))
}

object PitRegen extends AdaptiveSparkPlanHelper {
  /** Shuffle exchanges the as-of join plans; the co-partitioned union of
    * the two sides is what keeps this count down.
    */
  def exchanges(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeLike => e }.size

  /** 40 winner formulas over the numeric base features: 12 single terms
    * widened by their pair and triple products.
    */
  val winners: Seq[FExpr] = {
    val v = (n: String) => Var(n)
    val single = Seq(
      F.log(v("text_len")), F.sqrt(v("cum_text_len")), F.recip(v("turns_so_far")),
      F.sq(v("secs_since_prev")), F.mul(v("text_len"), v("turns_so_far")),
      F.mul(F.log(v("cum_text_len")), F.recip(v("turns_so_far"))),
      F.sub(v("cum_len_user"), v("cum_len_assistant")),
      F.sqrt(F.add(v("cum_tool_calls"), F.num(1))),
      F.mul(v("secs_in_session"), F.recip(F.add(v("turns_in_session"), F.num(1)))),
      F.log(F.add(v("session_id"), F.num(1))),
      F.mul(v("cum_len_tool"), F.recip(F.add(v("cum_text_len"), F.num(1)))),
      F.sq(F.log(v("text_len"))))
    val pairs = single.combinations(2).map { case Seq(a, b) => F.mul(a, b) }
    val triples = single.combinations(3).map { case Seq(a, b, c) => F.mul(F.mul(a, b), c) }
    (single.iterator ++ pairs ++ triples).take(40).toSeq
  }
}
