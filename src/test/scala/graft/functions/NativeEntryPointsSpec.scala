package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlBridge

import graft.SparkSpec
import graft.pipeline.{Dedup, LangId, Similarity, TextOps}

/** Every library entry point backed by a native expression builds that
  * expression itself: the Column already holds the native class before
  * analysis (no lookup of a SQL name in the session's registry), and the
  * analyzed plan holds it and no higher-order-function lambda.
  */
class NativeEntryPointsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val texts = Seq("the cat sat on the mat\nthe cat sat", "der die und").toDF("text")
  private lazy val vecs = Seq((Seq(1f, 2f), Seq(3f, 4f))).toDF("a", "b")

  private val entryPoints: Seq[(String, Class[_ <: Expression], () => DataFrame, Column)] = Seq(
    ("Similarity.dot", classOf[VecDot], () => vecs, Similarity.dot(col("a"), col("b"))),
    ("TextOps.qualityScore", classOf[QualityScoreExpr], () => texts, TextOps.qualityScore(col("text"))),
    ("TextOps.langIdHeuristic", classOf[LangIdHeuristicExpr], () => texts,
      TextOps.langIdHeuristic(col("text"))),
    ("TextOps.dupLineRatio", classOf[DupLineRatio], () => texts, TextOps.dupLineRatio(col("text"))),
    ("TextOps.topWordRatio", classOf[TopWordRatio], () => texts, TextOps.topWordRatio(col("text"))),
    ("Dedup.wordNgrams", classOf[WordNgrams], () => texts, Dedup.wordNgrams(col("text"), 2)),
    ("Dedup.minhashSignature", classOf[MinhashSig], () => texts, Dedup.minhashSignature(col("text"), 4, 2)),
    ("Dedup.simhash", classOf[SimhashExpr], () => texts, Dedup.simhash(col("text"))),
    ("LangId.gramsCol", classOf[CharNgrams], () => texts, LangId.gramsCol(lower(col("text")), 2)))

  for ((entry, cls, input, c) <- entryPoints) {
    test(s"$entry plans ${cls.getSimpleName}") {
      assert(GraftSqlBridge.expression(c).exists(cls.isInstance), "built by name, not directly")
      val df = input().select(c.as("out"))
      val exprs = df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect { case e => e }))
      assert(exprs.exists(cls.isInstance), df.queryExecution.analyzed.toString)
      assert(!exprs.exists(_.isInstanceOf[LambdaFunction]), df.queryExecution.analyzed.toString)
      assert(df.collect().length === input().count())
    }
  }
}
