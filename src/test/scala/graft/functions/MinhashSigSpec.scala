package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MinhashSigSpec extends SparkSpec {
  import spark.implicits._

  test("native minhash_signature matches the declarative built-in formulation") {
    val rng = new scala.util.Random(31)
    val words = Vector("spark", "scan", "merge", "join", "sort", "hash", "the", "of", "data")
    val texts = Seq.fill(300)(Seq.fill(2 + rng.nextInt(40))(words(rng.nextInt(words.size))).mkString(" ")) ++
      Seq("", " ", "one", "one two", "Tabs\tand  multiple   spaces", "MIXED case TEXT here")
    val df = texts.toDF("text")
    val declarative = BuiltinOracles.minhashFromBases(
      transform(BuiltinOracles.wordNgrams(col("text"), 3), s => BuiltinOracles.baseHash(s)), 8)
    val cmp = df.select(
      call_function("minhash_signature", col("text"), lit(8), lit(3)).as("fast"),
      declarative.as("slow"))
    assert(cmp.filter(col("fast") =!= col("slow")).count() === 0)
    // null text -> null signature
    val n = Seq(Option.empty[String]).toDF("text")
      .select(call_function("minhash_signature", col("text"), lit(8), lit(3)).as("s"))
    assert(n.filter(col("s").isNull).count() === 1)
  }
}
