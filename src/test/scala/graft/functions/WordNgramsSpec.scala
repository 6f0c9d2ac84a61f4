package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Native `word_ngrams` expression vs the declarative higher-order-function
  * formulation (the DuckDB-oracle semantics): bit-identical output,
  * including element ORDER (array_distinct keeps first occurrence).
  */
class WordNgramsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    "The quick brown fox jumps over the lazy dog",
    "a b a b a b a b",                        // duplicate grams — order matters
    "  Mixed   CASE and    extra whitespace  ",
    "one two",                                // shorter than n
    "single",
    "",
    "exact exact exact exact",                // all-identical tokens
    "tab\tand\nnewline separated tokens",
    "ünïcode tökens ärE lowercased töö"
  ).toDF("text")

  test("word_ngrams matches the HOF formulation bit-for-bit, order included") {
    for (n <- Seq(1, 2, 3, 5)) {
      val cmp = docs.select(
        call_function("word_ngrams", col("text"), lit(n)).as("fast"),
        BuiltinOracles.wordNgrams(col("text"), n).as("slow"))
      assert(cmp.filter(not(col("fast") <=> col("slow"))).count() === 0, s"n=$n diverged")
    }
    // null text -> null array
    val nn = Seq[Option[String]](None, Some("x y z")).toDF("text")
      .select(call_function("word_ngrams", col("text"), lit(3)).as("g"))
    assert(nn.filter(col("g").isNull).count() === 1)
  }

  test("Dedup.wordNgrams routes through the native expression with identical output") {
    val viaDedup = docs.select(graft.pipeline.Dedup.wordNgrams(col("text"), 3).as("g"))
    val viaHof = docs.select(BuiltinOracles.wordNgrams(col("text"), 3).as("g"))
    assert(viaDedup.exceptAll(viaHof).count() === 0)
    assert(viaHof.exceptAll(viaDedup).count() === 0)
    assert(viaDedup.queryExecution.analyzed.toString.contains("word_ngrams"))
  }

  test("documents fixture: native and HOF grams agree end-to-end") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cmp = d.select(
      call_function("word_ngrams", col("text"), lit(3)).as("fast"),
      BuiltinOracles.wordNgrams(col("text"), 3).as("slow"))
    assert(cmp.filter(not(col("fast") <=> col("slow"))).count() === 0)
  }
}
