package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Model-based quality filtering: the 2-class NB must separate fluent text
  * from boilerplate/junk by its decision margin, through the codegen'd
  * margin expression, trained only on weak heuristic labels.
  */
class QualityFilterSpec extends SparkSpec {
  import spark.implicits._

  // weak-label training corpus: fluent sentences (heuristic-hi) vs junk
  // (heuristic-lo: too short / punctuation storms / no stopwords)
  private val fluent = Seq(
    "the committee reviewed the proposal and agreed to fund the project for another year",
    "a quick walk in the park is one of the best ways to clear the mind after work",
    "she explained that the results of the experiment were consistent with the theory",
    "the river rises in the mountains and flows to the sea through a wide green valley",
    "many of the students decided to stay after class to discuss the reading in detail",
    "he wrote a long letter to his brother describing the city and the people he met",
    "the recipe calls for two cups of flour and a pinch of salt mixed with cold water",
    "over the years the library has collected thousands of maps from all over the world",
    "it is often said that practice makes perfect and that patience is a virtue",
    "the garden was full of roses and the air smelled of rain on warm stone paths"
  )
  private val junk = Seq(
    "!!! $$$ ###", "buy now", "xx", "@@@@ ???? !!!!", "zzzz qqqq",
    "%% ^^ && **", "click", "###!!!###", "??!!??!!", "___ --- ___"
  )
  private lazy val corpus = (fluent ++ junk).toDF("text")

  test("margin separates fluent text from junk; filter keeps the fluent side") {
    val model = QualityFilter.train(corpus, "text", vocabSize = 1024)
    assert(model.langs.toSeq == Seq(QualityFilter.HiLabel, QualityFilter.LoLabel))
    val held = Seq(
      ("the weather in the north of the country is mild for most of the year", true),
      ("a good book and a cup of tea make for a quiet evening at home", true),
      ("!!!! $$$$ buy buy", false),
      ("@@ ## qq", false)
    ).toDF("text", "expect_keep")
    val got = held.select(col("expect_keep"),
      QualityFilter.marginCol(col("text"), model).as("m"),
      QualityFilter.keepCol(col("text"), model).as("keep")).collect()
    got.foreach { r =>
      assert(r.getBoolean(2) == r.getBoolean(0), s"margin=${r.getDouble(1)} for $r")
    }
    // filter() returns exactly the keep=true rows
    val kept = QualityFilter.filter(held, "text", model).count()
    assert(kept == 2)
    // margin equals the driver-side recompute exactly (rounded per class
    // BEFORE subtracting), via the expression
    val hi = model.labelIndex(QualityFilter.HiLabel)
    val lo = model.labelIndex(QualityFilter.LoLabel)
    val txts = held.select("text").collect().map(_.getString(0))
    val viaCol = held.select(col("text"),
      QualityFilter.marginCol(col("text"), model).as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    txts.foreach { t =>
      val direct = model.margin(t.toLowerCase(java.util.Locale.ROOT), hi, lo)
      assert(viaCol(t) == direct, s"'$t'")
    }
  }

  test("margin expression survives codegen (no silent interpreted fallback); nulls propagate") {
    val model = QualityFilter.train(corpus, "text", vocabSize = 256)
    val rows = Seq(Some("the cat sat on the mat in the sun"), None).toDF("text")
      .select(QualityFilter.marginCol(col("text"), model).as("m")).collect()
    assert(!rows(0).isNullAt(0))
    assert(rows(1).isNullAt(0))
  }

  test("streaming scoring matches batch exactly (train offline, filter the stream)") {
    // the production shape: the NB model is trained on a batch corpus,
    // then applied to a readStream as a stateless codegen'd map — margins
    // must be bit-identical to the batch run over the same rows
    val model = QualityFilter.train(corpus, "text", vocabSize = 512)
    val docs = (fluent.take(5) ++ junk.take(5)).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val batch = docs.select(col("doc_id"),
        QualityFilter.marginCol(col("text"), model).as("m"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val tmp = java.nio.file.Files.createTempDirectory("graft_qf_stream").toString
    docs.write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(docs.schema).parquet(tmp)
      .select(col("doc_id"), QualityFilter.marginCol(col("text"), model).as("m"))
    val q = stream.writeStream.outputMode("append").format("memory").queryName("qf").start()
    q.processAllAvailable()
    val streamed = spark.sql("SELECT doc_id, m FROM qf").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    q.stop()
    assert(streamed == batch, s"stream $streamed vs batch $batch")
  }

  test("degenerate one-class corpus fails fast; unknown label index refused") {
    val allJunk = junk.toDF("text")
    intercept[IllegalArgumentException] { QualityFilter.train(allJunk, "text") }
    val model = QualityFilter.train(corpus, "text", vocabSize = 64)
    intercept[IllegalArgumentException] { model.labelIndex("nope") }
  }
}
