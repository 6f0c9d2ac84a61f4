package graft.select

import graft.SparkSpec
import graft.stats.Gram
import org.apache.spark.sql.functions._

class GramLassoSpec extends SparkSpec {
  import spark.implicits._

  test("cv lasso recovers a sparse ground truth from fold grams") {
    val rng = new scala.util.Random(3)
    val n = 2000; val d = 20
    val rows = Seq.fill(n) {
      val x = Array.fill(d)(rng.nextGaussian())
      val y = 3.0 * x(1) - 2.0 * x(5) + 0.5 * x(11) + rng.nextGaussian() * 0.05
      (x.toSeq, y)
    }
    val df = rows.map { case (x, y) => (x(0), x(1), x(2), x(3), x(4), x(5), x(6), x(7), x(8), x(9),
      x(10), x(11), x(12), x(13), x(14), x(15), x(16), x(17), x(18), x(19), y) }
      .toDF((0 until 20).map(i => s"x$i") :+ "y": _*)
      .repartition(4)
      .withColumn("fold", pmod(monotonically_increasing_id(), lit(5)).cast("int"))
    val grams = Gram.compute(df, (0 until 20).map(i => s"x$i"), Some("y"), Some("fold"), 5)
    val fit = new GramLasso(grams).cvFit((0 until 20).toArray)
    val active = fit.coef.zipWithIndex.filter(c => math.abs(c._1) > 1e-3).map(_._2).toSet
    assert(active.contains(1) && active.contains(5) && active.contains(11), s"active=$active")
    assert(active.size <= 6, s"too many false positives: $active")
    assert(math.abs(fit.coef(1) - 3.0) < 0.1)
    assert(math.abs(fit.coef(5) + 2.0) < 0.1)
  }
}

/** Ports tests/test_featsel.py:30-54 — planted features {0,5,6} recovered. */
class FeatSelSpec extends SparkSpec {

  private def fixture = getClass.getResource("/fixtures/f3_input.parquet").getPath
  lazy val df = spark.read.parquet(fixture).cache()
  private val cols = (0 until 7).map(i => s"c$i")

  test("selects exactly the planted features {c0, c5, c6}") {
    val good = FeatSel.selectFeatures(df, cols, "target")
    assert(good.toSet == Set("c0", "c5", "c6"), s"selected $good")
  }

  test("keep pins columns through selection") {
    val good = FeatSel.selectFeatures(df, cols, "target",
      FeatSel.Config(keep = Seq("c1", "c4")))
    assert(good.toSet == Set("c0", "c5", "c6", "c1", "c4"), s"selected $good")
    assert(good.take(2) == Seq("c1", "c4")) // keep first
  }

  test("FeatureSelector shell: fit/transform roundtrip + column-mismatch error (featsel.py:289-394)") {
    val dfX = df.select((cols :+ "target").map(col): _*)
    val (out, model) = FeatureSelector.fitTransform(dfX, "target")
    assert(model.originalColumns == cols)
    assert(model.goodCols.toSet == Set("c0", "c5", "c6"))
    assert(out.columns.toSeq == model.goodCols)
    assert(out.count() == dfX.count())
    // fresh frame with the same columns transforms fine
    assert(model.transform(df.select(cols.map(col): _*)).columns.toSeq == model.goodCols)
    // column mismatch (renamed / reordered / missing) must error like the
    // reference's featsel.py:374-375
    val e = intercept[IllegalArgumentException] {
      model.transform(df.select(cols.map(col): _*).withColumnRenamed("c1", "z1"))
    }
    assert(e.getMessage.contains("Not the same features as when calling fit"))
    intercept[IllegalArgumentException] {
      model.transform(df.select(cols.reverse.map(col): _*))
    }
  }

  test("multi-class selection unions per-class planted features") {
    import spark.implicits._
    // class 0 separates on c1, class 1 on c4, class 2 is the rest: the
    // one-vs-rest union must recover {c1, c4} and drop the pure-noise cols
    val rng = new scala.util.Random(17)
    val rows = Seq.fill(3000) {
      val x = Array.fill(6)(rng.nextGaussian())
      val lab = if (x(1) > 0.7) 0.0 else if (x(4) > 0.7) 1.0 else 2.0
      (x(0), x(1), x(2), x(3), x(4), x(5), lab)
    }
    val mdf = rows.toDF("m0", "m1", "m2", "m3", "m4", "m5", "label").repartition(4).cache()
    val good = FeatSel.selectFeatures(mdf, (0 until 6).map(i => s"m$i"), "label",
      FeatSel.Config(problemType = "classification"))
    assert(Set("m1", "m4").subsetOf(good.toSet), s"selected $good")
    assert(good.size <= 4, s"too many false positives: $good")
  }

  test("concurrent runs (nJobs) select the identical set in the same order") {
    // per-run randomness is derived from the run index alone, so overlapping
    // the runs on driver threads must not change the outcome
    val seq = FeatSel.selectFeatures(df, cols, "target", FeatSel.Config(nJobs = 1))
    val par = FeatSel.selectFeatures(df, cols, "target", FeatSel.Config(nJobs = 5))
    assert(par == seq, s"nJobs=5 gave $par, nJobs=1 gave $seq")
  }

  /** Planted regression fixture: y = 3·w0 − 2·w5 + 1.5·w(d−1) + noise. */
  private def planted(d: Int, n: Int): (org.apache.spark.sql.DataFrame, Seq[String], Set[String]) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val names = (0 until d).map(i => s"w$i")
    val rng = new scala.util.Random(31 + d)
    val rows = Seq.fill(n) {
      val x = Array.fill(d)(rng.nextGaussian())
      Row.fromSeq(x.toSeq :+ (3.0 * x(0) - 2.0 * x(5) + 1.5 * x(d - 1) + 0.5 * rng.nextGaussian()))
    }
    val schema = StructType((names :+ "y").map(StructField(_, DoubleType)))
    val frame = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema).cache()
    (frame, names, Set("w0", "w5", s"w${d - 1}"))
  }

  private val cfg2 = FeatSel.Config(featselRuns = 2)

  test("fold-Gram bound: d = 480 runs on fold Grams, d = 481 on the driver; both recover the planted columns") {
    for ((d, onGrams) <- Seq(480 -> true, 481 -> false)) {
      assert(FeatSel.foldGramsFit(d) == onGrams, s"d = $d")
      val (frame, names, truth) = planted(d, 300)
      val good = FeatSel.selectFeatures(frame, names, "y", cfg2)
      assert(truth.subsetOf(good.toSet), s"d = $d selected $good")
      frame.unpersist()
    }
  }

  test("zero-variance feature or target selects without error in both regimes") {
    for (d <- Seq(20, 481)) {
      val (frame, names, truth) = planted(d, 300)
      val constFeature = frame.withColumn("w1", lit(2.5))
      val good = FeatSel.selectFeatures(constFeature, names, "y", cfg2)
      assert(truth.subsetOf(good.toSet) && !good.contains("w1"), s"d = $d selected $good")
      val constTarget = FeatSel.selectFeatures(frame.withColumn("y", lit(2.5)), names, "y", cfg2)
      assert(constTarget.isEmpty, s"d = $d constant target selected $constTarget")
      frame.unpersist()
    }
  }

  test("an empty frame fails loudly in both regimes") {
    for (d <- Seq(20, 481)) {
      val (frame, names, _) = planted(d, 20)
      val (dirty, _, _) = planted(d, 300)
      // 300 rows, one null per row: row r nulls feature r % d
      val rowId = row_number().over(org.apache.spark.sql.expressions.Window.orderBy(col("w0"))) - 1
      val oneNullPerRow = dirty.withColumn("__r", rowId).select(names.zipWithIndex.map { case (c, j) =>
        when(col("__r") % d =!= j, col(c)).as(c) } :+ col("y"): _*)
      for ((name, input) <- Seq("empty" -> frame.filter(lit(false)), "one null per row" -> oneNullPerRow)) {
        val e = intercept[IllegalArgumentException] {
          FeatSel.selectFeatures(input, names, "y", cfg2)
        }
        assert(e.getMessage.contains("no clean rows"), s"d = $d, $name: ${e.getMessage}")
      }
      frame.unpersist()
      dirty.unpersist()
    }
  }
}
