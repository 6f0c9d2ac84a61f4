package graft.select

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multinomial softmax Newton fit ([[Logistic.fitMulti]]): parameter
  * recovery on synthetic softmax data, balanced-weight behavior, the
  * serving-column contract (proba sums to 1, first-max argmax), and the
  * row rule it shares with the sigmoid [[Logistic.fit]].
  */
class MultiLogisticSpec extends SparkSpec {
  import spark.implicits._

  /** 3-class softmax ground truth over 2 features (baseline = class 2). */
  private def softmaxData(n: Int, seed: Long) = {
    val rng = new scala.util.Random(seed)
    // true params: class 0: m = 2x - y + 0.5 ; class 1: m = -x + 2y - 0.5 ; class 2: m = 0
    Seq.fill(n) {
      val x = rng.nextGaussian()
      val y = rng.nextGaussian()
      val m = Array(2.0 * x - y + 0.5, -x + 2.0 * y - 0.5, 0.0)
      val mx = m.max
      val e = m.map(v => math.exp(v - mx))
      val s = e.sum
      val u = rng.nextDouble() * s
      val cls = if (u < e(0)) 0.0 else if (u < e(0) + e(1)) 1.0 else 2.0
      (x, y, cls)
    }
  }

  lazy val df = softmaxData(8000, seed = 7).toDF("x", "y", "label").repartition(4).cache()

  test("softmax Newton recovers the generating parameters") {
    val classes = Logistic.distinctClasses(df, "label")
    assert(classes == Seq(0.0, 1.0, 2.0))
    val mm = Logistic.fitMulti(df, Seq("x", "y"), "label", classes, balanced = false)
    // K-1 = 2 blocks vs truth (2,-1,+0.5) and (-1,2,-0.5); n=8000 keeps
    // estimation error well under 0.15
    assert(math.abs(mm.coef(0)(0) - 2.0) < 0.15, mm.coef(0).mkString(","))
    assert(math.abs(mm.coef(0)(1) + 1.0) < 0.15)
    assert(math.abs(mm.intercept(0) - 0.5) < 0.15)
    assert(math.abs(mm.coef(1)(0) + 1.0) < 0.15)
    assert(math.abs(mm.coef(1)(1) - 2.0) < 0.15)
    assert(math.abs(mm.intercept(1) + 0.5) < 0.15)
  }

  test("proba columns sum to 1 and predict is the first-max argmax") {
    val classes = Seq(0.0, 1.0, 2.0)
    val mm = Logistic.fitMulti(df, Seq("x", "y"), "label", classes)
    val out = df.select(col("label"), mm.probArrayCol.as("p"), mm.predictCol.as("pred"))
    val r = out.agg(
      min(aggregate(col("p"), lit(0.0), (a, v) => a + v)),
      max(aggregate(col("p"), lit(0.0), (a, v) => a + v))).collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12 && math.abs(r.getDouble(1) - 1.0) < 1e-12)
    // predict equals the class whose probability is maximal on every row
    val bad = out.select(
      when(element_at(col("p"), (col("pred") + 1).cast("int")) < array_max(col("p")), 1)
        .otherwise(0).as("bad")).agg(sum("bad")).collect()(0).getLong(0)
    assert(bad == 0L)
    // a well-specified model should approach the fixture's Bayes accuracy
    // (the generator draws labels FROM the softmax, so ~0.71 is optimal)
    val acc = out.agg(avg((col("pred") === col("label")).cast("double"))).collect()(0).getDouble(0)
    info(s"training accuracy = $acc")
    assert(acc > 0.68, s"acc $acc")
  }

  test("balanced weights lift recall of a rare class") {
    // imbalanced: class 2 shrunk to ~2% of rows
    val rare = df.where(col("label") =!= 2.0)
      .union(df.where(col("label") === 2.0).limit(60)).cache()
    val classes = Seq(0.0, 1.0, 2.0)
    val un = Logistic.fitMulti(rare, Seq("x", "y"), "label", classes, balanced = false)
    val bal = Logistic.fitMulti(rare, Seq("x", "y"), "label", classes, balanced = true)
    def recall2(m: Logistic.MultiModel): Double =
      rare.where(col("label") === 2.0)
        .agg(avg((m.predictCol === lit(2.0)).cast("double"))).collect()(0).getDouble(0)
    val (r2un, r2bal) = (recall2(un), recall2(bal))
    info(s"rare-class recall: unweighted=$r2un balanced=$r2bal")
    assert(r2bal >= r2un, s"balanced=$r2bal unweighted=$r2un")
    assert(r2bal > 0.5, s"balanced recall $r2bal")
  }

  test("null/NaN labels are skipped, not fatal") {
    val withNull = df.withColumn("label",
      when(col("x") > 2.5, lit(null)).otherwise(col("label")))
    val mm = Logistic.fitMulti(withNull, Seq("x", "y"), "label", Seq(0.0, 1.0, 2.0))
    assert(mm.coef.flatten.forall(v => !v.isNaN && !v.isInfinite))
    // rows with null labels contribute nothing; the fit still classifies
    val acc = withNull.where(col("label").isNotNull)
      .agg(avg((mm.predictCol === col("label")).cast("double"))).collect()(0).getDouble(0)
    assert(acc > 0.6, s"acc $acc")
  }

  test("binary labels through fitMulti agree with the sigmoid model") {
    val bin = df.withColumn("label", (col("label") === 0.0).cast("double")).cache()
    val mm = Logistic.fitMulti(bin, Seq("x", "y"), "label", Seq(0.0, 1.0))
    val bm = Logistic.fit(bin, Seq("x", "y"), "label")
    // softmax with K=2 and baseline=class 1: margin block 0 scores class 0,
    // so -block0 is the sigmoid margin for P(y=1)
    assert(math.abs(-mm.coef(0)(0) - bm.coef(0)) < 1e-4,
      s"${mm.coef(0).mkString(",")} vs ${bm.coef.mkString(",")}")
    assert(math.abs(-mm.coef(0)(1) - bm.coef(1)) < 1e-4)
    assert(math.abs(-mm.intercept(0) - bm.intercept) < 1e-4)
  }

  private def frame(rows: (Option[Double], Option[Double], Option[Double])*) =
    rows.toDF("x", "y", "label")

  test("dirty rows leave both fits bit-identical; only dirty rows throw") {
    val nan = Double.NaN
    // every way to fail the row rule; the 200 null-feature rows of class 0
    // must not enter the balanced class weights
    val dirty = Seq(
      "bad labels" -> frame((Some(0.3), Some(1.0), Some(nan)), (Some(-1.2), Some(0.4), None)),
      "missing features" -> frame((Some(nan), Some(0.1), Some(1.0)) +:
        Seq.fill(200)((None, Some(0.7), Some(0.0))): _*),
      "an infinite feature" -> frame((Some(0.2), Some(Double.PositiveInfinity), Some(2.0))))
    val bin = df.withColumn("label", (col("label") === 0.0).cast("double")).cache()
    val fits: Seq[(String, DataFrame, DataFrame => Seq[Double])] = Seq(
      ("Logistic.fit", bin, d => {
        val m = Logistic.fit(d, Seq("x", "y"), "label")
        m.coef.toSeq :+ m.intercept
      }),
      ("Logistic.fitMulti", df, d => {
        val m = Logistic.fitMulti(d, Seq("x", "y"), "label", Seq(0.0, 1.0, 2.0))
        m.coef.toSeq.flatten ++ m.intercept
      }))
    val bits = (v: Seq[Double]) => v.map(java.lang.Double.doubleToRawLongBits)
    val moved = for {
      (name, clean, coefs) <- fits
      want = coefs(clean)
      (kind, rows) <- dirty
      got = coefs(clean.union(rows))
      if bits(got) != bits(want)
    } yield s"$name + $kind: $got vs $want"
    assert(moved.isEmpty, moved.mkString("; "))
    val allDirty = dirty.map(_._2).reduce(_ union _)
    for ((name, _, coefs) <- fits) {
      val e = intercept[IllegalArgumentException](coefs(allDirty))
      assert(e.getMessage.contains(s"[$name]"), e.getMessage)
    }
  }
}
