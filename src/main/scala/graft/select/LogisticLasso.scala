package graft.select

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.stats.Gram

/** Distributed L1-regularized binary logistic regression — the Spark
  * counterpart of the reference's selection-time
  * `LogisticRegressionCV(cv=5, penalty="l1", solver="saga",
  * class_weight="balanced")` (featsel.py:68,112,149).
  *
  * Algorithm: glmnet-style proximal Newton. Each outer round expands the
  * penalized log-likelihood into a weighted least-squares problem around the
  * current coefficients (IRLS working response z = m + (y-p)/(p(1-p)),
  * weights w = classWeight * p(1-p)), accumulates per-fold WEIGHTED Grams in
  * ONE ordered-reduce pass (stats.DetReduce), and solves the L1 quadratic
  * with driver-side coordinate descent over a cross-validated lambda path
  * (GramLasso). Each round is [[irlsRound]], shared with FeatSel. Round 0
  * expands around beta = 0 (constant weights), so a 1-round fit degenerates
  * to the balanced-weighted Lasso on z = 4y - 2 — the surrogate the round-1
  * build used; extra rounds converge to the true L1 logistic optimum.
  *
  * Cost: `rounds` distributed passes regardless of the lambda grid or fold
  * count — every fit on a Gram is driver-side. That is what makes L1
  * logistic viable over the admission-bounded selection sample at scale.
  */
object LogisticLasso {

  final case class Fit(cols: Seq[String], coef: Array[Double], intercept: Double, alpha: Double)

  private def q(c: String) = col(s"`${c.replace("`", "``")}`")

  /** sklearn "balanced" class weights n / (K · n_c) over the K per-class
    * row counts; a class without rows counts as one.
    */
  private[select] def balancedWeights(counts: Array[Long]): Array[Double] = {
    val n = counts.sum.toDouble
    counts.map(c => n / (counts.length * math.max(c, 1L).toDouble))
  }

  /** Balanced weights (w0, w1) of a 0/1 label: a label above 0.5 is positive. */
  def classWeights(df: DataFrame, labelCol: String): (Double, Double) = {
    val r = df.agg(count(lit(1)), count(when(q(labelCol).cast("double") > 0.5, 1))).collect()(0)
    val Array(w0, w1) = balancedWeights(Array(r.getLong(0) - r.getLong(1), r.getLong(1)))
    (w0, w1)
  }

  /** Fit on double feature columns and a 0/1 label column. */
  def cvFit(df: DataFrame, featureCols: Seq[String], labelCol: String,
            folds: Int = 5, rounds: Int = 3, balanced: Boolean = true): Fit = {
    require(featureCols.nonEmpty, "no feature columns")
    val (w0, w1) = if (balanced) classWeights(df, labelCol) else (1.0, 1.0)
    val y = q(labelCol).cast("double")
    // deterministic fold assignment, stable across rounds (content-hashed)
    val foldCol = pmod(xxhash64(featureCols.map(q) :+ y: _*), lit(folds)).cast("int")
    val cw = when(y > 0.5, lit(w1)).otherwise(lit(w0))
    var fit = LassoFit(new Array[Double](featureCols.size), 0.0, 0.0)
    for (_ <- 0 until rounds)
      fit = irlsRound(df, featureCols, fit, y, cw, foldCol, folds, new GramLasso(_))
    Fit(featureCols, fit.coef, fit.intercept, fit.alpha)
  }

  /** One proximal-Newton round: expands the balanced L1-logistic objective
    * around `at` (margin m, p clamped to [1e-5, 1 − 1e-5] for z stability,
    * weights cw·p(1−p), working response z = m + (y−p)/(p(1−p))), computes
    * the weighted fold Grams of `cols` in one pass over `df`, and fits them
    * with the solver that `solver` builds.
    */
  private[select] def irlsRound(df: DataFrame, cols: Seq[String], at: LassoFit, y: Column,
                                classWeight: Column, fold: Column, folds: Int,
                                solver: Array[Gram] => CvLasso): LassoFit = {
    val margin: Column = cols.zip(at.coef).filter(_._2 != 0.0)
      .foldLeft(lit(at.intercept).cast("double")) { case (acc, (c, b)) => acc + q(c).cast("double") * lit(b) }
    val p = lit(1.0) / (lit(1.0) + exp(-margin))
    val pc = least(greatest(p, lit(1e-5)), lit(1.0 - 1e-5))
    val w = classWeight * pc * (lit(1.0) - pc)
    val z = margin + (y - pc) / (pc * (lit(1.0) - pc))
    val frame = df.select(Seq(fold.as("__fold"), w.as("__nw"), z.as("__nz")) ++ cols.map(q): _*)
    val grams = Gram.compute(frame, cols, Some("__nz"), Some("__fold"), folds, Some("__nw"))
    solver(grams).cvFit(cols.indices.toArray)
  }
}
