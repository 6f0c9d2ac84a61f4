package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.stats.{Gram, Scaling}

/** Spark-native AutoFeatLight (reference autofeatlight.py): drop useless
  * features (zero variance / near-1 correlation), add pairwise ratios and
  * products, re-filter, optionally scale. Unsupervised, one pass.
  *
  * All per-row math is Catalyst built-ins (one wide projection); the only
  * aggregation is one Gram pass per filter stage.
  */
final case class LightModel(
    goodColsOrg: Seq[String],
    features: Seq[String],
    computeRatio: Boolean,
    computeProduct: Boolean,
    scaleDivisors: Option[Map[String, Double]],
    power: Option[graft.stats.YeoJohnson.Model] = None
) {
  /** Stateless serving projection for new data. */
  def transform(df: DataFrame): DataFrame = {
    val base = AutoFeatLight.withAdditional(df, goodColsOrg, computeRatio, computeProduct)
    val kept = base.select(features.map(c => col(AutoFeatLight.quoted(c))): _*)
    val scaled = scaleDivisors match {
      case None => kept
      case Some(divs) =>
        kept.select(features.map(c => (col(AutoFeatLight.quoted(c)) / lit(divs(c))).as(c)): _*)
    }
    power.fold(scaled)(_.transform(scaled))
  }
}

final case class AutoFeatLight(
    computeRatio: Boolean = true,
    computeProduct: Boolean = true,
    scale: Boolean = false,
    powerTransform: Boolean = false,
    corrthr: Double = 0.995,
    corrthrInit: Double = 0.99999
) {

  def fitTransform(df: DataFrame): (DataFrame, LightModel) = {
    val numericCols = AutoFeatLight.numericColumns(df)
    val goodOrg = AutoFeatLight.checkFeatures(df, numericCols, corrthrInit)
    if (goodOrg.isEmpty)
      return (df.select(numericCols.map(col): _*),
        LightModel(Nil, numericCols, computeRatio = false, computeProduct = false, None))

    val (features, widened) =
      if (computeRatio || computeProduct) {
        val w = AutoFeatLight.withAdditional(df, goodOrg, computeRatio, computeProduct)
        val allCols = w.columns.toSeq
        val kept = AutoFeatLight.checkFeatures(w, allCols, corrthr)
        (kept, w)
      } else (goodOrg, df.select(goodOrg.map(col): _*))

    val out = widened.select(features.map(c => col(AutoFeatLight.quoted(c))): _*)
    if (scale || powerTransform) {
      // reference autofeatlight.py:270-277: StandardScaler(with_mean=False)
      // first (biased std), then optional PowerTransformer(standardize=True)
      val st = Scaling.stats(out, features)
      val divs = features.zipWithIndex.map { case (c, i) =>
        c -> Scaling.divisor(st.stdPop(i))
      }.toMap
      val scaled = out.select(features.map(c => (col(AutoFeatLight.quoted(c)) / lit(divs(c))).as(c)): _*)
      if (powerTransform) {
        val (pt, ptModel) = graft.stats.YeoJohnson.fitTransform(scaled, features)
        (pt, LightModel(goodOrg, features, computeRatio, computeProduct, Some(divs), Some(ptModel)))
      } else
        (scaled, LightModel(goodOrg, features, computeRatio, computeProduct, Some(divs)))
    } else
      (out, LightModel(goodOrg, features, computeRatio, computeProduct, None))
  }
}

object AutoFeatLight {

  private[model] def quoted(c: String): String = s"`${c.replace("`", "``")}`"

  def numericColumns(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.types._
    df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] => f.name
    }.toSeq
  }

  /** Reference `_check_features` (autofeatlight.py:19-58): drop zero-variance
    * columns, then greedily drop redundant ones (|corr| >= corrthr), keeping
    * the columns that eliminate the most partners. One Gram pass.
    */
  def checkFeatures(df: DataFrame, cols: Seq[String], corrthr: Double): Seq[String] = {
    if (cols.isEmpty) return Nil
    val g = Gram.compute(df, cols)(0)
    val d = cols.size
    val useless = scala.collection.mutable.HashSet[Int]()
    // 1. zero variance (pandas df.var() is ddof=1)
    val eps = java.lang.Math.ulp(1.0) // sys.float_info.epsilon
    var i = 0
    while (i < d) {
      val v = if (g.n > 1) (g.xx(i, i) - g.n * g.mean(i) * g.mean(i)) / (g.n - 1) else Double.NaN
      if (v.isNaN || v <= eps) useless += i
      i += 1
    }
    // 2. redundant features from the |corr| matrix, highest correlation first
    val pairs = scala.collection.mutable.ArrayBuffer[(Double, Int, Int)]()
    i = 0
    while (i < d) {
      var j = 0
      while (j < d) {
        if (i != j) {
          val c = math.abs(g.corr(i, j))
          if (!c.isNaN && c >= corrthr) pairs += ((c, i, j))
        }
        j += 1
      }
      i += 1
    }
    val correlated = scala.collection.mutable.LinkedHashMap[Int, scala.collection.mutable.LinkedHashSet[Int]]()
    pairs.sortBy { case (c, a, b) => (-c, a, b) }.foreach { case (_, c0, c1) =>
      if (!useless.contains(c0))
        correlated.getOrElseUpdate(c0, scala.collection.mutable.LinkedHashSet[Int]()) += c1
    }
    correlated.toSeq.sortBy(-_._2.size).foreach { case (c, partners) =>
      if (!useless.contains(c)) useless ++= partners
    }
    cols.zipWithIndex.collect { case (c, ix) if !useless.contains(ix) => c }
  }

  /** Reference `_compute_additional_features` (autofeatlight.py:61-121):
    * ordered-pair ratios x_j / x_i (division by zero => 0, reproducing the
    * 1/x inf-to-0 masking at autofeatlight.py:103-106) and unordered-pair
    * products x_i * x_j. One wide codegen'd projection, no shuffle.
    */
  def withAdditional(df: DataFrame, cols: Seq[String], ratio: Boolean, product: Boolean,
                     keep: Seq[String] = Nil): DataFrame = {
    val base = keep.map(c => col(quoted(c))) ++ cols.map(c => col(quoted(c)))
    val ratios: Seq[Column] =
      if (!ratio) Nil
      else for {
        i <- cols.indices
        j <- cols.indices if i != j
      } yield {
        val ci = col(quoted(cols(i))).cast("double")
        val cj = col(quoted(cols(j))).cast("double")
        val inv = when(ci === 0.0 || ci.isNull || isnan(ci), lit(0.0)).otherwise(lit(1.0) / ci)
        (inv * cj).as(s"${cols(j)} / ${cols(i)}")
      }
    val products: Seq[Column] =
      if (!product) Nil
      else for {
        i <- cols.indices
        j <- cols.indices if j > i
      } yield (col(quoted(cols(i))).cast("double") * col(quoted(cols(j))).cast("double"))
        .as(s"${cols(i)} * ${cols(j)}")
    df.select(base ++ ratios ++ products: _*)
  }
}
