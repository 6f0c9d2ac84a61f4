package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StringType}

import graft.expr.{Compile, F, FExpr}
import graft.feateng.{FeatEng, FeatEngConfig}
import graft.select.FeatSel
import graft.stats.Gram

/** Spark-native AutoFeatRegressor (reference autofeat.py:270-427):
  * one-hot -> admission-controlled subsample -> feature synthesis ->
  * multi-run selection -> full-table regeneration of the winners ->
  * final CV-Lasso model.
  *
  * Scale shape: synthesis + selection run on the bounded subsample; the only
  * full-table work is the winner-regeneration projection (one codegen'd
  * select, shuffle-free) and one small Gram for the final model.
  */
final case class AutoFeatConfig(
    problemType: String = "regression", // or "classification"
    categoricalCols: Seq[String] = Nil,
    feategCols: Seq[String] = Nil, // empty -> all
    feategSteps: Int = 2,
    featselRuns: Int = 5,
    transformations: Seq[String] = FeatEng.defaultTransformations,
    maxGb: Option[Double] = None,
    seed: Long = 0L,
    /** {columnName -> unit string} (reference `units=`, autofeat.py:80-86):
      * unparseable units fall back to dimensionless; dimensioned columns
      * dimensionally veto synthesis ops and feed the pi theorem.
      */
    units: Map[String, String] = Map.empty,
    /** Add Buckingham-pi dimensionless-group columns before synthesis
      * (reference apply_pi_theorem, autofeat.py:153-176).
      */
    applyPiTheorem: Boolean = true,
    /** Concurrent selection runs (reference n_jobs, autofeat.py:65):
      * overlaps the per-run Gram/CD jobs on driver threads; <= 0 means one
      * thread per run. Results are identical at any setting.
      */
    nJobs: Int = 1,
    /** Proximal-Newton rounds per classification selection fit (see
      * [[graft.select.FeatSel.Config.selectionNewtonRounds]]); 1 = the
      * documented one-step surrogate deviation.
      */
    selectionNewtonRounds: Int = 1,
    /** Selection Lasso solver: "cd" or "lars" (exact LARS path — see
      * [[graft.select.FeatSel.Config.solver]]).
      */
    selectionSolver: String = "cd"
)

final case class LinearModel(cols: Seq[String], coef: Array[Double], intercept: Double, alpha: Double)

final case class AutoFeatModel(
    originalColumns: Seq[String],
    categoricalCols: Seq[String],
    feategCols: Seq[String],
    symToCol: Map[String, String],
    newFeatCols: Seq[String],
    formulas: Map[String, FExpr],
    goodCols: Seq[String],
    model: LinearModel,
    classifier: Option[graft.select.Logistic.Model] = None,
    /** Buckingham-pi columns: (name, (sourceCol -> exponent)*), regenerated
      * at transform time like the reference's _apply_pi_theorem
      * (autofeat.py:458-460).
      */
    piGroups: Seq[(String, Seq[(String, Double)])] = Nil,
    /** Column list of the fitted transform output, in order, without the
      * target (reference `all_columns_`, autofeat.py:386): the `_X2df`
      * already-transformed test is exact LIST equality against this.
      */
    allColumns: Seq[String] = Nil,
    /** Multinomial softmax classifier for K > 2 classes (sklearn
      * LogisticRegressionCV's multi-class default, autofeat.py:398);
      * `classifier` stays the binary model and is None when this is set.
      */
    multiClassifier: Option[graft.select.Logistic.MultiModel] = None
) {

  /** Reference transform (autofeat.py:436-467): one-hot is REFIT on the new
    * data (documented reference quirk), winners regenerated at float64 with
    * NaN row-masking.
    */
  def transform(df: DataFrame): AutoFeatModel.Frame = {
    val inCols = df.columns.toSeq.filter(originalColumns.contains)
    require(inCols == originalColumns,
      s"[AutoFeat] Not the same features as when calling fit: $inCols vs $originalColumns")
    val (oneHot, _) = AutoFeat.transformCategoricalCols(df.select(originalColumns.map(AutoFeat.q): _*), categoricalCols)
    AutoFeatModel.Frame(AutoFeat.generateFeatures(
      AutoFeat.addPiColumns(oneHot, piGroups), newFeatCols, formulas, symToCol))
  }

  def predictCol: Column = multiClassifier match {
    case Some(mm) => mm.predictCol.cast("double").as("prediction")
    case None => classifier match {
      case Some(lm) => lm.predictCol.cast("double").as("prediction")
      case None =>
        val terms = goodCols.zip(model.coef).collect { case (c, b) if b != 0.0 => AutoFeat.q(c).cast("double") * lit(b) }
        terms.foldLeft(lit(model.intercept).cast("double"))(_ + _).as("prediction")
    }
  }

  /** _X2df parity (autofeat.py:244-268): the frame is used as-is ONLY when
    * its column list equals the fitted output columns exactly (order
    * included — reference `list(df.columns) != self.all_columns_`);
    * anything else is auto-transformed. A mere superset of `goodCols` is
    * NOT enough: a raw frame whose columns coincidentally carry
    * selected-feature names (e.g. a stale engineered column) must be
    * re-derived, matching reference predict/score behavior.
    */
  private def ensureTransformed(df: DataFrame, ignore: Option[String] = None): DataFrame =
    if (df.columns.toSeq.filterNot(ignore.contains) == allColumns) df else transform(df).df

  def predict(df: DataFrame): DataFrame =
    ensureTransformed(df).withColumn("prediction", predictCol)

  /** Class probabilities. Binary keeps the scalar P(y=1) column; K > 2
    * emits an Array[Double] of K probabilities in sorted-class order
    * (sklearn predict_proba row shape), each row summing to 1.
    */
  def predictProba(df: DataFrame): DataFrame = multiClassifier match {
    case Some(mm) => ensureTransformed(df).withColumn("probability", mm.probArrayCol)
    case None =>
      val lm = classifier.getOrElse(throw new IllegalStateException("not a classifier"))
      ensureTransformed(df).withColumn("probability", lm.probCol)
  }

  /** R² (regression) or accuracy (classification) on a frame with the target.
    * An already-transformed frame — columns equal to the fitted output
    * (modulo the target column, which the reference passes separately) — is
    * used as-is; anything else is re-derived like reference score
    * (autofeat.py:480-504: exact list equality, then transform). The inline
    * regeneration keeps the target column alongside the features.
    */
  def score(df: DataFrame, targetCol: String): Double = {
    val full =
      if (df.columns.toSeq.filterNot(_ == targetCol) == allColumns) df
      else {
        val inCols = df.columns.toSeq.filter(originalColumns.contains)
        require(inCols == originalColumns,
          s"[AutoFeat] Not the same features as when calling fit: $inCols vs $originalColumns")
        AutoFeat.generateFeatures(
          AutoFeat.addPiColumns(AutoFeat.transformCategoricalCols(df, categoricalCols)._1, piGroups),
          newFeatCols, formulas, symToCol)
      }
    val y = AutoFeat.q(targetCol).cast("double")
    if (classifier.isDefined || multiClassifier.isDefined)
      full.agg(avg((predictCol === y).cast("double"))).collect()(0).getDouble(0)
    else {
        val resid = y - predictCol
        val r = full.agg(
          sum(resid * resid).as("ssRes"),
          sum(y).as("sy"), sum(y * y).as("syy"), count(lit(1)).as("n")
        ).collect()(0)
        val n = r.getLong(3).toDouble
        val ssTot = r.getDouble(2) - r.getDouble(1) * r.getDouble(1) / n
        1.0 - r.getDouble(0) / ssTot
    }
  }

  def toJson: String = ModelJson.toJson(this)
}

object AutoFeatModel {
  final case class Frame(df: DataFrame)
}

object AutoFeat {

  private[model] def q(c: String): Column = col(s"`${c.replace("`", "``")}`")

  /** Upper bound of generated feature count (feateng.py:46-93). */
  def nColsGenerated(nFeatures: Int, maxSteps: Int, nTransformations: Int = 7, nCombinations: Int = 4): Long = {
    def ncr(n: Long, r0: Long): Long = {
      val r = math.min(r0, n - r0)
      if (r < 0) return 0
      var numer = 1L; var denom = 1L
      var i = 0L
      while (i < r) { numer *= (n - i); denom *= (i + 1); i += 1 }
      numer / denom
    }
    val nT = nTransformations - 1
    var originalCols = nFeatures.toLong
    var newCols = 0L
    var newNewCols = 0L
    var nAdd = 0L
    var steps = 1
    if (steps <= maxSteps) { originalCols += nFeatures.toLong * nT; steps += 1 }
    if (steps <= maxSteps) {
      newCols = nCombinations * ncr(originalCols, 2)
      nAdd += 3 * newCols / 4
      steps += 1
    }
    while (steps <= maxSteps) {
      newCols += newCols * nT
      steps += 1
      if (steps <= maxSteps) {
        newNewCols = nCombinations * (originalCols * newCols)
        nAdd += 3 * newNewCols / 4
        steps += 1
      }
      if (steps <= maxSteps) {
        val n = nCombinations * ncr(newCols, 2)
        newNewCols += n
        nAdd += 3 * n / 4
        steps += 1
        originalCols += newCols
        newCols = newNewCols
        newNewCols = 0
      }
    }
    if (steps <= maxSteps) newCols += newCols * nT
    originalCols + newCols + newNewCols - nAdd
  }

  /** One-hot encode categorical columns (autofeat.py:130-151): sorted
    * categories, columns `cat_{c}_{v}`, original column dropped.
    * Returns (frame, map col -> new column names).
    */
  /** Cardinality cap for one-hot columns: collect_set holds every distinct
    * value of every categorical column in ONE aggregation buffer, so a
    * mistyped categorical (an ID column) at table scale would OOM an
    * executor and then the driver with no diagnosable error. The approx
    * pre-check below fails fast with an actionable message instead.
    */
  val maxOneHotCardinality: Long = 100000L

  def transformCategoricalCols(df: DataFrame, cats: Seq[String]): (DataFrame, Map[String, Seq[String]]) = {
    if (cats.isEmpty) return (df, Map.empty)
    cats.foreach(c =>
      require(df.columns.contains(c), s"[AutoFeat] categorical_col $c not in df.columns"))
    // cheap guard pass BEFORE the unbounded collect_set buffer materializes:
    // one aggregate of approx_count_distinct sketches (bounded memory)
    val approxRow = df.agg(
      approx_count_distinct(q(cats.head)).as(cats.head),
      cats.tail.map(c => approx_count_distinct(q(c)).as(c)): _*).collect()(0)
    cats.zipWithIndex.foreach { case (c, i) =>
      val card = approxRow.getLong(i)
      require(card <= maxOneHotCardinality,
        s"[AutoFeat] categorical_col $c has ~$card distinct values " +
          s"(cap $maxOneHotCardinality) — one-hot encoding it would create that many " +
          "columns; is it an ID column rather than a categorical?")
    }
    // ONE aggregate job collects every categorical column's distinct values
    // (N columns -> N collect_set aggregates in a single pass), and ONE
    // select builds all indicator columns — no per-column distinct jobs, no
    // chained withColumn (each of which re-analyzes the whole plan).
    val aggs = cats.map(c => collect_set(q(c).cast("string")).as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val sortedVals: Seq[(String, Seq[String])] = cats.zipWithIndex.map { case (c, i) =>
      val values = row.getSeq[String](i)
      c -> (if (df.schema(c).dataType == StringType) values.sorted
            else values.sortBy(BigDecimal(_)))
    }
    val catMap = scala.collection.immutable.ListMap(
      sortedVals.map { case (c, vs) => c -> vs.map(v => s"cat_${c}_$v") }: _*)
    val indicatorCols = sortedVals.flatMap { case (c, vs) =>
      vs.map(v => when(q(c).cast("string") === lit(v), 1.0).otherwise(0.0).as(s"cat_${c}_$v"))
    }
    val keep = df.columns.toSeq.filterNot(cats.contains).map(q)
    (df.select(keep ++ indicatorCols: _*), catMap)
  }

  /** Append Buckingham-pi group columns (autofeat.py:164-175): the product
    * of the group's source columns raised to their exponents, NaN on rows
    * where any source is null/NaN. Pure codegen'd projection — shuffle-free
    * at any scale.
    */
  def addPiColumns(df: DataFrame, piGroups: Seq[(String, Seq[(String, Double)])]): DataFrame = {
    if (piGroups.isEmpty) return df
    val cols = piGroups.map { case (name, terms) =>
      val anyNa = terms.map { case (c, _) => q(c).isNull || isnan(q(c).cast("double")) }
        .reduce(_ || _)
      val prod = terms.map { case (c, e) => pow(q(c).cast("double"), lit(e)) }.reduce(_ * _)
      when(anyNa, lit(Double.NaN)).otherwise(prod).as(name)
    }
    df.select(df.columns.map(c => q(c)).toSeq ++ cols: _*)
  }

  /** Regenerate winner features on a full frame: float64, NaN on any row
    * where a source column is null/NaN (autofeat.py:176-242).
    */
  def generateFeatures(df: DataFrame, newFeatCols: Seq[String],
                       formulas: Map[String, FExpr], symToCol: Map[String, String]): DataFrame = {
    if (newFeatCols.isEmpty) return df
    val cols = newFeatCols.map { n =>
      val e = formulas(n)
      Compile.toColumnNanMasked(e, s => q(symToCol(s)).cast("double")).as(n)
    }
    df.select(df.columns.map(c => q(c)).toSeq ++ cols: _*)
  }

  /** Flagship fit_transform. `df` must contain `targetCol` plus the feature
    * columns; rows must be finite in the used columns (fit rejects NaN).
    */
  def fitTransform(dfIn: DataFrame, targetCol: String,
                   cfg: AutoFeatConfig = AutoFeatConfig()): (DataFrame, AutoFeatModel) = {
    val originalColumns = dfIn.columns.toSeq.filter(_ != targetCol)
    val df0 = dfIn.select((originalColumns :+ targetCol).map(q): _*)
    // NaN rejection on used columns (check_X_y)
    val numCols = originalColumns.filter(c => df0.schema(c).dataType.isInstanceOf[NumericType]) :+ targetCol
    val badExpr = numCols.map(c => sum(when(q(c).isNull || isnan(q(c).cast("double")), 1L).otherwise(0L)))
      .reduce(_ + _)
    require(df0.agg(badExpr.as("bad")).collect()(0).getLong(0) == 0L,
      "[AutoFeat] fit data contains NaN/null values")

    val (oneHot, catMap) = transformCategoricalCols(df0, cfg.categoricalCols)
    val feategCols: Seq[String] =
      if (cfg.feategCols.nonEmpty) {
        // reference autofeat.py:303-307: every feateng_col must name an
        // ORIGINAL column (categoricals expand through their one-hot map)
        cfg.feategCols.foreach(c => require(originalColumns.contains(c),
          s"[AutoFeat] feateng_col $c not in df.columns"))
        cfg.feategCols.flatMap(c => catMap.getOrElse(c, Seq(c)))
      } else oneHot.columns.toSeq.filter(_ != targetCol)

    // units + Buckingham-pi (autofeat.py:315-320): parse units for exactly
    // the feateng columns (missing -> dimensionless), add PT group columns
    // before subsampling; PT columns ride through synthesis untouched and
    // compete in selection, like the reference's df-resident PT columns
    val unitDims: Map[String, graft.units.Dim] =
      if (cfg.units.isEmpty) Map.empty
      else feategCols.map(c =>
        c -> graft.units.Units.parseOrDimensionless(cfg.units.getOrElse(c, ""))).toMap
    val piGroups: Seq[(String, Seq[(String, Double)])] =
      if (cfg.applyPiTheorem && cfg.units.nonEmpty) {
        val qs = feategCols.filter(c => !unitDims(c).isDimensionless).map(c => c -> unitDims(c))
        graft.units.PiTheorem.groups(qs).zipWithIndex.map { case (g, i) =>
          (s"PT${i + 1}_${graft.units.PiTheorem.formatGroup(g)}",
            g.toSeq.sortBy(_._1).map { case (c, e) => c -> e.toDouble })
        }
      } else Nil
    val ptNames = piGroups.map(_._1)
    val withPi = addPiColumns(oneHot, piGroups)

    // admission control (autofeat.py:321-344): bytes ~ rows*cols*4
    val nRows = withPi.count()
    val nCols = nColsGenerated(feategCols.size, cfg.feategSteps, cfg.transformations.size)
    val nGb = nRows.toDouble * nCols / 250000000.0
    val dfSubs = cfg.maxGb match {
      case Some(gb) if nGb > gb =>
        // uniform row subsample (autofeat.py:334-339); sample() stays fully
        // distributed where orderBy(rand).limit(n) would serialize the scan
        val keepRows = (gb * 250000000.0 / nCols).toLong
        withPi.sample(withReplacement = false,
          math.min(1.0, keepRows.toDouble / math.max(nRows, 1L)), cfg.seed)
      case _ => withPi
    }

    // synthesis on the (sub)sampled frame. Pass-through: target, PT columns,
    // AND originals excluded from synthesis by feateng_cols — the reference
    // keeps them df-resident (autofeat.py:346-356), so they still compete
    // in selection even though no formula may be built from them.
    val baseFeats = oneHot.columns.toSeq.filter(_ != targetCol)
    val nonEngFeats = baseFeats.filterNot(feategCols.contains)
    val eng = new FeatEng(FeatEngConfig(maxSteps = cfg.feategSteps,
      transformations = cfg.transformations, units = unitDims))
      .engineerFeatures(dfSubs, feategCols, passThrough = targetCol +: (ptNames ++ nonEngFeats))
    val symToCol = feategCols.zipWithIndex.map { case (c, i) => F.colToSymbol(c, i) -> c }.toMap

    // selection: classification uses the balanced L1-logistic quadratic
    // (working response + class weights, see FeatSel/LogisticLasso);
    // regression the CV Lasso — both one weighted-Gram pass per fit group
    // candidate order mirrors the reference frame layout: ALL originals
    // (frame order), PT columns, then engineered features (selection vote
    // order is index-based)
    val candidateCols = baseFeats ++ ptNames ++ eng.newCols
    val goodCols: Seq[String] =
      if (cfg.featselRuns <= 0) candidateCols
      else {
        val picked = FeatSel.selectFeatures(eng.df, candidateCols, targetCol,
          FeatSel.Config(featselRuns = cfg.featselRuns, seed = cfg.seed,
            problemType = cfg.problemType, nJobs = cfg.nJobs,
            selectionNewtonRounds = cfg.selectionNewtonRounds,
            solver = cfg.selectionSolver))
        if (picked.isEmpty) withPi.columns.toSeq.filter(_ != targetCol) else picked
      }
    val baseCols = withPi.columns.toSeq.filter(_ != targetCol)
    val newFeatCols = goodCols.filterNot(baseCols.contains)
    val formulas = (newFeatCols.map(n => n -> eng.pool(n)) ++
      feategCols.map(c => c -> eng.pool(c))).toMap

    // full regeneration at float64 over ALL rows
    val fullDf = generateFeatures(withPi, newFeatCols, formulas, symToCol)

    // final model on the full frame: CV lasso (regression) or distributed
    // Newton-IRLS logistic with balanced class weights (classification)
    // fitted output column list (reference all_columns_, autofeat.py:386):
    // the fit frame's columns without the target — transform reproduces
    // exactly this list, and _X2df tests list equality against it
    val allColumns = fullDf.columns.toSeq.filterNot(_ == targetCol)
    val model = if (cfg.problemType == "classification") {
      // K > 2 distinct labels -> multinomial softmax (sklearn
      // LogisticRegressionCV multi-class default); binary 0/1 keeps the
      // sigmoid Newton-IRLS path. Binary labels OTHER than {0,1} (e.g.
      // {1,2} or {-1,1}) also route to the softmax fit — the sigmoid
      // path's balanced weights n/(2·Σy) assume 0/1 encoding.
      val classes = graft.select.Logistic.distinctClasses(fullDf, targetCol)
      if (classes.size > 2 || classes != Seq(0.0, 1.0)) {
        val mm = graft.select.Logistic.fitMulti(fullDf, goodCols, targetCol, classes)
        AutoFeatModel(
          originalColumns, cfg.categoricalCols, feategCols, symToCol, newFeatCols,
          formulas, goodCols, LinearModel(goodCols, Array.fill(goodCols.size)(0.0), 0.0, 0.0),
          None, piGroups, allColumns, multiClassifier = Some(mm))
      } else {
        val lm = graft.select.Logistic.fit(fullDf, goodCols, targetCol)
        AutoFeatModel(
          originalColumns, cfg.categoricalCols, feategCols, symToCol, newFeatCols,
          formulas, goodCols, LinearModel(goodCols, lm.coef, lm.intercept, 0.0), Some(lm), piGroups,
          allColumns)
      }
    } else {
      val withFold = fullDf.withColumn("__fold", pmod(monotonically_increasing_id(), lit(5)).cast("int"))
      val grams = Gram.compute(withFold, goodCols, Some(targetCol), Some("__fold"), 5)
      val fit = new graft.select.GramLasso(grams).cvFit(goodCols.indices.toArray)
      AutoFeatModel(
        originalColumns, cfg.categoricalCols, feategCols, symToCol, newFeatCols,
        formulas, goodCols, LinearModel(goodCols, fit.coef, fit.intercept, fit.alpha),
        piGroups = piGroups, allColumns = allColumns)
    }
    (fullDf, model)
  }

}
