package graft.select

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.stats.{Gram, Scaling}

/** Multi-run noise-filtered feature selection — Spark-native rebuild of the
  * reference featsel.py `select_features` / `_select_features_1run` /
  * `_noise_filtering` control flow.
  *
  * Distribution strategy: each selection run aggregates ONE set of per-fold
  * Grams over [features | shuffled-copy noise | gaussian noise | y] on its
  * 85% row subsample; every Lasso fit inside the run (initial, chunked
  * scans, noise filters) is then a driver-side coordinate-descent on Gram
  * submatrices (GramLasso). Two more Gram passes on the full scaled frame
  * serve the correlation filter and the final noise filter. So a full
  * 5-run selection costs ~7 ordered-reduce jobs over the (admission-bounded)
  * subsample — the 10^12-row table is never touched here. Wider frames
  * run the whole selection on the driver instead (see [[gramMaxCols]] for
  * the two regimes).
  *
  * Documented deviations from the reference (SURVEY.md §7.4.3): our own RNG
  * (not numpy MT19937); the shuffled-noise copy permutes whole ROWS of the
  * feature block with one global permutation in the fold-Gram regime and
  * each column independently in the driver regime (the reference permutes
  * the flattened pool, destroying cross-column structure too; all three
  * preserve per-column marginals and break the X→y link, which is all the
  * noise threshold uses); one noise draw per run is reused by that run's
  * fits rather than redrawn per fit.
  */
object FeatSel {

  final case class Config(
      featselRuns: Int = 5,
      keep: Seq[String] = Nil,
      problemType: String = "regression",
      folds: Int = 5,
      seed: Long = 0L,
      nJobs: Int = 1,
      /** Proximal-Newton rounds per CLASSIFICATION selection fit. 1 (the
        * default) = the documented one-step surrogate: every fit solves the
        * L1 quadratic expanded around beta = 0 (z = 4y - 2, class weights),
        * costing one precomputed Gram pass per run. Values 2-3 re-expand
        * each fit around its current coefficients (LogisticLasso-style IRLS
        * weights), one extra distributed Gram pass over JUST the fitted
        * columns per extra round — use when reference-set parity matters on
        * far-from-origin (heavily imbalanced) problems. Fold-Gram regime
        * only (d <= 480, see [[gramMaxCols]]); the driver regime keeps the
        * one-step surrogate.
        */
      selectionNewtonRounds: Int = 1,
      /** Lasso solver for the fold-Gram regime (d <= 480, see
        * [[gramMaxCols]]): "cd" (default — coordinate descent over a
        * geometric λ grid) or "lars" (exact LARS-with-lasso-modification
        * path, the reference's LassoLarsCV algorithm — SURVEY §7.4.2's
        * mitigation when CD set drift matters). Both consume the SAME
        * one-pass fold Grams; the driver regime keeps CD (its
        * admission-bounded driver block makes path exactness moot there).
        */
      solver: String = "cd"
  )

  /** Maps run indices 0..n-1 through `f` on a fixed pool of `nJobs` driver
    * threads (reference joblib n_jobs over `run_select_features`,
    * featsel.py:244-246). Spark job submission is thread-safe and each run's
    * randomness is derived from its index alone, so results are identical to
    * sequential execution; only the per-run cluster jobs overlap. nJobs <= 0
    * means one thread per run; 1 stays on the calling thread.
    */
  private def mapRuns[T](n: Int, nJobs: Int)(f: Int => T): Vector[T] = {
    val par = math.max(1, math.min(if (nJobs <= 0) n else nJobs, n))
    if (n <= 0) Vector.empty
    else if (par == 1) (0 until n).map(f).toVector
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try Await.result(Future.sequence((0 until n).map(i => Future(f(i))).toVector),
        scala.concurrent.duration.Duration.Inf)
      finally pool.shutdown()
    }
  }

  private def q(c: String) = col(s"`${c.replace("`", "``")}`")

  private val NoRows = "[featsel] no clean rows"

  /** Adds row-shuffled copies of `cols` named `__shuf_i`: ONE global random
    * permutation applied to the whole feature-row vector (see the deviation
    * note above — per-column marginals preserved, X→y link broken).
    *
    * Physical shape: ONE seeded-hash repartition (rows land in a
    * pseudo-random partition, so the permutation mixes across the input
    * layout) + a deterministic partition-local Fisher–Yates pairing rows
    * with each other's feature blocks. Composing random placement with a
    * within-partition permutation IS a global row permutation — replacing
    * the previous boxed-Row `zipWithIndex` + global `orderBy(rand)` +
    * RDD-join formulation (three shuffles) with one shuffle and one
    * mapPartitions. `sortWithinPartitions` on the placement key pins the
    * pairing against shuffle-fetch arrival order, so results are
    * reproducible run-to-run (the nJobs determinism contract).
    */
  private[select] def withShuffledCopy(df: DataFrame, cols: Seq[String], seed: Long): DataFrame = {
    val schema = StructType(df.schema.fields ++
      cols.indices.map(i => StructField(s"__shuf_$i", DoubleType)))
    val colIdx = cols.map(df.schema.fieldIndex).toArray
    val key = xxhash64(df.columns.map(q) :+ lit(seed): _*)
    // EXPLICIT partition count: repartition(col) alone lets AQE size the
    // exchange from runtime stats, and a different coalescing changes the
    // partition-local permutation — two identical calls must pair rows
    // identically (the nJobs/golden determinism contract)
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    df.withColumn("__srk", key)
      .repartition(p, col("__srk"))
      .sortWithinPartitions(col("__srk"))
      .drop("__srk")
      .mapPartitions { it =>
        val rows = it.toArray
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val rnd = new scala.util.Random(seed ^ (pid.toLong * 0x9E3779B97F4A7C15L))
        val perm = rnd.shuffle(rows.indices.toVector)
        rows.iterator.zipWithIndex.map { case (r, i) =>
          val src = rows(perm(i))
          Row.fromSeq(r.toSeq ++ colIdx.map(j => src.get(j)))
        }
      }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** One selection run's fit universe: index layout over
    * [features (d) | shuffled copies (d, optional) | gaussian (g)].
    */
  private final class RunGrams(
      val lasso: CvLasso, val d: Int, val hasShuffled: Boolean, val g: Int) {
    def featureIdx(i: Int): Int = i
    def shufIdx(i: Int): Int = { require(hasShuffled); d + i }
    def gaussIdx(i: Int): Int = (if (hasShuffled) 2 * d else d) + i
  }

  /** Collects a projection as column-major primitive arrays. Rows with any
    * null/NaN among the selected columns are dropped executor-side.
    * Partitions pack their own double arrays, so the driver's peak footprint
    * is the primitive data itself rather than boxed GenericRows (which cost
    * several times rows·cols·8 bytes).
    */
  private def collectPrimitive(proj: DataFrame): Array[Array[Double]] = {
    val k = proj.columns.length
    // InternalRow pass (toRdd, not .rdd): no per-field boxing; values are
    // copied into the builders immediately, row objects never retained
    val parts: Array[Array[Array[Double]]] = proj.queryExecution.toRdd.mapPartitions { rows =>
      val bld = Array.fill(k)(new scala.collection.mutable.ArrayBuilder.ofDouble)
      rows.foreach { r =>
        var ok = true
        var i = 0
        while (i < k && ok) {
          ok = !r.isNullAt(i) && !r.getDouble(i).isNaN
          i += 1
        }
        if (ok) {
          var j = 0
          while (j < k) { bld(j) += r.getDouble(j); j += 1 }
        }
      }
      Iterator.single(bld.map(_.result()))
    }.collect()
    val n = parts.iterator.map(p => p(0).length).sum
    Array.tabulate(k) { j =>
      val out = new Array[Double](n)
      var off = 0
      parts.foreach { p =>
        System.arraycopy(p(j), 0, out, off, p(j).length)
        off += p(j).length
      }
      out
    }
  }

  /** Column-count bound of one fold-Gram fit universe. Fold Grams cost
    * folds·d²/2 doubles of sufficient statistics (one ordered-reduce pass,
    * stats.DetReduce) and never re-touch the rows; past this many columns
    * d² outgrows the raw n·d block of the admission-bounded subsample. It
    * splits selection into two regimes ([[foldGramsFit]]):
    *  - fold Grams per run ([[runGrams]]) while a run's largest fit
    *    universe — d features + d shuffled copies + max(3, d/2) Gaussian
    *    columns — has at most 1200 columns, i.e. d <= 480;
    *  - past it, the whole selection on the driver ([[selectFeaturesDense]])
    *    over one collected block — the same bytes model (rows·cols·4 <=
    *    max_gb) the reference holds in RAM.
    */
  private val gramMaxCols = 1200

  /** Whether a d-feature selection runs on fold Grams: its largest fit
    * universe stays within [[gramMaxCols]] columns (true up to d = 480).
    */
  private[select] def foldGramsFit(d: Int): Boolean = 2 * d + math.max(3, d / 2) <= gramMaxCols

  /** Fold-Gram solver for one selection run's frame (already holding noise
    * columns). `weightCol` (classification) makes fits IRLS-weighted.
    */
  private def runGrams(frame: DataFrame, featCols: Seq[String], shufCols: Seq[String],
                       gaussCols: Seq[String], targetCol: String, folds: Int,
                       weightCol: Option[String], newtonRounds: Int, lassoSolver: String): RunGrams = {
    val all = featCols ++ shufCols ++ gaussCols
    val withFold = frame.withColumn("__fold", pmod(monotonically_increasing_id(), lit(folds)).cast("int"))
    val grams = Gram.compute(withFold, all, Some(targetCol), Some("__fold"), folds, weightCol)
    val solverOf: Array[Gram] => CvLasso =
      if (lassoSolver == "lars") new GramLars(_) else new GramLasso(_)
    val base = solverOf(grams)
    val solver: CvLasso = weightCol match {
      case Some(cw) if newtonRounds > 1 =>
        // proximal-Newton rounds (classification): round 0 is the base
        // fit's one-step quadratic around beta = 0 (the run Grams); each
        // extra round re-expands around the current coefficients with
        // one weighted Gram pass over JUST the fitted columns. The
        // frame's target holds the round-0 working response z0 = 4y - 2.
        val y = (q(targetCol).cast("double") + lit(2.0)) / lit(4.0)
        val universe = all.toIndexedSeq
        idx => {
          val cols = idx.map(universe).toSeq
          (1 until newtonRounds).foldLeft(base.cvFit(idx)) { (fit, _) =>
            LogisticLasso.irlsRound(withFold, cols, fit, y, q(cw).cast("double"), col("__fold"),
              folds, solverOf)
          }
        }
      case _ => base
    }
    new RunGrams(solver, featCols.size, shufCols.nonEmpty, gaussCols.size)
  }

  /** |coef| per feature subset with noise columns appended; returns the
    * surviving subset (reference `_noise_filtering`, featsel.py:41-89).
    * `subset` holds indices into the run's feature block.
    */
  private def noiseFilter(rg: RunGrams, subset: Seq[Int]): Seq[Int] = {
    if (subset.isEmpty) return subset
    val nGauss = math.max(3, subset.size / 2)
    val shuf = if (rg.hasShuffled) subset.map(rg.shufIdx) else Nil
    val gauss = (0 until math.min(nGauss, rg.g)).map(rg.gaussIdx)
    val idx = (subset.map(rg.featureIdx) ++ shuf ++ gauss).toArray
    val fit = rg.lasso.cvFit(idx)
    val coefs = fit.coef.map(math.abs)
    val noisePart = coefs.drop(subset.size)
    val thr = if (noisePart.isEmpty) 0.0 else noisePart.max
    subset.zipWithIndex.collect { case (c, i) if coefs(i) > thr => c }
  }

  /** Reference `_select_features_1run` (featsel.py:92-176). */
  private def selectRun(rg: RunGrams, nRows: Long, rnd: scala.util.Random): Seq[Int] = {
    val d = rg.d
    // initial fit on all features (no noise)
    val fit0 = rg.lasso.cvFit((0 until d).map(rg.featureIdx).toArray)
    val coefs0 = fit0.coef.map(math.abs)
    val k = math.min(d - 1, (nRows / 5).toInt)
    val thr = coefs0.sorted(Ordering.Double.TotalOrdering.reverse).apply(k)
    var initial: Seq[Int] = (0 until d).filter(i => coefs0(i) > thr)
    initial = noiseFilter(rg, initial)
    val good = mutable.LinkedHashSet[Int](initial: _*)
    // chunked scan of the remaining columns
    val others = rnd.shuffle(((0 until d).toSet -- initial).toVector.sorted)
    if (others.nonEmpty) {
      val splitCap = math.max(10.0, 0.5 * nRows - initial.size)
      val nSplits = math.ceil(others.size / splitCap).toInt
      val splitSize = math.ceil(others.size.toDouble / nSplits).toInt
      val nGauss = math.max(3, initial.size / 2)
      val shuf = if (rg.hasShuffled) initial.map(rg.shufIdx) else Nil
      val gauss = (0 until math.min(nGauss, rg.g)).map(rg.gaussIdx)
      for (s <- 0 until nSplits) {
        val chunk = others.slice(s * splitSize, math.min(others.size, (s + 1) * splitSize))
        val real = chunk ++ initial
        val idx = (real.map(rg.featureIdx) ++ shuf ++ gauss).toArray
        val fit = rg.lasso.cvFit(idx)
        val coefs = fit.coef.map(math.abs)
        val noiseThr = {
          val np = coefs.drop(real.size)
          if (np.isEmpty) 0.0 else np.max
        }
        real.zipWithIndex.foreach { case (c, i) => if (coefs(i) > noiseThr) good += c }
      }
    }
    noiseFilter(rg, good.toVector.sorted)
  }

  /** Consolidates the runs' selections (featsel.py:249-271): columns ordered
    * by vote count (longer names downweighted to break ties) after `keep`,
    * then each candidate past the first (or past `keep`) is kept only when
    * its |correlation| with EVERY prior candidate in that order is below
    * 0.9. `corrOver(selected)` gives the pairwise correlation by position in
    * `selected`; it is asked only when there is a candidate to filter. No
    * votes at all keeps every feature.
    */
  private def consolidate(selectedLists: Seq[Seq[String]], featureCols: Seq[String], keep: Seq[String])
                         (corrOver: Seq[String] => (Int, Int) => Double): Seq[String] = {
    val flat = selectedLists.flatten
    if (flat.isEmpty) return featureCols
    val counts = flat.groupBy(identity).map { case (c, xs) => c -> xs.size }
    var selected = counts.keys.toSeq.sortBy(c => -(counts(c) - 1e-6 * c.length))
    selected = keep ++ selected.filterNot(keep.contains)
    var good = if (keep.isEmpty) Seq(selected.head) else keep
    val startK = good.size
    if (selected.size > startK) {
      val corr = corrOver(selected)
      for (i <- startK until selected.size) {
        val maxCorr = (0 until i).map(j => math.abs(corr(i, j))).max
        if (maxCorr < 0.9) good = good :+ selected(i)
      }
    }
    good
  }

  /** Reference `select_features` (featsel.py:179-286). Classification
    * (featsel.py:68: L1 logistic CV, balanced class weights) runs the same
    * control flow with every Lasso fit replaced by the first proximal-Newton
    * step of the balanced L1 logistic objective: working response
    * z = 4(y - 1/2) with per-class weights — i.e. the quadratic expansion of
    * the penalized log-likelihood around beta = 0 (LogisticLasso round 0) —
    * so run Grams stay one pass each and all fits stay driver-side. The
    * target is NOT scaled for classification (featsel.py:218).
    */
  def selectFeatures(df: DataFrame, featureCols: Seq[String], targetCol: String,
                     cfg: Config = Config()): Seq[String] = {
    val isClf = cfg.problemType == "classification"
    require(isClf || cfg.problemType == "regression", s"unknown problemType ${cfg.problemType}")
    require(cfg.solver == "cd" || cfg.solver == "lars",
      s"unknown solver ${cfg.solver} (expected cd|lars)")
    if (isClf) {
      // Multi-class: per-class one-vs-rest one-step quadratics — each class
      // runs the full binary selection flow on a binarized target, and the
      // union of per-class selections (class-major, per-class vote order) is
      // kept, mirroring the multinomial L1's any-class-nonzero support. One
      // small distinct aggregate on the admission-bounded selection input
      // detects K; binary {0,1} labels fall straight through.
      val classes = Logistic.distinctClasses(df, targetCol)
      require(classes.size >= 2, s"[featsel] need >= 2 classes, got $classes")
      if (classes.size > 2 || classes != Seq(0.0, 1.0)) {
        val keep = cfg.keep.filter(featureCols.contains)
        val binTargets = if (classes.size > 2) classes else classes.takeRight(1)
        val perClass = binTargets.map { c =>
          val bin = df.withColumn(targetCol,
            when(q(targetCol).cast("double") === lit(c), 1.0).otherwise(0.0))
          selectFeatures(bin, featureCols, targetCol, cfg.copy(keep = Nil))
        }
        return keep ++ perClass.flatten.distinct.filterNot(keep.contains)
      }
    }
    // past the fold-Gram bound the whole selection moves to the driver over
    // ONE collected block (see selectFeaturesDense) — same bytes model the
    // reference holds in RAM; zero per-run cluster round-trips
    if (!foldGramsFit(featureCols.size))
      return selectFeaturesDense(df, featureCols, targetCol, cfg)
    val keep = cfg.keep.filter(featureCols.contains)
    // scale features (and, for regression, the target) — nan-aware, ddof=0
    val scaledCols = if (isClf) featureCols else featureCols :+ targetCol
    val weightCol: Option[String] = if (isClf) Some("__w") else None
    val targetAndWeight: Seq[Column] =
      if (isClf) {
        val (w0, w1) = LogisticLasso.classWeights(df, targetCol)
        val y = q(targetCol).cast("double")
        Seq((y * 4.0 - 2.0).as(targetCol), when(y > 0.5, lit(w1)).otherwise(lit(w0)).as("__w"))
      } else Nil
    val scaled = Scaling.scaled(df, scaledCols, Scaling.stats(df, scaledCols), targetAndWeight: _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // one job counts all rows and the rows Gram.compute keeps (no null/NaN
    // feature or target, a positive weight): rows that are all dirty must
    // fail like the driver regime, not select nothing
    val finite = (v: Column) => v.isNotNull && !isnan(v)
    val clean = forall(array((featureCols :+ targetCol).map(q(_).cast("double")): _*), finite) &&
      weightCol.fold(lit(true))(w => finite(q(w)) && q(w) > 0)
    val counts = scaled.agg(count(lit(1)), count(when(clean, 1))).head()
    val nTotal = counts.getLong(0)
    if (counts.getLong(1) == 0) scaled.unpersist()
    require(counts.getLong(1) > 0, NoRows)
    val d = featureCols.size

    val selectedLists = mapRuns(math.max(0, cfg.featselRuns), cfg.nJobs) { run =>
      // 85% row subsample per run (featsel.py:229-231). sample() keeps the
      // subsample fully distributed — orderBy(rand).limit(n) would funnel
      // the whole frame through a global sort + one partition at scale.
      val sub = (if (nTotal <= 12) scaled
                 else scaled.sample(withReplacement = false, 0.85, cfg.seed + run))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nRows = sub.count()
      val useShuffled = nRows > 50 && d > 1
      val frame0 = if (useShuffled) withShuffledCopy(sub, featureCols, cfg.seed * 31 + run) else sub
      val nGaussMax = math.max(3, d / 2)
      val gaussCols = (0 until nGaussMax).map(i => s"__gauss_$i")
      // single select: chained withColumn is quadratic in the analyzer
      val frame = frame0.select(frame0.columns.map(c => q(c)).toSeq ++
        gaussCols.zipWithIndex.map { case (c, i) => randn(cfg.seed * 131 + run * 17 + i).as(c) }: _*)
      val shufCols = if (useShuffled) featureCols.indices.map(i => s"__shuf_$i") else Nil
      val rg = runGrams(frame, featureCols, shufCols, gaussCols, targetCol, cfg.folds, weightCol,
        cfg.selectionNewtonRounds, cfg.solver)
      val picked = selectRun(rg, nRows, new scala.util.Random(cfg.seed + 7919 * (run + 1)))
      sub.unpersist()
      picked.map(featureCols)
    }

    var goodCols = consolidate(selectedLists, featureCols, keep) { selected =>
      val g = Gram.compute(scaled, selected)(0)
      g.corr
    }
    // final noise filtering on the full scaled frame
    if (goodCols.nonEmpty) {
      val useShuffled = nTotal > 50 && goodCols.size > 1
      val base = scaled.select((goodCols ++ weightCol :+ targetCol).map(q): _*)
      val frame0 = if (useShuffled) withShuffledCopy(base, goodCols, cfg.seed * 977 + 5) else base
      val nGauss = math.max(3, goodCols.size / 2)
      val gaussCols = (0 until nGauss).map(i => s"__gauss_$i")
      val frame = frame0.select(frame0.columns.map(c => q(c)).toSeq ++
        gaussCols.zipWithIndex.map { case (c, i) => randn(cfg.seed * 677 + i).as(c) }: _*)
      val shufCols = if (useShuffled) goodCols.indices.map(i => s"__shuf_$i") else Nil
      val rg = runGrams(frame, goodCols, shufCols, gaussCols, targetCol, cfg.folds, weightCol,
        cfg.selectionNewtonRounds, cfg.solver)
      val kept = noiseFilter(rg, goodCols.indices)
      goodCols = kept.map(goodCols)
    }
    scaled.unpersist()
    keep ++ goodCols.filterNot(keep.contains)
  }

  /** Selection entirely on the driver for frames past the fold-Gram bound
    * (d > 480, see [[gramMaxCols]]).
    *
    * The selection input is the admission-bounded subsample (reference bytes
    * model rows·cols·4 <= max_gb, autofeat.py:322-333) — collecting it once
    * costs exactly what the reference itself holds in RAM, while fold Grams
    * would outgrow that block and pay per-run shuffled-copy shuffles and
    * wide-frame analysis. One cluster job total (the collect); everything
    * else — scaling, subsampling, noise columns, all CD fits, correlation
    * filter — is driver array math. The 10^12-row table is never touched by
    * selection in either regime.
    */
  private def selectFeaturesDense(df: DataFrame, featureCols: Seq[String], targetCol: String,
                                  cfg: Config): Seq[String] = {
    val isClf = cfg.problemType == "classification"
    val keep = cfg.keep.filter(featureCols.contains)
    val d = featureCols.size
    // ONE cluster job: partitions drop null/NaN rows and pack column-major
    // primitive arrays (see collectPrimitive) — the driver holds exactly the
    // admission-bounded block, matching the reference's in-RAM bytes model
    val packed = collectPrimitive(
      df.select((featureCols :+ targetCol).map(c => q(c).cast("double")): _*))
    val n = packed(0).length
    require(n > 0, NoRows)
    val x = packed.take(d)
    val yRaw = packed(d)
    // standard scale (ddof=0) — nb_standard_scale semantics
    def scaleInPlace(c: Array[Double]): Unit = {
      var s = 0.0; var ss = 0.0
      var t = 0
      while (t < c.length) { s += c(t); ss += c(t) * c(t); t += 1 }
      val m = s / c.length
      val div = Scaling.divisor(math.sqrt(math.max(0.0, ss / c.length - m * m)))
      t = 0
      while (t < c.length) { c(t) = (c(t) - m) / div; t += 1 }
    }
    x.foreach(scaleInPlace)
    val (y, w) =
      if (isClf) {
        val nPos = yRaw.count(_ > 0.5).toLong
        val Array(w0, w1) = LogisticLasso.balancedWeights(Array(n - nPos, nPos))
        (yRaw.map(v => v * 4.0 - 2.0), yRaw.map(v => if (v > 0.5) w1 else w0))
      } else {
        val yc = yRaw.clone(); scaleInPlace(yc); (yc, Array.fill(n)(1.0))
      }

    def denseRg(cols: Array[Array[Double]], dFeat: Int, hasShuf: Boolean, g: Int,
                ys: Array[Double], ws: Array[Double]): RunGrams = {
      val foldOf = Array.tabulate(ys.length)(_ % cfg.folds)
      new RunGrams(new DenseLasso(cols, ys, ws, foldOf, cfg.folds), dFeat, hasShuf, g)
    }

    val selectedLists = mapRuns(math.max(0, cfg.featselRuns), cfg.nJobs) { run =>
      val rnd = new scala.util.Random(cfg.seed + run)
      val idx = rnd.shuffle((0 until n).toVector).take(math.max(10, (0.85 * n).toInt)).toArray
      val nSub = idx.length
      val useShuffled = nSub > 50 && d > 1
      val nGauss = math.max(3, d / 2)
      val shufRnd = new scala.util.Random(cfg.seed * 31 + run)
      val gaussRnd = new scala.util.Random(cfg.seed * 131 + run * 17)
      val cols = Array.newBuilder[Array[Double]]
      featureCols.indices.foreach(j => cols += idx.map(x(j)))
      if (useShuffled) featureCols.indices.foreach { j =>
        cols += shufRnd.shuffle(idx.map(x(j)).toVector).toArray
      }
      (0 until nGauss).foreach(_ => cols += Array.fill(nSub)(gaussRnd.nextGaussian()))
      val rg = denseRg(cols.result(), d, useShuffled, nGauss, idx.map(y), idx.map(w))
      selectRun(rg, nSub, new scala.util.Random(cfg.seed + 7919 * (run + 1))).map(featureCols)
    }

    def pearson(a: Array[Double], b: Array[Double]): Double = {
      var sa = 0.0; var sb = 0.0; var saa = 0.0; var sbb = 0.0; var sab = 0.0
      var t = 0
      while (t < a.length) {
        sa += a(t); sb += b(t); saa += a(t) * a(t); sbb += b(t) * b(t); sab += a(t) * b(t)
        t += 1
      }
      val nn = a.length.toDouble
      val cov = sab / nn - (sa / nn) * (sb / nn)
      val den = math.sqrt(math.max(0.0, saa / nn - (sa / nn) * (sa / nn))) *
        math.sqrt(math.max(0.0, sbb / nn - (sb / nn) * (sb / nn)))
      if (den == 0.0) Double.NaN else cov / den
    }

    val pos = featureCols.zipWithIndex.toMap
    var goodCols = consolidate(selectedLists, featureCols, keep) { selected =>
      (i, j) => pearson(x(pos(selected(i))), x(pos(selected(j))))
    }
    // final noise filtering on the full rows
    if (goodCols.nonEmpty) {
      val useShuffled = n > 50 && goodCols.size > 1
      val nGauss = math.max(3, goodCols.size / 2)
      val shufRnd = new scala.util.Random(cfg.seed * 977 + 5)
      val gaussRnd = new scala.util.Random(cfg.seed * 677)
      val cols = Array.newBuilder[Array[Double]]
      goodCols.foreach(c => cols += x(pos(c)))
      if (useShuffled) goodCols.foreach { c =>
        cols += shufRnd.shuffle(x(pos(c)).toVector).toArray
      }
      (0 until nGauss).foreach(_ => cols += Array.fill(n)(gaussRnd.nextGaussian()))
      val rg = denseRg(cols.result(), goodCols.size, useShuffled, nGauss, y, w)
      goodCols = noiseFilter(rg, goodCols.indices).map(goodCols)
    }
    keep ++ goodCols.filterNot(keep.contains)
  }
}
