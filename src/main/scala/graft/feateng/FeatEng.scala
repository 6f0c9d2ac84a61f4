package graft.feateng

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.expr.{F, FExpr, Var}

/** Spark-native port of the reference's feature-synthesis engine
  * (feateng.py:96-416 `engineer_features`): alternating waves of unary
  * transforms and pairwise combinations with data-dependent guards,
  * finite/variance/parent-correlation acceptance filters, symbolic dedup by
  * canonical name, and final structural pruning.
  *
  * Physical shape per wave: (a) ONE `DetReduce` pass computing the guards
  * (min/max/zero-count/≤2-distinct) for every input feature, (b) one wide
  * `select` materializing the candidate columns as float32 (whole-stage
  * codegen; shuffle-free), (c) ONE `DetReduce` pass computing the
  * finite/variance/corr acceptance stats for every candidate; (b) and (c)
  * repeat per batch of at most `WaveBatch` candidates. All planning
  * decisions happen on the driver. At 10^12-row scale this runs on the
  * admission-controlled subsample (autofeat.py:321-344); only the winning
  * features are ever evaluated on the full table.
  *
  * Features are stored as float32 columns (feateng.py:145) so transform
  * chains see float32-rounded parents like the reference does.
  */
final case class FeatEngConfig(
    maxSteps: Int = 2,
    transformations: Seq[String] = FeatEng.defaultTransformations,
    /** Per-start-column dimensions (reference `units=`, feateng.py:115-118):
      * when non-empty, dimensionally-illegal transforms/combinations are
      * vetoed before entering the pool (feateng.py:245-250, 314-319).
      * Missing columns are dimensionless.
      */
    units: Map[String, graft.units.Dim] = Map.empty
)

final case class EngineeredFrame(
    df: DataFrame,
    /** All output columns in order: originals then surviving new features. */
    columns: Seq[String],
    /** Filtered feature pool: start symbols + surviving formulas. */
    pool: Map[String, FExpr],
    /** Surviving engineered (non-original) column names, in df order. */
    newCols: Seq[String]
)

object FeatEng {
  val defaultTransformations: Seq[String] = Seq("1/", "exp", "log", "abs", "sqrt", "^2", "^3")

  /** Max candidate columns materialized per wave frame: bounds plan width,
    * codegen size, and cache footprint for wide steps.
    */
  private val WaveBatch = 1500

  private def q(c: String): Column = col(s"`${c.replace("`", "``")}`")

  /** Per-feature guard statistics (one `DetReduce` pass per wave). */
  private final case class GStats(min: Double, max: Double, zeros: Long, le2distinct: Boolean)

  /** Guard predicates (feateng.py:194-208), evaluated on driver from GStats. */
  private def guardOk(ft: String, s: GStats): Boolean = ft match {
    case "exp"  => s.max < 10
    case "exp-" => -s.min < 10
    case "log"  => s.min >= 0
    case "abs"  => s.min < 0 // any(x<0), else |x| is a no-op
    case "sqrt" => s.min >= 0
    case "sin" | "cos" | "1+" | "1-" => true
    case "2^"   => s.max < 50
    case "^2"   => math.max(math.abs(s.min), math.abs(s.max)) < 1e6
    case "^3"   => math.max(math.abs(s.min), math.abs(s.max)) < 1e4
    case "1/"   => s.zeros == 0
    case other  => throw new IllegalArgumentException(s"unknown transformation $other")
  }

  /** Column-level evaluation of a transform on the (float32) parent column —
    * mirrors the numba kernels applied to the parent's stored values.
    */
  private def transformCol(ft: String, c: Column): Column = {
    val d = c.cast("double")
    ft match {
      case "1/"   => lit(1.0) / d
      case "exp"  => exp(d)
      case "exp-" => exp(-d)
      case "log"  => log(d)
      case "abs"  => abs(d)
      case "sqrt" => sqrt(d)
      case "sin"  => sin(d)
      case "cos"  => cos(d)
      case "2^"   => pow(lit(2.0), d)
      case "^2"   => d * d
      case "^3"   => d * d * d
      case "1+"   => lit(1.0) + d
      case "1-"   => lit(1.0) - d
    }
  }

  private def combineCol(fc: String, a: Column, b: Column): Column = {
    val (x, y) = (a.cast("double"), b.cast("double"))
    fc match {
      case "x+y" => x + y
      case "x*y" => x * y
      case "x-y" => x - y
      case "y-x" => y - x
    }
  }

  /** Wave acceptance-statistics accumulator. Top-level on purpose: an inner
    * class would capture the enclosing scope (frames, pools) in `$outer`
    * and ship it with every task result.
    */
  private[feateng] final class WaveAcc(nP: Int, nC: Int, nCross: Int) extends Serializable {
    val pSum = new Array[Double](nP)
    val pSumSq = new Array[Double](nP)
    val bad = new Array[Long](nC)
    val cSum = new Array[Double](nC)
    val cSumSq = new Array[Double](nC)
    val cross = new Array[Double](nCross)
    def merge(o: WaveAcc): WaveAcc = {
      var i = 0
      while (i < nP) { pSum(i) += o.pSum(i); pSumSq(i) += o.pSumSq(i); i += 1 }
      i = 0
      while (i < nC) { bad(i) += o.bad(i); cSum(i) += o.cSum(i); cSumSq(i) += o.cSumSq(i); i += 1 }
      i = 0
      while (i < nCross) { cross(i) += o.cross(i); i += 1 }
      this
    }
  }
}

final class FeatEng(cfg: FeatEngConfig = FeatEngConfig()) {
  import FeatEng._

  /** Candidate acceptance stats: finite violations, Σx, Σx², Σ(x·parent_i). */
  private final case class CandStats(bad: Long, sum: Double, sumSq: Double, cross: Seq[Double])

  /** Runs the full synthesis. `df` must contain `startCols` as numeric
    * columns and only finite values in them (fit-path contract).
    */
  def engineerFeatures(dfIn: DataFrame, startCols: Seq[String],
                       passThrough: Seq[String] = Nil): EngineeredFrame = {
    require(startCols.nonEmpty, "no start features")
    val pool = mutable.LinkedHashMap[String, FExpr]()
    startCols.zipWithIndex.foreach { case (c, i) => pool(c) = Var(F.colToSymbol(c, i)) }
    // dimensional bookkeeping (only when units are given)
    val useUnits = cfg.units.nonEmpty
    val unitOf = mutable.HashMap[String, graft.units.Dim]()
    if (useUnits) startCols.foreach(c => unitOf(c) = cfg.units.getOrElse(c, graft.units.Dim.none))
    // symbol name -> column name for parent lookups
    val symToCol = mutable.HashMap[String, String]()
    startCols.zipWithIndex.foreach { case (c, i) => symToCol(F.colToSymbol(c, i)) = c }

    if (cfg.maxSteps < 1) {
      val out = dfIn.select((startCols ++ passThrough).map(q): _*)
      return EngineeredFrame(out, startCols, pool.toMap, Nil)
    }

    // working frame: float32 feature columns named by canonical formula name
    // (+ untouched pass-through columns, e.g. the target or entity keys)
    var df = dfIn.select(startCols.map(c => q(c).cast("float").as(c)) ++ passThrough.map(q): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    var dfCols: Vector[String] = startCols.toVector
    val uncorr = mutable.HashSet[String](startCols: _*)
    val nRows = df.count()

    /** exprName for a pool entry keyed by column name. */
    def nameOf(expr: FExpr): String = expr.name

    // ---------------------------------------------------------- guards
    // ONE single-pass DetReduce RDD job — NOT chunked SQL aggregates:
    // hundreds of aggregate expressions per job cost seconds of driver
    // analysis/codegen each, and a wave needs stats for thousands of
    // features. The pass tracks min/max/zeros AND up to 3 distinct non-NaN
    // values per column (plus a NaN-seen flag), which subsumes the former
    // second "exact <=2-distinct given min/max" pass: <=2-distinct holds
    // iff no NaN was seen and fewer than 3 distinct values exist — NaN
    // counted as always-distinct, exactly as the old pass's v != min &&
    // v != max test treated it (halves the per-wave guard scan jobs).
    def guardStats(feats: Seq[String]): Map[String, GStats] = {
      val k = feats.size
      // InternalRow pass (toRdd, not .rdd): no per-field boxing — see
      // Gram.compute. Values are consumed immediately per row.
      val proj = df.select(feats.map(c => q(c).cast("double")): _*)
      type Buf = (Array[Double], Array[Double], Array[Long], Array[Array[Double]], Array[Int], Array[Boolean])
      // function VALUE, not a local def: a lifted local def becomes a method
      // on the enclosing class and its closure ships `this` per task (the
      // $outer-capture hazard); a capture-free lambda serializes alone
      val insertDistinct: (Array[Double], Int, Double) => Int = (d, nd, v) => {
        var j = 0
        var seen = false
        while (j < nd && !seen) { if (d(j) == v) seen = true; j += 1 }
        if (seen || nd >= 3) nd else { d(nd) = v; nd + 1 }
      }
      val statsBuffers = proj.queryExecution.toRdd.mapPartitions { rows =>
        val mn = Array.fill(k)(Double.PositiveInfinity)
        val mx = Array.fill(k)(Double.NegativeInfinity)
        val z = new Array[Long](k)
        val d = Array.ofDim[Double](k, 3)
        val nd = new Array[Int](k)
        val nan = new Array[Boolean](k)
        rows.foreach { r =>
          var i = 0
          while (i < k) {
            if (!r.isNullAt(i)) {
              val v = r.getDouble(i)
              if (v < mn(i)) mn(i) = v
              if (v > mx(i)) mx(i) = v
              if (v == 0.0) z(i) += 1
              if (v.isNaN) nan(i) = true
              else nd(i) = insertDistinct(d(i), nd(i), v)
            }
            i += 1
          }
        }
        Iterator.single((mn, mx, z, d, nd, nan))
      }
      // ordered merge (not treeReduce): deterministic combine order — see
      // graft.stats.DetReduce (these stats are order-insensitive, but the
      // uniform policy keeps every reduction reproducible)
      val (mns, mxs, zs, _, nds, nans) = graft.stats.DetReduce.orderedReduce[Buf](
        statsBuffers,
        { case ((a1, b1, c1, d1, n1, f1), (a2, b2, c2, d2, n2, f2)) =>
          var i = 0
          while (i < k) {
            if (a2(i) < a1(i)) a1(i) = a2(i)
            if (b2(i) > b1(i)) b1(i) = b2(i)
            c1(i) += c2(i)
            var j = 0
            while (j < n2(i)) { n1(i) = insertDistinct(d1(i), n1(i), d2(i)(j)); j += 1 }
            f1(i) ||= f2(i)
            i += 1
          }
          (a1, b1, c1, d1, n1, f1)
        },
        (Array.fill(k)(Double.PositiveInfinity), Array.fill(k)(Double.NegativeInfinity),
          new Array[Long](k), Array.ofDim[Double](k, 3), new Array[Int](k), new Array[Boolean](k)))
      feats.zipWithIndex.map { case (c, i) =>
        c -> GStats(mns(i), mxs(i), zs(i), !nans(i) && nds(i) <= 2)
      }.toMap
    }

    // ------------------------------------------ candidate acceptance pass
    /** Evaluate candidate columns on top of the current frame, compute
      * acceptance stats, and return accepted (name -> uncorrFlag) in order.
      * Each candidate: (name, column, parents).
      */
    def acceptWave(all: Seq[(String, Column, Seq[String])]): Seq[(String, Boolean)] =
      all.grouped(WaveBatch).toSeq.flatMap(acceptBatch)

    def acceptBatch(cands: Seq[(String, Column, Seq[String])]): Seq[(String, Boolean)] = {
      if (cands.isEmpty) return Nil
      val waveDf = df.select(dfCols.map(q) ++ passThrough.map(q) ++
        cands.map { case (n, c, _) => c.cast("float").as(n) }: _*)
        .persist(StorageLevel.MEMORY_AND_DISK)
      // Acceptance stats in ONE DetReduce pass over the materialized wave
      // frame: parent moments + per-candidate (bad, Σx, Σx², Σx·parent).
      // A chunked-SQL-aggregate formulation costs seconds of driver
      // analysis/codegen per ~100 candidates; this is a single job however
      // wide the wave is.
      val parents = cands.flatMap(_._3).distinct
      val pIdx = parents.zipWithIndex.toMap
      val nP = parents.size
      val nC = cands.size
      // flattened cross-sum layout: candidate i's parents at crossOff(i)
      val parentsOf: Array[Array[Int]] = cands.map(_._3.map(pIdx).toArray).toArray
      val crossOff = new Array[Int](nC)
      var coAcc = 0
      cands.indices.foreach { i => crossOff(i) = coAcc; coAcc += parentsOf(i).length }
      val nCross = coAcc
      val proj = waveDf.select((parents ++ cands.map(_._1)).map(c => q(c).cast("double")): _*)
      val accBuffers = proj.queryExecution.toRdd.mapPartitions { rows =>
        val a = new WaveAcc(nP, nC, nCross)
        val pv = new Array[Double](nP)
        rows.foreach { r =>
          var i = 0
          while (i < nP) {
            val v = if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
            pv(i) = v
            a.pSum(i) += v
            a.pSumSq(i) += v * v
            i += 1
          }
          var j = 0
          while (j < nC) {
            val isNull = r.isNullAt(nP + j)
            val v = if (isNull) Double.NaN else r.getDouble(nP + j)
            if (isNull || v.isNaN || v.isInfinite) a.bad(j) += 1
            else {
              a.cSum(j) += v
              a.cSumSq(j) += v * v
              val ps = parentsOf(j)
              var t = 0
              while (t < ps.length) {
                a.cross(crossOff(j) + t) += v * pv(ps(t))
                t += 1
              }
            }
            j += 1
          }
        }
        Iterator.single(a)
      }
      // ordered merge: acceptance thresholds (var/corr cutoffs) sit exactly
      // at FP epsilon for near-constant candidates — combine order must not
      // depend on task completion
      val acc = graft.stats.DetReduce.orderedReduce[WaveAcc](accBuffers,
        (x, y) => x.merge(y), new WaveAcc(nP, nC, nCross))
      val pStats = mutable.HashMap[String, (Double, Double)]() // mean, stdPop
      parents.zipWithIndex.foreach { case (p, i) =>
        val m = acc.pSum(i) / nRows
        pStats(p) = (m, math.sqrt(math.max(0.0, acc.pSumSq(i) / nRows - m * m)))
      }
      val stats = mutable.HashMap[String, CandStats]()
      cands.zipWithIndex.foreach { case ((n, _, ps), j) =>
        val cross = ps.indices.map(t => acc.cross(crossOff(j) + t))
        stats(n) = CandStats(acc.bad(j), acc.cSum(j), acc.cSumSq(j), cross)
      }
      val accepted = cands.flatMap { case (n, _, ps) =>
        val st = stats(n)
        if (st.bad > 0) None
        else {
          val mean = st.sum / nRows
          val varPop = st.sumSq / nRows - mean * mean
          if (!(varPop > 1e-10)) None
          else {
            val corrs = ps.zip(st.cross).map { case (p, sxy) =>
              val (pm, psd) = pStats(p)
              val cov = sxy / nRows - mean * pm
              val den = math.sqrt(math.max(0.0, varPop)) * psd
              if (den == 0.0) Double.NaN else math.abs(cov / den)
            }
            val maxCorr = if (corrs.isEmpty) 0.0 else corrs.max
            // NaN correlation rejects, like the reference's `corr < 1.0`
            if (!maxCorr.isNaN && maxCorr < 1.0) Some((n, maxCorr < 0.95)) else None
          }
        }
      }
      // materialize accepted, drop rejected
      val keep = accepted.map(_._1)
      val newDf = waveDf.select((dfCols ++ keep ++ passThrough).map(q): _*).persist(StorageLevel.MEMORY_AND_DISK)
      newDf.count() // materialize before dropping the parent cache
      df.unpersist()
      waveDf.unpersist()
      df = newDf
      dfCols = dfCols ++ keep
      accepted
    }

    // ------------------------------------------------- transform wave
    def applyTransformations(featuresList: Seq[String]): Seq[String] = {
      if (featuresList.isEmpty) return Nil
      val gs = guardStats(featuresList)
      val cands = mutable.ArrayBuffer[(String, Column, Seq[String])]()
      featuresList.foreach { feat =>
        val s = gs(feat)
        if (!s.le2distinct) { // skip "categorical" (<=2 distinct) features
          cfg.transformations.foreach { ft =>
            if (guardOk(ft, s)) {
              val expr = F.unaryTransforms(ft)(pool(feat))
              val name = nameOf(expr)
              if (!pool.contains(name)) {
                // dimensional veto (feateng.py:245-250): illegal op -> skip
                val u = if (useUnits) graft.units.Units.transformUnit(ft, unitOf(feat))
                        else Some(graft.units.Dim.none)
                u match {
                  case None => ()
                  case Some(d) =>
                    if (useUnits) unitOf(name) = d
                    pool(name) = expr // pool grows even if acceptance later fails
                    cands += ((name, transformCol(ft, q(feat)), Seq(feat)))
                }
              }
            }
          }
        }
      }
      val accepted = acceptWave(cands.toSeq)
      accepted.foreach { case (n, u) => if (u) uncorr += n }
      accepted.map(_._1)
    }

    // ----------------------------------------------- combination wave
    def featureCombinations(tuples: Seq[(String, String)], isLastStep: Boolean): Seq[String] = {
      if (tuples.isEmpty) return Nil
      // only x*y on the final step: additive roots get pruned anyway
      val combos = if (isLastStep) Seq("x*y") else Seq("x+y", "x*y", "x-y", "y-x")
      val cands = mutable.ArrayBuffer[(String, Column, Seq[String])]()
      tuples.foreach { case (f1, f2) =>
        combos.foreach { fc =>
          val expr = F.binaryCombiners(fc)(pool(f1), pool(f2))
          val name = nameOf(expr)
          if (!pool.contains(name)) {
            // dimensional veto (feateng.py:314-319): x+y/x-y need equal dims
            val u = if (useUnits) graft.units.Units.combineUnit(fc, unitOf(f1), unitOf(f2))
                    else Some(graft.units.Dim.none)
            u match {
              case None => ()
              case Some(d) =>
                if (useUnits) unitOf(name) = d
                pool(name) = expr
                cands += ((name, combineCol(fc, q(f1), q(f2)), Seq(f1, f2)))
            }
          }
        }
      }
      val accepted = acceptWave(cands.toSeq)
      accepted.foreach { case (n, u) => if (u) uncorr += n }
      accepted.map(_._1)
    }

    // --------------------------------------------------- main loop
    // (feateng.py:341-383)
    var steps = 1
    var originalFeatures: Vector[String] = pool.keys.toVector
    originalFeatures = originalFeatures ++ applyTransformations(originalFeatures)
    steps += 1
    var newFeatures: Vector[String] = Vector()
    var newNewFeatures: Vector[String] = Vector()
    if (steps <= cfg.maxSteps) {
      val pairs = for {
        i <- originalFeatures.indices
        j <- (i + 1) until originalFeatures.size
      } yield (originalFeatures(i), originalFeatures(j))
      newFeatures = featureCombinations(pairs, steps == cfg.maxSteps).toVector
      steps += 1
    }
    while (steps <= cfg.maxSteps) {
      newFeatures = newFeatures ++ applyTransformations(newFeatures)
      steps += 1
      if (steps <= cfg.maxSteps) {
        val pairs = for (o <- originalFeatures; n <- newFeatures) yield (o, n)
        newNewFeatures = featureCombinations(pairs, steps == cfg.maxSteps).toVector
        steps += 1
      }
      if (steps <= cfg.maxSteps) {
        val pairs = for {
          i <- newFeatures.indices
          j <- (i + 1) until newFeatures.size
        } yield (newFeatures(i), newFeatures(j))
        newNewFeatures = newNewFeatures ++ featureCombinations(pairs, steps == cfg.maxSteps)
        steps += 1
        originalFeatures = originalFeatures ++ newFeatures
        newFeatures = newNewFeatures
        newNewFeatures = Vector()
      }
    }

    // --------------------------------- final structural pruning (385-416)
    val filteredPool = pool.filter { case (n, e) => uncorr.contains(n) && !e.isAddRooted }
    var cols = dfCols.filter(c => filteredPool.contains(c) && !startCols.contains(c))
    if (cols.nonEmpty) {
      // correlation vs START features: |corr| >= 0.9 drops the new feature
      val cg = graft.stats.CrossGram.compute(df, cols, startCols)
      cols = cols.zipWithIndex.filter { case (_, i) =>
        val m = (0 until startCols.size).map(j => math.abs(cg.corr(i, j))).max
        m < 0.9 // NaN drops, matching the reference's `corrs[c] < 0.9`
      }.map(_._1)
    }
    val outCols = startCols.toVector ++ cols
    val out = df.select((outCols ++ passThrough).map(q): _*)
    EngineeredFrame(out, outCols, filteredPool.toMap, cols)
  }
}
