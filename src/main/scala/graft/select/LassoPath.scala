package graft.select

/** Cross-validated L1 fit over a column subset — implemented by the
  * distributed-Gram solvers ([[GramLasso]], [[GramLars]]; FeatSel's d <= 480
  * regime) and the dense driver solver ([[DenseLasso]]; its d > 480
  * regime); the selection control flow is solver-agnostic.
  */
trait CvLasso {
  def cvFit(idx: Array[Int]): LassoFit
}

final case class LassoFit(coef: Array[Double], intercept: Double, alpha: Double)

/** The one cross-validated coordinate-descent Lasso behind [[GramLasso]]
  * and [[DenseLasso]]: a 60-point geometric λ grid from λ_max down to
  * 1e-3·λ_max, a warm-started CD path per fold (folds in parallel threads)
  * cut once the active set passes a LARS-style cap, the mean held-out MSE
  * argmin, and a warm refit on all rows at the winning λ.
  *
  * The two solvers differ only in how a coordinate reads and moves its
  * correlation — glmnet's "covariance" (maintained ρ = c − Gβ over a Gram)
  * and "naive" (a residual r over the rows) update forms of one algorithm
  * (Friedman, Hastie & Tibshirani, JSS 2010). Each supplies that as a
  * [[LassoPath.View]] per problem (full data or one fold's training rows).
  */
private[select] object LassoPath {

  private final val NAlphas = 60
  private final val Eps = 1e-3
  private final val MaxActive = 300

  /** One centered L1 quadratic ½βᵀGβ − cᵀβ + λ|β|₁ as coordinate descent
    * sees it. `corr(j)` is the current residual correlation c_j − (Gβ)_j;
    * `shift(j, diff)` records that β_j moved by `diff`.
    */
  trait View {
    def norm(j: Int): Double
    def corr(j: Int): Double
    def shift(j: Int, diff: Double): Unit
    /** Held-out MSE of β with the intercept from this view's means. */
    def mse(beta: Array[Double]): Double
    def intercept(beta: Array[Double]): Double
  }

  /** Path cut: min(n − 1, d) bounded by 300, like LassoLarsCV — solutions
    * denser than that are never CV-optimal in this pipeline and dominate
    * the path cost.
    */
  def activeCap(n: Long, d: Int): Int = math.min(math.min(n - 1, d.toLong), MaxActive.toLong).toInt

  /** Coordinate descent at one λ, warm-started from `beta`.
    *
    * Active-set strategy: converge on the current active set, then scan all
    * coordinates once for KKT violations; repeat until none. With warm
    * starts along the λ path the active set stays small, so a d≈1500 fit
    * is ~ms, not minutes.
    */
  private def cd(v: View, lambda: Double, beta: Array[Double],
                 maxIter: Int = 200, tol: Double = 1e-6): Unit = {
    val d = beta.length
    val active = new java.util.BitSet(d)
    var j = 0
    while (j < d) { if (beta(j) != 0.0) active.set(j); j += 1 }

    def updateCoord(j: Int): Double = {
      val gjj = v.norm(j)
      if (gjj <= 0) return 0.0
      val rhoJ = v.corr(j) + gjj * beta(j) // partial residual incl. own term
      val bNew =
        if (rhoJ > lambda) (rhoJ - lambda) / gjj
        else if (rhoJ < -lambda) (rhoJ + lambda) / gjj
        else 0.0
      val diff = bNew - beta(j)
      if (diff != 0.0) {
        v.shift(j, diff)
        beta(j) = bNew
      }
      math.abs(diff) * math.sqrt(gjj)
    }

    var outer = 0
    var done = false
    while (!done && outer < 100) {
      outer += 1
      // converge on the active set
      var it = 0
      var maxDelta = Double.MaxValue
      while (it < maxIter && maxDelta > tol) {
        maxDelta = 0.0
        var jj = active.nextSetBit(0)
        while (jj >= 0) {
          val delta = updateCoord(jj)
          if (delta > maxDelta) maxDelta = delta
          if (beta(jj) == 0.0) active.clear(jj)
          jj = active.nextSetBit(jj + 1)
        }
        it += 1
      }
      // KKT scan over inactive coordinates
      done = true
      j = 0
      while (j < d) {
        if (beta(j) == 0.0 && math.abs(v.corr(j)) > lambda + 1e-12) {
          active.set(j)
          done = false
        }
        j += 1
      }
    }
  }

  /** Index of the candidate with the lowest mean held-out MSE (NaN folds
    * skipped); a later candidate wins only when lower by more than 1e-15.
    * -1 when no candidate has a usable fold.
    */
  def argminMse(nCand: Int)(foldMses: Int => Seq[Double]): Int = {
    var best = -1
    var bestMse = Double.MaxValue
    var a = 0
    while (a < nCand) {
      val ms = foldMses(a).filter(!_.isNaN)
      if (ms.nonEmpty) {
        val m = ms.sum / ms.size
        if (m < bestMse - 1e-15) { bestMse = m; best = a }
      }
      a += 1
    }
    best
  }

  /** CV fit of a `d`-column problem over `n` rows and `k` folds. `full` is
    * the problem on all rows (its λ_max sets the grid; the refit runs on
    * it); `fold(f)` is fold f's training problem holding out fold f, or
    * None when the fold cannot be scored. Views are built on the fold's own
    * thread.
    */
  def cvFit(d: Int, n: Long, k: Int, full: => View, fold: Int => Option[View]): LassoFit = {
    require(d > 0, "empty column subset")
    val cap = activeCap(n, d)
    val all = full
    val alphaMax = math.max(Array.tabulate(d)(j => math.abs(all.corr(j))).max, 1e-12)
    val alphas = (0 until NAlphas).map(i => alphaMax * math.pow(Eps, i.toDouble / (NAlphas - 1))).toArray
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val perFold: Seq[(Array[Double], Int)] = Await.result(Future.traverse((0 until k).toList) { f =>
      Future {
        fold(f) match {
          case Some(v) =>
            val beta = new Array[Double](d)
            val mse = new Array[Double](NAlphas)
            var truncAt = NAlphas
            var a = 0
            while (a < NAlphas && truncAt == NAlphas) {
              cd(v, alphas(a), beta)
              if (beta.count(_ != 0.0) > cap) truncAt = a
              else { mse(a) = v.mse(beta); a += 1 }
            }
            (mse, truncAt)
          case None => (Array.fill(NAlphas)(Double.NaN), NAlphas)
        }
      }
    }, Duration.Inf)
    val usable = math.max(perFold.map(_._2).min, 1)
    val best = math.max(argminMse(usable)(a => perFold.map(_._1(a))), 0)
    // refit on all rows at the selected λ (warm path down for stability)
    val beta = new Array[Double](d)
    var a = 0
    while (a <= best) { cd(all, alphas(a), beta); a += 1 }
    LassoFit(beta, all.intercept(beta), alphas(best))
  }
}
