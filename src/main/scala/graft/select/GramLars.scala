package graft.select

import graft.stats.Gram

/** Shared driver-side sufficient-statistic math for the Gram solvers
  * (coordinate descent and LARS): centering, fold subtraction, held-out MSE.
  */
private[select] object GramOps {

  /** Centered (G = XᵀX/n − μμᵀ, c = Xᵀy/n − μy·μx, μ, μy) over `idx`. */
  def centered(g: Gram, idx: Array[Int]): (Array[Array[Double]], Array[Double], Array[Double], Double) = {
    val d = idx.length
    val nn = g.sw // weight sum (== row count for unweighted Grams)
    val mu = idx.map(i => g.sx(i) / nn)
    val muY = g.sy / nn
    val gm = Array.ofDim[Double](d, d)
    val c = new Array[Double](d)
    var i = 0
    while (i < d) {
      c(i) = g.sxy(idx(i)) / nn - mu(i) * muY
      var j = 0
      while (j < d) {
        gm(i)(j) = g.xx(idx(i), idx(j)) / nn - mu(i) * mu(j)
        j += 1
      }
      i += 1
    }
    (gm, c, mu, muY)
  }

  def minus(a: Gram, b: Gram): Gram = {
    val g = new Gram(a.d)
    g.n = a.n - b.n
    g.sw = a.sw - b.sw
    var i = 0
    while (i < a.d) { g.sx(i) = a.sx(i) - b.sx(i); g.sxy(i) = a.sxy(i) - b.sxy(i); i += 1 }
    i = 0
    while (i < a.sxx.length) { g.sxx(i) = a.sxx(i) - b.sxx(i); i += 1 }
    g.sy = a.sy - b.sy; g.syy = a.syy - b.syy
    g
  }

  /** Held-out MSE of (beta, intercept over train means) on fold Gram.
    * Loops run over the ACTIVE (nonzero-beta) coordinates only — lasso
    * solutions are sparse, and the LARS CV evaluates this at every knot of
    * every fold's path, so the dense d² quadratic form would dominate the
    * whole selection; zero terms contribute nothing either way.
    */
  def foldMse(fold: Gram, idx: Array[Int], beta: Array[Double],
              muTrain: Array[Double], muYTrain: Double): Double = {
    val nf = fold.sw
    if (nf <= 0) return Double.NaN
    val b0 = muYTrain - dot(muTrain, beta)
    val act = Array.newBuilder[Int]
    var t = 0
    while (t < beta.length) { if (beta(t) != 0.0) act += t; t += 1 }
    val a = act.result()
    var quad = 0.0
    var i = 0
    while (i < a.length) {
      var j = 0
      while (j < a.length) { quad += beta(a(i)) * beta(a(j)) * fold.xx(idx(a(i)), idx(a(j))); j += 1 }
      i += 1
    }
    var lin = 0.0
    var sxb = 0.0
    i = 0
    while (i < a.length) { lin += beta(a(i)) * fold.sxy(idx(a(i))); sxb += beta(a(i)) * fold.sx(idx(a(i))); i += 1 }
    (fold.syy - 2.0 * lin + quad - 2.0 * b0 * fold.sy + 2.0 * b0 * sxb + nf * b0 * b0) / nf
  }

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Cholesky solve A x = b for symmetric positive-definite A (small d). */
  def cholSolve(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val d = b.length
    val l = Array.ofDim[Double](d, d)
    var i = 0
    while (i < d) {
      var j = 0
      while (j <= i) {
        var s = a(i)(j)
        var k = 0
        while (k < j) { s -= l(i)(k) * l(j)(k); k += 1 }
        if (i == j) l(i)(i) = math.sqrt(math.max(s, 1e-12))
        else l(i)(j) = s / l(j)(j)
        j += 1
      }
      i += 1
    }
    val y = new Array[Double](d)
    i = 0
    while (i < d) {
      var s = b(i)
      var k = 0
      while (k < i) { s -= l(i)(k) * y(k); k += 1 }
      y(i) = s / l(i)(i)
      i += 1
    }
    val x = new Array[Double](d)
    i = d - 1
    while (i >= 0) {
      var s = y(i)
      var k = i + 1
      while (k < d) { s -= l(k)(i) * x(k); k += 1 }
      x(i) = s / l(i)(i)
      i -= 1
    }
    x
  }
}

/** Exact LARS-with-lasso-modification path solver on pre-aggregated per-fold
  * Grams — the path-exact counterpart of the reference's `LassoLarsCV`
  * (featsel.py:66,110,147; sklearn LassoLarsCV), selectable via
  * `FeatSel.Config(solver = "lars")` (SURVEY §7.4.2's promised mitigation
  * for coordinate-descent set drift).
  *
  * The homotopy needs only centered sufficient statistics: on the active set
  * A with boundary signs s, β_A(λ) = G_AA⁻¹(c_A − λ s_A) is LINEAR in λ, so
  * the path is walked knot-to-knot — the next knot is the largest λ below
  * the current one at which an inactive correlation hits ±λ (entry) or an
  * active coefficient crosses 0 (drop). Cross-validation mirrors sklearn
  * LarsCV: per-fold paths, fold MSE evaluated on the union of all folds'
  * knot λs (β interpolates exactly — it is piecewise linear), mean-MSE
  * argmin, then one full-data path refit read off at the winning λ.
  *
  * Driver-side O(steps · |A|³) on the post-pruning column subset; the
  * distributed cost is identical to GramLasso (the same one Gram pass).
  */
final class GramLars(folds: Array[Gram]) extends CvLasso {
  private val k = folds.length
  private val total: Gram = Gram.total(folds)

  /** One LARS-lasso path: knots (λ, β) from λmax down to `alphaMin` or the
    * active-set cap. β arrays are defensive copies per knot.
    */
  private[select] def larsPath(gm: Array[Array[Double]], c: Array[Double],
                               activeCap: Int, alphaMin: Double): IndexedSeq[(Double, Array[Double])] = {
    val d = c.length
    val knots = Vector.newBuilder[(Double, Array[Double])]
    val beta = new Array[Double](d)
    var lam = 0.0
    var j0 = -1
    var j = 0
    while (j < d) { if (math.abs(c(j)) > lam) { lam = math.abs(c(j)); j0 = j }; j += 1 }
    knots += ((lam, beta.clone))
    if (j0 < 0 || lam <= alphaMin) return knots.result()
    val active = scala.collection.mutable.ArrayBuffer[Int](j0)
    val sign = scala.collection.mutable.ArrayBuffer[Double](math.signum(c(j0)))
    var steps = 0
    val maxSteps = 8 * math.min(d, activeCap) + 16 // drop/re-entry slack
    var done = false
    while (!done && steps < maxSteps) {
      steps += 1
      val a = active.size
      // direction w = G_AA^-1 s_A ; β_A(λk − γ) = β_A + γ w
      val gAA = Array.tabulate(a, a)((i, jj) => gm(active(i))(active(jj)))
      val w = GramOps.cholSolve(gAA, sign.toArray)
      // inactive correlations: ck_j = c_j − G_jA β_A ; slope a_j = G_jA w
      var gammaBest = lam - math.max(alphaMin, 0.0) // cap: walk to alphaMin
      var event = -1 // -1 = reach alphaMin; >=0 entry of j; -2-i drop of active i
      j = 0
      while (j < d) {
        if (!active.contains(j)) {
          var ck = c(j)
          var aj = 0.0
          var i = 0
          while (i < a) { ck -= gm(j)(active(i)) * beta(active(i)); aj += gm(j)(active(i)) * w(i); i += 1 }
          // entry when ck − γ·aj = ±(λ − γ)
          val g1 = (lam - ck) / (1.0 - aj)
          val g2 = (lam + ck) / (1.0 + aj)
          if (g1 > 1e-12 && g1 < gammaBest) { gammaBest = g1; event = j }
          if (g2 > 1e-12 && g2 < gammaBest) { gammaBest = g2; event = j }
        }
        j += 1
      }
      // lasso modification: active coefficient hitting zero drops out
      var i = 0
      while (i < a) {
        if (w(i) != 0.0) {
          val g = -beta(active(i)) / w(i)
          if (g > 1e-12 && g < gammaBest) { gammaBest = g; event = -2 - i }
        }
        i += 1
      }
      // advance
      i = 0
      while (i < a) { beta(active(i)) += gammaBest * w(i); i += 1 }
      lam -= gammaBest
      if (event >= 0) {
        // sign = side of the boundary the correlation hit
        var ck = c(event)
        i = 0
        while (i < a) { ck -= gm(event)(active(i)) * beta(active(i)); i += 1 }
        active += event
        sign += math.signum(ck)
      } else if (event <= -2) {
        val drop = -2 - event
        beta(active(drop)) = 0.0 // exact zero at the knot
        active.remove(drop)
        sign.remove(drop)
      } else done = true
      knots += ((lam, beta.clone))
      if (active.size > activeCap || lam <= alphaMin + 1e-15 || active.isEmpty) done = true
    }
    knots.result()
  }

  /** β at λ by exact interpolation between bracketing knots (β is piecewise
    * linear in λ); clamped to the path's endpoints like np.interp.
    */
  private def betaAt(path: IndexedSeq[(Double, Array[Double])], alpha: Double): Array[Double] = {
    if (alpha >= path.head._1) return path.head._2
    if (alpha <= path.last._1) return path.last._2
    var i = 1
    while (i < path.size && path(i)._1 > alpha) i += 1
    val (l1, b1) = path(i - 1)
    val (l2, b2) = path(i)
    val t = if (l1 == l2) 0.0 else (l1 - alpha) / (l1 - l2)
    Array.tabulate(b1.length)(j => b1(j) + t * (b2(j) - b1(j)))
  }

  override def cvFit(idx: Array[Int]): LassoFit = {
    val d = idx.length
    require(d > 0, "empty column subset")
    val activeCap = LassoPath.activeCap(total.n, d)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val perFold = Await.result(Future.traverse((0 until k).toList) { f =>
      Future {
        val fold = folds(f)
        if (fold.n > 0 && total.n - fold.n > 1) {
          val train = GramOps.minus(total, fold)
          val (gm, c, mu, muY) = GramOps.centered(train, idx)
          Some((larsPath(gm, c, activeCap, 0.0), fold, mu, muY))
        } else None
      }
    }, Duration.Inf)
    val paths = perFold.flatten
    // union of every fold's knot λs (sklearn LarsCV's all_alphas)
    val alphas = paths.flatMap(_._1.map(_._1)).distinct.sorted(Ordering.Double.TotalOrdering.reverse).toArray
    val bestAt = LassoPath.argminMse(alphas.size)(a => paths.map { case (path, fold, mu, muY) =>
      GramOps.foldMse(fold, idx, betaAt(path, alphas(a)), mu, muY)
    })
    val best = if (bestAt < 0) 0.0 else alphas(bestAt)
    // full-data path read off at the winning λ
    val (gm, c, mu, muY) = GramOps.centered(total, idx)
    val full = larsPath(gm, c, activeCap, 0.0)
    val beta = betaAt(full, best)
    LassoFit(beta, muY - GramOps.dot(mu, beta), best)
  }
}
