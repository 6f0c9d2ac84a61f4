package graft.select

/** Driver-side CV Lasso by coordinate descent directly on a collected
  * column block — the d >> n selection regime.
  *
  * Why this exists: the Gram formulation ships folds·d²/2 doubles of
  * sufficient statistics per task, which beats touching the data only while
  * d is modest. Feature synthesis at feateng_steps>=3 emits THOUSANDS of
  * columns while the selection frame is the admission-bounded subsample
  * (reference bytes model rows·cols·4 <= max_gb, autofeat.py:322-333) — so
  * n·d (the raw block, what the reference itself holds in memory) is orders
  * of magnitude smaller than d². [[graft.select.FeatSel]] collects the
  * subsample block once per run and solves every fit in this class;
  * the 10^12-row table is never touched by selection either way.
  *
  * The path, CV and refit are [[LassoPath]]'s, shared with GramLasso; this
  * class supplies weighted centering over row sets and a residual view.
  *
  * Data layout: column-major x(j)(i); weights default to 1 (regression) or
  * IRLS class weights (classification quadratic).
  */
final class DenseLasso(x: Array[Array[Double]], y: Array[Double],
                       w: Array[Double], foldOf: Array[Int], k: Int) extends CvLasso {
  private val n = y.length
  require(x.forall(_.length == n) && w.length == n && foldOf.length == n)

  override def cvFit(idx: Array[Int]): LassoFit = {
    val allRows = Array.range(0, n)
    LassoPath.cvFit(idx.length, n, k, new Residual(idx, allRows, allRows), { f =>
      val trainRows = allRows.filter(foldOf(_) != f)
      val testRows = allRows.filter(foldOf(_) == f)
      if (testRows.isEmpty || trainRows.length <= 1) None
      else Some(new Residual(idx, trainRows, testRows))
    })
  }

  /** Naive-form view over `rows`: centered + sqrt(w)-scaled copies of
    * (x(idx), y) and the residual r = zc − XC·β, with correlations read as
    * ⟨x_j, r⟩/Σw. Scores on the raw `testRows` (weighted MSE).
    */
  private final class Residual(idx: Array[Int], rows: Array[Int], testRows: Array[Int])
      extends LassoPath.View {
    private val d = idx.length
    private val m = rows.length
    private val sumW = rows.foldLeft(0.0)((s, i) => s + w(i))
    private val mu = idx.map { c => rows.foldLeft(0.0)((s, i) => s + w(i) * x(c)(i)) / sumW }
    private val muY = rows.foldLeft(0.0)((s, i) => s + w(i) * y(i)) / sumW
    private val xc = Array.ofDim[Double](d, m)
    private val r = new Array[Double](m)
    locally {
      var i = 0
      while (i < m) {
        val sw = math.sqrt(w(rows(i)))
        r(i) = sw * (y(rows(i)) - muY)
        var jj = 0
        while (jj < d) { xc(jj)(i) = sw * (x(idx(jj))(rows(i)) - mu(jj)); jj += 1 }
        i += 1
      }
    }
    private val norms = xc.map(_.foldLeft(0.0)((s, v) => s + v * v) / sumW)

    def norm(j: Int): Double = norms(j)
    def corr(j: Int): Double = {
      val xj = xc(j)
      var s = 0.0
      var i = 0
      while (i < m) { s += xj(i) * r(i); i += 1 }
      s / sumW
    }
    def shift(j: Int, diff: Double): Unit = {
      val xj = xc(j)
      var i = 0
      while (i < m) { r(i) -= xj(i) * diff; i += 1 }
    }
    def mse(beta: Array[Double]): Double = {
      val b0 = intercept(beta)
      var se = 0.0
      var sw = 0.0
      testRows.foreach { i =>
        var p = b0
        var jj = 0
        while (jj < d) { p += x(idx(jj))(i) * beta(jj); jj += 1 }
        val e = y(i) - p
        se += w(i) * e * e
        sw += w(i)
      }
      if (sw > 0) se / sw else Double.NaN
    }
    def intercept(beta: Array[Double]): Double = muY - GramOps.dot(mu, beta)
  }
}
