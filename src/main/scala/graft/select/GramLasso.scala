package graft.select

import graft.stats.Gram

/** Driver-side L1 (Lasso) solver on pre-aggregated per-fold Grams —
  * the distributed counterpart of the reference's LassoLarsCV(cv=5)
  * (featsel.py:66,110,147): one ordered-reduce pass over the rows
  * ([[graft.stats.Gram.compute]]) yields the k fold Grams; all subsequent
  * fits over arbitrary column subsets are pure driver-side coordinate
  * descent on Gram submatrices (no further cluster work). Model selection:
  * CV MSE over a 60-point geometric λ path ([[LassoPath]]; coordinate
  * descent approximates the exact LARS path; parity target is the SELECTED
  * SET, not coefficient paths — SURVEY.md §7.4.2).
  */
final class GramLasso(folds: Array[Gram]) extends CvLasso {
  private val total: Gram = Gram.total(folds)

  override def cvFit(idx: Array[Int]): LassoFit =
    LassoPath.cvFit(idx.length, total.n, folds.length, new GramLasso.Rho(total, idx, total), { f =>
      val fold = folds(f)
      if (fold.n > 0 && total.n - fold.n > 1) Some(new GramLasso.Rho(GramOps.minus(total, fold), idx, fold))
      else None
    })
}

private object GramLasso {

  /** Covariance-form view: centered (G = XᵀX/n − μμᵀ, c = Xᵀy/n − μy·μx)
    * of `g` over `idx`, with the residual correlation ρ = c − Gβ kept in
    * step with β (O(d) per coordinate move). Scores on the `heldOut` Gram.
    */
  private final class Rho(g: Gram, idx: Array[Int], heldOut: Gram) extends LassoPath.View {
    private val (gm, c, mu, muY) = GramOps.centered(g, idx)
    private val rho = c.clone()
    def norm(j: Int): Double = gm(j)(j)
    def corr(j: Int): Double = rho(j)
    def shift(j: Int, diff: Double): Unit = {
      val gj = gm(j)
      var k = 0
      while (k < rho.length) { rho(k) -= gj(k) * diff; k += 1 }
    }
    def mse(beta: Array[Double]): Double = GramOps.foldMse(heldOut, idx, beta, mu, muY)
    def intercept(beta: Array[Double]): Double = muY - GramOps.dot(mu, beta)
  }
}
