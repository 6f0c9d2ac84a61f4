package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Yeo-Johnson power transform — the Spark rebuild of the reference's
  * optional `PowerTransformer()` step (autofeatlight.py:275-276; sklearn
  * `PowerTransformer(method="yeo-johnson", standardize=True)`).
  *
  * sklearn fits one λ per column by Brent-maximizing the profile
  * log-likelihood over the in-memory column. Distributed, we instead run an
  * ITERATED GRID search: each stage evaluates the log-likelihood of every
  * (column, λ) candidate in ONE aggregation job (Σψ, Σψ² per candidate —
  * the λ-independent term Σ sign(x)·log1p|x| is shared), then zooms the grid
  * around each column's argmax. With 13 points per stage each zoom shrinks
  * the spacing 6×: 4 stages (the default) resolve λ to ~2.3e-3 with 4 scans
  * total, independent of column count — no driver collect of row data, no
  * per-λ passes. Deviation from sklearn: Brent searches an unbounded λ while
  * this grid is clamped to [lo, hi] = [-3, 3] (sklearn's optimum lies inside
  * for any reasonably-scaled column; PowerTransformer parity is therefore
  * approximate, gated by the exact-llf oracle in YeoJohnsonSpec).
  *
  * llf(λ) = −n/2 · ln(var_pop(ψ(x, λ))) + (λ−1) · Σ sign(x)·log1p(|x|)
  */
object YeoJohnson {

  final case class Model(cols: Seq[String], lambdas: Array[Double],
                         mean: Array[Double], stdPop: Array[Double], standardize: Boolean) {
    def transform(df: DataFrame): DataFrame = {
      val others = df.columns.filterNot(cols.contains).map(c => qcol(c))
      val trans = cols.zipWithIndex.map { case (c, i) =>
        val t = YeoJohnson.psi(qcol(c).cast("double"), lambdas(i))
        val out = if (!standardize) t
          else (t - lit(mean(i))) / lit(Scaling.divisor(stdPop(i)))
        out.as(c)
      }
      df.select(others.toSeq ++ trans: _*)
    }
  }

  private def qcol(c: String) = col(s"`${c.replace("`", "``")}`")

  /** The Yeo-Johnson map ψ(x, λ) as a Catalyst expression (λ is a literal,
    * so the λ≈0 / λ≈2 singular branches resolve at plan time).
    */
  def psi(c: Column, lam: Double): Column = {
    val pos: Column =
      if (math.abs(lam) < 1e-10) log1p(c)
      else (pow(c + lit(1.0), lit(lam)) - lit(1.0)) / lit(lam)
    val neg: Column =
      if (math.abs(2.0 - lam) < 1e-10) -log1p(-c)
      else -(pow(lit(1.0) - c, lit(2.0 - lam)) - lit(1.0)) / lit(2.0 - lam)
    when(c >= 0, pos).otherwise(neg)
  }

  /** One grid stage: per column evaluate llf at each candidate λ; returns the
    * best λ index per column. `slog` and `n` are the shared λ-free terms.
    */
  private def gridStage(df: DataFrame, cols: Seq[String], grids: Array[Array[Double]],
                        slog: Array[Double], n: Array[Long]): Array[Int] = {
    val best = new Array[Int](cols.size)
    // chunk columns so a single codegen'd aggregate stays reasonable
    cols.zipWithIndex.grouped(8).foreach { group =>
      val exprs = group.flatMap { case (c, ci) =>
        val x = when(isnan(qcol(c).cast("double")), lit(null)).otherwise(qcol(c).cast("double"))
        grids(ci).toSeq.flatMap { lam =>
          val t = psi(x, lam)
          Seq(avg(t), avg(t * t))
        }
      }
      val r = df.agg(exprs.head, exprs.tail: _*).collect()(0)
      var off = 0
      group.foreach { case (_, ci) =>
        var bi = 0
        var bl = Double.NegativeInfinity
        val g = grids(ci)
        var k = 0
        while (k < g.length) {
          val m = Option(r.get(off)).map(_.asInstanceOf[Double]).getOrElse(Double.NaN)
          val m2 = Option(r.get(off + 1)).map(_.asInstanceOf[Double]).getOrElse(Double.NaN)
          off += 2
          val v = m2 - m * m
          val ll =
            if (v.isNaN || v <= 1e-300) Double.NegativeInfinity
            else -0.5 * n(ci) * math.log(v) + (g(k) - 1.0) * slog(ci)
          if (ll > bl) { bl = ll; bi = k }
          k += 1
        }
        best(ci) = bi
      }
    }
    best
  }

  /** Fit per-column λ (and standardization stats) over the frame. */
  def fit(df: DataFrame, cols: Seq[String], standardize: Boolean = true,
          lo: Double = -3.0, hi: Double = 3.0, stages: Int = 4): Model = {
    val d = cols.size
    // λ-free terms: n and Σ sign(x)·log1p(|x|), one pass
    val slog = new Array[Double](d)
    val n = new Array[Long](d)
    cols.zipWithIndex.grouped(32).foreach { group =>
      val exprs = group.flatMap { case (c, _) =>
        val x = when(isnan(qcol(c).cast("double")), lit(null)).otherwise(qcol(c).cast("double"))
        Seq(sum(signum(x) * log1p(abs(x))), count(x))
      }
      val r = df.agg(exprs.head, exprs.tail: _*).collect()(0)
      group.zipWithIndex.foreach { case ((_, i), gi) =>
        slog(i) = Option(r.get(2 * gi)).map(_.asInstanceOf[Double]).getOrElse(0.0)
        n(i) = r.getLong(2 * gi + 1)
      }
    }
    // iterated grid zoom
    var centers = Array.fill(d)((lo + hi) / 2.0)
    var halfSpan = (hi - lo) / 2.0
    val pointsPerStage = 13 // grid resolution per zoom stage
    for (_ <- 0 until stages) {
      val grids = centers.map { c =>
        (0 until pointsPerStage).map(i =>
          c - halfSpan + 2.0 * halfSpan * i / (pointsPerStage - 1)).toArray
      }
      val best = gridStage(df, cols, grids, slog, n)
      centers = cols.indices.map(i => grids(i)(best(i))).toArray
      halfSpan = 2.0 * halfSpan / (pointsPerStage - 1) // neighbor-to-neighbor span
    }
    val lambdas = centers
    if (!standardize)
      return Model(cols, lambdas, new Array[Double](d), Array.fill(d)(1.0), standardize = false)
    // standardization stats of the transformed columns (one more pass)
    val tdf = Model(cols, lambdas, new Array[Double](d), Array.fill(d)(1.0), standardize = false)
      .transform(df.select(cols.map(qcol): _*))
    val st = Scaling.stats(tdf, cols)
    Model(cols, lambdas, st.mean, st.stdPop, standardize = true)
  }

  def fitTransform(df: DataFrame, cols: Seq[String], standardize: Boolean = true): (DataFrame, Model) = {
    val m = fit(df, cols, standardize)
    (m.transform(df), m)
  }
}
