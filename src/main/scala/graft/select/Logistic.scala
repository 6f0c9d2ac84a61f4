package graft.select

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.stats.Scaling

/** Distributed logistic final models (reference final classifier,
  * autofeat.py:398: LogisticRegressionCV(class_weight="balanced")): the
  * binary sigmoid [[fit]] and the multinomial softmax [[fitMulti]]. Both
  * run ONE Newton-IRLS loop ([[newton]]): each iteration is one
  * ordered-reduce pass (stats.DetReduce) computing the gradient and
  * Hessian with the current coefficients broadcast in the task closure (d
  * is the small post-selection feature count, so the buffers are tiny),
  * then an L2-ridged, step-damped Newton update. The two fits differ only
  * in their per-row gradient/Hessian kernel and their model class.
  */
object Logistic {

  final case class Model(cols: Seq[String], coef: Array[Double], intercept: Double) {
    def marginCol: org.apache.spark.sql.Column = {
      val terms = cols.zip(coef).map { case (c, b) =>
        col(s"`${c.replace("`", "``")}`").cast("double") * lit(b)
      }
      terms.foldLeft(lit(intercept).cast("double"))(_ + _)
    }
    def probCol: org.apache.spark.sql.Column = lit(1.0) / (lit(1.0) + exp(-marginCol))
    def predictCol: org.apache.spark.sql.Column = (probCol > 0.5).cast("int")
  }

  /** Multinomial softmax model over K classes (sklearn
    * LogisticRegressionCV multi-class default, reference autofeat.py:398).
    * Parameterized against the LAST class as baseline: `coef`/`intercept`
    * hold K-1 blocks; class K-1's margin is identically 0. `classes` are
    * the sorted distinct label values.
    */
  final case class MultiModel(cols: Seq[String], classes: Seq[Double],
                              coef: Array[Array[Double]], intercept: Array[Double]) {
    private def q(c: String) = col(s"`${c.replace("`", "``")}`")
    /** K margin columns (last = 0). */
    def marginCols: Seq[org.apache.spark.sql.Column] =
      classes.indices.map { k =>
        if (k == classes.size - 1) lit(0.0).cast("double")
        else cols.zip(coef(k)).foldLeft(lit(intercept(k)).cast("double")) {
          case (acc, (c, b)) => acc + q(c).cast("double") * lit(b)
        }
      }
    /** K softmax probability columns (max-subtracted for stability). */
    def probCols: Seq[org.apache.spark.sql.Column] = {
      val m = marginCols
      val mMax = if (m.size > 1) greatest(m: _*) else m.head
      val es = m.map(mk => exp(mk - mMax))
      val denom = es.reduce(_ + _)
      es.map(_ / denom)
    }
    /** Array[Double] column of K probabilities in `classes` order. */
    def probArrayCol: org.apache.spark.sql.Column = array(probCols: _*)
    /** Predicted class label: first-max argmax over the margins (sklearn
      * tie-break). array_position finds the FIRST occurrence of the max.
      */
    def predictCol: org.apache.spark.sql.Column = {
      val mArr = array(marginCols: _*)
      val idx = array_position(mArr, array_max(mArr)).cast("int")
      element_at(array(classes.map(lit): _*), idx)
    }
  }

  /** Ridge on every non-intercept coefficient (the intercepts get 1e-12). */
  private val L2 = 1e-6

  /** Sorted distinct label values (one small aggregate). */
  def distinctClasses(df: DataFrame, labelCol: String): Seq[Double] =
    df.select(col(s"`${labelCol.replace("`", "``")}`").cast("double").as("__y"))
      .where(col("__y").isNotNull && !isnan(col("__y")))
      .distinct().collect().map(_.getDouble(0)).sorted.toSeq

  /** Multinomial softmax fit via full Newton: the (K-1)(d+1) gradient and
    * its square Hessian (block (k,l) = X' diag(w·p_k(δ_kl − p_l)) X), 20
    * iterations. Rows whose label is not one of `classes` are skipped.
    * Balanced weights w_c = n/(K·n_c) match sklearn class_weight="balanced".
    */
  def fitMulti(df: DataFrame, featureCols: Seq[String], labelCol: String,
               classes: Seq[Double], balanced: Boolean = true): MultiModel = {
    val k = classes.size
    val km = k - 1
    val d = featureCols.size + 1 // + intercept, per block
    val kernel = () => new RowKernel {
      private val m = new Array[Double](k)
      private val pr = new Array[Double](k)
      def add(b: Array[Double], x: Array[Double], y: Double, ci: Int, w: Double,
              g: Array[Double], h: Array[Array[Double]]): Unit = {
        // softmax with max-subtraction
        var mMax = 0.0
        var kk = 0
        var i = 0
        while (kk < km) {
          var s = 0.0
          i = 0
          while (i < d) { s += b(kk * d + i) * x(i); i += 1 }
          m(kk) = s
          if (s > mMax) mMax = s
          kk += 1
        }
        m(km) = 0.0
        var denom = 0.0
        kk = 0
        while (kk < k) { pr(kk) = math.exp(m(kk) - mMax); denom += pr(kk); kk += 1 }
        kk = 0
        while (kk < k) { pr(kk) /= denom; kk += 1 }
        // gradient blocks: w (1{ci=k} - p_k) x
        kk = 0
        while (kk < km) {
          val gs = w * ((if (ci == kk) 1.0 else 0.0) - pr(kk))
          i = 0
          while (i < d) { g(kk * d + i) += gs * x(i); i += 1 }
          kk += 1
        }
        // hessian blocks (k,l): w p_k (δ_kl - p_l) x x'
        kk = 0
        while (kk < km) {
          var ll = 0
          while (ll < km) {
            val hs = w * pr(kk) * ((if (kk == ll) 1.0 else 0.0) - pr(ll))
            if (hs != 0.0) {
              i = 0
              while (i < d) {
                val v = hs * x(i)
                var j = 0
                while (j < d) { h(kk * d + i)(ll * d + j) += v * x(j); j += 1 }
                i += 1
              }
            }
            ll += 1
          }
          kk += 1
        }
      }
    }
    val (coef, b0) = newton("Logistic.fitMulti", df, featureCols, labelCol, Some(classes),
      balanced, iters = 20, kernel)
    MultiModel(featureCols, classes, coef, b0)
  }

  /** Binary sigmoid fit on double feature columns and a 0/1 label column
    * (a label above 0.5 is the positive class), 12 Newton iterations.
    */
  def fit(df: DataFrame, featureCols: Seq[String], labelCol: String,
          balanced: Boolean = true): Model = {
    val kernel = () => new RowKernel {
      def add(b: Array[Double], x: Array[Double], y: Double, ci: Int, w: Double,
              g: Array[Double], h: Array[Array[Double]]): Unit = {
        val d = x.length
        var m = 0.0
        var i = 0
        while (i < d) { m += b(i) * x(i); i += 1 }
        val p = 1.0 / (1.0 + math.exp(-m))
        val gscale = w * (y - p)
        val hscale = w * p * (1.0 - p)
        i = 0
        while (i < d) {
          g(i) += gscale * x(i)
          var j = 0
          while (j < d) { h(i)(j) += hscale * x(i) * x(j); j += 1 }
          i += 1
        }
      }
    }
    val (coef, b0) = newton("Logistic.fit", df, featureCols, labelCol, None,
      balanced, iters = 12, kernel)
    Model(featureCols, coef(0), b0(0))
  }

  /** One fit's per-row arithmetic: `add` accumulates into `g`/`h` the
    * gradient and Hessian, at coefficients `b`, of a row that passed the
    * row rule. `x` is the standardized row with x(0) = 1, `y` its label,
    * `ci` its class index and `w` that class's weight. Each partition gets
    * its own instance, so it may keep scratch buffers.
    */
  private abstract class RowKernel {
    def add(b: Array[Double], x: Array[Double], y: Double, ci: Int, w: Double,
            g: Array[Double], h: Array[Array[Double]]): Unit
  }

  /** The Newton loop both fits share; returns the K-1 coefficient blocks
    * and intercepts in original feature units.
    *
    * Row rule: the label and every feature are non-null and finite, and
    * with `classes` given (softmax) the label is one of them. Rows that
    * fail it are dropped before anything is computed, so class counts,
    * standardization and every Newton pass see the same rows; with no row
    * left the fit throws IllegalArgumentException naming `fit`. Without
    * `classes` (sigmoid) a label above 0.5 is class 1, else class 0.
    *
    * Engineered features span many orders of magnitude (x^3·y^3 vs
    * log x), and Newton on the raw scale can overshoot into non-finite
    * coefficients, so the loop fits on z = (x−μ)/σ, damps each step
    * ([[dampedAdd]]) and de-transforms exactly afterwards: serving columns
    * are unaffected.
    */
  private def newton(fit: String, df: DataFrame, featureCols: Seq[String], labelCol: String,
                     classes: Option[Seq[Double]], balanced: Boolean, iters: Int,
                     kernel: () => RowKernel): (Array[Array[Double]], Array[Double]) = {
    val d = featureCols.size + 1 // + intercept, per block
    val k = classes.fold(2)(_.size)
    require(k >= 2, s"[$fit] need >= 2 classes, got ${classes.get}")
    val km = k - 1
    val p = km * d
    val q = (c: String) => col(s"`${c.replace("`", "``")}`").cast("double")
    val finite = (c: Column) => c.isNotNull && !isnan(c) && abs(c) =!= lit(Double.PositiveInfinity)
    val y = q(labelCol)
    val rule = (labelCol +: featureCols).map(c => finite(q(c))).reduce(_ && _) &&
      classes.fold(lit(true))(cs => y.isin(cs: _*))
    val data = df.select((labelCol +: featureCols).map(q): _*).where(rule)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val classIndex: Double => Int = classes.map(_.toArray) match {
      case Some(cs) => v => cs.indexWhere(_ == v)
      case None => v => if (v > 0.5) 1 else 0
    }
    val counts = new Array[Long](k)
    data.groupBy(y).count().collect().foreach(r => counts(classIndex(r.getDouble(0))) += r.getLong(1))
    if (counts.sum == 0) {
      data.unpersist()
      throw new IllegalArgumentException(
        s"[$fit] no clean rows: every row has a null or non-finite label or feature")
    }
    val w = if (balanced) LogisticLasso.balancedWeights(counts) else Array.fill(k)(1.0)
    val st = Scaling.stats(data, featureCols)
    val mu = st.mean
    val sd = st.stdPop.map(Scaling.divisor)

    val beta = new Array[Double](p)
    for (_ <- 0 until iters) {
      // InternalRow pass (toRdd, not .rdd): the cached frame is read through
      // InMemoryTableScan without the deserializer boxing every double
      val buffers = data.queryExecution.toRdd.mapPartitions { rows =>
        val kern = kernel()
        val g = new Array[Double](p)
        val h = Array.ofDim[Double](p, p)
        val x = new Array[Double](d)
        x(0) = 1.0
        rows.foreach { r =>
          var i = 1
          while (i < d) { x(i) = (r.getDouble(i) - mu(i - 1)) / sd(i - 1); i += 1 }
          val yv = r.getDouble(0)
          val ci = classIndex(yv)
          kern.add(beta, x, yv, ci, w(ci), g, h)
        }
        Iterator.single((g, h))
      }
      // ordered merge (not treeReduce): deterministic double-sum order
      val (grad, hess) = graft.stats.DetReduce.orderedReduce[(Array[Double], Array[Array[Double]])](
        buffers,
        { case ((g1, h1), (g2, h2)) =>
          var i = 0
          while (i < p) {
            g1(i) += g2(i)
            var j = 0
            while (j < p) { h1(i)(j) += h2(i)(j); j += 1 }
            i += 1
          }
          (g1, h1)
        },
        (new Array[Double](p), Array.ofDim[Double](p, p)))
      // ridge on non-intercept entries (index % d != 0); solve H δ = grad − l2·β
      var i = 0
      while (i < p) {
        if (i % d != 0) { grad(i) -= L2 * beta(i); hess(i)(i) += L2 }
        else hess(i)(i) += 1e-12
        i += 1
      }
      dampedAdd(beta, solve(hess, grad))
    }
    data.unpersist()
    // de-standardize each block: coef_orig = coef_z / σ ; b0_orig = b0_z − Σ coef_z μ/σ
    val coef = Array.tabulate(km)(kk => Array.tabulate(d - 1)(j => beta(kk * d + 1 + j) / sd(j)))
    val b0 = Array.tabulate(km) { kk =>
      var b0 = beta(kk * d)
      var j = 0
      while (j < d - 1) { b0 -= beta(kk * d + 1 + j) * mu(j) / sd(j); j += 1 }
      b0
    }
    (coef, b0)
  }

  /** In-place damped Newton update: beta += step scaled so the step's
    * infinity norm stays <= 10 on the standardized scale (0 when
    * non-finite) — quasi-separable or collinear designs otherwise
    * overshoot into non-finite coefficients and the fit silently
    * degenerates to a constant predictor.
    */
  private def dampedAdd(beta: Array[Double], step: Array[Double]): Unit = {
    var mx = 0.0
    var i = 0
    while (i < step.length) { val a = math.abs(step(i)); if (a > mx) mx = a; i += 1 }
    val scale = if (mx.isNaN || mx.isInfinite) 0.0 else if (mx > 10.0) 10.0 / mx else 1.0
    i = 0
    while (i < step.length) { beta(i) += scale * step(i); i += 1 }
  }

  /** Gaussian elimination with partial pivoting (d is tiny). */
  private def solve(a0: Array[Array[Double]], b0: Array[Double]): Array[Double] = {
    val d = b0.length
    val a = a0.map(_.clone)
    val b = b0.clone
    for (c <- 0 until d) {
      var piv = c
      for (r <- c + 1 until d) if (math.abs(a(r)(c)) > math.abs(a(piv)(c))) piv = r
      val t = a(c); a(c) = a(piv); a(piv) = t
      val tb = b(c); b(c) = b(piv); b(piv) = tb
      val p = a(c)(c)
      if (math.abs(p) > 1e-300) {
        for (r <- c + 1 until d) {
          val f = a(r)(c) / p
          if (f != 0.0) {
            for (k <- c until d) a(r)(k) -= f * a(c)(k)
            b(r) -= f * b(c)
          }
        }
      }
    }
    val x = new Array[Double](d)
    for (c <- d - 1 to 0 by -1) {
      var s = b(c)
      for (k <- c + 1 until d) s -= a(c)(k) * x(k)
      x(c) = if (math.abs(a(c)(c)) > 1e-300) s / a(c)(c) else 0.0
    }
    x
  }
}
