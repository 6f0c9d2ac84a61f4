package graft.select

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed binary logistic regression via Newton-IRLS: each iteration is
  * ONE ordered-reduce pass (stats.DetReduce) computing the gradient X'(y-p)
  * and Hessian X'WX with the current coefficients broadcast in the task
  * closure (d is the small post-selection feature count, so the d² buffer
  * is tiny). Supports
  * sklearn-style "balanced" class weights (reference final classifier,
  * autofeat.py:398: LogisticRegressionCV(class_weight="balanced")) and an
  * L2 ridge for conditioning.
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

  /** NaN-aware per-feature mean / population-std over `data`'s columns
    * 1..d-1 (column 0 = label), for the internal standardization both fits
    * share; zero/NaN std falls back to 1 (constant columns pass through).
    */
  private def columnStats(data: DataFrame, d: Int): (Array[Double], Array[Double]) = {
    val statRow = data.agg(
      count(lit(1)).as("__n"),
      (1 until d).flatMap { i =>
        val name = data.columns(i)
        val c = col(s"`${name.replace("`", "``")}`").cast("double")
        val cl = when(isnan(c), lit(null)).otherwise(c)
        Seq(avg(cl), stddev_pop(cl))
      }: _*).collect()(0)
    val mu = Array.tabulate(d - 1) { i =>
      val v = statRow.get(1 + 2 * i); if (v == null) 0.0 else v.asInstanceOf[Double]
    }
    val sd = Array.tabulate(d - 1) { i =>
      val v = statRow.get(2 + 2 * i)
      val s = if (v == null) 0.0 else v.asInstanceOf[Double]
      if (s > 0 && !s.isNaN) s else 1.0
    }
    (mu, sd)
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

  /** Sorted distinct label values (one small aggregate). */
  def distinctClasses(df: DataFrame, labelCol: String): Seq[Double] =
    df.select(col(s"`${labelCol.replace("`", "``")}`").cast("double").as("__y"))
      .where(col("__y").isNotNull && !isnan(col("__y")))
      .distinct().collect().map(_.getDouble(0)).sorted.toSeq

  /** Multinomial softmax fit via full Newton: each iteration is ONE
    * distributed pass accumulating the (K-1)(d+1) gradient and its square
    * Hessian (block (k,l) = X' diag(w·p_k(δ_kl − p_l)) X) with the current
    * coefficients broadcast in the closure — d is the small post-selection
    * feature count and K the class count, so the buffer stays tiny.
    * Balanced weights w_c = n/(K·n_c) match sklearn class_weight="balanced".
    */
  def fitMulti(df: DataFrame, featureCols: Seq[String], labelCol: String,
               classes: Seq[Double], balanced: Boolean = true,
               l2: Double = 1e-6, iters: Int = 20): MultiModel = {
    val k = classes.size
    require(k >= 2, s"need >= 2 classes, got $classes")
    val km = k - 1
    val d = featureCols.size + 1 // + intercept, per block
    val p = km * d
    val data = df.select((labelCol +: featureCols)
      .map(c => col(s"`${c.replace("`", "``")}`").cast("double")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lq = col(s"`${labelCol.replace("`", "``")}`").cast("double")
    // null/NaN labels are skipped by the Newton pass below; skip them in
    // the class counts too (a null-key group would NPE Row.getDouble)
    val countRows = data.where(lq.isNotNull && !isnan(lq))
      .groupBy(lq.as("__y")).agg(count(lit(1)).as("__n")).collect()
    val nByClass = countRows.map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val n = nByClass.values.sum.toDouble
    val clsArr = classes.toArray
    val wByClass = clsArr.map(c =>
      if (balanced) n / (k.toDouble * math.max(nByClass.getOrElse(c, 0L), 1L)) else 1.0)

    // Internal standardization: engineered features span many orders of
    // magnitude (x^3·y^3 vs log x), and Newton on the raw scale can
    // overshoot into non-finite coefficients. Fit on z = (x−μ)/σ and
    // de-transform exactly afterwards — the returned model is in ORIGINAL
    // feature units, so serving columns are unaffected.
    val (mu, sd) = columnStats(data, d)

    var beta = new Array[Double](p)
    for (_ <- 0 until iters) {
      val b = beta
      val buffers = data.queryExecution.toRdd.mapPartitions { rows =>
        val g = new Array[Double](p)
        val h = Array.ofDim[Double](p, p)
        val x = new Array[Double](d)
        val m = new Array[Double](k)
        val pr = new Array[Double](k)
        rows.foreach { r =>
          var ok = !r.isNullAt(0)
          val y = if (ok) r.getDouble(0) else 0.0
          x(0) = 1.0
          var i = 1
          while (i < d && ok) {
            if (r.isNullAt(i)) ok = false
            else {
              x(i) = (r.getDouble(i) - mu(i - 1)) / sd(i - 1)
              if (x(i).isNaN) ok = false
            }
            i += 1
          }
          val ci = if (ok) java.util.Arrays.binarySearch(clsArr, y) else -1
          if (ok && ci >= 0) {
            // softmax with max-subtraction
            var mMax = 0.0
            var kk = 0
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
            val w = wByClass(ci)
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
        Iterator.single((g, h))
      }
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
      // ridge on non-intercept entries (index % d != 0)
      var i = 0
      while (i < p) {
        if (i % d != 0) { grad(i) -= l2 * beta(i); hess(i)(i) += l2 }
        else hess(i)(i) += 1e-12
        i += 1
      }
      dampedAdd(beta, solve(hess, grad))
    }
    data.unpersist()
    // de-standardize: coef_orig = coef_z / σ ; b0_orig = b0_z − Σ coef_z μ/σ
    MultiModel(featureCols, classes,
      Array.tabulate(km)(kk =>
        Array.tabulate(d - 1)(j => beta(kk * d + 1 + j) / sd(j))),
      Array.tabulate(km) { kk =>
        var b0 = beta(kk * d)
        var j = 0
        while (j < d - 1) { b0 -= beta(kk * d + 1 + j) * mu(j) / sd(j); j += 1 }
        b0
      })
  }

  /** Fit on `df` with double feature columns and a 0/1 label column. */
  def fit(df: DataFrame, featureCols: Seq[String], labelCol: String,
          balanced: Boolean = true, l2: Double = 1e-6, iters: Int = 12): Model = {
    val d = featureCols.size + 1 // + intercept
    val data = df.select((labelCol +: featureCols)
      .map(c => col(s"`${c.replace("`", "``")}`").cast("double")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = data.agg(count(lit(1)),
      sum(col(s"`${labelCol.replace("`", "``")}`").cast("double"))).collect()(0)
    val n = counts.getLong(0).toDouble
    val nPos = counts.getDouble(1)
    val (w0, w1) =
      if (!balanced) (1.0, 1.0)
      else (n / (2.0 * (n - nPos)), n / (2.0 * nPos)) // n/(k*n_c)

    // internal standardization + step damping, same rationale as fitMulti
    // (see columnStats/dampedAdd); model de-transformed to original units
    val (mu, sd) = columnStats(data, d)

    var beta = new Array[Double](d) // [intercept, coefs...]
    for (_ <- 0 until iters) {
      val b = beta
      // InternalRow pass (toRdd, not .rdd): the cached frame is read through
      // InMemoryTableScan without the deserializer boxing every double —
      // this loop runs `iters` times over the FULL table for the final model
      val buffers = data.queryExecution.toRdd.mapPartitions { rows =>
        val g = new Array[Double](d)
        val h = Array.ofDim[Double](d, d)
        val x = new Array[Double](d)
        rows.foreach { r =>
          var ok = !r.isNullAt(0)
          val y = if (ok) r.getDouble(0) else 0.0
          x(0) = 1.0
          var i = 1
          while (i < d && ok) {
            if (r.isNullAt(i)) ok = false
            else {
              x(i) = (r.getDouble(i) - mu(i - 1)) / sd(i - 1)
              if (x(i).isNaN) ok = false
            }
            i += 1
          }
          if (ok) {
            var m = 0.0
            i = 0
            while (i < d) { m += b(i) * x(i); i += 1 }
            val p = 1.0 / (1.0 + math.exp(-m))
            val w = if (y > 0.5) w1 else w0
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
        Iterator.single((g, h))
      }
      // ordered merge (not treeReduce): deterministic double-sum order
      val (grad, hess) = graft.stats.DetReduce.orderedReduce[(Array[Double], Array[Array[Double]])](
        buffers,
        { case ((g1, h1), (g2, h2)) =>
          var i = 0
          while (i < d) {
            g1(i) += g2(i)
            var j = 0
            while (j < d) { h1(i)(j) += h2(i)(j); j += 1 }
            i += 1
          }
          (g1, h1)
        },
        (new Array[Double](d), Array.ofDim[Double](d, d)))
      // ridge on non-intercept terms; solve H delta = grad - l2*beta
      var i = 1
      while (i < d) { grad(i) -= l2 * beta(i); hess(i)(i) += l2; i += 1 }
      hess(0)(0) += 1e-12
      dampedAdd(beta, solve(hess, grad))
    }
    data.unpersist()
    // de-standardize: coef_orig = coef_z / σ ; b0_orig = b0_z − Σ coef_z μ/σ
    val coef = Array.tabulate(d - 1)(j => beta(j + 1) / sd(j))
    var b0 = beta(0)
    var j = 0
    while (j < d - 1) { b0 -= beta(j + 1) * mu(j) / sd(j); j += 1 }
    Model(featureCols, coef, b0)
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
