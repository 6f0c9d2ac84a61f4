package graft.stats

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Accumulated second-order statistics of a feature block (+ optional target):
  * n, Σx, upper-triangular ΣxxT, Σxy, Σy, Σy² — one pass, merged by DetReduce.
  *
  * This is the distributed backbone for the reference's dense linear algebra:
  * correlation matrices (featsel.py:267, autofeatlight.py:41-43,
  * feateng.py:397-412) and the Lasso normal equations (featsel.py:66,110,147)
  * all derive from it. Buffer size is d(d+3)/2+3 doubles — keep d ≲ 2000 per
  * Gram (the selection path operates on the admission-controlled subsample
  * and on chunked column subsets, so this bound holds by construction).
  */
final class Gram(val d: Int) extends Serializable {
  var n: Long = 0L // row count (unweighted)
  var sw: Double = 0.0 // weight sum; == n for unweighted Grams
  val sx = new Array[Double](d)
  val sxy = new Array[Double](d)
  val sxx = new Array[Double](d * (d + 1) / 2) // packed upper triangle, row-major
  var sy: Double = 0.0
  var syy: Double = 0.0

  @inline def idx(i: Int, j: Int): Int = {
    // i <= j
    i * d - i * (i - 1) / 2 + (j - i)
  }

  def xx(i: Int, j: Int): Double = if (i <= j) sxx(idx(i, j)) else sxx(idx(j, i))

  def add(x: Array[Double], y: Double, w: Double = 1.0): this.type = {
    n += 1
    sw += w
    var i = 0
    var p = 0
    while (i < d) {
      val xi = x(i)
      sx(i) += w * xi
      sxy(i) += w * xi * y
      var j = i
      while (j < d) {
        sxx(p) += w * xi * x(j)
        p += 1
        j += 1
      }
      i += 1
    }
    sy += w * y
    syy += w * y * y
    this
  }

  def merge(o: Gram): this.type = {
    require(o.d == d)
    n += o.n
    sw += o.sw
    var i = 0
    while (i < d) { sx(i) += o.sx(i); sxy(i) += o.sxy(i); i += 1 }
    i = 0
    while (i < sxx.length) { sxx(i) += o.sxx(i); i += 1 }
    sy += o.sy
    syy += o.syy
    this
  }

  def mean(i: Int): Double = sx(i) / sw
  def meanY: Double = sy / sw

  /** Population variance (ddof=0, numpy np.var / nanstd default);
    * weight-normalized when the Gram is weighted.
    */
  def varPop(i: Int): Double = { val m = mean(i); sxx(idx(i, i)) / sw - m * m }
  def stdPop(i: Int): Double = math.sqrt(math.max(0.0, varPop(i)))
  def varPopY: Double = { val m = meanY; syy / sw - m * m }

  /** Centered covariance (population scaled by the weight sum). */
  def cov(i: Int, j: Int): Double = xx(i, j) / sw - mean(i) * mean(j)

  /** Pearson correlation of columns i and j. */
  def corr(i: Int, j: Int): Double = {
    val den = stdPop(i) * stdPop(j)
    if (den == 0.0) Double.NaN else cov(i, j) / den
  }

  def corrWithY(i: Int): Double = {
    val c = sxy(i) / sw - mean(i) * meanY
    val den = stdPop(i) * math.sqrt(math.max(0.0, varPopY))
    if (den == 0.0) Double.NaN else c / den
  }

  /** Full |corr| matrix (d x d, diagonal = 1). */
  def absCorrMatrix: Array[Array[Double]] = {
    val m = Array.ofDim[Double](d, d)
    var i = 0
    while (i < d) {
      m(i)(i) = 1.0
      var j = i + 1
      while (j < d) { val c = math.abs(corr(i, j)); m(i)(j) = c; m(j)(i) = c; j += 1 }
      i += 1
    }
    m
  }

  /** Gram restricted to a column subset (driver-side, cheap). */
  def subset(cols: Array[Int]): Gram = {
    val g = new Gram(cols.length)
    g.n = n; g.sw = sw; g.sy = sy; g.syy = syy
    var i = 0
    while (i < cols.length) {
      g.sx(i) = sx(cols(i)); g.sxy(i) = sxy(cols(i))
      var j = i
      while (j < cols.length) { g.sxx(g.idx(i, j)) = xx(cols(i), cols(j)); j += 1 }
      i += 1
    }
    g
  }
}

object Gram {

  /** One-pass Gram over feature columns (cast to double). Rows with any
    * null/NaN among the selected columns are skipped (fit-path data is
    * finite by construction; this guards stray bad rows).
    * When `foldCol` is given (values 0..k-1), returns one Gram per fold.
    * When `weightCol` is given, all sums are weight-scaled (rows with
    * null/NaN/nonpositive weight are skipped) — the backbone for the
    * IRLS-weighted quadratic of the L1 logistic path.
    */
  def compute(df: DataFrame, featureCols: Seq[String], targetCol: Option[String] = None,
              foldCol: Option[String] = None, k: Int = 1,
              weightCol: Option[String] = None): Array[Gram] = {
    val d = featureCols.size
    // backtick-quote: feature names carry arbitrary user text (dots, spaces)
    // and engineered-formula punctuation — bare col() would parse dots as
    // struct access
    def q(c: String) = col(s"`${c.replace("`", "``")}`")
    val cols = foldCol.map(q(_).cast("int")).toSeq ++
      weightCol.map(q(_).cast("double")).toSeq ++
      targetCol.map(q(_).cast("double")).toSeq ++
      featureCols.map(c => q(c).cast("double"))
    val hasY = targetCol.isDefined
    val hasFold = foldCol.isDefined
    val hasW = weightCol.isDefined
    val nFolds = if (hasFold) k else 1
    val wOff = if (hasFold) 1 else 0
    val yOff = wOff + (if (hasW) 1 else 0)
    val xOff = yOff + (if (hasY) 1 else 0)
    // buffers are created per partition (a closure-captured zero of size
    // O(folds·d²) would be broadcast with every stage).
    // queryExecution.toRdd (InternalRow), NOT .rdd: the latter inserts a
    // deserializer that boxes every double into a GenericRow field; the
    // InternalRow path keeps whole-stage codegen's primitive decoding right
    // up to this iterator. Values are read immediately (UnsafeRow objects
    // are reused by the scan), never retained.
    val buffers = df.select(cols: _*).queryExecution.toRdd.mapPartitions { rows =>
      val acc = Array.fill(nFolds)(new Gram(d))
      val x = new Array[Double](d)
      rows.foreach { row =>
        var bad = false
        var i = 0
        while (i < d && !bad) {
          if (row.isNullAt(xOff + i)) bad = true
          else {
            x(i) = row.getDouble(xOff + i)
            if (x(i).isNaN) bad = true
          }
          i += 1
        }
        val y = if (hasY && !row.isNullAt(yOff)) row.getDouble(yOff) else 0.0
        if (hasY && (row.isNullAt(yOff) || y.isNaN)) bad = true
        val w = if (hasW && !row.isNullAt(wOff)) row.getDouble(wOff) else 1.0
        if (hasW && (row.isNullAt(wOff) || w.isNaN || w <= 0.0)) bad = true
        if (!bad) {
          val f = if (hasFold) row.getInt(0) % nFolds else 0
          acc(f).add(x, y, w)
        }
      }
      Iterator.single(acc)
    }
    // ordered merge (not treeReduce): double-sum order must not depend on
    // task completion order — see DetReduce
    DetReduce.orderedReduce[Array[Gram]](buffers,
      (a, b) => { var i = 0; while (i < nFolds) { a(i).merge(b(i)); i += 1 }; a },
      Array.fill(nFolds)(new Gram(d)))
  }

  def total(folds: Array[Gram]): Gram =
    folds.reduce((a, b) => { val c = new Gram(a.d); c.merge(a); c.merge(b); c })
}

/** NaN-aware per-column scaling statistics (reference nb_utils.py:25-37:
  * nanmean / nanstd with ddof=0), from one DetReduce pass.
  */
object Scaling {
  final case class Stats(mean: Array[Double], stdPop: Array[Double], stdSamp: Array[Double], count: Array[Long])

  def stats(df: DataFrame, cols: Seq[String]): Stats = {
    val k = cols.size
    // ONE DetReduce pass for any column count (a chunked-SQL-aggregate
    // formulation costs seconds of analysis/codegen per ~100 columns and a
    // full scan per chunk). Naive-moment formulas match numpy nanmean /
    // nanstd — the reference's own semantics (nb_utils.py:25-37).
    val proj = df.select(cols.map(c => col(s"`${c.replace("`", "``")}`").cast("double")): _*)
    // InternalRow pass (toRdd, not .rdd): skips the deserializer that boxes
    // every double into a GenericRow field
    val rdd = proj.queryExecution.toRdd
    if (rdd.partitions.isEmpty)
      return Stats(Array.fill(k)(Double.NaN), Array.fill(k)(Double.NaN),
        Array.fill(k)(Double.NaN), new Array[Long](k))
    val buffers = rdd.mapPartitions { rows =>
      val s = new Array[Double](k)
      val ss = new Array[Double](k)
      val n = new Array[Long](k)
      rows.foreach { r =>
        var i = 0
        while (i < k) {
          if (!r.isNullAt(i)) {
            val v = r.getDouble(i)
            if (!v.isNaN) { s(i) += v; ss(i) += v * v; n(i) += 1 }
          }
          i += 1
        }
      }
      Iterator.single((s, ss, n))
    }
    val (sums, sumsqs, ns) = DetReduce.orderedReduce[(Array[Double], Array[Double], Array[Long])](
      buffers,
      { case ((s1, ss1, n1), (s2, ss2, n2)) =>
        var i = 0
        while (i < k) { s1(i) += s2(i); ss1(i) += ss2(i); n1(i) += n2(i); i += 1 }
        (s1, ss1, n1)
      },
      (new Array[Double](k), new Array[Double](k), new Array[Long](k)))
    val m = new Array[Double](k); val sp = new Array[Double](k); val ssamp = new Array[Double](k)
    var i = 0
    while (i < k) {
      if (ns(i) == 0) { m(i) = Double.NaN; sp(i) = Double.NaN; ssamp(i) = Double.NaN }
      else {
        m(i) = sums(i) / ns(i)
        val varPop = math.max(0.0, sumsqs(i) / ns(i) - m(i) * m(i))
        sp(i) = math.sqrt(varPop)
        ssamp(i) = if (ns(i) > 1) math.sqrt(varPop * ns(i) / (ns(i) - 1)) else Double.NaN
      }
      i += 1
    }
    Stats(m, sp, ssamp, ns)
  }

  /** Standard-score divisor for a column of population std `sd`: `sd` when
    * it is positive, else 1 (zero-variance, all-null or NaN columns), so a
    * constant column scales to zeros instead of dividing by zero.
    */
  def divisor(sd: Double): Double = if (sd > 0) sd else 1.0

  /** Project columns to nan-aware standard scores, (x - nanmean) /
    * divisor(nanstd), followed by the `extra` columns.
    */
  def scaled(df: DataFrame, cols: Seq[String], st: Stats, extra: Column*): DataFrame = {
    val proj = cols.zipWithIndex.map { case (c, i) =>
      val x = col(s"`${c.replace("`", "``")}`").cast("double")
      ((x - lit(st.mean(i))) / lit(divisor(st.stdPop(i)))).as(c)
    }
    df.select(proj ++ extra: _*)
  }
}
