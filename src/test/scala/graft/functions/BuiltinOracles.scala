package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Similarity, TextOps}

/** The declarative built-in formulations the native expressions replaced,
  * kept as parity oracles: the same trees the DuckDB oracles mirror, built
  * from Spark built-ins and higher-order functions only.
  */
object BuiltinOracles {

  /** [[QualityScoreExpr]]: length sweet-spot × punctuation × mean word
    * length × stopword presence, rounded to 6 digits.
    */
  def qualityScore(text: Column): Column = {
    val n = TextOps.tokenCount(text).cast("double")
    val lenScore = least(n / 20.0, lit(1.0)) * when(n > 5000, 0.5).otherwise(1.0)
    val punct = TextOps.punctRatio(text)
    val punctScore = when(punct > 0.2, 0.3).otherwise(1.0)
    val wl = TextOps.meanWordLen(text)
    val wlScore = when(wl < 2.0 || wl > 12.0, 0.5).otherwise(1.0)
    val stopScore = lit(0.5) + least(TextOps.stopwordRatio(text) * 5.0, lit(0.5))
    round(lenScore * punctScore * wlScore * stopScore, 6)
  }

  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "es" -> Seq("el", "la", "que", "de", "es"),
    "fr" -> Seq("le", "la", "et", "est", "les"))

  /** [[LangIdHeuristicExpr]]: argmax of per-language marker hits,
    * first-wins tie-break in marker order, 'und' if all zero.
    */
  def langIdHeuristic(text: Column): Column = {
    val toks = TextOps.tokens(lower(text))
    val scores = markers.map { case (lang, ws) =>
      val arr = array(ws.map(lit): _*)
      (lang, size(filter(toks, t => array_contains(arr, t))))
    }
    scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s > lit(0) && scores.filter(_._1 != lang).map(x => s >= x._2).reduce(_ && _), lit(lang))
        .otherwise(acc)
    }
  }

  /** [[CharNgrams]]: code-point n-grams, empty below n code points (a bare
    * `sequence(1, len-n+1)` would count DOWN for short strings).
    */
  def charNgrams(lowered: Column, n: Int): Column =
    when(length(lowered) >= n,
      transform(sequence(lit(1), length(lowered) - (n - 1)),
        i => lowered.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))

  /** [[WordNgrams]]: distinct word n-grams in first-occurrence order. */
  def wordNgrams(text: Column, n: Int): Column = {
    val toks = split(trim(lower(text)), "\\s+")
    array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(n)))
    ))
  }

  /** 61-bit MinHash base hash of a string: int(md5(s)[0:15 hex]) mod (2^61−1). */
  def baseHash(s: Column): Column =
    pmod(conv(substring(md5(s), 1, 15), 16, 10).cast("long"), lit(Dedup.MinhashMod))

  /** MinHash family member i applied to a base-hash column. */
  def familyHash(i: Int, h: Column): Column =
    pmod(lit(Dedup.hashA(i)) * shiftright(h, 31) +
      lit(Dedup.hashB(i)) * h.bitwiseAND(lit(0x7FFFFFFFL)) + lit(Dedup.hashC(i)), lit(Dedup.MinhashMod))

  /** [[MinhashSig]] from a base-hash array: per-member minimum. */
  def minhashFromBases(bases: Column, numHashes: Int): Column =
    array((0 until numHashes).map(i => array_min(transform(bases, h => familyHash(i, h)))): _*)

  /** [[IvfProbe]]: per-centroid dot products, array_sort on (−sim, idx)
    * structs — viable only at small centroid counts. The dots are
    * [[Similarity.dot]]'s, so ragged vectors truncate to the overlap.
    */
  def probeClusters(vec: Column, cents: Array[Array[Double]], nProbe: Int): Column = {
    val entries = array(cents.zipWithIndex.map { case (c, i) =>
      val sim = Similarity.dot(vec, array(c.map(lit): _*))
      struct((-sim).as("negsim"), lit(i).as("idx"))
    }: _*)
    transform(slice(array_sort(entries), 1, nProbe), e => e.getField("idx"))
  }
}
