package graft.time

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, MapType}

/** Sort-merge as-of join (SURVEY.md §2.10): for each left row (key, ts),
  * attach the payload of the latest right row with r.ts <= l.ts and the same
  * key. Spark has no built-in as-of join; composing join+window explodes
  * (every left row matches all earlier right rows before ranking).
  *
  * Physical shape: ONE native operator, [[graft.plans.AsOfMerge]]. Both
  * sides must be clustered on the key and sorted by (key, ts); each left row
  * then streams against a one-row-lookahead cursor over the right rows of
  * its partition, over `InternalRow`s with no `Row` conversion. A left side
  * that already has that layout — the persisted `PointInTime.baseFeatures`
  * output, clustered on conv_id and sorted by (conv_id, ts, turn_idx) — gets
  * no exchange and no sort; only the (small) right side is sorted. Keys keep
  * their own type. The operator references only key, ts and payload, so
  * left columns no consumer reads are pruned below it.
  *
  * Skew: keys whose LEFT row count exceeds `skewThreshold` are salted into
  * `salts` sub-partitions; the right side is replicated to every salt of a
  * skewed key (correct because each salted partition then sees the full
  * right timeline for the key). Keys whose RIGHT row count exceeds the
  * threshold instead use TS-RANGE salting (see `rightSkewKeys`): both sides
  * of the key are routed by which of `salts` time ranges (approx-percentile
  * boundaries over the key's combined timeline) their ts falls into, and
  * each range's extremal right row is COPIED into the ranges that need it
  * as boundary carry-in — every salted partition still holds a complete
  * prefix (backward) / suffix (forward) view of the right timeline, so
  * results are identical to the unsalted join while no single task ever
  * sorts the key's full right side.
  */
object AsOfJoin {

  /** Numeric view of a ts column for range comparisons: TIMESTAMP_NTZ has
    * no direct double cast (ANSI), so it routes through TIMESTAMP (session
    * tz — pinned to UTC by this library's sessions); everything else casts
    * directly.
    */
  private def tsDouble(df: DataFrame, tsCol: String): Column = {
    val c = col(s"`${tsCol.replace("`", "``")}`")
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.TimestampNTZType => c.cast("timestamp").cast("double")
      case _ => c.cast("double")
    }
  }

  /** Approx-percentile ts boundaries per right-heavy key over the COMBINED
    * left+right timeline (so a key heavy on both sides splits both evenly):
    * salts-1 interior boundaries; range of ts = #boundaries <= ts.
    */
  private[time] def rangeBounds(left: DataFrame, right: DataFrame, keyCol: String,
                                tsCol: String, keys: Seq[String], salts: Int): Map[String, Seq[Double]] = {
    if (keys.isEmpty || salts <= 1) return Map.empty
    val keyType = left.schema(keyCol).dataType
    def side(df: DataFrame) = df
      .filter(col(keyCol).isin(keys.map(k => lit(k).cast(keyType)): _*))
      .select(col(keyCol).as("__k"), tsDouble(df, tsCol).as("__t"))
    val pcts = array((1 until salts).map(i => lit(i.toDouble / salts)): _*)
    side(left).union(side(right))
      .groupBy("__k")
      .agg(percentile_approx(col("__t"), pcts, lit(1000)).as("__b"))
      .select(col("__k").cast("string"), col("__b"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
  }

  /** Column: which ts-range of `boundsMap` (a map-literal column
    * key -> array<double>) the row falls into; only meaningful for keys
    * present in the map.
    */
  private[time] def rangeSaltExpr(boundsMap: Column, keyC: Column, tsC: Column): Column =
    size(filter(element_at(boundsMap, keyC), b => tsC.cast("double") >= b)).cast("int")

  def asof(left: DataFrame, right: DataFrame, keyCol: String, tsCol: String,
           rightPayload: Seq[String], prefix: String = "asof_",
           skewThreshold: Long = 2000000L, salts: Int = 8,
           /** Caller-supplied skew knowledge: `Some(keys)` salts exactly
             * those keys and SKIPS the detection scan; `Some(Nil)` asserts
             * "no skew" and also skips it. `None` (default) runs the
             * bounded groupBy-count pre-scan. At 10^12 rows that scan is an
             * extra full pass + aggregate per asof() call, so production
             * pipelines that already know their mega-conversations (or
             * cache one detection result across many joins) should pass it
             * in.
             */
           skewKeys: Option[Seq[String]] = None,
           /** "backward" (default): latest right row with r.ts <= l.ts;
             * "forward": earliest right row with r.ts >= l.ts — the same
             * merge over the same ascending order.
             */
           direction: String = "backward",
           /** Bounded staleness (feature-store semantics): a match further
             * than this many seconds from l.ts (in the join direction)
             * yields NULL payload instead — evaluated per row in a
             * projection over the merge's matched-ts column.
             */
           toleranceSecs: Option[Double] = None,
           /** Keys whose RIGHT side is heavy enough that one task sorting
             * the key's full right timeline would bottleneck (e.g. as-of
             * against a per-turn rather than per-session table). These keys
             * use ts-range salting with boundary carry-in. `Some(Nil)`
             * (default) asserts no right-heavy keys — the right side is
             * typically the small summary side, so detection is OPT-IN via
             * `None` (one groupBy-count scan of the right side per call),
             * unlike `skewKeys` whose default scans.
             */
           rightSkewKeys: Option[Seq[String]] = Some(Nil)): DataFrame = {
    val spark = left.sparkSession
    require(direction == "backward" || direction == "forward",
      s"direction must be backward|forward, got $direction")
    val fwd = direction == "forward"
    val keyType = left.schema(keyCol).dataType
    require(right.schema(keyCol).dataType == keyType && right.schema(tsCol).dataType == left.schema(tsCol).dataType,
      s"as-of sides must agree on the types of $keyCol and $tsCol")
    graft.plans.GraftStrategy.install(spark)

    val leftSkewedAll: Seq[String] = skewKeys.getOrElse(topKeys(left, keyCol, skewThreshold))
    val rightHeavy: Seq[String] = rightSkewKeys.getOrElse(topKeys(right, keyCol, skewThreshold))
    // a key heavy on BOTH sides goes to ts-range salting (its boundaries
    // come from the combined timeline, so both sides split evenly)
    val skewedKeys = leftSkewedAll.filterNot(rightHeavy.toSet)
    val salted = skewedKeys.nonEmpty || rightHeavy.nonEmpty

    def q(c: String) = col(s"`${c.replace("`", "``")}`")
    val key = q(keyCol)
    // skew keys arrive as strings; each is cast ONCE to the key's own type
    val nativeKeys = (ks: Seq[String]) => ks.map(k => lit(k).cast(keyType))
    // the right side re-aliased: fresh attribute ids, so a right side derived
    // from the left (a summary of it) can never alias a left attribute
    val rKeyTs = Seq(key.as(keyCol), q(tsCol).as(tsCol))
    val rPay = rightPayload.map(c => q(c).as(c))
    val (l, r) =
      if (!salted) (left, right.select(rKeyTs ++ rPay: _*))
      else {
        val isSkewed = if (skewedKeys.isEmpty) lit(false) else key.isin(nativeKeys(skewedKeys): _*)
        val isRightHeavy = if (rightHeavy.isEmpty) lit(false) else key.isin(nativeKeys(rightHeavy): _*)
        val bounds = rangeBounds(left, right, keyCol, tsCol, rightHeavy, salts)
        // map-literal key -> array<double> of interior boundaries (bounded:
        // <= 1000 keys x (salts-1) doubles)
        val boundsMap: Column =
          if (bounds.isEmpty) lit(null).cast(MapType(keyType, ArrayType(DoubleType)))
          else map(bounds.toSeq.sortBy(_._1).flatMap { case (kk, bs) =>
            Seq(lit(kk).cast(keyType), array(bs.map(lit): _*))
          }: _*)
        val rangeSaltL = rangeSaltExpr(boundsMap, key, tsDouble(left, tsCol))
        val rangeSaltR = rangeSaltExpr(boundsMap, key, tsDouble(right, tsCol))
        val lSalted = left.withColumn(Salt,
          when(isRightHeavy, rangeSaltL)
            .when(isSkewed, pmod(xxhash64(q(tsCol)), lit(salts)).cast("int"))
            .otherwise(lit(0)))
        // a left-skewed key's right timeline is replicated to every salt
        val rSalted = right.withColumn(Salt,
          explode(when(isRightHeavy, array(rangeSaltR))
            .when(isSkewed, array((0 until salts).map(lit): _*)).otherwise(array(lit(0)))))
          .select(rKeyTs ++ Seq(col(Salt)) ++ rPay: _*)
        // Boundary carry-in for ts-range-salted keys: each range's extremal
        // right row (latest for backward, earliest for forward) is COPIED into
        // every range that could need it as its out-of-range match — at most
        // keys x salts² tiny rows. A copy keeps its ORIGINAL ts, so it sorts
        // before (backward) / after (forward) all in-range rows of its target
        // partition and competes correctly with other carries, and the
        // tolerance gate sees the true matched ts.
        if (rightHeavy.isEmpty) (lSalted, rSalted)
        else {
          val perRange = right.filter(isRightHeavy)
            .select(key.as("__k"), q(tsCol).as("__ts"), rangeSaltR.as("__s0"),
              struct(rightPayload.map(q): _*).as("__all"))
            .groupBy("__k", "__s0").agg(
              (if (fwd) min_by(col("__all"), col("__ts")) else max_by(col("__all"), col("__ts"))).as("__all"),
              (if (fwd) min(col("__ts")) else max(col("__ts"))).as("__ts"))
          val targets =
            if (fwd) when(col("__s0") > 0, sequence(lit(0), col("__s0") - 1))
              .otherwise(array().cast("array<int>"))
            else when(col("__s0") < salts - 1, sequence(col("__s0") + 1, lit(salts - 1)))
              .otherwise(array().cast("array<int>"))
          val carry = perRange.select(Seq(col("__k").as(keyCol), col("__ts").as(tsCol),
            explode(targets).as(Salt)) ++
            rightPayload.map(c => col("__all").getField(c).as(c)): _*)
          (lSalted, rSalted.unionByName(carry))
        }
      }

    val lp = l.queryExecution.analyzed
    val rp = r.queryExecution.analyzed
    val resolver = spark.sessionState.conf.resolver
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, c: String) =
      p.output.find(a => resolver(a.name, c))
        .getOrElse(throw new IllegalArgumentException(s"as-of: no column $c"))
    val saltCols = if (salted) Seq(Salt) else Nil
    val payload = rightPayload.map(attr(rp, _))
    val mts = toleranceSecs.map(_ => AttributeReference(MatchTs, left.schema(tsCol).dataType)())
    val merged = org.apache.spark.sql.graft.GraftSqlBridge.ofRows(spark, graft.plans.AsOfMerge(
      lp, rp, (keyCol +: saltCols).map(attr(lp, _)), (keyCol +: saltCols).map(attr(rp, _)),
      attr(lp, tsCol), attr(rp, tsCol), payload,
      payload.map(a => AttributeReference(prefix + a.name, a.dataType)()), mts,
      forward = fwd, salted = salted))
    if (!salted && toleranceSecs.isEmpty) return merged

    val withinTol: Column = toleranceSecs match {
      case None => lit(true)
      case Some(tol) =>
        val dist =
          if (fwd) col(MatchTs).cast("double") - q(tsCol).cast("double")
          else q(tsCol).cast("double") - col(MatchTs).cast("double")
        dist <= lit(tol)
    }
    merged.select(left.columns.toSeq.map(q) ++
      rightPayload.map(c => when(withinTol, q(prefix + c)).as(prefix + c)): _*)
  }

  private val Salt = "__salt"
  private val MatchTs = "__asof_mts"

  /** Up to 1000 keys with more than `threshold` rows, heaviest first, as
    * strings (the cast runs on the aggregated keys only).
    */
  private def topKeys(df: DataFrame, keyCol: String, threshold: Long): Seq[String] =
    df.groupBy(col(keyCol).as("__k")).count()
      .filter(col("count") > threshold)
      .orderBy(desc("count")).limit(1000)
      .select(col("__k").cast("string"))
      .collect().map(_.getString(0)).toSeq
}
