package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling and token-budget data mixing.
  *
  * Every operator here is driven by one portable primitive, [[hashU]]: a
  * uniform deterministic pseudo-random in [0,1) derived from md5 of
  * (seed, id) — the integer of md5's first 15 hex digits scaled by 2^-60,
  * the same md5 prefix the MinHash base hash reads, computable
  * bit-identically in any engine with md5 (the DuckDB oracles mirror it
  * exactly), so samples are reproducible across engines, runs, and
  * cluster sizes. No `rand()` anywhere: Spark's rand is partition-layout
  * dependent, which at 10¹² rows means a different sample after every
  * repartition (see the AQE note on FeatSel.withShuffledCopy).
  *
  * Scale shape: [[hashSample]] and [[stratifiedSample]] are pure map-side
  * filters (zero shuffles; the per-stratum rate table is broadcast);
  * [[tokenBudgetMix]] is one hash shuffle on the source column + one
  * window sort per source — each source an independent stream.
  */
object Sampling {

  /** Uniform deterministic hash of (seed, id) in [0,1): first 15 hex chars
    * of md5 as a 60-bit integer, scaled by 2⁻⁶⁰.
    */
  def hashU(id: Column, seed: Long): Column =
    conv(substring(md5(concat_ws(":", lit(seed), id.cast("string"))), 1, 15), 16, 10)
      .cast("long") / lit(1152921504606846976.0) // 2^60

  /** Keep each row iff hashU(seed, id) < fraction — an exact, reproducible
    * Bernoulli sample (map-side filter; no shuffle, no state).
    */
  def hashSample(df: DataFrame, idCol: String, fraction: Double, seed: Long): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction must be in [0,1], got $fraction")
    df.where(hashU(col(idCol), seed) < fraction)
  }

  /** Per-stratum Bernoulli rates: keep a row of stratum s iff
    * hashU(seed, id) < fractions(s); strata absent from the map get
    * `defaultFraction` (0 = drop). The rate table is broadcast — the
    * corpus never shuffles.
    */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       fractions: Map[String, Double], seed: Long,
                       defaultFraction: Double = 0.0): DataFrame = {
    require((fractions.values ++ Seq(defaultFraction)).forall(f => f >= 0.0 && f <= 1.0),
      "all fractions must be in [0,1]")
    val spark = df.sparkSession
    import spark.implicits._
    val rates = fractions.toSeq.toDF("__stratum", "__frac")
    df.join(broadcast(rates), df(stratumCol) === col("__stratum"), "left")
      .where(hashU(col(idCol), seed) < coalesce(col("__frac"), lit(defaultFraction)))
      .drop("__stratum", "__frac")
  }

  /** Token-budget data mixing: per source, documents are ranked by a
    * deterministic shuffle key (hashU) and kept while the running token
    * total stays within that source's budget — the standard "hit the
    * target token mixture" pass of a pre-training data pipeline. Sources
    * absent from `budgets` are dropped. Output: kept rows plus
    * (mix_rank, cum_tokens) for auditability. `idCol` must cast to long
    * (same contract as [[Pack.greedyPack]]).
    *
    * Scale shape — a DISTRIBUTED prefix sum, not a per-source window: a
    * window `partitionBy(source)` puts an entire source (10¹¹ rows of a
    * pre-training mixture) into ONE task's sort. Instead rows are
    * range-partitioned on the global order key (source, u, id) — so the
    * sorted order spans partitions — then per-(partition, source) row and
    * token totals (one tiny collect) become broadcast offsets, and a
    * second linear pass emits exact global ranks/cumsums. Long arithmetic
    * throughout ⇒ bit-identical to the window formulation (the DuckDB
    * oracle) at any parallelism. The ranged frame is LAZILY
    * locally-checkpointed: pass 1, pass 2, and every re-materialization of
    * the returned frame replay the SAME stored partitions, so the
    * broadcast (partition, source) offsets can never drift against a
    * re-sampled range shuffle, and the checkpoint blocks are
    * ContextCleaner-GC'd once the result is unreferenced (no cache leak).
    */
  def tokenBudgetMix(df: DataFrame, idCol: String, tokensCol: String,
                     sourceCol: String, budgets: Map[String, Long],
                     seed: Long): DataFrame = {
    require(budgets.values.forall(_ >= 0L), "budgets must be >= 0")
    val spark = df.sparkSession
    import spark.implicits._
    val b = budgets.toSeq.toDF("__source", "__budget")
    val base = df.join(broadcast(b), df(sourceCol) === col("__source"), "inner")
      .select(col(idCol).cast("long").as("__id"),
        col(sourceCol).cast("string").as("__src"),
        greatest(col(tokensCol).cast("long"), lit(1L)).as("__tok"),
        hashU(col(idCol), seed).as("__u"),
        col("__budget").cast("long").as("__b"))
    val nParts = spark.sessionState.conf.numShufflePartitions
    // The range-partition id is frozen INTO the checkpointed rows: every
    // downstream pass reads it from the data, never from
    // TaskContext.getPartitionId() — under a narrow repartitioning (e.g. a
    // caller's coalesce(1)) the task id is the COALESCED partition's, so a
    // TaskContext-keyed offset lookup silently applies partition 0's
    // offsets everywhere (caught by the driver oracle under Verify's
    // coalesce(1) write). The tag lambda itself runs during the checkpoint
    // materialization, whose stage partitions ARE the range partitions.
    val ranged = base
      .repartitionByRange(nParts, col("__src"), col("__u"), col("__id"))
      .sortWithinPartitions(col("__src"), col("__u"), col("__id"))
      .as[(Long, String, Long, Double, Long)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        it.map { case (id, src, tok, _, bud) => (pid, id, src, tok, bud) }
      }
      .localCheckpoint(false)
    // pass 1: per-(partition, source) row/token totals — rows per entry is
    // bounded by partitions x sources, a tiny driver collect
    val partStats = ranged.mapPartitions { it =>
      val m = scala.collection.mutable.LinkedHashMap[(Int, String), (Long, Long)]()
      it.foreach { case (pid, _, src, tok, _) =>
        val (c, t) = m.getOrElse((pid, src), (0L, 0L)); m((pid, src)) = (c + 1, t + tok)
      }
      m.iterator.map { case ((pid, src), (c, t)) => (pid, src, c, t) }
    }.collect()
    val bySrc = partStats.groupBy(_._2)
    val offsets: Map[(Int, String), (Long, Long)] = partStats.map { case (pid, src, _, _) =>
      val prior = bySrc(src).filter(_._1 < pid)
      ((pid, src), (prior.map(_._3).sum, prior.map(_._4).sum))
    }.toMap
    val bc = spark.sparkContext.broadcast(offsets)
    // pass 2: linear per-partition scan adding the broadcast offsets —
    // exact global (rank, cumsum) with no single-task source sort anywhere.
    // Keyed by (row pid, src): correct even when invoked per parent
    // partition inside a coalesced task.
    val ranked = ranged.mapPartitions { it =>
      val local = scala.collection.mutable.HashMap[(Int, String), (Long, Long)]()
      it.map { case (pid, id, src, tok, bud) =>
        val (ro, to) = bc.value.getOrElse((pid, src), (0L, 0L))
        val (rc, tc) = local.getOrElse((pid, src), (0L, 0L))
        local((pid, src)) = (rc + 1, tc + tok)
        (id, src, ro + rc + 1, to + tc + tok, bud)
      }
    }.toDF("__jid", "__jsrc", "mix_rank", "cum_tokens", "__b")
      .where(col("cum_tokens") <= col("__b"))
    df.join(ranked,
        df(idCol).cast("long") === col("__jid") && df(sourceCol) === col("__jsrc"))
      .drop("__jid", "__jsrc", "__b")
  }

  /** Keep exactly the best `fraction` of the corpus by a score column —
    * the FineWeb-style "keep the top p% by model/heuristic quality score"
    * curation stage, computed EXACTLY: rows are ranked by
    * (score DESC, id ASC) and the k = ceil(fraction · n) best survive
    * (n = rows with a non-NULL score; NULL-score rows are dropped — they
    * cannot be ordered; mirror any oracle accordingly). Output = the input
    * columns plus `rankCol` (1-based global rank), so the gate is
    * auditable. `idCol` must cast to long and be unique (the
    * [[tokenBudgetMix]] / Pack contract).
    *
    * Scale shape — the [[tokenBudgetMix]] distributed prefix-rank, not a
    * global window (one task sorting the corpus) and not an
    * `orderBy.limit(k)` (a single-task top-k at k ≈ n/4): ONE range
    * shuffle on (score desc, id) spreads the global order across
    * partitions, per-partition counts (an nParts-row collect) become
    * broadcast rank offsets, and a second linear pass emits exact global
    * ranks. The ranged frame is lazily localCheckpoint'd so both passes
    * and every downstream re-materialization replay the SAME stored
    * partitions (a re-executed range shuffle resamples boundaries and
    * would silently corrupt the offsets), and partition ids are frozen
    * INTO the rows so a downstream coalesce cannot misapply them.
    *
    * Cross-engine determinism: rank on a ROUNDED score (the repo's
    * cross-engine ranking rule — raw-double order can flip on ulp noise
    * between engines); `TextOps.qualityScore` already rounds to 6.
    */
  def topFractionByScore(df: DataFrame, idCol: String, scoreCol: String,
                         fraction: Double, rankCol: String = "score_rank"): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction must be in [0,1], got $fraction")
    rankGate(df, idCol, scoreCol, None, (_, n) => math.ceil(fraction * n).toLong, rankCol)
  }

  /** [[topFractionByScore]] with an absolute count: keep the k best rows
    * by (score DESC, id ASC). Same scale shape and NULL semantics.
    */
  def topKByScore(df: DataFrame, idCol: String, scoreCol: String,
                  k: Long, rankCol: String = "score_rank"): DataFrame = {
    require(k >= 0L, s"k must be >= 0, got $k")
    rankGate(df, idCol, scoreCol, None, (_, n) => k.min(n), rankCol)
  }

  /** Per-group [[topFractionByScore]]: keep the best `fraction` of EACH
    * group (rank by (score DESC, id ASC) within the group, keep
    * k_g = ceil(fraction · n_g)) — the domain-balanced quality gate: a cut
    * on the global rank lets one high-scoring mega-domain crowd everything
    * else out of the kept set, while a per-domain cut preserves the
    * corpus's source mixture. Same scale shape — group is merely a prefix
    * of the range-partition key, so a 10¹¹-row domain spans many
    * partitions and no task ever sorts a whole group (the driver state is
    * one (partition, group) count per pair, the tokenBudgetMix bound).
    * Rows with a NULL score OR a NULL group are dropped — mirror oracles.
    */
  def topFractionByScorePerGroup(df: DataFrame, idCol: String, scoreCol: String,
                                 groupCol: String, fraction: Double,
                                 rankCol: String = "score_rank"): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction must be in [0,1], got $fraction")
    rankGate(df, idCol, scoreCol, Some(groupCol),
      (_, n) => math.ceil(fraction * n).toLong, rankCol)
  }

  /** EXACT quantile values of a score column — the corpus-stats
    * companion of [[topFractionByScore]]: the published thresholds
    * ("p90 quality", "p99 token count") that downstream gates cut on.
    * For each q in `qs` (0 < q ≤ 1) returns the value at ascending rank
    * max(1, ceil(q · n)) under (score ASC, id ASC) — a deterministic,
    * engine-reproducible discrete quantile, unlike `approx_percentile`
    * (bounded error, merge-order-dependent) and unlike a
    * sort-then-collect (driver holds n rows). NULL scores are excluded.
    * Output: one (q, value) row per requested quantile.
    *
    * Scale shape: the same range-shuffle + per-partition-count +
    * broadcast-offset pass as [[topFractionByScore]]; the only rows that
    * ever leave the executors are the |qs| matched ranks.
    */
  def quantileValues(df: DataFrame, idCol: String, scoreCol: String,
                     qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must be in (0,1], got $qs")
    val spark = df.sparkSession
    import spark.implicits._
    val (ranged, offsets, nPerGroup) =
      prefixRanked(df, idCol, scoreCol, groupCol = None, asc = true)
    val n = nPerGroup.getOrElse("", 0L)
    // max(1, ceil(q*n)) in DOUBLE arithmetic — both engines must compute
    // the rank identically (0.9*n is not exact in binary; identical IEEE
    // ops give identical ceils, so mirror this formula, don't "simplify")
    val wanted: Map[Long, Seq[Double]] = qs.map(q =>
      q -> math.max(1L, math.ceil(q * n).toLong)).groupBy(_._2)
      .map { case (k, xs) => k -> xs.map(_._1) }
    val bcOff = spark.sparkContext.broadcast(offsets)
    val bcW = spark.sparkContext.broadcast(wanted.keySet)
    // only the |qs| matched ranks leave the executors
    val hits = ranged.mapPartitions { it =>
      val local = scala.collection.mutable.HashMap[(Int, String), Long]()
      it.flatMap { case (pid, _, g, s) =>
        val c = local.getOrElse((pid, g), 0L) + 1
        local((pid, g)) = c
        val r = bcOff.value.getOrElse((pid, g), 0L) + c
        if (bcW.value.contains(r)) Some((r, s)) else None
      }
    }.collect().toMap
    wanted.toSeq.flatMap { case (k, qsAtK) =>
      hits.get(k).toSeq.flatMap(v => qsAtK.map(q => (q, v)))
    }.toDF("q", "value")
  }

  /** Shared distributed prefix-rank core. `groupCol = None` ranks the
    * whole frame as one group (rows carry a constant "" group tag; the
    * range key degenerates to (score desc, id)). `kOf(group, nGroup)`
    * returns the keep-count for each group given its row count.
    */
  private def rankGate(df: DataFrame, idCol: String, scoreCol: String,
                       groupCol: Option[String], kOf: (String, Long) => Long,
                       rankCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (ranged, offsets, nPerGroup) =
      prefixRanked(df, idCol, scoreCol, groupCol, asc = false)
    val kPerGroup: Map[String, Long] =
      nPerGroup.map { case (g, n) => g -> kOf(g, n) }
    val bcOff = spark.sparkContext.broadcast(offsets)
    val bcK = spark.sparkContext.broadcast(kPerGroup)
    // pass 2: linear per-partition scan adding the broadcast offsets —
    // exact per-group ranks with no group-wide sort in one task. Local
    // counters are keyed by the FROZEN (pid, group): correct even when a
    // coalesced task replays several stored partitions.
    val ranked = ranged.mapPartitions { it =>
      val local = scala.collection.mutable.HashMap[(Int, String), Long]()
      it.flatMap { case (pid, id, g, _) =>
        val c = local.getOrElse((pid, g), 0L) + 1
        local((pid, g)) = c
        val r = bcOff.value.getOrElse((pid, g), 0L) + c
        if (r <= bcK.value.getOrElse(g, 0L)) Some((id, r)) else None
      }
    }.toDF("__jid", rankCol)
    df.join(ranked, df.col(s"`$idCol`").cast("long") === col("__jid")).drop("__jid")
  }

  /** Shared distributed prefix-rank scaffold for [[rankGate]] and
    * [[quantileValues]]: range-partition on (group, score asc|desc, id),
    * FREEZE partition ids into the rows, lazily localCheckpoint so every
    * pass replays the SAME stored partitions (a re-executed range shuffle
    * resamples boundaries — the tokenBudgetMix hazard — and the tag
    * lambda runs during checkpoint materialization, whose stage
    * partitions ARE the range partitions), then collect per-(partition,
    * group) counts — a (partitions × groups)-row driver collect — and
    * fold them into per-group prefix offsets (O(P·G) sorted scan) and
    * per-group totals. Rows with a NULL score or group are dropped; user
    * column names are backtick-quoted (column names are USER DATA).
    */
  private def prefixRanked(df: DataFrame, idCol: String, scoreCol: String,
                           groupCol: Option[String], asc: Boolean)
      : (org.apache.spark.sql.Dataset[(Int, Long, String, Double)],
         Map[(Int, String), Long], Map[String, Long]) = {
    val spark = df.sparkSession
    import spark.implicits._
    val grp = groupCol.map(g => col(s"`$g`").cast("string")).getOrElse(lit(""))
    val score = col(s"`$scoreCol`")
    val base = df.where(score.isNotNull && grp.isNotNull)
      .select(col(s"`$idCol`").cast("long").as("__id"), grp.as("__g"),
        score.cast("double").as("__s"))
    val nParts = spark.sessionState.conf.numShufflePartitions
    val ord = if (asc) col("__s").asc else col("__s").desc
    val ranged = base
      .repartitionByRange(nParts, col("__g"), ord, col("__id").asc)
      .sortWithinPartitions(col("__g"), ord, col("__id").asc)
      .as[(Long, String, Double)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        it.map { case (id, g, s) => (pid, id, g, s) }
      }
      .localCheckpoint(false)
    val partStats = ranged.mapPartitions { it =>
      val m = scala.collection.mutable.LinkedHashMap[(Int, String), Long]()
      it.foreach { case (pid, _, g, _) => m((pid, g)) = m.getOrElse((pid, g), 0L) + 1 }
      m.iterator
    }.collect()
    val counts: Seq[((Int, String), Long)] = partStats.groupBy(_._1)
      .map { case (k, xs) => (k, xs.map(_._2).sum) }.toSeq.sortBy(_._1)
    val nPerGroup: Map[String, Long] = counts.groupBy(_._1._2)
      .map { case (g, xs) => g -> xs.map(_._2).sum }
    val offsets: Map[(Int, String), Long] = counts.groupBy(_._1._2).flatMap {
      case (g, xs) =>
        var acc = 0L
        xs.sortBy(_._1._1).map { case ((pid, _), c) =>
          val o = ((pid, g), acc); acc += c; o
        }
    }.toMap
    (ranged, offsets, nPerGroup)
  }
}
