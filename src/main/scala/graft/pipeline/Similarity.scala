package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search. Baseline: brute-force cosine top-k with the
  * query side broadcast (one scan of the corpus per batch of queries).
  * Scale path: IVF — driver-side k-means on a bounded sample, broadcast
  * centroids, cluster-pruned search probing `nProbe` nearest centroids
  * (scan cost drops to ~nProbe/nCentroids of the corpus per query batch).
  */
object Similarity {

  private val bridge = org.apache.spark.sql.graft.GraftSqlBridge

  /** Dot product: the native codegen'd [[graft.functions.VecDot]]
    * (`vec_dot`), one primitive left-to-right double accumulation per row.
    * Degenerate inputs are total: mismatched lengths truncate to the
    * shorter array and null elements count as 0 (a declarative
    * `aggregate(zip_with(...))` would yield NULL for both). NULL arrays
    * give NULL.
    */
  def dot(a: Column, b: Column): Column =
    bridge.column(graft.functions.VecDot(bridge.expression(a), bridge.expression(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / greatest(norm(a) * norm(b), lit(1e-12))

  /** Brute-force top-k cosine neighbors for the query rows (queries are
    * expected to be a small broadcastable set).
    * Output: (query_id, neighbor_id, cosine, rank). Ties break by id.
    * `rankRoundTo >= 0` ranks on the cosine ROUNDED to that many digits
    * (ties still break by id) — the engine-independence defense for
    * oracle-gated queries: ulp-level accumulation differences between two
    * engines' dot products can flip neighbor order on the raw double.
    */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, rankRoundTo: Int = -1): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn")))
    val scored = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        norm(col(vecCol)).as("__cn"))
      .join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        dot(col("__qv"), col("__cv")) / greatest(col("__qn") * col("__cn"), lit(1e-12)))
    val rankKey = if (rankRoundTo >= 0)
      graft.functions.FastRound.round(col("cosine"), rankRoundTo) else col("cosine")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(rankKey.desc, asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Driver-side k-means (Lloyd, fixed iterations, deterministic seeding by
    * the first distinct sample points) over a bounded sample.
    */
  private def l2norm(v: Array[Double]): Array[Double] = {
    val n = math.max(math.sqrt(v.map(x => x * x).sum), 1e-12)
    v.map(_ / n)
  }

  /** Deterministic bounded sample: top-`n` rows by id (TakeOrderedAndProject
    * — a distributed top-k, not a full sort), normalized to the unit sphere.
    * Partitioning-independent, so centroids trained from it are reproducible
    * across cluster sizes.
    */
  def sampleByKey(df: DataFrame, idCol: String, vecCol: String, n: Int): Array[Array[Double]] =
    // cast in the plan: accepts float AND double element arrays (projected
    // vectors are array<double>); float->double widening is exact
    df.orderBy(col(idCol)).limit(n).select(col(vecCol).cast("array<double>"))
      .collect().map(r => l2norm(r.getSeq[Double](0).toArray))

  /** Spherical k-means (cosine geometry: vectors and centroids live on the
    * unit sphere, matching the cosine ranking of the search phase).
    */
  def trainCentroids(corpus: DataFrame, vecCol: String, nCentroids: Int,
                     sampleSize: Int = 10000, iters: Int = 10, seed: Long = 42): Array[Array[Double]] = {
    // Bernoulli sample + limit: one count job (parquet-metadata fast) + one
    // filtered scan. Never a full-corpus sort (orderBy(rand) is a global
    // top-k over every row — the wrong plan at 100 TB).
    val n = math.max(corpus.count(), 1L)
    val frac = math.min(1.0, (sampleSize * 1.2 + 100.0) / n)
    val sample = corpus.select(col(vecCol).cast("array<double>"))
      .sample(withReplacement = false, frac, seed)
      .limit(sampleSize)
      .collect().map(r => l2norm(r.getSeq[Double](0).toArray))
    trainCentroidsFromSample(sample, nCentroids, iters)
  }

  /** Lloyd iterations over an in-driver normalized sample (deterministic:
    * init = first `nCentroids` sample points).
    */
  def trainCentroidsFromSample(sample: Array[Array[Double]], nCentroids: Int,
                               iters: Int = 10): Array[Array[Double]] = {
    require(sample.length >= nCentroids, "sample smaller than centroid count")
    // init = the first nCentroids sample points, duplicates included (Lloyd
    // tolerates duplicate seeds; a value-distinct here would change the
    // golden-pinned centroid layouts for no correctness gain)
    var cents = sample.take(nCentroids).map(_.clone)
    val dim = cents(0).length
    for (_ <- 0 until iters) {
      val sums = Array.fill(nCentroids)(new Array[Double](dim))
      val counts = new Array[Long](nCentroids)
      sample.foreach { v =>
        val c = nearest(cents, v)
        counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      cents = cents.indices.map { c =>
        if (counts(c) == 0) cents(c)
        else l2norm(sums(c).map(_ / counts(c)))
      }.toArray
    }
    cents
  }

  private def nearest(cents: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var d = 0.0; var i = 0
      val cc = cents(c)
      while (i < v.length) { val t = cc(i) - v(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Cluster assignment column from broadcast centroids: spherical
    * assignment (maximize dot(v, c) over unit centroids — equivalent to
    * cosine since ||v|| is constant per row), via the native
    * [[graft.functions.IvfProbe]] expression (nProbe = 1).
    */
  def clusterCol(vec: Column, cents: Array[Array[Double]]): Column =
    probeClusters(vec, cents, 1).getItem(0)

  /** Top-`nProbe` nearest centroid indices for a vector. Native
    * [[graft.functions.IvfProbe]] expression: the centroid matrix rides as
    * ONE flattened reference object and selection is a primitive
    * O(k·dim + k·nProbe) codegen'd loop — executor-side, so a billion-row
    * query side never touches the driver, and the corpus-scale
    * k ≈ √N ≈ 1000 guideline stays cheap where the built-in formulation
    * (k·dim literal nodes + a per-row k-struct array_sort) chokes the
    * analyzer and pays O(k log k) interpreted work per row.
    * Bit-identical to the built-in formulation (per-centroid dot products,
    * array_sort on (−sim, idx) structs) — pinned by IvfProbeSpec.
    */
  def probeClusters(vec: Column, cents: Array[Array[Double]], nProbe: Int): Column = {
    bridge.column(graft.functions.IvfProbe(bridge.expression(vec),
      cents.flatten, cents.length, cents(0).length, nProbe))
  }

  /** IVF search: probe the `nProbe` centroids nearest to each query and do
    * exact cosine only inside those clusters. Queries are exploded to their
    * probe clusters distributively; the cluster join broadcasts when the
    * query batch is small (AQE decides), and degrades to a hash join
    * shuffled by cluster id for huge query sides — either way the corpus is
    * scanned once and only ~nProbe/nCentroids of it is scored per query.
    *
    * Skew: top-k must score EVERY member of a probed cluster (a hub-star
    * truncation like [[ivfNearDupPairs]]'s would change results), so
    * clusters larger than `maxClusterSize` are SALTED instead — members
    * hash into ceil(size/maxClusterSize) sub-partitions and each probing
    * query replicates to all salts of that cluster (salt counts ride a
    * broadcast of the nCentroids-row cluster-size table). Per-task join
    * work is then bounded by maxClusterSize × queries-probing regardless
    * of how many boilerplate vectors collapse onto one centroid; results
    * are bit-identical to the unsalted join.
    */
  /** Materialize the corpus side of the IVF index: (neighbor_id, vector,
    * norm, cluster). At production scale callers compute this ONCE, persist
    * or write it, and serve many query batches against it — recomputing the
    * per-row probe assignment (k·dim dots) per batch is the expensive part
    * of [[ivfKnn]]'s convenience path.
    */
  def assignCorpus(corpus: DataFrame, idCol: String, vecCol: String,
                   cents: Array[Array[Double]]): DataFrame =
    corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"),
      clusterCol(col(vecCol), cents).as("__cluster"))

  def ivfKnn(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
             k: Int, cents: Array[Array[Double]], nProbe: Int = 2,
             maxClusterSize: Int = 1 << 16): DataFrame = {
    // convenience path: the salt-count aggregate and the join side both read
    // the assignment (k·dim dots per row per read), so it is PERSISTED here
    // — one assignment computation, two cached reads. The cache is released
    // by Spark's LRU with the session; callers serving many batches should
    // own the lifecycle explicitly: assignCorpus(...).persist() once, then
    // ivfKnnAssigned per batch, unpersist when done.
    val assigned = assignCorpus(corpus, idCol, vecCol, cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ivfKnnAssigned(assigned, queries, idCol, vecCol, k, cents, nProbe, maxClusterSize)
  }

  /** [[ivfKnn]] over a precomputed (possibly persisted) [[assignCorpus]]
    * frame — the production shape: the index is materialized once, every
    * query batch pays only its own probe assignment + the cluster join.
    */
  def ivfKnnAssigned(assigned0: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                     k: Int, cents: Array[Array[Double]], nProbe: Int = 2,
                     maxClusterSize: Int = 1 << 16): DataFrame =
    ivfKnnCore(assigned0, queries, idCol, vecCol, k,
      v => probeClusters(v, cents, nProbe), maxClusterSize)

  private def ivfKnnCore(assigned0: DataFrame, queries: DataFrame, idCol: String,
                         vecCol: String, k: Int, probe: Column => Column,
                         maxClusterSize: Int): DataFrame = {
    // tiny (≤ nCentroids rows) salt-count table, broadcast to both sides
    val saltCounts = broadcast(assigned0.groupBy("__cluster")
      .agg(ceil(count(lit(1)).cast("double") / maxClusterSize).cast("int").as("__nsalt")))
    val assigned = assigned0.join(saltCounts, Seq("__cluster"))
      .withColumn("__salt",
        pmod(xxhash64(col("neighbor_id")), greatest(col("__nsalt"), lit(1))).cast("int"))
    val qDf = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn"),
      explode(probe(col(vecCol))).as("__cluster"))
      .join(saltCounts, Seq("__cluster"))
      .select(col("query_id"), col("__qv"), col("__qn"), col("__cluster"),
        explode(sequence(lit(0), greatest(col("__nsalt"), lit(1)) - 1)).as("__salt"))
    val scored = assigned.join(qDf, Seq("__cluster", "__salt"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        dot(col("__qv"), col("__cv")) / greatest(col("__qn") * col("__cn"), lit(1e-12)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("cosine"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Centroid-count guideline for corpus-scale IVF: k ≈ √N balances the
    * assignment cost (N·k dot products) against the within-cluster scoring
    * cost (≈ N²/k pair evaluations for near-dup, N·k_top/k for search), and
    * keeps the expected cluster population at √N — small enough that even a
    * few-× skewed cluster stays under a reasonable `maxClusterSize`. Clamped
    * to [16, 65536]: below 16 clusters prune nothing, above 64k the
    * broadcast centroid table and per-row argmax stop being cheap — past
    * the clamp, switch to the two-level quantizer ([[trainTwoLevel]] /
    * [[ivfNearDupPairsTwoLevel]] / [[ivfKnnTwoLevel]], k1 ≈ k2 ≈ N^(1/4)).
    */
  def suggestNCentroids(corpusSize: Long): Int =
    math.max(16, math.min(65536, math.round(math.sqrt(corpusSize.toDouble)))).toInt

  /** Corpus×corpus near-duplicate pairs at scale: every vector is exploded
    * to its `nProbe` nearest clusters, shuffled ONCE by cluster id, and
    * scored pairwise only within a cluster (the IVF analogue of LSH band
    * buckets — never an all-pairs join). A pair is found whenever the two
    * vectors' probe sets intersect; `nProbe` trades recall for the
    * replication factor. Output: (id1, id2, rcos) with id1 < id2, cosine
    * rounded to `roundTo` digits, kept when ≥ threshold.
    *
    * Mega-cluster safety (same hazard + same cure as
    * [[Dedup.lshCandidatePairs]]): boilerplate-heavy corpora collapse many
    * vectors onto one centroid, and an uncapped within-cluster join does
    * C(k,2) pair evaluations in ONE task. Clusters with more than
    * `maxClusterSize` members therefore score only the STAR around the
    * cluster's minimum id (linear: each member vs the hub) instead of all
    * pairs — transitive connectivity for downstream connected-component
    * dedup is preserved, direct pair coverage is reduced only for clusters
    * already past the cap. Cluster sizes come from spillable window
    * aggregates whose hash partitioning is reused by the pair join — the
    * capped plan still shuffles the corpus exactly once. Pick
    * `cents` via [[suggestNCentroids]] (k ≈ √N) so the expected cluster
    * population stays far below the cap in the first place.
    */
  def ivfNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                      cents: Array[Array[Double]], threshold: Double,
                      nProbe: Int = 2, roundTo: Int = 5,
                      maxClusterSize: Int = 4096): DataFrame =
    nearDupFromProbe(corpus, idCol, vecCol,
      v => probeClusters(v, cents, nProbe), threshold, roundTo, maxClusterSize)

  private def nearDupFromProbe(corpus: DataFrame, idCol: String, vecCol: String,
                               probe: Column => Column, threshold: Double,
                               roundTo: Int, maxClusterSize: Int): DataFrame = {
    // Cap-free regime (the oracle-exact driver configs) over integral ids:
    // no cluster can be mega, so the hub-star branch AND the sizing window
    // are statically dead — and pair dedup across shared clusters moves
    // from score-everywhere + distinct() to score-ONCE: each exploded row
    // carries its probe list, and a candidate pair survives only when the
    // fused [[graft.functions.ProbePairKeep]] join predicate (id1 < id2 &&
    // current cluster == hash-picked owner of ps1 ∩ ps2) holds, so the
    // 64-dim dot product and its round are paid once per qualifying pair
    // instead of once per shared cluster (nProbe-fold at recall-1).
    // Emitted pair set is IDENTICAL (every shared-probe pair has exactly
    // one owner, enumerated in that cluster's join); PipelineSpec pins
    // cap-free ≡ finite-cap and ≡ brute force.
    //
    // The explicit PINNED repartition replaces the window's exchange:
    // without it the planner broadcasts the tiny-bytes build side and
    // streams the probe side at its scan parallelism (ONE task for a
    // single-file corpus), and AQE would coalesce an unpinned exchange by
    // BYTES — the wrong heuristic for a stage whose cost is quadratic per
    // cluster, not linear in bytes. N derives from the session's shuffle
    // partitions (the rank-gate rule), never a local constant.
    val integralId = corpus.schema(idCol).dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType => true
      case _ => false
    }
    if (maxClusterSize == Int.MaxValue && integralId) {
      val nParts = corpus.sparkSession.sessionState.conf.numShufflePartitions
      val probed = corpus.select(col(idCol).as("__id"), col(vecCol).as("__v"),
        norm(col(vecCol)).as("__norm"), probe(col(vecCol)).as("__ps"))
        .withColumn("__cluster", explode(col("__ps")))
        .repartition(nParts, col("__cluster"))
      val a = probed.select(col("__id").as("id1"), col("__v").as("v1"),
        col("__norm").as("n1"), col("__ps").as("__ps1"), col("__cluster"))
      val b = probed.select(col("__id").as("id2"), col("__v").as("v2"),
        col("__norm").as("n2"), col("__ps").as("__ps2"), col("__cluster").as("__cl2"))
      val keep = bridge.column(graft.functions.ProbePairKeep(
        bridge.expression(col("__cluster")),
        bridge.expression(col("id1")), bridge.expression(col("id2")),
        bridge.expression(col("__ps1")), bridge.expression(col("__ps2"))))
      return a.join(b, col("__cluster") === col("__cl2") && keep)
        .withColumn("rcos", graft.functions.FastRound.round(
          dot(col("v1"), col("v2")) / greatest(col("n1") * col("n2"), lit(1e-12)), roundTo))
        .filter(col("rcos") >= threshold)
        .select("id1", "id2", "rcos")
    }
    // norm computed ONCE per vector before the pair join (cosine() inline
    // would recompute both norms per PAIR — 3 dot products instead of 1)
    val probed = corpus.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      norm(col(vecCol)).as("__norm"),
      explode(probe(col(vecCol))).as("__cluster"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("__cluster")
    val sized = probed.select(col("__id"), col("__v"), col("__norm"), col("__cluster"),
      count(lit(1)).over(w).as("__csize"), min(col("__id")).over(w).as("__hub"))
    def scored(pairs: DataFrame): DataFrame = pairs
      .withColumn("rcos", graft.functions.FastRound.round(
        dot(col("v1"), col("v2")) / greatest(col("n1") * col("n2"), lit(1e-12)), roundTo))
      .filter(col("rcos") >= threshold)
      .select("id1", "id2", "rcos")
    val a = sized.filter(col("__csize") <= maxClusterSize)
      .select(col("__id").as("id1"), col("__v").as("v1"), col("__norm").as("n1"), col("__cluster"))
    val b = sized.filter(col("__csize") <= maxClusterSize)
      .select(col("__id").as("id2"), col("__v").as("v2"), col("__norm").as("n2"), col("__cluster"))
    val small = scored(a.join(b, Seq("__cluster")).filter(col("id1") < col("id2")))
    // mega clusters: each member joins exactly its cluster's single hub row
    // (a 1-row-per-cluster build side), so per-task work stays linear
    val hubs = sized.filter(col("__csize") > maxClusterSize && col("__id") === col("__hub"))
      .select(col("__cluster"), col("__id").as("id1"), col("__v").as("v1"), col("__norm").as("n1"))
    val megaMembers = sized.filter(col("__csize") > maxClusterSize && col("__id") =!= col("__hub"))
      .select(col("__cluster"), col("__id").as("id2"), col("__v").as("v2"), col("__norm").as("n2"))
    val mega = scored(megaMembers.join(hubs, Seq("__cluster")))
    small.union(mega).distinct()
  }

  // ------------------------------------------------------- two-level IVF
  /** Two-level quantizer: `coarse` is k1 unit centroids; `fineFlat` holds
    * k1·k2 unit fine centroids, cell c's j-th at row c·k2 + j. Global fine
    * cluster ids are c·k2 + j. For N where the flat k ≈ √N rule passes
    * [[suggestNCentroids]]'s 65536 clamp (N ≈ 10^11+), pick
    * k1 ≈ k2 ≈ N^(1/4): per-row assignment cost falls from k·dim to
    * (k1 + nProbeCoarse·k2)·dim while the expected fine-cell population
    * stays √N-ish.
    */
  final case class TwoLevelCentroids(coarse: Array[Array[Double]],
                                     fineFlat: Array[Array[Double]], k2: Int) {
    def k1: Int = coarse.length
    def dim: Int = coarse(0).length
  }

  /** Train the two-level quantizer on an in-driver sample: Lloyd for the
    * coarse level, then Lloyd per coarse cell over the cell's members
    * (degenerate cells pad with copies of their coarse centroid — duplicate
    * fine centroids are harmless, ties resolve to the smaller global id).
    */
  def trainTwoLevel(sample: Array[Array[Double]], k1: Int, k2: Int,
                    iters: Int = 10): TwoLevelCentroids = {
    val coarse = trainCentroidsFromSample(sample, k1, iters)
    val byCell = sample.groupBy(v => nearest(coarse, v))
    val fine = (0 until k1).flatMap { c =>
      val cell = byCell.getOrElse(c, Array.empty[Array[Double]])
      // distinct BY VALUE: Array equality is reference equality, and every
      // collected row is a fresh instance — a bare .distinct never dedupes
      val distinct = cell.map(_.toSeq).distinct.map(_.toArray)
      val cellCents =
        if (distinct.length >= k2) trainCentroidsFromSample(cell, k2, iters)
        else distinct ++ Array.fill(k2 - distinct.length)(coarse(c).clone)
      cellCents
    }.toArray
    TwoLevelCentroids(coarse, fine, k2)
  }

  /** Top-`nProbe` GLOBAL fine-cluster ids through the two-level probe
    * (native [[graft.functions.IvfProbe2]]; with nProbeCoarse = k1 the
    * result is bit-identical to the flat probe over the full fine matrix).
    */
  def probeClustersTwoLevel(vec: Column, tlc: TwoLevelCentroids,
                            nProbeCoarse: Int, nProbe: Int): Column = {
    bridge.column(graft.functions.IvfProbe2(bridge.expression(vec),
      tlc.coarse.flatten, tlc.fineFlat.flatten, tlc.k1, tlc.k2, tlc.dim,
      nProbeCoarse, nProbe))
  }

  /** [[ivfNearDupPairs]] through the two-level quantizer — same one-shuffle
    * cluster-bucketed shape and hub-star cap, cluster ids = global fine ids.
    */
  def ivfNearDupPairsTwoLevel(corpus: DataFrame, idCol: String, vecCol: String,
                              tlc: TwoLevelCentroids, threshold: Double,
                              nProbeCoarse: Int = 2, nProbe: Int = 2, roundTo: Int = 5,
                              maxClusterSize: Int = 4096): DataFrame =
    nearDupFromProbe(corpus, idCol, vecCol,
      v => probeClustersTwoLevel(v, tlc, nProbeCoarse, nProbe),
      threshold, roundTo, maxClusterSize)

  /** [[ivfKnn]] through the two-level quantizer — same broadcast salt-count
    * and mega-cluster salting machinery, cluster ids = global fine ids.
    */
  def ivfKnnTwoLevel(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                     k: Int, tlc: TwoLevelCentroids, nProbeCoarse: Int = 2, nProbe: Int = 2,
                     maxClusterSize: Int = 1 << 16): DataFrame = {
    val assigned = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"),
      probeClustersTwoLevel(col(vecCol), tlc, 1, 1).getItem(0).as("__cluster"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ivfKnnCore(assigned, queries, idCol, vecCol, k,
      v => probeClustersTwoLevel(v, tlc, nProbeCoarse, nProbe), maxClusterSize)
  }

  /** Signed-random-projection sketch of the embedding (cosine LSH bits) —
    * the native [[graft.functions.SrpSketch]] expression; like IvfProbe it
    * carries plan state (the plane matrix) so it is constructed directly
    * and needs no session extension. `dim` sizes the plane matrix; vectors
    * longer than `dim` truncate, shorter use the overlap.
    */
  def srpSketch(vec: Column, bits: Int = 48, dim: Int = 64, seed: Int = 7): Column = {
    bridge.column(graft.functions.SrpSketch(bridge.expression(vec), bits, dim, seed))
  }

  /** SRP band candidate pairs — training-free embedding-cosine near-dup
    * (the LSH counterpart of [[ivfNearDupPairs]], which needs centroid
    * training): the `bits`-bit sketch splits into `bands` contiguous bit
    * ranges; vectors sharing any band value become a candidate pair
    * (id1 < id2). Pigeonhole: every pair within sketch hamming distance
    * `bands - 1` shares a band, and P[bit differs] = angle/pi (Charikar),
    * so band width trades candidate density against the cosine radius
    * exactly like simhash banding does for token space. Same one-shuffle
    * bucketed explosion and mega-bucket hub-star cap as
    * [[graft.pipeline.Dedup.lshCandidatePairs]].
    */
  /** Rademacher random projection of the embedding to `outDim` dimensions
    * (the native [[graft.functions.RpProject]] expression): values are
    * exact integers (stored as doubles), cosine-preserving with error
    * ~1/sqrt(outDim) — project once, then run [[bruteForceKnn]] /
    * [[trainCentroidsFromSample]] / probing on outDim-wide vectors at
    * outDim/dim of the scoring cost. Size outDim so the cosine MARGIN of
    * the workload beats the noise: clustered corpora (within-cluster
    * cosine >> background) keep exact top-k at outDim 16; weak-margin
    * neighborhoods (gaps ~0.3) need outDim in the hundreds, i.e. the
    * operator pays off when dim is 1024+ (RpProjectSpec measures both
    * regimes). Decorrelated from [[srpSketch]]'s planes at equal seeds.
    */
  def rpProject(vec: Column, outDim: Int = 16, dim: Int = 64, seed: Int = 7): Column = {
    bridge.column(graft.functions.RpProject(bridge.expression(vec), outDim, dim, seed))
  }

  def srpCandidatePairs(df: DataFrame, idCol: String, vecCol: String,
                        bits: Int = 48, bands: Int = 4, dim: Int = 64, seed: Int = 7,
                        maxBucketSize: Int = 4096): DataFrame =
    Dedup.bandedSketchPairs(df, idCol, srpSketch(col(vecCol), bits, dim, seed),
      bits, bands, maxBucketSize)
}
