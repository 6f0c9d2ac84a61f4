package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora. Everything is built to be
  * LINEAR in corpus size: exact dedup is a hash-groupBy on a fingerprint;
  * near-dup candidate generation goes through MinHash+LSH band buckets (a
  * groupBy join on band keys), never all-pairs. Hashes are md5-derived so
  * the DuckDB oracle can reproduce them bit-for-bit.
  */
object Dedup {

  private val bridge = org.apache.spark.sql.graft.GraftSqlBridge

  /** MinHash hash family. ONE md5 per shingle s produces a 61-bit base
    * hash h = int(md5(s)[0:15 hex]) mod (2^61−1); the family is derived by
    * 2-universal modular arithmetic
    * h_i = (a_i·(h>>31) + b_i·(h&(2^31−1)) + c_i) mod (2^61−1) — every
    * intermediate stays < 2^62, so the identical expression is exact (no
    * overflow) in Spark longs AND DuckDB BIGINTs (which would error on
    * overflow). This cuts the dominant cost of minhash/LSH at corpus scale
    * from numHashes md5 evaluations per shingle to one.
    */
  val MinhashMod: Long = (1L << 61) - 1

  /** Deterministic per-index family constants (30-bit, odd a). */
  def hashA(i: Int): Long = (((1103515245L * (i + 1) + 12345) >>> 3) & 0x3FFFFFFFL) | 1L
  def hashB(i: Int): Long = (((69069L * (i + 7) + 362437) >>> 2) & 0x3FFFFFFFL) | 1L
  def hashC(i: Int): Long = ((2654435761L * (i + 13)) >>> 4) & 0x3FFFFFFFL

  /** Exact dedup: keep the smallest id per normalized-text fingerprint.
    * Returns (id, fingerprint, is_canonical, dup_count).
    *
    * Aggregate + join, NOT a per-fingerprint window: degenerate
    * fingerprints (empty pages, error boilerplate) carry millions of rows
    * at corpus scale, and a window must sort every copy inside one task —
    * un-OOM-able (it spills) but an unsplittable straggler. The groupBy
    * gets map-side partial combine (one candidate per distinct
    * fingerprint per map partition) and the per-row verdict join only
    * needs the ONE summary row per fingerprint, so AQE's skew-join
    * splitting can fan the hot fingerprint's probe rows across tasks —
    * something a window can never do.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // narrow (id, fingerprint) projection, locally checkpointed LAZILY: both
    // join branches share the one materialization, so the corpus text is
    // scanned and md5'd ONCE (not once per branch), the stored block is
    // ~50 bytes/row, and the RDD is ContextCleaner-GC'd when unreferenced
    val fp = df.select(col(idCol), TextOps.fingerprint(col(textCol)).as("fingerprint"))
      .localCheckpoint(false)
    val g = fp.groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("__min_id"), count(lit(1)).as("dup_count"))
      .withColumnRenamed("fingerprint", "__g_fp")
    // null-safe join: a null text row keeps its (null-fingerprint group)
    // verdict, as the window formulation did — an inner equi-join would
    // silently drop it
    fp.join(g, fp("fingerprint") <=> col("__g_fp"))
      .select(col(idCol), col("fingerprint"),
        (col(idCol) === col("__min_id")).as("is_canonical"),
        col("dup_count"))
  }

  /** Corpus-wide paragraph dedup (C4/Gopher-style): every non-empty
    * (trimmed) line is fingerprinted; across the WHOLE corpus only the
    * first occurrence — smallest (id, line index) — of each fingerprint
    * survives, and documents are reassembled from their surviving lines in
    * original order. Boilerplate/chrome repeated across pages disappears
    * from every page but the first. Output: one row per input document —
    * (id, text_clean, paras_kept, paras_dropped); fully-deduplicated
    * documents survive with empty text (callers filter on paras_kept).
    *
    * Scale shape: explode is linear; first-occurrence selection is a
    * min-STRUCT aggregate by fingerprint — NOT a per-fingerprint window.
    * The distinction matters precisely here: boilerplate lines (nav
    * chrome, copyright footers) repeat across a huge fraction of a web
    * corpus, so a hot fingerprint is the EXPECTED case, and a window
    * formulation would sort every copy of it inside one task. The
    * aggregate gets map-side partial combine (each map partition ships
    * ONE candidate per distinct fingerprint it saw), and the winners join
    * back on (id, line index) — uniformly distributed keys, so no stage
    * carries fingerprint skew. Reassembly is one groupBy whose state is
    * bounded by a single document's line count. Normalization is
    * line-trim + whitespace collapse + lowercase for MATCHING only;
    * surviving lines keep original bytes.
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val paras = df
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("__idx", "__para")))
      .where(length(trim(col("__para"))) > 0)
      .withColumn("__pfp", TextOps.fingerprint(col("__para")))
    val firsts = paras
      .groupBy(col("__pfp"))
      .agg(min(struct(col(idCol).as("__fid"), col("__idx").as("__fidx"))).as("__first"))
      .select(col("__first.__fid").as("__fid"), col("__first.__fidx").as("__fidx"))
    val kept = paras
      .join(firsts, paras(idCol) === col("__fid") && col("__idx") === col("__fidx"), "left")
      .withColumn("__keep", col("__fid").isNotNull)
    val reassembled = kept
      .groupBy(col(idCol))
      .agg(
        concat_ws("\n", transform(
          array_sort(collect_list(when(col("__keep"), struct(col("__idx"), col("__para"))))),
          s => s.getField("__para"))).as("text_clean"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("paras_kept"),
        sum(when(col("__keep"), 0L).otherwise(1L)).as("paras_dropped"))
    df.select(col(idCol))
      .join(reassembled, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("paras_kept"), lit(0L)).as("paras_kept"),
        coalesce(col("paras_dropped"), lit(0L)).as("paras_dropped"))
  }

  /** Character k-shingles of the normalized text. */
  def shingles(text: Column, k: Int = 5): Column = {
    val norm = regexp_replace(lower(trim(text)), "\\s+", " ")
    array_distinct(transform(
      sequence(lit(1), greatest(length(norm) - (k - 1), lit(1))),
      i => norm.substr(i, lit(k))
    ))
  }

  /** Word n-grams of the text (n consecutive lowercased whitespace tokens
    * joined by one space, distinct, first-occurrence order): the native
    * one-loop [[graft.functions.WordNgrams]].
    */
  def wordNgrams(text: Column, n: Int = 3): Column =
    bridge.column(graft.functions.WordNgrams(bridge.expression(text), n))

  /** MinHash signature (numHashes values) over word n-gram shingles: the
    * native [[graft.functions.MinhashSig]] — one md5 base hash per shingle,
    * the family members by the integer arithmetic above, in one JVM loop
    * per row.
    */
  def minhashSignature(text: Column, numHashes: Int = 16, n: Int = 3): Column =
    bridge.column(graft.functions.MinhashSig(bridge.expression(text), numHashes, n))

  /** LSH candidate pairs: signatures split into `bands` bands; documents
    * sharing any band bucket become a candidate pair (id1 < id2).
    * Output: (id1, id2) distinct.
    *
    * Physical shape: one scan (base hashes computed once), one shuffle
    * (groupBy band bucket), pairs exploded WITHIN each bucket — no
    * self-join, so the signature pipeline is never evaluated twice and
    * there is no join-shuffle of the exploded band rows.
    *
    * Mega-bucket safety: duplicate-heavy corpora (boilerplate, empty docs)
    * can put millions of ids in ONE bucket; a full C(k,2) explode there is
    * quadratic work in a single task and an unbounded aggregation buffer.
    * Buckets with more than `maxBucketSize` members therefore emit a STAR
    * instead: every member paired with the bucket's minimum id (linear,
    * computed with spillable window aggregates — no id array ever
    * materializes). The star keeps the cluster transitively connected, which
    * is all downstream connected-component / canonical-id dedup needs;
    * direct pair coverage is only reduced for clusters already past the cap.
    */
  def lshCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 16, bands: Int = 4, n: Int = 3,
                        maxBucketSize: Int = 4096): DataFrame = {
    val rowsPerBand = numHashes / bands
    val banded = df.select(col(idCol).as("id"),
        minhashSignature(col(textCol), numHashes, n).as("sig"))
      .select(col("id"), posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => concat_ws("_", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))
      )).as(Seq("band", "bucket")))
    bucketedPairs(banded, maxBucketSize)
  }

  /** Within-bucket pair explosion with the mega-bucket hub-star cap, shared
    * by the MinHash/LSH, SimHash and SRP band pipelines. `banded` must carry
    * (id, band, bucket); see [[lshCandidatePairs]]'s doc for the physical
    * shape and capping semantics.
    */
  private[pipeline] def bucketedPairs(banded: DataFrame, maxBucketSize: Int): DataFrame = {
    // within-bucket pair expansion: native one-loop [[graft.functions.IdPairs]]
    // (the declarative flatten(transform(..slice..)) it replaces copies the
    // array suffix once per element — O(k²) interpreted-lambda copies per
    // bucket, ~0.75 s of q_simhash_pairs' 0.96 s at sf0.1; bit-identical
    // output order, pinned by PipelineSpec)
    def pairStructs(ids: Column): Column =
      bridge.column(graft.functions.IdPairs(bridge.expression(ids)))
    if (maxBucketSize == Int.MaxValue) {
      // cap-free regime (the oracle-exact driver configs): no bucket can
      // exceed the cap, so the mega branch is statically empty — skip the
      // sizing window (a full sort pass over the banded rows) and pair
      // directly off the groupBy. Identical output to the capped plan with
      // any cap no bucket reaches (PipelineSpec pins windowless ≡ windowed).
      // PINNED repartition AFTER the aggregate, BEFORE the explode: AQE
      // coalesces exchanges by BYTES, but the explode's cost is QUADRATIC
      // in bucket size (C(k,2) pair structs per bucket) — a few MB of
      // bucket rows must not collapse onto one task. Pinning the post-agg
      // exchange (one row per multi-member bucket) instead of the banded-row
      // exchange keeps the corpus-sized shuffle AQE-managed/combinable and
      // makes the pin's fixed cost proportional to the BUCKET count, not
      // the corpus (measured at sf0.1: pre-agg pin 0.95 s vs post-agg pin
      // 0.40 s on the q_lsh_pairs config, identical output). N derives
      // from the session's shuffle partitions (the rank-gate rule).
      val nParts = banded.sparkSession.sessionState.conf.numShufflePartitions
      return banded
        .groupBy(col("band"), col("bucket"))
        .agg(sort_array(collect_list(col("id"))).as("ids"))
        .filter(size(col("ids")) > 1)
        .repartition(nParts, col("band"), col("bucket"))
        .select(explode(pairStructs(col("ids"))).as("p"))
        .select(col("p.id1").as("id1"), col("p.id2").as("id2"))
        .distinct()
    }
    // size every bucket with window aggregates (spillable; same hash
    // partitioning is reused by the small-bucket groupBy below — one shuffle)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")
    val sized = banded.select(col("id"), col("band"), col("bucket"),
      count(lit(1)).over(w).as("__bsize"), min(col("id")).over(w).as("__hub"))
    val small = sized.filter(col("__bsize") > 1 && col("__bsize") <= maxBucketSize)
      .groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .select(explode(pairStructs(col("ids"))).as("p"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"))
    val mega = sized.filter(col("__bsize") > maxBucketSize && col("id") =!= col("__hub"))
      .select(col("__hub").as("id1"), col("id").as("id2"))
    small.union(mega).distinct()
  }

  /** SimHash band candidate pairs: the `bits`-bit simhash is split into
    * `bands` contiguous bit ranges; documents sharing any band value become
    * a candidate pair (id1 < id2). Two docs within hamming distance
    * `bands - 1` ALWAYS share at least one band (pigeonhole), so with 32
    * bits / 4 bands every pair at distance ≤ 3 is found — the standard
    * near-dup regime for token-level simhash. Same linear physical shape
    * and mega-bucket hub-star cap as [[lshCandidatePairs]].
    */
  def simhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                            bits: Int = 32, bands: Int = 4,
                            maxBucketSize: Int = 4096): DataFrame =
    bandedSketchPairs(df, idCol, simhash(col(textCol), bits), bits, bands, maxBucketSize)

  /** Band-split a long bit-sketch column into `bands` contiguous bit
    * ranges and emit within-bucket candidate pairs — the shared back half
    * of the SimHash and SRP pipelines ([[bucketedPairs]] shape and caps).
    */
  private[pipeline] def bandedSketchPairs(df: DataFrame, idCol: String, sketch: Column,
                                          bits: Int, bands: Int,
                                          maxBucketSize: Int): DataFrame = {
    require(bits % bands == 0, "bits must divide evenly into bands")
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1
    val banded = df.select(col(idCol).as("id"), sketch.as("__sk"))
      .select(col("id"), posexplode(array((0 until bands).map(b =>
        shiftrightunsigned(col("__sk"), b * bandBits).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "bucket")))
    bucketedPairs(banded, maxBucketSize)
  }

  /** Connected components over candidate pairs — the canonical-id
    * resolution stage downstream of [[lshCandidatePairs]] /
    * [[graft.pipeline.Similarity.ivfNearDupPairs]] (whose hub-star caps
    * preserve exactly the transitive connectivity this consumes). Returns
    * (id, component) with component = the minimum id reachable in the
    * undirected pair graph; only ids that appear in `pairs` are emitted
    * (isolated documents are their own component — left-join + coalesce).
    *
    * Algorithm: iterative min-label propagation. Each round is one join
    * (labels onto directed edges) + one min-aggregate; labels only ever
    * decrease, so `Σ label` (exact decimal — no overflow at 10^12 ids) is
    * unchanged iff a fixpoint was reached, giving an O(1)-row convergence
    * check per round. Rounds needed = graph diameter: near-dup clusters
    * are stars/cliques (hub-star capping makes mega clusters stars BY
    * construction), so 2-4 rounds in practice; `maxIter` bounds
    * adversarial chains.
    *
    * Lineage: each round's labels are CHECKPOINTED (eager localCheckpoint),
    * not merely persisted — the round references the previous labels twice
    * (join + union), so without plan truncation the logical plan DOUBLES
    * per round and analysis goes exponential (observed: a 2 GB plan string
    * by round ~20; persist caches data but the analyzer still walks the
    * full tree). localCheckpoint trades re-computability on executor loss
    * for truncation; a production run on preemptible nodes should swap in
    * a reliable checkpoint dir (graft.ckpt) at the same call site.
    */
  def connectedComponents(pairs: DataFrame, id1: String = "id1", id2: String = "id2",
                          maxIter: Int = 20, maxLocalEdges: Int = 1 << 22): DataFrame = {
    // Admission-bounded driver regime (the BpeTrainer / FeatSel split): a
    // candidate-pair graph that fits under `maxLocalEdges` resolves via
    // ONE bounded collect + union-find — zero per-round Spark jobs —
    // instead of 3-5 frontier rounds of join+aggregate+checkpoint. The
    // labels are IDENTICAL (component = min reachable id; union-by-min
    // with path compression computes exactly that — PipelineSpec pins
    // local ≡ distributed on random graphs). A graph one row past the
    // bound, non-integral ids, or null ids fall through to the
    // distributed frontier propagation unchanged; the lazily
    // localCheckpoint'd pair frame is shared so the (expensive) pair
    // pipeline is never computed twice.
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val integral = Seq(id1, id2).forall(c => pairs.schema(c).dataType match {
      case LongType | IntegerType => true
      case _ => false
    })
    if (integral && maxLocalEdges > 0) {
      val p = pairs.select(col(id1), col(id2)).localCheckpoint(false)
      // count + bounded collect, NOT limit().collect(): an incremental
      // executeTake drops its plan the moment enough rows arrive, and a GC
      // racing the still-draining task-completion events then logs
      // non-existent-accumulator errors. The count job materializes the
      // lazy checkpoint; the collect replays the stored blocks.
      val nEdges = p.count()
      if (nEdges <= maxLocalEdges) {
        val head = p.collect()
        if (head.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
          return localComponents(pairs.sparkSession, head, pairs.schema(id1).dataType)
      }
      val r = connectedComponentsWithInfo(p, id1, id2, maxIter)
      if (!r.converged)
        System.err.println(s"[graft.Dedup] connectedComponents hit maxIter=$maxIter before the " +
          "fixpoint — labels may span unmerged sub-components; raise maxIter for deep chain graphs")
      return r.labels
    }
    val r = connectedComponentsWithInfo(pairs, id1, id2, maxIter)
    // no silent caps: an unconverged truncation must be visible even to
    // callers of the frame-only API (programmatic callers should consume
    // connectedComponentsWithInfo and branch on `converged`)
    if (!r.converged)
      System.err.println(s"[graft.Dedup] connectedComponents hit maxIter=$maxIter before the " +
        "fixpoint — labels may span unmerged sub-components; raise maxIter for deep chain graphs")
    r.labels
  }

  /** Driver union-find over a bounded collected edge list: parent-pointer
    * forest with union-by-min-root and path compression, so every root IS
    * its component's minimum id — the same (id, component = min reachable
    * id) labeling the frontier propagation converges to. Only ids that
    * appear in pairs are emitted (the distributed contract).
    */
  private def localComponents(spark: org.apache.spark.sql.SparkSession,
                              edges: Array[org.apache.spark.sql.Row],
                              idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val nxt = parent.get(c); parent.put(c, r); c = nxt }
      r
    }
    edges.foreach { row =>
      val a = row.getAs[Number](0).longValue()
      val b = row.getAs[Number](1).longValue()
      parent.putIfAbsent(a, a)
      parent.putIfAbsent(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size())
    parent.forEach((k, _) => out += ((k, find(k))))
    import spark.implicits._
    out.toSeq.toDF("id", "component")
      .select(col("id").cast(idType).as("id"), col("component").cast(idType).as("component"))
  }

  /** Result of [[connectedComponentsWithInfo]]: the (id, component) frame,
    * whether the fixpoint was reached within maxIter, and the number of
    * label-propagation rounds run (the final round is the no-change round
    * that proves convergence).
    */
  final case class CcResult(labels: DataFrame, converged: Boolean, rounds: Int)

  /** Connected components with convergence info — see [[connectedComponents]]
    * for semantics. FRONTIER formulation: each round propagates labels only
    * from nodes whose label CHANGED in the previous round (round 1: all
    * nodes). Min-label propagation from changed-only senders is complete —
    * an unchanged node's label already reached its neighbors the round it
    * last changed — and the pointer-jump join against the full label frame
    * re-reads decreased targets, so results are identical to full
    * propagation while the per-round edge join shrinks with the frontier
    * (AQE broadcasts a small frontier, so converged regions stop paying any
    * edge shuffle at all). Convergence = empty frontier, checked with an
    * O(1)-row early-exit `isEmpty` on the round's cached output — no
    * separate label-sum aggregation job.
    */
  def connectedComponentsWithInfo(pairs: DataFrame, id1: String = "id1", id2: String = "id2",
                                  maxIter: Int = 20): CcResult = {
    val edges = pairs.select(col(id1).as("src"), col(id2).as("dst"))
      .union(pairs.select(col(id2).as("src"), col(id1).as("dst")))
      .localCheckpoint(true)
    var lab = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("component"))
      .localCheckpoint(true)
    val compType = lab.schema("component").dataType
    var frontier = lab // round 1: every node is a (potential) change source
    var it = 0
    var converged = frontier.isEmpty // empty graph
    while (it < maxIter && !converged) {
      // label rows carry their own label as __old; frontier messages carry
      // null — ONE union + groupBy merges new labels AND recovers each
      // node's previous label (max ignores nulls, and exactly one lab row
      // exists per id), so the round costs one aggregation exchange + the
      // jump join, not a separate candidate aggregate + left join
      val msgs =
        if (it == 0)
          // round 1's frontier IS the identity labeling, so joining edges
          // against it just re-emits the edge list — skip the join
          edges.select(col("dst").as("id"), col("src").cast(compType).as("component"),
            lit(null).cast(compType).as("__old"))
        else edges.join(
            frontier.select(col("id").as("__fid"), col("component").as("__fcomp")),
            edges("src") === col("__fid"))
          .select(col("dst").as("id"), col("__fcomp").as("component"),
            lit(null).cast(compType).as("__old"))
      val prop = lab.select(col("id"), col("component"), col("component").as("__old"))
        .union(msgs)
        .groupBy("id").agg(min("component").as("__ncomp"), max("__old").as("__old"))
      // pointer jumping (path halving): component := component's component.
      // Edge propagation alone needs diameter-many rounds — a 10^6-long
      // near-dup chain would mean 10^6 joins; squaring the pointer graph
      // each round cuts that to O(log diameter). Labels are node ids, so
      // every component value has a row in `prop` (left+coalesce guards
      // the in-flight round anyway). The jump join runs against the FULL
      // frame so decreased jump targets reach their dependents next round.
      val jump = prop.select(col("id").as("__jid"), col("__ncomp").as("__jcomp"))
      val next = prop.join(jump, prop("__ncomp") === jump("__jid"), "left")
        .select(prop("id"),
          coalesce(col("__jcomp"), col("__ncomp")).as("component"),
          col("__old"))
        .localCheckpoint(true) // truncates lineage — see the Lineage note
      val newFrontier = next.where(col("component") =!= col("__old"))
        .select("id", "component")
      // cheap convergence probe over the just-checkpointed blocks (an
      // observe()-metric variant riding the checkpoint job was tried and
      // reverted: the metric accumulator is weakly held and a GC during
      // the materialization job spams non-existent-accumulator errors)
      converged = newFrontier.isEmpty
      lab.unpersist()
      lab = next.select("id", "component")
      frontier = newFrontier
      it += 1
    }
    edges.unpersist()
    CcResult(lab, converged, it)
  }

  /** Composed fuzzy-dedup front door: MinHash-LSH candidate pairs →
    * connected components → canonical verdict, as ONE public operator (the
    * near-dup analogue of [[exact]]). Output: one row per input document —
    * (idCol, component, is_canonical, dup_count); the component label IS
    * the cluster's minimum id (min-label propagation's fixpoint), so the
    * canonical survivor is `id == component`, and documents with no
    * near-dup form their own singleton component.
    *
    * Scale shape: the pair stage keeps [[lshCandidatePairs]]'s mega-bucket
    * hub-star cap — the star preserves transitive connectivity, so the
    * COMPONENTS (and hence this operator's output) are identical to the
    * uncapped enumeration while a boilerplate bucket stays linear. The
    * verdict join is the [[exact]] shape: map-side-combinable size
    * aggregate + one-summary-row-per-component join (AQE-skew-splittable),
    * never a per-component window.
    */
  def fuzzyDedup(df: DataFrame, idCol: String, textCol: String,
                 numHashes: Int = 16, bands: Int = 4, n: Int = 3,
                 maxBucketSize: Int = 4096, maxIter: Int = 20): DataFrame = {
    val pairs = lshCandidatePairs(df, idCol, textCol, numHashes, bands, n, maxBucketSize)
    val labels = connectedComponents(pairs, maxIter = maxIter)
    // shared lazily-checkpointed label frame: the size aggregate and the
    // verdict join both read it, so the CC output is materialized once
    val ids = df.select(col(idCol))
    val lab = ids.join(labels, ids(idCol) === labels("id"), "left")
      .select(ids(idCol), coalesce(col("component"), ids(idCol)).as("component"))
      .localCheckpoint(false)
    val sizes = lab.groupBy(col("component")).agg(count(lit(1)).as("dup_count"))
      .withColumnRenamed("component", "__g_comp")
    lab.join(sizes, col("component") === col("__g_comp"))
      .select(col(idCol), col("component"),
        (col(idCol) === col("component")).as("is_canonical"),
        col("dup_count"))
  }

  /** n-gram Jaccard similarity for given candidate pairs (id1, id2). */
  def ngramJaccard(pairs: DataFrame, docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3): DataFrame = {
    val g = docs.select(col(idCol).as("__id"), wordNgrams(col(textCol), n).as("__grams"))
    pairs
      .join(g.withColumnRenamed("__id", "id1").withColumnRenamed("__grams", "g1"), "id1")
      .join(g.withColumnRenamed("__id", "id2").withColumnRenamed("__grams", "g2"), "id2")
      .withColumn("jaccard",
        size(array_intersect(col("g1"), col("g2"))).cast("double") /
          greatest(size(array_union(col("g1"), col("g2"))).cast("double"), lit(1.0)))
      .select("id1", "id2", "jaccard")
  }

  /** 32-bit SimHash over tokens: bit b is 1 iff the weighted sum of token
    * hash bits at position b is positive. Native one-pass
    * [[graft.functions.SimhashExpr]].
    */
  def simhash(text: Column, bits: Int = 32): Column =
    bridge.column(graft.functions.SimhashExpr(bridge.expression(text), bits))

  /** Hamming distance between two simhash values. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Whitespace normalization used by the winnowing layer: lowercase, trim,
    * collapse whitespace runs to a single space — positions emitted by
    * [[winnowFingerprints]] index into THIS string.
    */
  def normalizeWs(text: Column): Column =
    regexp_replace(trim(lower(text)), "\\s+", " ")

  /** Winnowed (pos, hash) fingerprints per document (MOSS content-defined
    * sampling — see [[graft.functions.WinnowExpr]]): one row per selected
    * k-gram, positions 0-based into [[normalizeWs]] text. Any two docs
    * sharing a normalized substring of length >= w + k - 1 share at least
    * one fingerprint; expected density 2/(w+1) per character.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 20, w: Int = 8): DataFrame = {
    val fp = bridge.column(graft.functions.WinnowExpr(bridge.expression(col(textCol)), k, w))
    df.select(col(idCol), explode(fp).as("__f"))
      .select(col(idCol), col("__f.pos").as("pos"), col("__f.hash").as("hash"))
  }

  /** Duplicated-substring spans per document: winnowed fingerprints that
    * occur more than once corpus-wide (all occurrences EXCEPT the globally
    * first by (id, pos) — first occurrence wins, like [[paragraphDedup]])
    * mark their k-char gram as duplicated; overlapping-or-adjacent marked
    * grams merge into maximal spans [span_start, span_end) on the
    * normalized text. The substring-level dedup regime of Lee et al.
    * (ACL'22), winnowing-sampled so no suffix array is needed.
    *
    * Scale shape: the fingerprint aggregate is map-side combinable and the
    * verdict join is AQE-skew-splittable (a boilerplate gram shared by
    * 10^9 docs is ONE agg row, never a window sort — the [[exact]] rule);
    * the island merge uses a per-document window, bounded by document
    * length. Span granularity is the SELECTED windows: at least k chars of
    * every >= (w+k-1)-length duplicate are flagged, but unselected gram
    * positions inside the duplicate are not — detection-grade, not a full
    * suffix-array match extension.
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 20, w: Int = 8, minCount: Int = 2): DataFrame = {
    // lazy localCheckpoint: the fingerprint frame feeds BOTH the aggregate
    // and the verdict join, and its scan is the expensive part (one md5 per
    // character position) — share one materialization across the branches,
    // ~20 bytes/row stored, ContextCleaner-GC'd (the Dedup.exact rule)
    val fp = winnowFingerprints(df, idCol, textCol, k, w).localCheckpoint(false)
    val agg = fp.groupBy(col("hash"))
      .agg(count(lit(1)).as("__cnt"),
        min(struct(col(idCol).as("__fid"), col("pos").as("__fpos"))).as("__first"))
      .filter(col("__cnt") >= minCount)
    val dup = fp.join(agg, Seq("hash"))
      .filter(!(col(idCol) === col("__first.__fid") && col("pos") === col("__first.__fpos")))
      .select(col(idCol), col("pos"))
    val Wnd = org.apache.spark.sql.expressions.Window
    val byDoc = Wnd.partitionBy(idCol).orderBy("pos")
    val newSpan = when(col("pos") <=
        max(col("pos") + k).over(byDoc.rowsBetween(Wnd.unboundedPreceding, -1)), 0)
      .otherwise(1)
    dup.withColumn("__span", sum(newSpan).over(
        byDoc.rowsBetween(Wnd.unboundedPreceding, Wnd.currentRow)))
      .groupBy(col(idCol), col("__span"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + k).cast("long").as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"))
  }

  /** Substring-level dedup: every document minus its [[duplicateSpans]],
    * rebuilt from the normalized text. Output: (id, text_clean,
    * chars_removed) for EVERY input document (span-free docs pass through
    * with 0 removed). Spans per doc are bounded by doc length, so the
    * rebuild aggregate buffer is bounded too.
    */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 20, w: Int = 8, minCount: Int = 2): DataFrame = {
    val spans = duplicateSpans(df, idCol, textCol, k, w, minCount)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("span_start"), col("span_end")))).as("__spans"),
        sum(col("span_end") - col("span_start")).as("chars_removed"))
    val norm = normalizeWs(col(textCol))
    df.select(col(idCol), norm.as("__nm"))
      .join(spans, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__spans").isNull, col("__nm")).otherwise(
          aggregate(col("__spans"),
            struct(lit(0L).as("last"), lit("").as("acc")),
            (st, sp) => struct(
              sp.getField("span_end").as("last"),
              concat(st.getField("acc"),
                col("__nm").substr((st.getField("last") + 1).cast("int"),
                  (sp.getField("span_start") - st.getField("last")).cast("int"))).as("acc")),
            st => concat(st.getField("acc"),
              col("__nm").substr((st.getField("last") + 1).cast("int"), length(col("__nm"))))))
          .as("text_clean"),
        coalesce(col("chars_removed"), lit(0L)).as("chars_removed"))
  }
}
