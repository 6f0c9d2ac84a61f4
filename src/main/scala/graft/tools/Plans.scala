package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.time.{AsOfJoin, PointInTime, TranscriptGen}

/** Dumps the physical plans of the flagship operators for scale review
  * (PLANS.md). Checks, per plan, the properties that matter at 100 TB:
  * single exchange for the point-in-time layer, an as-of merge that adds no
  * exchange over it, shuffle-free synthesis
  * projection, broadcast on the knn query side, pushed filters/pruned
  * schema on parquet scans.
  *
  * Run: sbt "runMain graft.tools.Plans"
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-plans")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    def section(name: String)(body: => Unit): Unit = {
      println(s"\n===== $name =====")
      body
    }

    val turns = TranscriptGen.generate(spark, 500, 20, 42).toDF()

    section("pointInTime.baseFeatures — ONE exchange + ONE sort feeding one PointInTimeScan") {
      PointInTime.baseFeatures(turns).explain("formatted")
    }

    section("as-of join — AsOfMerge over (key, ts)-sorted sides, no join explosion") {
      val base = PointInTime.baseFeatures(turns)
      val sessions = base.groupBy(col("conv_id"), col("session_id"))
        .agg(max(col("ts")).as("ts"), sum(col("text_len")).as("session_len"))
      AsOfJoin.asof(base.select("conv_id", "turn_idx", "ts"), sessions,
        "conv_id", "ts", Seq("session_len")).explain("formatted")
    }

    section("synthesis projection — shuffle-free, whole-stage codegen") {
      import graft.expr.{Compile, F, Var}
      val base = PointInTime.baseFeatures(turns)
      val winners = Seq(
        F.log(Var("text_len")), F.sqrt(Var("cum_text_len")),
        F.mul(F.log(Var("cum_text_len")), F.recip(Var("turns_so_far"))))
      base.select(col("conv_id") +: winners.map(e =>
        Compile.toColumn(e, s => col(s).cast("double")).as(e.name)): _*).explain("formatted")
    }

    section("parquet scan pruning — filter + column pushdown reach the scan") {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .filter(col("l_quantity") > 40)
        .select(col("l_orderkey"), log(col("l_quantity")).as("log_q"))
        .explain("formatted")
    }

    section("FULL flagship pipeline — exchange census") {
      val base = PointInTime.baseFeatures(turns)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sessions = base.groupBy(col("conv_id"), col("session_id"))
        .agg(max(col("ts")).as("ts"), sum(col("text_len")).as("session_len"),
          count(lit(1)).as("session_turns"))
      val joined = AsOfJoin.asof(base, sessions, "conv_id", "ts",
        Seq("session_len", "session_turns"))
      import graft.expr.{Compile, F, Var}
      val winners = Seq(
        F.log(Var("text_len")), F.sqrt(Var("cum_text_len")),
        F.mul(F.log(Var("cum_text_len")), F.recip(Var("turns_so_far"))))
      val out = joined.select(
        Seq(col("conv_id"), col("turn_idx"), col("ts"),
          col("asof_session_len").cast("double").as("asof_session_len")) ++
          winners.map(e =>
            Compile.toColumn(e, s => col(s).cast("double")).as(e.name)): _*)
      val plan = out.queryExecution.executedPlan.toString
      val nExch = "Exchange hashpartitioning".r.findAllIn(plan).size
      val nSort = "\\+- Sort ".r.findAllIn(plan).size
      out.explain("formatted")
      // NOTE the raw counts overcount: the cached base's build plan (its
      // one exchange + sort) is re-printed for every InMemoryTableScan
      // reference and AQE stage variant. Verified topology (read the plan):
      //   base windows     = 1 exchange(conv_id) + 1 sort, computed ONCE
      //   sessions groupBy = 0 exchanges (partial+final HashAggregate
      //                      back-to-back: hashpartitioning(conv_id)
      //                      satisfies ClusteredDistribution(conv_id,
      //                      session_id) via the cached base)
      //   as-of merge      = 0 exchanges on the left (the cached base is
      //                      clustered on conv_id and sorted by (conv_id,
      //                      ts, turn_idx)) + 1 sort of the session rows
      // => the turns table is shuffled exactly once end-to-end. Before the
      // cache is materialized its partitioning is not yet known, so the
      // initial plan shows exchanges that AQE drops once the cache stage
      // has run.
      println(s"EXCHANGES=$nExch SORTS=$nSort (raw count incl. cached-plan reprints; true topology: 1 shuffle, see note)")
      base.unpersist()
    }

    section("knn — broadcast query side, native vec_dot in the scorer") {
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      graft.pipeline.Similarity.bruteForceKnn(
        e, e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5).explain("formatted")
    }

    section("curation operators — exchange census") {
      import graft.pipeline.{Contamination, Pack, Sampling}
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .withColumn("tok", graft.pipeline.TextOps.tokenCount(col("text")).cast("long"))
      def census(tag: String, df: org.apache.spark.sql.DataFrame): Unit = {
        val plan = df.queryExecution.executedPlan.toString
        val nExch = "Exchange hashpartitioning".r.findAllIn(plan).size
        val nBcast = "BroadcastExchange".r.findAllIn(plan).size
        val nSort = "\\+- Sort ".r.findAllIn(plan).size
        println(s"$tag: EXCHANGES=$nExch BROADCASTS=$nBcast SORTS=$nSort")
      }
      census("pack_concat (1 exch + 1 sort: shard window)",
        Pack.concatChunk(docs, "doc_id", "tok", 512, 8))
      census("pack_greedy (1 exch + 1 sort: shard stream)",
        Pack.greedyPack(docs, "doc_id", "tok", 256L, 8))
      census("hash_sample (0 exch: map-side filter)",
        Sampling.hashSample(docs.select("doc_id"), "doc_id", 0.3, 7))
      census("stratified (0 exch + 1 bcast: rate table)",
        Sampling.stratifiedSample(docs.select("doc_id", "lang"), "doc_id", "lang",
          Map("en" -> 0.5), 3))
      census("token_mix (1 exch + 1 sort + 1 bcast: per-source window)",
        Sampling.tokenBudgetMix(docs, "doc_id", "tok", "source", Map("src0" -> 100L), 1))
      census("contamination (1 exch: overlap agg; bench grams bcast)",
        Contamination.flagContaminated(docs.where(pmod(col("doc_id"), lit(20)) =!= 0),
          docs.where(pmod(col("doc_id"), lit(20)) === 0), "doc_id", "text"))
    }

    section("round-5 operators — exchange census") {
      import graft.pipeline.{Multimodal, Pq, QualityFilter, Similarity}
      def census(tag: String, df: org.apache.spark.sql.DataFrame): Unit = {
        val plan = df.queryExecution.executedPlan.toString
        val nExch = "Exchange hashpartitioning".r.findAllIn(plan).size
        val nBcast = "BroadcastExchange".r.findAllIn(plan).size
        val nSort = "\\+- Sort ".r.findAllIn(plan).size
        println(s"$tag: EXCHANGES=$nExch BROADCASTS=$nBcast SORTS=$nSort")
      }
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val header = lit("P5\n12 6\n255\n".getBytes("US-ASCII"))
      val payload = concat((0 until 5).map(k =>
        unhex(md5(encode(concat(col("text"), lit(s"#$k")), "UTF-8")))): _*)
      val media = docs.filter(col("text").isNotNull)
        .select(col("doc_id").as("media_id"),
          concat(header, substring(payload, 1, 72)).as("media"))
      census("image_neardup (raw 3 = banded window exch printed per small/mega branch — ReuseExchange dedupes at runtime — + pair-distinct; true topology 2 shuffles)",
        Multimodal.imageNearDupPairs(media, "media_id", "media"))
      census("audio_neardup, same banded core (non-audio skipped pre-shuffle)",
        Multimodal.audioNearDupPairs(media, "media_id", "media"))
      val qm = QualityFilter.train(docs, "text", vocabSize = 64)
      census("quality_margin scoring (0 exch: ONE codegen'd map stage)",
        docs.select(QualityFilter.marginCol(col("text"), qm).as("m")))
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val pq = Pq.train(e, "vec_id", "embedding", m = 16, k = 16)
      val codes = Pq.encodeCorpus(e, "vec_id", "embedding", pq)
      census("pq_encode (0 exch: codegen'd map)", codes)
      census("pq_adc_knn (1 bcast queries + 1 exch top-k window)",
        Pq.adcKnn(codes, e.filter(col("vec_id") < 3), "vec_id", "embedding", 5, pq))
      val cents = Similarity.trainCentroidsFromSample(
        Similarity.sampleByKey(e, "vec_id", "embedding", 64), 8)
      census("ivf_adc_knn (1 bcast probe-pairs + 1 exch top-k window)",
        Pq.ivfAdcKnn(Pq.encodeCorpusIvf(e, "vec_id", "embedding", pq, cents),
          e.filter(col("vec_id") < 3), "vec_id", "embedding", 5, pq, cents, nProbe = 2))
    }

    spark.stop()
  }
}
