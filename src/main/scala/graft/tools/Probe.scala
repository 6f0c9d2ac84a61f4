package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.{Bench, SparkEntry}
import graft.time.{AsOfJoin, PointInTime, TranscriptGen}

/** Diagnostic probes, one subcommand each:
  *
  *   sbt "runMain graft.tools.Probe plans"
  *   sbt "runMain graft.tools.Probe dump <sfDir> <outDir> [suffix] [q1,q2,...]"
  *   sbt "runMain graft.tools.Probe time <q1,q2,...>"
  *   sbt "runMain graft.tools.Probe fit <input.parquet>"
  *
  * The session is `local[SPARK_GRAFT_CPUS]` (default: every processor) with
  * as many shuffle partitions; `plans` and `time` read SPARK_GRAFT_SF_DIR.
  * Each subcommand takes the session, so a spec can run it on its own.
  */
object Probe {

  private val usage = "usage: Probe plans | dump <sfDir> <outDir> [suffix] [q1,q2,...]" +
    " | time <q1,q2,...> | fit <input.parquet>"

  def main(args: Array[String]): Unit = {
    def names(csv: String): Seq[String] = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    def sfDir(default: String): String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", default)
    val run: SparkSession => Unit = args.toSeq match {
      case Seq("plans") => plans(_, sfDir("/root/testdata/sf0.01"))
      case Seq("dump", dir, outDir, rest @ _*) if rest.size <= 2 =>
        dump(_, dir, outDir, rest.headOption.getOrElse("before"), rest.drop(1).flatMap(names))
      case Seq("time", qs) => time(_, sfDir("/root/testdata/sf0.1"), names(qs))
      case Seq("fit", input) => fit(_, input)
      case _ => throw new IllegalArgumentException(usage)
    }
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = Sessions.local(cores, cores)
    try run(spark) finally spark.stop()
  }

  /** Writes `explain("formatted")` of each named SparkEntry query (all of
    * them when `only` is empty) to `<outDir>/<query>_<suffix>.txt`. Unknown
    * names fail before anything is written; queries that fail to plan fail
    * the call after the others are written. Both errors name the queries.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String, suffix: String,
           only: Seq[String]): Unit = {
    val queries = SparkEntry.queries
    val unknown = only.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    Files.createDirectories(Paths.get(outDir))
    val names = if (only.isEmpty) queries.keys.toSeq.sorted else only.distinct.sorted
    val failed = names.flatMap { name =>
      try {
        val df = queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        Files.write(Paths.get(outDir, s"${name}_$suffix.txt"), txt.getBytes(UTF_8))
        println(s"dumped $name")
        None
      } catch {
        case NonFatal(e) => Some(s"$name: ${e.getMessage}")
      }
    }
    if (failed.nonEmpty)
      throw new IllegalStateException(s"${failed.size} queries failed to plan:\n${failed.mkString("\n")}")
  }

  /** Noop-sink timing of SparkEntry queries: one warm-up run, then the
    * median of three.
    */
  def time(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val queries = SparkEntry.queries
    names.foreach { name =>
      def run(): Unit = queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      spark.sparkContext.setJobDescription(name)
      run()
      val ts = Seq.fill(3)(Bench.timed(run())._2)
      println(f"TIME $name%-40s median=${ts.sorted.apply(1)}%.3f runs=${ts.map(t => f"$t%.3f").mkString(",")}")
      spark.sparkContext.setJobDescription(null)
    }
  }

  /** Phase timing of the steps=3 fit over a parquet input with columns
    * x1, x2, x3 and target (the tests' f2 fixture input).
    */
  def fit(spark: SparkSession, inputPath: String): Unit = {
    import graft.feateng.{FeatEng, FeatEngConfig}
    import graft.model.{AutoFeat, AutoFeatConfig}
    import graft.select.FeatSel
    def phase[T](name: String)(f: => T): T = {
      val (r, s) = Bench.timed(f)
      println(f"PHASE $name: $s%.1f s")
      r
    }
    val input = spark.read.parquet(inputPath).drop("row_id").cache()
    input.count()
    val eng = phase("engineerFeatures steps=3") {
      new FeatEng(FeatEngConfig(maxSteps = 3))
        .engineerFeatures(input, Seq("x1", "x2", "x3"), passThrough = Seq("target"))
    }
    println(s"ENGINEERED=${eng.newCols.size}")
    val picked = phase("selectFeatures 5 runs") {
      FeatSel.selectFeatures(eng.df, eng.columns, "target")
    }
    println(s"SELECTED=${picked.size}: ${picked.take(8).mkString(" | ")}")
    phase("full fitTransform steps=3") {
      AutoFeat.fitTransform(input, "target", AutoFeatConfig(feategSteps = 3))
    }
  }

  /** Raw operator counts in a frame's executed plan: hash exchanges,
    * broadcasts, sorts. Cached build plans are reprinted per reference, so
    * the counts can exceed the shuffles that actually run.
    */
  private def census(df: DataFrame): (Int, Int, Int) = {
    val plan = df.queryExecution.executedPlan.toString
    ("Exchange hashpartitioning".r.findAllIn(plan).size,
      "BroadcastExchange".r.findAllIn(plan).size,
      "\\+- Sort ".r.findAllIn(plan).size)
  }

  private def printCensus(tag: String, df: DataFrame): Unit = {
    val (nExch, nBcast, nSort) = census(df)
    println(s"$tag: EXCHANGES=$nExch BROADCASTS=$nBcast SORTS=$nSort")
  }

  /** The physical plans of the flagship operators for scale review
    * (PLANS.md). Checks, per plan, the properties that matter at 100 TB:
    * single exchange for the point-in-time layer, an as-of merge that adds
    * no exchange over it, shuffle-free synthesis projection, broadcast on
    * the knn query side, pushed filters/pruned schema on parquet scans.
    */
  def plans(spark: SparkSession, sfDir: String): Unit = {
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

    import graft.expr.{Compile, F, Var}
    val winners = Seq(
      F.log(Var("text_len")), F.sqrt(Var("cum_text_len")),
      F.mul(F.log(Var("cum_text_len")), F.recip(Var("turns_so_far"))))

    section("synthesis projection — shuffle-free, whole-stage codegen") {
      val base = PointInTime.baseFeatures(turns)
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
      val out = joined.select(
        Seq(col("conv_id"), col("turn_idx"), col("ts"),
          col("asof_session_len").cast("double").as("asof_session_len")) ++
          winners.map(e =>
            Compile.toColumn(e, s => col(s).cast("double")).as(e.name)): _*)
      val (nExch, _, nSort) = census(out)
      out.explain("formatted")
      // The raw counts overcount: the cached base's build plan (its one
      // exchange + sort) is re-printed for every InMemoryTableScan
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
      printCensus("pack_concat (1 exch + 1 sort: shard window)",
        Pack.concatChunk(docs, "doc_id", "tok", 512, 8))
      printCensus("pack_greedy (1 exch + 1 sort: shard stream)",
        Pack.greedyPack(docs, "doc_id", "tok", 256L, 8))
      printCensus("hash_sample (0 exch: map-side filter)",
        Sampling.hashSample(docs.select("doc_id"), "doc_id", 0.3, 7))
      printCensus("stratified (0 exch + 1 bcast: rate table)",
        Sampling.stratifiedSample(docs.select("doc_id", "lang"), "doc_id", "lang",
          Map("en" -> 0.5), 3))
      printCensus("token_mix (1 exch + 1 sort + 1 bcast: per-source window)",
        Sampling.tokenBudgetMix(docs, "doc_id", "tok", "source", Map("src0" -> 100L), 1))
      printCensus("contamination (1 exch: overlap agg; bench grams bcast)",
        Contamination.flagContaminated(docs.where(pmod(col("doc_id"), lit(20)) =!= 0),
          docs.where(pmod(col("doc_id"), lit(20)) === 0), "doc_id", "text"))
    }

    section("round-5 operators — exchange census") {
      import graft.pipeline.{Multimodal, Pq, QualityFilter, Similarity}
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val header = lit("P5\n12 6\n255\n".getBytes("US-ASCII"))
      val payload = concat((0 until 5).map(k =>
        unhex(md5(encode(concat(col("text"), lit(s"#$k")), "UTF-8")))): _*)
      val media = docs.filter(col("text").isNotNull)
        .select(col("doc_id").as("media_id"),
          concat(header, substring(payload, 1, 72)).as("media"))
      printCensus("image_neardup (raw 3 = banded window exch printed per small/mega branch — ReuseExchange dedupes at runtime — + pair-distinct; true topology 2 shuffles)",
        Multimodal.imageNearDupPairs(media, "media_id", "media"))
      printCensus("audio_neardup, same banded core (non-audio skipped pre-shuffle)",
        Multimodal.audioNearDupPairs(media, "media_id", "media"))
      val qm = QualityFilter.train(docs, "text", vocabSize = 64)
      printCensus("quality_margin scoring (0 exch: ONE codegen'd map stage)",
        docs.select(QualityFilter.marginCol(col("text"), qm).as("m")))
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val pq = Pq.train(e, "vec_id", "embedding", m = 16, k = 16)
      val codes = Pq.encodeCorpus(e, "vec_id", "embedding", pq)
      printCensus("pq_encode (0 exch: codegen'd map)", codes)
      printCensus("pq_adc_knn (1 bcast queries + 1 exch top-k window)",
        Pq.adcKnn(codes, e.filter(col("vec_id") < 3), "vec_id", "embedding", 5, pq))
      val cents = Similarity.trainCentroidsFromSample(
        Similarity.sampleByKey(e, "vec_id", "embedding", 64), 8)
      printCensus("ivf_adc_knn (1 bcast probe-pairs + 1 exch top-k window)",
        Pq.ivfAdcKnn(Pq.encodeCorpusIvf(e, "vec_id", "embedding", pq, cents),
          e.filter(col("vec_id") < 3), "vec_id", "embedding", 5, pq, cents, nProbe = 2))
    }
  }
}
