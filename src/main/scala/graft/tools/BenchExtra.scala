package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage-isolation benchmarks for OPTIMIZATION_r06.md (guide §1.4): times
  * individual stages of the composed hot queries with the noop sink so the
  * computation is measured, not the sink or the driver collect. NOT part
  * of the frozen driver bench (graft.Bench) — extra evidence only.
  *
  * `runMain graft.tools.BenchExtra` (env SPARK_GRAFT_SF_DIR/CPUS as Bench).
  */
object BenchExtra {

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    import graft.pipeline._

    def bench(name: String)(f: => Unit): Unit = {
      sc.setJobDescription(name)
      f // warm
      val ts = (1 to 3).map(_ => timed(f)._2)
      println(f"EXTRA $name%-38s median=${ts.sorted.apply(1)}%.3f runs=${ts.map(t => f"$t%.3f").mkString(",")}")
      sc.setJobDescription(null)
    }

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    // does Observation deliver metrics through a localCheckpoint action?
    locally {
      val obs = org.apache.spark.sql.Observation("probe_obs")
      spark.range(10).observe(obs, count(lit(1)).as("n")).localCheckpoint(true)
      val got = scala.concurrent.Await.result(
        scala.concurrent.Future(obs.get("n"))(scala.concurrent.ExecutionContext.global),
        scala.concurrent.duration.Duration(10, "s"))
      println(s"EXTRA observation_via_localCheckpoint n=$got")
    }

    // ---- fuzzy dedup decomposition
    bench("lsh_pairs_noop") {
      noop(Dedup.lshCandidatePairs(docs, "doc_id", "text", 8, 4))
    }
    bench("cc_over_lsh_pairs") {
      val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text", 8, 4)
      val r = Dedup.connectedComponentsWithInfo(pairs)
      noop(r.labels)
      println(s"  cc rounds=${r.rounds} converged=${r.converged}")
    }
    bench("fuzzy_dedup_full_noop") {
      noop(Dedup.fuzzyDedup(docs, "doc_id", "text", 8, 4))
    }

    // ---- NB train vs score
    bench("quality_nb_train_only") {
      QualityFilter.train(docs.filter(col("doc_id") < 2000L), "text", vocabSize = 512)
    }
    locally {
      val model = QualityFilter.train(docs.filter(col("doc_id") < 2000L), "text", vocabSize = 512)
      bench("quality_nb_score_only_noop") {
        noop(docs.filter(col("doc_id") < 2000L).select(col("doc_id"),
          QualityFilter.marginCol(col("text"), model).as("margin")))
      }
    }

    // ---- NB training stage breakdown (mirrors LangId.train's shape)
    locally {
      val d0 = docs.filter(col("doc_id") < 2000L)
      val labeled = d0.select(col("text").as("__text"),
        QualityFilter.weakLabelCol(col("text"), 0.5).as("__label"))
      val d = labeled.select(lower(col("__text")).as("t"),
        col("__label").cast("string").as("lang"))
        .filter(col("t").isNotNull && col("lang").isNotNull)
      val n = 2
      val gramsCol = when(length(col("t")) >= n,
        transform(sequence(lit(1), length(col("t")) - (n - 1)),
          i => col("t").substr(i, lit(n))))
        .otherwise(array().cast("array<string>"))
      bench("nb_stage_gram_explode_agg") {
        noop(d.select(col("lang"), explode(gramsCol).as("gram"))
          .groupBy("lang", "gram").agg(count(lit(1)).as("c")))
      }
      bench("nb_stage_label_scan_only") {
        noop(d)
      }
      // native char_ngrams formulation — what LangId.train's gramsCol
      // builds. The declarative probe above is the O(len²) formulation it
      // replaced, not the trained path: the
      // real stage cost is ~0.33 s, not ~1.0 s. A packed-code-point-long
      // gram key variant was built, measured at 0.324 s vs this probe's
      // 0.335 s (explode machinery dominates, not key width), and
      // REVERTED — no measured win to justify re-keying three
      // oracle-replayed NB trainers.
      val bridge = org.apache.spark.sql.graft.GraftSqlBridge
      val ng = bridge.column(graft.functions.CharNgrams(
        bridge.expression(col("t")), n))
      bench("nb_stage_native_gram_explode_agg") {
        noop(d.select(col("lang"), explode(ng).as("gram"))
          .groupBy("lang", "gram").agg(count(lit(1)).as("c")))
      }
    }

    // ---- q_lm_score decomposition: train vs score, and train's two
    // corpus scans (unigram agg+collects vs bigram explode+joins+agg)
    locally {
      val ref = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      bench("lm_train_only") {
        LangModel.train(ref, "text", vocabSize = 256)
      }
      locally {
        val model = LangModel.train(ref, "text", vocabSize = 256)
        bench("lm_score_only_noop") {
          noop(docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
            .select(col("doc_id"), LangModel.scoreCol(col("text"), model).as("s")))
        }
      }
      val toks = filter(split(trim(lower(col("text"))), "\\s+"), w => length(w) > 0)
      val t = ref.select(toks.as("ws"))
      bench("lm_stage_uni_agg_noop") {
        noop(t.select(explode(col("ws")).as("w")).groupBy("w").agg(count(lit(1)).as("c")))
      }
      bench("lm_stage_bigram_explode_agg_noop") {
        noop(t.filter(size(col("ws")) >= 2)
          .select(explode(transform(sequence(lit(0), size(col("ws")) - 2), i =>
            struct(element_at(col("ws"), (i + 1).cast("int")).as("a"),
              element_at(col("ws"), (i + 2).cast("int")).as("b")))).as("p"))
          .groupBy(col("p.a"), col("p.b")).agg(count(lit(1)).as("c")))
      }
    }

    // ---- distributed BPE regimes (forced past the driver-local bound):
    // incremental delta loop (default) vs the original full per-round
    // recount (maxLocalPairs = 0), 40 merges each
    bench("bpe_train_distributed_40") {
      BpeTrainer.train(docs.filter(col("doc_id") < 2000L), "text",
        nMerges = 40, maxLocalWords = 0)
    }
    bench("bpe_train_dist_recount_40") {
      BpeTrainer.train(docs.filter(col("doc_id") < 2000L), "text",
        nMerges = 40, maxLocalWords = 0, maxLocalPairs = 0L)
    }

    // ---- winnow chain decomposition
    bench("winnow_fp_scan_noop") {
      noop(Dedup.winnowFingerprints(docs, "doc_id", "text", 20, 8))
    }
    bench("winnow_spans_noop") {
      noop(Dedup.duplicateSpans(docs, "doc_id", "text", 20, 8))
    }
    bench("substring_dedup_noop") {
      noop(Dedup.substringDedup(docs, "doc_id", "text", 20, 8))
    }

    // ---- banded sketch pair stages (audio shape without the decode)
    bench("audio_neardup_noop") {
      val payload = concat((0 until 8).map(k =>
        unhex(md5(encode(concat(col("text"), lit(s"~$k")), "UTF-8")))): _*)
      val media = docs.filter(col("text").isNotNull)
        .select(col("doc_id").as("media_id"),
          concat(lit(graft.tools.BenchExtraWav.header64), payload).as("media"))
      noop(Multimodal.audioNearDupPairs(media, "media_id", "media",
        bands = 8, maxBucketSize = Int.MaxValue))
    }

    // ---- ivf2 (recall-1 config) — final-plan exchange reuse check
    locally {
      import graft.pipeline.Similarity
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val sample = Similarity.sampleByKey(e, "vec_id", "embedding", 256)
      val tlc = Similarity.trainTwoLevel(sample, 4, 4)
      val df = Similarity.ivfNearDupPairsTwoLevel(
        e.select("vec_id", "embedding"), "vec_id", "embedding",
        tlc, threshold = 0.45, nProbeCoarse = 3, nProbe = 8,
        maxClusterSize = Int.MaxValue)
      bench("ivf2_neardup_noop") { noop(df) }
      noop(df)
      val finalPlan = df.queryExecution.executedPlan.toString
      val reused = "ReusedExchange".r.findAllIn(finalPlan).length
      val exch = "Exchange".r.findAllIn(finalPlan).length
      println(s"EXTRA ivf2_final_plan exchanges=$exch reused=$reused")
    }

    spark.stop()
  }
}

/** 64-sample WAV header shared with SparkEntry's q_audio_neardup payload. */
object BenchExtraWav {
  val header64: Array[Byte] = {
    val out = new Array[Byte](44)
    def put(s: String, o: Int): Unit = {
      val a = s.getBytes("US-ASCII"); System.arraycopy(a, 0, out, o, a.length)
    }
    def p32(v: Int, o: Int): Unit = {
      out(o) = v.toByte; out(o + 1) = (v >> 8).toByte
      out(o + 2) = (v >> 16).toByte; out(o + 3) = (v >> 24).toByte
    }
    def p16(v: Int, o: Int): Unit = { out(o) = v.toByte; out(o + 1) = (v >> 8).toByte }
    val dataBytes = 2 * 64
    put("RIFF", 0); p32(36 + dataBytes, 4); put("WAVE", 8)
    put("fmt ", 12); p32(16, 16); p16(1, 20); p16(1, 22); p32(8000, 24)
    p32(16000, 28); p16(2, 32); p16(16, 34)
    put("data", 36); p32(dataBytes, 40)
    out
  }
}
