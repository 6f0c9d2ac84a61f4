package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-6 stage-isolation probes (guide §1.4): noop-sink timings for the
  * remaining hot queries, used to decide WHERE the time goes before any
  * change. Not part of the frozen driver bench.
  *
  * `runMain graft.tools.IsoBench [group]` (env SPARK_GRAFT_SF_DIR/CPUS).
  */
object IsoBench {

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val group = if (args.nonEmpty) args(0) else "all"
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
      println(f"ISO $name%-40s median=${ts.sorted.apply(1)}%.3f runs=${ts.map(t => f"$t%.3f").mkString(",")}")
      sc.setJobDescription(null)
    }
    def on(g: String): Boolean = group == "all" || group == g

    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

    if (on("scan")) {
      bench("lineitem_scan_4cols") {
        noop(li.select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice")))
      }
      bench("lineitem_scan_hashagg") {
        li.select(xxhash64(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice")).as("__h"))
          .agg(count(lit(1)), sum(col("__h").cast("double"))).collect()
      }
      bench("scale_stats_only") {
        graft.stats.Scaling.stats(li, Seq("l_quantity", "l_extendedprice"))
      }
      bench("q_scale_full_noop") {
        noop(graft.SparkEntry.queries("q_scale")(spark, sfDir))
      }
      bench("q_transforms_full_noop") {
        noop(graft.SparkEntry.queries("q_transforms")(spark, sfDir))
      }
    }

    if (on("ivf")) {
      bench("ivf_neardup_q_noop") {
        noop(graft.SparkEntry.queries("q_ivf_neardup")(spark, sfDir))
      }
      bench("ivf2_neardup_q_noop") {
        noop(graft.SparkEntry.queries("q_ivf2_neardup")(spark, sfDir))
      }
      bench("rp_ivf_neardup_q_noop") {
        noop(graft.SparkEntry.queries("q_rp_ivf_neardup")(spark, sfDir))
      }
      // stage: probe+window sizing only (no pair join)
      locally {
        val sample = Similarity.sampleByKey(emb, "vec_id", "embedding", 256)
        val cents = Similarity.trainCentroidsFromSample(sample, 16)
        val probed = emb.select(col("vec_id").as("__id"), col("embedding").as("__v"),
          Similarity.norm(col("embedding")).as("__norm"),
          explode(Similarity.probeClusters(col("embedding"), cents, 6)).as("__cluster"))
        bench("ivf_probe_explode_only") { noop(probed) }
        val w = org.apache.spark.sql.expressions.Window.partitionBy("__cluster")
        bench("ivf_probe_window_sized") {
          noop(probed.select(col("__id"), col("__v"), col("__norm"), col("__cluster"),
            count(lit(1)).over(w).as("__csize"), min(col("__id")).over(w).as("__hub")))
        }
      }
    }

    if (on("banded")) {
      // simhash banded stages (cap-free config of q_simhash_pairs)
      val banded = docs.select(col("doc_id").as("id"),
          Dedup.simhash(col("text"), 32).as("__sk"))
        .select(col("id"), col("__sk"), posexplode(array((0 until 4).map(b =>
          shiftrightunsigned(col("__sk"), b * 8).bitwiseAND(lit(255L))): _*))
          .as(Seq("band", "bucket")))
      bench("simhash_banded_scan_only") { noop(banded.drop("__sk")) }
      val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")
      bench("simhash_banded_window_sized") {
        noop(banded.drop("__sk").select(col("id"), col("band"), col("bucket"),
          count(lit(1)).over(w).as("__bsize"), min(col("id")).over(w).as("__hub")))
      }
      bench("simhash_group_explode_nodistinct") {
        noop(banded.drop("__sk")
          .groupBy(col("band"), col("bucket"))
          .agg(sort_array(collect_list(col("id"))).as("ids"))
          .filter(size(col("ids")) > 1)
          .select(explode(flatten(transform(col("ids"), (x, i) =>
            transform(slice(col("ids"), i + 2, size(col("ids"))),
              y => struct(x.as("id1"), y.as("id2")))))).as("p"))
          .select(col("p.id1").as("id1"), col("p.id2").as("id2")))
      }
      bench("simhash_pairs_q_noop") {
        noop(graft.SparkEntry.queries("q_simhash_pairs")(spark, sfDir))
      }
      bench("audio_neardup_q_noop") {
        noop(graft.SparkEntry.queries("q_audio_neardup")(spark, sfDir))
      }
      bench("image_neardup_q_noop") {
        noop(graft.SparkEntry.queries("q_image_neardup")(spark, sfDir))
      }
    }

    // A/B the bucketedPairs formulations on the q_lsh_pairs config: the r5
    // windowed shape (cap high enough that no bucket hits it) vs the r6
    // windowless cap-free shape (pinned exchange), vs windowless WITHOUT
    // the pin — separates the window-removal gain from the pin's fixed
    // task overhead at bench scale.
    if (on("lshab")) {
      bench("lsh_r5_windowed_cap4096") {
        noop(Dedup.lshCandidatePairs(docs, "doc_id", "text", 8, 4,
          maxBucketSize = 4096))
      }
      bench("lsh_r6_windowless_pinned") {
        noop(Dedup.lshCandidatePairs(docs, "doc_id", "text", 8, 4,
          maxBucketSize = Int.MaxValue))
      }
      locally { // windowless, unpinned (AQE free to coalesce the agg read)
        val bridge = org.apache.spark.sql.graft.GraftSqlBridge
        def pairStructs(ids: org.apache.spark.sql.Column) =
          bridge.column(graft.functions.IdPairs(bridge.expression(ids)))
        val numHashes = 8; val bands = 4; val rowsPerBand = numHashes / bands
        val banded = docs.select(col("doc_id").as("id"),
            Dedup.minhashSignature(col("text"), numHashes, 3).as("sig"))
          .select(col("id"), posexplode(transform(
            sequence(lit(0), lit(bands - 1)),
            b => concat_ws("_", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))
          )).as(Seq("band", "bucket")))
        bench("lsh_r6_windowless_unpinned") {
          noop(banded.groupBy(col("band"), col("bucket"))
            .agg(sort_array(collect_list(col("id"))).as("ids"))
            .filter(size(col("ids")) > 1)
            .select(explode(pairStructs(col("ids"))).as("p"))
            .select(col("p.id1").as("id1"), col("p.id2").as("id2"))
            .distinct())
        }
      }
    }

    // generic: `runMain graft.tools.IsoBench q <name1,name2,...>` times any
    // declared queries with the noop sink
    if (group == "q" && args.length > 1) {
      args(1).split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
        bench(s"q:$name") { noop(graft.SparkEntry.queries(name)(spark, sfDir)) }
      }
    }

    if (on("curate")) {
      bench("curate_pack_q_noop") {
        noop(graft.SparkEntry.queries("q_curate_pack")(spark, sfDir))
      }
      bench("substring_dedup_q_noop") {
        noop(graft.SparkEntry.queries("q_substring_dedup")(spark, sfDir))
      }
      bench("winnow_spans_q_noop") {
        noop(graft.SparkEntry.queries("q_winnow_spans")(spark, sfDir))
      }
      bench("curate_nb_q_noop") {
        noop(graft.SparkEntry.queries("q_curate_nb")(spark, sfDir))
      }
    }

    spark.stop()
  }
}
