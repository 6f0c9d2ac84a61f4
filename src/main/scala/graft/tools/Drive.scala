package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.time.{PointInTime, TranscriptGen}

/** End-to-end drive of the library through its public API (forked JVM —
  * `sbt "runMain graft.tools.Drive"`). Prints what it observes; used by the
  * project verify recipe. Not part of the driver contract.
  */
object Drive {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-drive")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val t = TranscriptGen.generate(spark, 200, 20, 42)
    println("TURNS=" + t.count())
    val f = PointInTime.baseFeatures(t.toDF())
    f.orderBy("conv_id", "turn_idx").show(8, truncate = false)
    println("FEATROWS=" + f.count())
    println("EMPTY=" + PointInTime.baseFeatures(TranscriptGen.generate(spark, 0, 20, 1).toDF()).count())
    val g0 = PointInTime.baseFeatures(t.toDF(), gapSecs = 0L)
    println("G0_BAD=" + g0.filter(col("turns_in_session") =!= 1 && col("secs_since_prev") > 0).count())
    f.explain("formatted")

    // M1: symbolic IR -> Column over real data
    {
      import graft.expr._
      val x = Var("text_len"); val y = Var("turns_so_far")
      val e1 = F.mul(F.sqrt(x), F.recip(y))       // sqrt(text_len)/turns_so_far
      val e2 = F.sub(F.log(x), F.sq(y))
      val e3 = F.mul(x, F.recip(x))               // collapses to 1
      println("NAMES=" + Seq(e1, e2, e3).map(_.name).mkString(" | "))
      val cols = Seq(e1, e2).map(ex =>
        Compile.toColumn(ex, n => col(n).cast("double")).as(ex.name))
      f.select(cols: _*).show(3, truncate = false)
    }
    // M4: synthesis engine over real transcript base features
    {
      import graft.feateng._
      val feats = Seq("text_len", "secs_since_prev", "turns_so_far", "cum_tool_calls")
      val base = f.select(feats.map(c => col(c).cast("double")): _*)
      val res = new FeatEng(FeatEngConfig(maxSteps = 2)).engineerFeatures(base, feats)
      println(s"ENGINEERED=${res.newCols.size} cols from ${feats.size} base features")
      println("SAMPLE_NAMES=" + res.newCols.take(6).mkString(" | "))
      res.df.select(res.columns.take(8).map(c => col(s"`$c`")): _*).show(3)
    }
    // M5: noise-filtered selection over engineered transcript features,
    // planted target = 3*log(text_len) - 2/turns_so_far + noise
    {
      import graft.feateng._
      import graft.select.FeatSel
      val feats = Seq("text_len", "secs_since_prev", "turns_so_far", "cum_tool_calls")
      val base = f.select(feats.map(c => col(c).cast("double")): _*)
      val res = new FeatEng(FeatEngConfig(maxSteps = 1)).engineerFeatures(base, feats)
      val withY = res.df.withColumn("y",
        lit(3.0) * col("`log(text_len)`") - lit(2.0) * col("`1/turns_so_far`") + randn(1) * 0.01)
      val picked = FeatSel.selectFeatures(withY, res.columns, "y")
      println("SELECTED=" + picked.mkString(" | "))
    }
    // M7: as-of join — for each turn, the last completed-session summary
    {
      import graft.time.AsOfJoin
      val sessions = f.groupBy(col("conv_id"), col("session_id"))
        .agg(max(col("ts")).as("ts"), sum(col("text_len")).as("session_len"))
      val joined = AsOfJoin.asof(
        f.select("conv_id", "turn_idx", "ts"), sessions, "conv_id", "ts", Seq("session_len"))
      println("ASOF_ROWS=" + joined.count() + " MATCHED=" +
        joined.filter(col("asof_session_len").isNotNull).count())
      joined.orderBy("conv_id", "turn_idx").show(5)
    }
    // Yeo-Johnson over a skewed real feature + a constant column (hostile)
    {
      import graft.stats.YeoJohnson
      val in = f.select(col("text_len").cast("double").as("tl"), lit(3.0).as("const"))
      val (out, m) = YeoJohnson.fitTransform(in, Seq("tl", "const"))
      println("YJ_LAMBDAS=" + m.lambdas.mkString(", "))
      val r = out.agg(avg("tl"), stddev_pop("tl"), skewness("tl")).collect()(0)
      println(f"YJ_TL mean=${r.getDouble(0)}%.6f std=${r.getDouble(1)}%.6f skew=${r.getDouble(2)}%.4f")
      println("YJ_CONST_FINITE=" + out.filter(col("const").isNull || isnan(col("const"))).count())
    }
    // classification selection (balanced L1-logistic quadratic) on a planted
    // logistic target from real transcript features
    {
      import graft.select.{FeatSel, LogisticLasso}
      val feats = Seq("text_len", "secs_since_prev", "turns_so_far", "cum_tool_calls")
      val base = f.select(feats.map(c => col(c).cast("double")): _*)
      val withY = base.withColumn("y",
        (lit(0.002) * col("text_len") - lit(0.5) * col("turns_so_far") + randn(7) > 0).cast("double"))
      val picked = FeatSel.selectFeatures(withY, feats, "y",
        FeatSel.Config(problemType = "classification", featselRuns = 2))
      println("CLF_SELECTED=" + picked.mkString(" | "))
      val picked3 = FeatSel.selectFeatures(withY, feats, "y",
        FeatSel.Config(problemType = "classification", featselRuns = 2, selectionNewtonRounds = 3))
      println("CLF_SELECTED_NEWTON3=" + picked3.mkString(" | "))
      val fit = LogisticLasso.cvFit(withY, feats, "y", rounds = 2)
      println("CLF_COEF=" + fit.cols.zip(fit.coef).map { case (c, b) => f"$c=$b%.4f" }.mkString(" "))
    }
    // native vec_dot: parity with HOF path, nulls, length mismatch, empties
    {
      import spark.implicits._
      println("VEC_DOT_REGISTERED=" + spark.catalog.functionExists("vec_dot"))
      val vdf = Seq(
        (Some(Seq(1.0f, 2.0f, 3.0f)), Some(Seq(4.0f, 5.0f, 6.0f))),
        (None, Some(Seq(1.0f))),
        (Some(Seq(1.0f, 2.0f)), Some(Seq(3.0f))),
        (Some(Seq.empty[Float]), Some(Seq.empty[Float]))
      ).toDF("a", "b")
      vdf.select(call_function("vec_dot", col("a"), col("b")).as("d")).show()
    }
    // round 2: window-based exact dedup (no collect_list) + LSH mega-bucket
    // star path + hostile empty input
    {
      import spark.implicits._
      import graft.pipeline.Dedup
      val docs = Seq(
        (1L, "the same  TEXT"), (2L, "The same text"), (3L, "unique doc one"),
        (4L, "another unique"), (5L, "the same text")
      ).toDF("doc_id", "text")
      Dedup.exact(docs, "doc_id", "text").orderBy("doc_id").show(truncate = false)
      println("DEDUP_EMPTY=" + Dedup.exact(docs.limit(0), "doc_id", "text").count())
      // force the mega-bucket star path: 6 identical docs, cap=3 -> every
      // bucket overflows, pairs must be hub(min id) stars, still connected
      val dup6 = (1L to 6L).map(i => (i, "identical words repeated here ok")).toDF("doc_id", "text")
      val star = Dedup.lshCandidatePairs(dup6, "doc_id", "text", numHashes = 8, bands = 4, maxBucketSize = 3)
      println("LSH_STAR_PAIRS (cap=3, expect 5 hub pairs):")
      star.orderBy("id1", "id2").show()
      val full = Dedup.lshCandidatePairs(dup6, "doc_id", "text", numHashes = 8, bands = 4)
      println("LSH_FULL_PAIRS=" + full.count() + " (expect C(6,2)=15)")
    }
    // round 2: IVF — executor-side probe assignment + corpus near-dup pairs
    {
      import graft.pipeline.Similarity
      val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val cents = Similarity.trainCentroidsFromSample(
        Similarity.sampleByKey(e, "vec_id", "embedding", 256), 16)
      val nd = Similarity.ivfNearDupPairs(e.select("vec_id", "embedding"),
        "vec_id", "embedding", cents, threshold = 0.45, nProbe = 4)
      println("IVF_NEARDUP_PAIRS=" + nd.count())
      val knn = Similarity.ivfKnn(e, e.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 4, cents = cents, nProbe = 4)
      println("IVF_KNN (no driver collect of queries):")
      knn.orderBy("query_id", "rank").show()
      val brute = Similarity.bruteForceKnn(e, e.filter(col("vec_id") < 3), "vec_id", "embedding", 4)
      val miss = knn.select("query_id", "neighbor_id").exceptAll(brute.select("query_id", "neighbor_id")).count()
      println("IVF_VS_BRUTE_MISS=" + miss + " (0 = probed clusters covered true top-4)")
    }
    // round 2: batched one-hot (one agg job, N cats) + _X2df parity
    {
      import spark.implicits._
      import graft.model.{AutoFeat, AutoFeatConfig}
      val df = Seq((1.0, "a", 10, 3.0), (2.0, "b", 20, 5.0), (3.0, "a", 10, 7.0), (4.0, "c", 20, 9.0))
        .toDF("x0", "s", "k", "y")
      val (oh, m) = AutoFeat.transformCategoricalCols(df, Seq("s", "k"))
      println("ONEHOT_COLS=" + oh.columns.mkString(",") + "  MAP=" + m)
      oh.show()
      val (full, model) = AutoFeat.fitTransform(
        Seq((1.0, 2.0, 7.1), (2.0, 1.0, 9.2), (3.0, 4.0, 19.3), (4.0, 2.0, 17.4),
            (5.0, 8.0, 31.5), (6.0, 3.0, 27.6), (7.0, 5.0, 35.7), (8.0, 1.0, 33.8))
          .toDF("a", "b", "y"), "y",
        AutoFeatConfig(feategSteps = 1, featselRuns = 1))
      // pass the ALREADY-TRANSFORMED frame to predict: must not re-transform
      val p1 = model.predict(full).select("prediction").collect().map(_.getDouble(0))
      val p2 = model.predict(Seq((1.0, 2.0), (5.0, 8.0)).toDF("a", "b"))
        .select("prediction").collect().map(_.getDouble(0))
      println("X2DF_PRED_TRANSFORMED=" + p1.take(2).mkString(",") + "  RAW=" + p2.mkString(","))
      println("X2DF_SCORE_TRANSFORMED=" + model.score(full, "y"))
      // round 3: model-state sink roundtrip through a serialized artifact
      val loaded = graft.model.ModelJson.fromJson(model.toJson)
      val p3 = loaded.predict(Seq((1.0, 2.0), (5.0, 8.0)).toDF("a", "b"))
        .select("prediction").collect().map(_.getDouble(0))
      println("MODELJSON_ROUNDTRIP_EQ=" + (p3.toSeq == p2.toSeq))
    }
    // round 2b: units + pi theorem through the public fit/transform path
    {
      import spark.implicits._
      import graft.model.{AutoFeat, AutoFeatConfig}
      val rng = new scala.util.Random(7)
      val rows = Seq.fill(300) {
        val x1 = rng.nextDouble() + 0.1; val x2 = rng.nextGaussian(); val x3 = rng.nextDouble() + 0.1
        (x1, x2, x3, 2.0 + 3.0 * x2 * x3 + 0.5 * x1) // target uses PT1 = x2*x3
      }
      val dfU = rows.toDF("x1", "x2", "x3", "y")
      val (outU, mU) = AutoFeat.fitTransform(dfU, "y",
        AutoFeatConfig(feategSteps = 1, featselRuns = 1,
          units = Map("x2" -> "m/sec", "x3" -> "min/mm")))
      println("PI_GROUPS=" + mU.piGroups.map(_._1).mkString(" | "))
      println("PI_IN_OUT=" + outU.columns.contains("PT1_x2*x3") +
        "  UNITS_R2=" + mU.score(dfU, "y"))
      // dimensioned x2: exp(x2)/log-style names must be vetoed from the pool
      println("VETO_OK=" + !mU.formulas.keySet.exists(n => n == "exp(x2)" || n == "exp(x3)"))
      // transform on fresh data regenerates PT columns
      val tr = mU.transform(dfU.drop("y")).df
      println("PI_TRANSFORM_COLS=" + tr.columns.filter(_.startsWith("PT")).mkString(","))
      // hostile: unknown unit string -> dimensionless, no PT groups, no veto
      val (_, mBad) = AutoFeat.fitTransform(dfU, "y",
        AutoFeatConfig(feategSteps = 1, featselRuns = 1, units = Map("x2" -> "blorps")))
      println("UNKNOWN_UNIT_GROUPS=" + mBad.piGroups.size + " (expect 0)")
    }
    // round 2b: concurrent selection runs — identical sets, overlapped jobs
    {
      import spark.implicits._
      import graft.select.FeatSel
      val rng = new scala.util.Random(11)
      val df3 = Seq.fill(2000) {
        val c = Array.fill(7)(rng.nextGaussian())
        (c(0), c(1), c(2), c(3), c(4), c(5), c(6),
          3.0 * c(0) - 2.0 * c(5) + c(6) + rng.nextGaussian() * 0.1)
      }.toDF((0 until 7).map(i => s"c$i") :+ "target": _*).cache()
      df3.count()
      val cols = (0 until 7).map(i => s"c$i")
      val t1 = System.nanoTime()
      val s1 = FeatSel.selectFeatures(df3, cols, "target", FeatSel.Config(nJobs = 1))
      val t2 = System.nanoTime()
      val s5 = FeatSel.selectFeatures(df3, cols, "target", FeatSel.Config(nJobs = 5))
      val t3 = System.nanoTime()
      println(f"NJOBS_EQ=${s1 == s5} sel=${s1.mkString(",")} seq=${(t2 - t1) / 1e9}%.2fs par=${(t3 - t2) / 1e9}%.2fs")
    }
    // round 3: IVF mega-cluster cap — degenerate corpus (everything one
    // cluster), tiny cap: pairs must be the linear hub star, not C(n,2)
    {
      import spark.implicits._
      import graft.pipeline.Similarity
      val deg = (0 until 50).map(i => (i.toLong, Seq.fill(8)(1.0f + i * 1e-4f))).toDF("vec_id", "embedding")
      val c1 = Similarity.trainCentroidsFromSample(Array(Array.fill(8)(1.0)), 1)
      val capped = Similarity.ivfNearDupPairs(deg, "vec_id", "embedding", c1,
        threshold = 0.9, nProbe = 1, maxClusterSize = 8)
      println("IVF_CAPPED_PAIRS=" + capped.count() + " (expect 49 hub pairs, not 1225)")
      println("IVF_CAPPED_EMPTY=" + Similarity.ivfNearDupPairs(deg.limit(0), "vec_id", "embedding",
        c1, 0.9, nProbe = 1).count())
      println("SUGGEST_NCENTROIDS(1e8)=" + Similarity.suggestNCentroids(100000000L))
    }
    // round 3: native ivf_probe at corpus-scale centroid counts (k=256:
    // builtin = 4096 literal nodes + per-row 256-struct sort)
    {
      import graft.pipeline.Similarity
      val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").cache()
      e.count()
      val rng = new scala.util.Random(3)
      val cents = Array.fill(256)(Array.fill(16)(rng.nextGaussian())).map { v =>
        val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
      }
      def time(c: org.apache.spark.sql.Column): Double = {
        val t0 = System.nanoTime()
        e.select(sum(element_at(c, 1))).collect()
        (System.nanoTime() - t0) / 1e9
      }
      val warm = time(Similarity.probeClusters(col("embedding"), cents, 4))
      val tn = time(Similarity.probeClusters(col("embedding"), cents, 4))
      val tb = time(Similarity.probeClustersBuiltin(col("embedding"), cents, 4))
      println(f"IVF_PROBE_K256 native=$tn%.2fs builtin=$tb%.2fs (warm=$warm%.2fs)")
    }
    // round 3: as-of with caller-supplied skew keys — no pre-scan job; the
    // plain path merges the persisted layer with no exchange, the salted one
    // over a (key, salt) exchange (salt spreading)
    {
      import graft.time.AsOfJoin
      import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      def shape(df: org.apache.spark.sql.DataFrame): (Int, Seq[Seq[String]]) = {
        val plan = df.queryExecution.executedPlan
        val h = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
        (h.collect(plan) { case m: graft.plans.AsOfMergeExec => m }.size,
          h.collect(plan) { case e: ShuffleExchangeLike => e.outputPartitioning }.collect {
            case p: HashPartitioning => p.expressions.collect {
              case a: org.apache.spark.sql.catalyst.expressions.Attribute => a.name }
          })
      }
      val persisted = f.persist()
      persisted.count()
      val sess = persisted.groupBy(col("conv_id"), col("session_id"))
        .agg(max(col("ts")).as("ts"), sum(col("text_len")).as("session_len"))
      val plain = AsOfJoin.asof(persisted, sess, "conv_id", "ts", Seq("session_len"), skewKeys = Some(Nil))
      val salted = AsOfJoin.asof(persisted, sess, "conv_id", "ts", Seq("session_len"),
        skewKeys = Some(Seq(f.select("conv_id").first().getString(0))))
      val auto = AsOfJoin.asof(persisted, sess, "conv_id", "ts", Seq("session_len"))
      println("ASOF_SKEWKEYS plain=" + plain.count() + " salted=" + salted.count() +
        " auto=" + auto.count() + " (all equal expected)")
      val (plainMerges, plainExch) = shape(plain)
      val (saltedMerges, saltedExch) = shape(salted)
      println(s"ASOF_EXCHANGES plain=$plainExch salted=$saltedExch")
      println("PLAIN_MERGE_NO_EXCHANGE=" + (plainMerges == 1 && plainExch.isEmpty) +
        " SALTED_MERGE_KEY_SALT_EXCHANGE=" + (saltedMerges == 1 && saltedExch.nonEmpty &&
          saltedExch.forall(_ == Seq("conv_id", "__salt"))))
      persisted.unpersist()
    }
    // round 3: FeatureSelector shell + weird column names through the
    // public fit/score path (quoting regression probes)
    {
      import spark.implicits._
      import graft.select.FeatureSelector
      val rng = new scala.util.Random(13)
      val fsDf = Seq.fill(800) {
        val c = Array.fill(5)(rng.nextGaussian())
        (c(0), c(1), c(2), c(3), c(4), 2.0 * c(1) - 3.0 * c(3) + rng.nextGaussian() * 0.05)
      }.toDF("f 0.0", "f1", "f/2", "f3", "f4", "y")
      val (sel, fsm) = FeatureSelector.fitTransform(fsDf, "y")
      println("FEATSEL_SHELL=" + fsm.goodCols.mkString(",") + " outCols=" + sel.columns.mkString(","))
      val err = try { fsm.transform(fsDf.drop("f1")); "NO ERROR (bad)" }
                catch { case e: IllegalArgumentException => "errored as expected" }
      println("FEATSEL_MISMATCH=" + err)
      import graft.model.{AutoFeat, AutoFeatConfig}
      val weirdIn = fsDf.select(col("`f 0.0`"), col("f1"), col("f3"), col("y"))
      val (outW, mW) = AutoFeat.fitTransform(
        weirdIn, "y", AutoFeatConfig(feategSteps = 1, featselRuns = 1))
      println("WEIRD_FIT_COLS=" + outW.columns.take(4).mkString(",") +
        " R2=" + mW.score(weirdIn, "y"))
    }
    // round 3: REAL pure-JVM media codecs through the batched decode seam
    {
      import org.apache.spark.sql.Row
      import graft.pipeline.Multimodal
      val img = ("P5\n4 2\n255\n".getBytes("US-ASCII") ++
        Array[Byte](0, 40, 80, 120, -96, -56, -16, -1)) // 0..255 ramp
      val rows = Seq(Row(0L, img, Row("image/x-portable-graymap", 4, 2, 0L)),
        Row(1L, "junk".getBytes, Row("image/x-portable-graymap", 0, 0, 0L)))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), Multimodal.mediaSchema)
      val out = Multimodal.decodeToEmbedding(df, dim = 4, codec = Multimodal.PnmCodec)
        .orderBy("media_id").select("embedding").collect().map(_.getSeq[Float](0))
      println("PNM_DECODE=" + out(0).mkString(",") + " JUNK=" + out(1).mkString(","))
      val thumb = Multimodal.extract(df.limit(1), 2, 2, 2, codec = Multimodal.PnmCodec)
        .select("thumbnail").collect()(0).getAs[Array[Byte]](0)
      println("PNM_THUMB_HDR=" + new String(thumb.take(2)) + " len=" + thumb.length)
    }
    // round 3: canonical-id components + streaming dedup front door
    {
      import spark.implicits._
      import graft.pipeline.{Dedup, StreamingDedup}
      val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id1", "id2")
      val comp = Dedup.connectedComponents(pairs).orderBy("id")
        .collect().map(r => s"${r.getLong(0)}->${r.getLong(1)}").mkString(" ")
      println("COMPONENTS=" + comp + " (expect 1->1 2->1 3->1 7->7 9->7)")
      val docs = Seq((1L, "same text", new java.sql.Timestamp(1000)),
        (2L, "SAME   text", new java.sql.Timestamp(2000)),
        (3L, "other", new java.sql.Timestamp(3000))).toDF("doc_id", "text", "ts")
      println("STREAMDEDUP_BATCH=" + StreamingDedup.dedup(docs).count() + " (expect 2)")
    }
    // round 2b: sub-second as-of table reads (millis-precision fallback)
    {
      import spark.implicits._
      import graft.sources.Tables
      val p = "/tmp/graft_drive_asof"
      Seq((1L, new java.sql.Timestamp(1500L)), (2L, new java.sql.Timestamp(2500L)))
        .toDF("id", "ts").write.mode("overwrite").parquet(p)
      println("ASOF_MILLIS=" + Tables.readAsOf(spark, p, 2000L).count() + " (expect 1)")
    }
    // round 4: multi-class softmax + LARS + frontier CC + right-heavy as-of
    // + two-level IVF + BPE + streaming near-dup batch fallback
    {
      import spark.implicits._
      // 3-class end-to-end through AutoFeat
      import graft.model.{AutoFeat, AutoFeatConfig, ModelJson}
      val rng = new scala.util.Random(4)
      val triDf = Seq.fill(900) {
        val a = rng.nextGaussian(); val b = rng.nextGaussian()
        val lab = if (a > 0.5) 0.0 else if (b > 0.5) 1.0 else 2.0
        (a, b, lab)
      }.toDF("a", "b", "label")
      val (_, m3) = AutoFeat.fitTransform(triDf, "label",
        AutoFeatConfig(problemType = "classification", feategSteps = 1, featselRuns = 2))
      val acc3 = m3.score(triDf, "label")
      val loaded3 = ModelJson.fromJson(m3.toJson)
      println(s"MULTICLASS acc=$acc3 classes=${m3.multiClassifier.get.classes.mkString(",")} " +
        s"roundtripAcc=${loaded3.score(triDf, "label")} (expect both >= 0.9)")
      // degenerate: single-class label must fail loudly, not fit garbage
      val oneClass = triDf.withColumn("label", lit(1.0))
      val oneErr = try { AutoFeat.fitTransform(oneClass, "label",
        AutoFeatConfig(problemType = "classification", feategSteps = 0, featselRuns = 1)); "NO ERROR (bad)" }
        catch { case e: IllegalArgumentException => "errored as expected" }
      println("ONECLASS=" + oneErr)
      // LARS solver flag through selection
      import graft.select.FeatSel
      val lDf = Seq.fill(600) {
        val c = Array.fill(4)(rng.nextGaussian())
        (c(0), c(1), c(2), c(3), 2.0 * c(1) - c(3) + rng.nextGaussian() * 0.05)
      }.toDF("g0", "g1", "g2", "g3", "y")
      val cd = FeatSel.selectFeatures(lDf, Seq("g0", "g1", "g2", "g3"), "y")
      val lars = FeatSel.selectFeatures(lDf, Seq("g0", "g1", "g2", "g3"), "y",
        FeatSel.Config(solver = "lars"))
      println(s"LARS_VS_CD cd=${cd.sorted.mkString(",")} lars=${lars.sorted.mkString(",")}")
      // frontier connected components with convergence info
      import graft.pipeline.Dedup
      val chain = (1L until 30L).map(i => (i, i + 1)).toDF("id1", "id2")
      val cc = Dedup.connectedComponentsWithInfo(chain)
      println(s"FRONTIER_CC converged=${cc.converged} rounds=${cc.rounds} " +
        s"allOne=${cc.labels.where(col("component") =!= 1L).count() == 0}")
      // right-heavy as-of: parity salted vs plain on a hot right key
      import graft.time.AsOfJoin
      val lft = (0 until 200).map(i => ("hot", new java.sql.Timestamp(i * 977L * 1000))).toDF("k", "ts")
      val rgt = (0 until 2000).map(i => ("hot", new java.sql.Timestamp(i * 97L * 1000), i.toDouble))
        .toDF("k", "ts", "v")
      val plainA = AsOfJoin.asof(lft, rgt, "k", "ts", Seq("v"), skewKeys = Some(Nil))
        .agg(sum("asof_v")).collect()(0).getDouble(0)
      val saltA = AsOfJoin.asof(lft, rgt, "k", "ts", Seq("v"), skewKeys = Some(Nil),
        rightSkewKeys = Some(Seq("hot")), salts = 4)
        .agg(sum("asof_v")).collect()(0).getDouble(0)
      println(s"RIGHTHEAVY_ASOF plain=$plainA salted=$saltA equal=${plainA == saltA}")
      // two-level IVF full-probe == flat probe
      import graft.pipeline.Similarity
      val vecs = (0 until 120).map(i => (i.toLong,
        Array.fill(6)(rng.nextGaussian().toFloat).toSeq)).toDF("vec_id", "embedding")
      val sample = Similarity.sampleByKey(vecs, "vec_id", "embedding", 120)
      val tlc = Similarity.trainTwoLevel(sample, 2, 3)
      val fl = vecs.select(Similarity.probeClusters(col("embedding"), tlc.fineFlat, 1)(0).as("c"))
        .groupBy("c").count().orderBy("c").collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq
      val tw = vecs.select(Similarity.probeClustersTwoLevel(col("embedding"), tlc, 2, 1)(0).as("c"))
        .groupBy("c").count().orderBy("c").collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq
      println(s"TWOLEVEL_IVF flat=$fl two=$tw equal=${fl == tw}")
      // BPE count + empty-text probe
      import graft.pipeline.BpeModel
      val bpe = BpeModel.loadFile("src/test/resources/fixtures/bpe_merges.txt")
      val bc = Seq("the quick brown fox", "", "zzz qqq").toDF("text")
        .select(BpeModel.countCol(col("text"), bpe).as("n")).collect().map(_.getInt(0)).toSeq
      println(s"BPE_COUNTS=$bc (expect head 8, then 0)")
      // streaming as-of (batch execution) vs the batch join
      import graft.time.StreamingAsOf
      val sLeft = Seq(("c", new java.sql.Timestamp(5000)), ("c", new java.sql.Timestamp(15000)))
        .toDF("k", "ts")
      val sRight = Seq(("c", new java.sql.Timestamp(10000), 7.0)).toDF("k", "ts", "v")
      val sGot = StreamingAsOf.asof(sLeft, sRight, "k", "ts", Seq("v"))
        .orderBy("ts").select("asof_v").collect().map(r => Option(r.get(0))).toSeq
      println(s"STREAM_ASOF=$sGot (expect None then Some(7.0))")
      // streaming near-dup batch fallback
      import graft.pipeline.StreamingNearDup
      val nd = Seq((1L, "alpha beta gamma delta epsilon zeta", new java.sql.Timestamp(1000)),
        (2L, "alpha beta gamma delta epsilon zeta", new java.sql.Timestamp(2000)),
        (3L, "unrelated text entirely different words", new java.sql.Timestamp(3000)))
        .toDF("doc_id", "text", "ts")
      val ndp = StreamingNearDup.candidatePairs(nd).distinct().collect()
        .map(p => s"(${p.id1},${p.id2})").sorted.mkString(" ")
      println(s"STREAM_NEARDUP=$ndp (expect (1,2))")
    }
    // round 4: numpy-legacy RNG parity layer (bit-level vs np.random goldens)
    {
      import graft.rng.NumpyRandom
      val p0 = NumpyRandom(0L).permutation(13).take(4).mkString(",")
      println(s"NPRNG_PERM=$p0 (expect 6,11,4,10 head of np.random.seed(0);permutation(13))")
      val g = NumpyRandom(0L).nextGauss()
      println(f"NPRNG_GAUSS=$g%.17g (expect 1.7640523e+00 = np.random.seed(0);randn())")
      // hostile: max uint32 seed, degenerate permutation sizes
      val hp = NumpyRandom(0xffffffffL)
      println(s"NPRNG_EDGE=${hp.permutation(0).length},${hp.permutation(1).mkString}," +
        f"${NumpyRandom(1L).nextDouble()}%.6f")
    }
    // round 4: reference-literal selection mirror (NumpyParity)
    {
      import graft.select.NumpyParity
      val rng = new scala.util.Random(7)
      val n = 80
      val x = Array.tabulate(n, 6)((_, _) => rng.nextGaussian())
      val y = Array.tabulate(n)(i => 3.0 * x(i)(0) - 2.0 * x(i)(4) + 0.05 * rng.nextGaussian())
      val t = NumpyParity.selectFeatures(x, y, featselRuns = 3)
      println(s"NPPARITY_SEL=${t.finalSelected.sorted.mkString(",")} (expect 0,4 planted)")
      // hostile: a constant column (std=0 -> scaled 0/0=NaN poisons the
      // Gram, zeroing every coefficient -> empty selection, no crash; the
      // reference itself rejects NaN matrices at check_X_y, so any
      // non-crashing degenerate result is acceptable — what matters is the
      // twin solver does the identical thing)
      val xc = Array.tabulate(n, 3)((i, j) => if (j == 1) 5.0 else x(i)(j))
      val yc = Array.tabulate(n)(i => 2.0 * xc(i)(0) + 0.05 * rng.nextGaussian())
      val tc = NumpyParity.selectFeatures(xc, yc, featselRuns = 2)
      println(s"NPPARITY_CONSTCOL=[${tc.finalSelected.sorted.mkString(",")}] (expect [] — NaN-poisoned Gram, no crash)")
    }
    // round 4: corpus curation — packing, deterministic sampling/mixing,
    // contamination flagging + hostile probes (empty corpus, tiny budgets)
    {
      import spark.implicits._
      import graft.pipeline.{Contamination, Pack, Sampling}
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .withColumn("tok", graft.pipeline.TextOps.tokenCount(col("text")).cast("long"))
      val cc = Pack.concatChunk(docs, "doc_id", "tok", budget = 128, nShards = 4)
      // per shard: tok_start strictly increasing, contiguous stream
      val gaps = cc.withColumn("nxt", lead("tok_start", 1).over(
          org.apache.spark.sql.expressions.Window.partitionBy("shard").orderBy("doc_id")))
        .join(docs.select("doc_id", "tok"), "doc_id")
        .filter(col("nxt").isNotNull && col("nxt") =!= col("tok_start") + greatest(col("tok"), lit(1L)))
        .count()
      println(s"PACK_CONCAT stream_gaps=$gaps (expect 0) rows=${cc.count()}")
      val gp = Pack.greedyPack(docs, "doc_id", "tok", budget = 200L, nShards = 4)
      val over = gp.join(docs.select("doc_id", "tok"), "doc_id")
        .groupBy("shard", "bin").agg(sum("tok").as("t"), count(lit(1)).as("n"))
        .filter(col("t") > 200 && col("n") > 1).count()
      println(s"PACK_GREEDY overfull_multi_bins=$over (expect 0) bins=${gp.select("shard", "bin").distinct().count()}")
      // hostile: budget 1 -> every doc its own bin
      val solo = Pack.greedyPack(docs.limit(50), "doc_id", "tok", budget = 1L, nShards = 1)
      println("PACK_BUDGET1_BINS=" + solo.select("bin").distinct().count() + " of " + solo.count())
      println("PACK_EMPTY=" + Pack.greedyPack(docs.limit(0), "doc_id", "tok", 10L, 2).count())
      val samp = Sampling.hashSample(docs, "doc_id", 0.25, seed = 9)
      println(s"HASHSAMPLE n=${samp.count()} of ${docs.count()} (expect ~25%)")
      val mix = Sampling.tokenBudgetMix(docs, "doc_id", "tok", "source",
        Map("src0" -> 300L, "src1" -> 100L), seed = 2)
      mix.groupBy("source").agg(max("cum_tokens"), count(lit(1))).show()
      // exact top-p% quality gate: rank set matches the window formulation,
      // survives a downstream coalesce; hostile: empty corpus, all-null scores
      val scored = docs.select(col("doc_id"),
        graft.pipeline.TextOps.qualityScore(col("text")).as("q"))
      val topq = Sampling.topFractionByScore(scored, "doc_id", "q", 0.2)
      val nScored = scored.where(col("q").isNotNull).count()
      val wRef = scored.where(col("q").isNotNull)
        .withColumn("r", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("q").desc, col("doc_id"))).cast("long"))
        .filter(col("r") <= math.ceil(0.2 * nScored).toLong)
        .select("doc_id", "r").as[(Long, Long)].collect().toSet
      val gotTq = topq.select("doc_id", "score_rank").as[(Long, Long)].collect().toSet
      val gotTqC = topq.coalesce(1).select("doc_id", "score_rank").as[(Long, Long)].collect().toSet
      println(s"TOPQ n=${gotTq.size} of $nScored window_parity=${gotTq == wRef} coalesce_parity=${gotTqC == wRef}")
      println("TOPQ_EMPTY=" + Sampling.topFractionByScore(scored.limit(0), "doc_id", "q", 0.5).count() +
        " ALLNULL=" + Sampling.topFractionByScore(
          scored.withColumn("q", lit(null).cast("double")), "doc_id", "q", 0.5).count())
      // per-group: each source keeps exactly ceil(0.2 * n_g) of its own rows
      val scoredS = docs.select(col("doc_id"), col("source"),
        graft.pipeline.TextOps.qualityScore(col("text")).as("q"))
      val perG = Sampling.topFractionByScorePerGroup(scoredS, "doc_id", "q", "source", 0.2)
        .groupBy("source").count().as[(String, Long)].collect().toMap
      val expG = scoredS.where(col("q").isNotNull).groupBy("source").count()
        .as[(String, Long)].collect().toMap.map { case (g, n) => g -> math.ceil(0.2 * n).toLong }
      println(s"TOPQ_PERGROUP kept=$perG expect=$expG match=${perG == expG}")
      // exact quantiles: p100 must equal the max score; p50 value must have
      // exactly ceil(n/2) scores <= it (ties broken by id under the hood)
      val qv = Sampling.quantileValues(scored, "doc_id", "q", Seq(0.5, 1.0))
        .as[(Double, Double)].collect().toMap
      val mx = scored.agg(max("q")).as[Double].collect().head
      val below = scored.where(col("q") <= qv(0.5)).count()
      println(s"QUANTILES p50=${qv(0.5)} p100=${qv(1.0)} maxEq=${qv(1.0) == mx} " +
        s"atMostP50=$below of ${scored.where(col("q").isNotNull).count()}")
      val bench = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      val flags = Contamination.flagContaminated(docs.where(pmod(col("doc_id"), lit(10)) =!= 0),
        bench, "doc_id", "text", n = 3, minOverlap = 3)
      println("CONTAM flagged=" + flags.filter(col("contaminated")).count() +
        " of " + flags.count())
      // hostile: empty benchmark -> nothing flagged, no crash
      println("CONTAM_EMPTYBENCH=" + Contamination.flagContaminated(
        docs.limit(20), bench.limit(0), "doc_id", "text").filter(col("contaminated")).count())
      // native repetition signals through the public TextOps API
      val rep = Seq("nav\nbody\nnav", "w w w unique").toDF("text").select(
        graft.pipeline.TextOps.dupLineRatio(col("text")).as("d"),
        graft.pipeline.TextOps.topWordRatio(col("text")).as("t"))
        .collect().map(r => f"${r.getDouble(0)}%.3f/${r.getDouble(1)}%.3f").mkString(" ")
      println(s"REPETITION=$rep (expect 0.333/0.667 0.000/0.750)")
      // corpus-wide paragraph dedup: chrome repeated across docs vanishes
      // from every doc but the first; fully-deduped doc survives empty
      val pd = graft.pipeline.Dedup.paragraphDedup(
        Seq((1L, "top nav\nreal content A"), (2L, "top nav\nreal content B"),
            (3L, "top nav\nreal content A")).toDF("doc_id", "text"),
        "doc_id", "text").orderBy("doc_id")
        .collect().map(r => s"${r.getLong(0)}:'${r.getString(1).replace("\n", "|")}'(${r.getLong(2)}/${r.getLong(3)})")
      println(s"PARA_DEDUP=${pd.mkString(" ")} (expect 1 keeps both, 2 keeps B, 3 empty)")
      // SRP-LSH training-free embedding near-dup through the public API
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val srpPairs = graft.pipeline.Similarity.srpCandidatePairs(
        emb, "vec_id", "embedding", bits = 48, bands = 4, dim = 64, seed = 7)
      println(s"SRP_PAIRS=${srpPairs.count()} of C(${emb.count()},2) possible")
      srpPairs.orderBy("id1", "id2").show(5)
      // hostile: empty corpus -> no pairs, no crash; 1-dim vectors fine
      println("SRP_EMPTY=" + graft.pipeline.Similarity.srpCandidatePairs(
        emb.limit(0), "vec_id", "embedding").count())
      println("SRP_1DIM=" + graft.pipeline.Similarity.srpCandidatePairs(
        Seq((1L, Seq(1.0f)), (2L, Seq(0.9f)), (3L, Seq(-1.0f))).toDF("id", "v"),
        "id", "v", bits = 8, bands = 4, dim = 1).collect().mkString(" ") +
        " (expect (1,2) sharing all bands; 3 opposite)")
      // distributed PCA over embeddings: variance captured by 8 of 64 dims
      val pcaEmb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      // ONE k=64 train yields the full spectrum; the top-8 model is its prefix
      val full = graft.pipeline.Pca.train(pcaEmb, "embedding", k = 64, dim = 64)
      val pca = graft.pipeline.PcaModel(full.mean,
        full.components.take(8), full.eigenvalues.take(8))
      println(f"PCA top8_var=${pca.eigenvalues.sum / full.eigenvalues.sum}%.3f of total " +
        f"lambda1=${pca.eigenvalues(0)}%.5f (expect fraction in (0,1], descending)")
      println("PCA_PROJ_DIM=" + pcaEmb.select(
        graft.pipeline.Pca.project(col("embedding"), pca).as("y"))
        .selectExpr("size(y)").distinct().collect().map(_.getInt(0)).mkString(",") +
        " (expect 8)")
      // LM perplexity quality filter: train on half the docs, score a
      // natural doc vs injected gibberish
      val lmDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val lm = graft.pipeline.LangModel.train(
        lmDocs.where(pmod(col("doc_id"), lit(2)) === 0), "text", vocabSize = 256)
      val lmScores = lmDocs.where(pmod(col("doc_id"), lit(2)) === 1).limit(50)
        .select(graft.pipeline.LangModel.scoreCol(col("text"), lm).getField("ll_per_token").as("ll"))
        .agg(round(avg("ll"), 3)).collect()(0).getDouble(0)
      val gibberish = Seq("zxq vrb plk wfj qqq mzx").toDF("text")
        .select(round(graft.pipeline.LangModel.scoreCol(col("text"), lm)
          .getField("ll_per_token"), 3)).collect()(0).getDouble(0)
      println(s"LM_SCORE natural_avg=$lmScores gibberish=$gibberish " +
        s"(expect natural > gibberish)")
      println("LM_EMPTY=" + lm.score("") + " (expect (0,0.0))")
      // model persistence: parquet round-trip serves identically
      val lmPath = java.nio.file.Files.createTempDirectory("drive_lm").toString
      graft.pipeline.LangModel.save(lm, lmPath)
      val lmBack = graft.pipeline.LangModel.load(lmPath)
      val probeTxt = lmDocs.limit(1).collect()(0).getString(1).toLowerCase.trim
      println("LM_ROUNDTRIP_EQ=" + (lmBack.score(probeTxt) == lm.score(probeTxt)) +
        " (expect true)")
      // JL random projection feeding the existing kNN path (16-dim space)
      val projEmb = emb.select(col("vec_id"),
        graft.pipeline.Similarity.rpProject(col("embedding"), 16, 64, 7).as("embedding"))
      val projKnn = graft.pipeline.Similarity.bruteForceKnn(
        projEmb, projEmb.filter(col("vec_id") < 2), "vec_id", "embedding", 3)
      println(s"RP_KNN rows=${projKnn.count()} (expect 6 = 2 queries x top-3)")
      println("RP_EMPTYVEC=" + Seq((1L, Seq.empty[Float])).toDF("id", "v")
        .select(graft.pipeline.Similarity.rpProject(col("v"), 4, 2, 7))
        .collect()(0).getSeq[Double](0).mkString(",") + " (expect 0.0 x4)")
      // winnowed substring dedup end-to-end on the documents corpus
      val wdocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val wout = graft.pipeline.Dedup.substringDedup(wdocs, "doc_id", "text")
      val wagg = wout.agg(sum("chars_removed"), count(lit(1))).collect()(0)
      println(s"WINNOW_REMOVED=${wagg.getLong(0)} chars over ${wagg.getLong(1)} docs")
      graft.pipeline.Dedup.duplicateSpans(wdocs, "doc_id", "text")
        .orderBy("doc_id", "span_start").show(5)
      // hostile: empty corpus and sub-k docs -> pass-through, no crash
      println("WINNOW_EMPTY=" + graft.pipeline.Dedup.substringDedup(
        wdocs.limit(0), "doc_id", "text").count())
      // BPE encode -> packed input_ids: the text-to-training-sequences path
      val bpeEnc = new graft.pipeline.BpeEncoder(
        graft.pipeline.BpeModel.loadFile("src/test/resources/fixtures/bpe_merges.txt"),
        graft.pipeline.BpeModel.loadVocabFile("src/test/resources/fixtures/bpe_vocab.txt"))
      val encDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .withColumn("ids", graft.pipeline.BpeModel.encodeCol(col("text"), bpeEnc))
      val seqs = graft.pipeline.Pack.packSequences(encDocs, "doc_id", "ids", 256, 4)
      val sAgg = seqs.agg(count(lit(1)), sum("n_tokens"),
        sum(when(col("n_tokens") === 256, 1).otherwise(0))).collect()(0)
      val directToks = encDocs.select(sum(size(col("ids")))).collect()(0).getLong(0)
      println(s"PACK_IDS seqs=${sAgg.getLong(0)} tokens=${sAgg.getLong(1)} full=${sAgg.getLong(2)}" +
        s" conserve=${sAgg.getLong(1) == directToks} (expect conserve=true, full=seqs-4..seqs)")
      println("WINNOW_TINY=" + graft.pipeline.Dedup.substringDedup(
        Seq((1L, "tiny"), (2L, "  ALSO   tiny  ")).toDF("doc_id", "text"),
        "doc_id", "text").orderBy("doc_id").collect()
        .map(r => s"${r.getLong(0)}:'${r.getString(1)}'(${r.getLong(2)})").mkString(" ") +
        " (expect 1:'tiny'(0) 2:'also tiny'(0))")
    }
    // round 5: real image codecs (ImageIO) + AutoCodec dispatch + rounded
    // kNN ranking + cap-free IVF contract
    {
      import org.apache.spark.sql.Row
      import graft.pipeline.{Multimodal, Similarity}
      // a real PNG encoded in-JVM, a PGM of the same pixels, junk, and null
      val img = new java.awt.image.BufferedImage(8, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 4; x <- 0 until 8) {
        val v = x * 255 / 7; img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      val png = baos.toByteArray
      val pgmSame = "P5\n8 4\n255\n".getBytes("US-ASCII") ++
        Array.tabulate(32)(i => ((i % 8) * 255 / 7).toByte)
      val rows = Seq(Row(0L, png, Row("image/png", 8, 4, 0L)),
        Row(1L, pgmSame, Row("image/x-portable-graymap", 8, 4, 0L)),
        Row(2L, "junk bytes".getBytes, Row("text/plain", 0, 0, 0L)),
        Row(3L, null, Row("application/octet-stream", 0, 0, 0L)))
      val mdf = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), Multimodal.mediaSchema)
      val dec = Multimodal.decodeToEmbedding(mdf, dim = 4) // AutoCodec default
        .orderBy("media_id").select("embedding").collect().map(_.getSeq[Float](0))
      println(s"IMG_PNG=${dec(0).mkString(",")} PGM_EQ=${dec(0) == dec(1)} " +
        s"JUNK_STUB=${dec(2).exists(_ != 0f)} NULL_ZERO=${dec(3).forall(_ == 0f)}" +
        " (expect PGM_EQ=true JUNK_STUB=true NULL_ZERO=true)")
      val th = Multimodal.extract(mdf.limit(1), 4, 2, 2).select("thumbnail")
        .collect()(0).getAs[Array[Byte]](0)
      println("IMG_THUMB_PNG=" + (th.length > 8 && (th(1) & 0xFF) == 'P'.toInt) +
        " JPEG_READER=" + javax.imageio.ImageIO.getImageReadersByFormatName("jpeg").hasNext)
      // rounded-rank kNN: rank must follow round(cosine,5) with id tiebreak
      val emb5 = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val rk = Similarity.bruteForceKnn(emb5, emb5.filter(col("vec_id") < 2),
        "vec_id", "embedding", 3, rankRoundTo = 5)
      val sane = rk.withColumn("rc", round(col("cosine"), 5))
        .withColumn("prev", lag("rc", 1).over(org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy("rank")))
        .filter(col("prev").isNotNull && col("rc") > col("prev")).count()
      println(s"RANKROUND_MONOTONE_VIOLATIONS=$sane (expect 0); rows=${rk.count()}")
      // cap-free IVF: recall-1 config on a corpus ABOVE the default cap
      // must match within-threshold brute pair count (tiny dims keep it fast)
      import spark.implicits._
      val rng5 = new scala.util.Random(5)
      val ctr = Array.fill(3)(Array.fill(4)(rng5.nextGaussian()))
      val big = (0 until 4300).map(i => (i.toLong,
        ctr(i % 3).map(x => (x + rng5.nextGaussian() * 0.01).toFloat).toSeq)).toDF("vec_id", "embedding")
      val c2 = Similarity.trainCentroidsFromSample(
        Similarity.sampleByKey(big, "vec_id", "embedding", 32), 2)
      val free = Similarity.ivfNearDupPairs(big, "vec_id", "embedding", c2,
        threshold = 0.9999, nProbe = 2, maxClusterSize = Int.MaxValue).count()
      val capped = Similarity.ivfNearDupPairs(big, "vec_id", "embedding", c2,
        threshold = 0.9999, nProbe = 2).count()
      println(s"CAPFREE_PAIRS=$free CAPPED=$capped (expect free >> capped: default cap truncates at 4300 > 4096)")
    }
    // round 5: distributed BPE trainer + NB lang-ID + fuzzy dedup front
    // door + resumable curation kill/resume
    {
      import spark.implicits._
      // BPE trainer on a tiny corpus: learned merges apply end-to-end
      val bt = graft.pipeline.BpeTrainer.train(
        Seq("low low lower lowest", "new newer newest low").toDF("text"), "text", nMerges = 12)
      println(s"BPE_TRAIN merges=${bt.merges.length} head=${bt.merges.take(3).mkString(",")} " +
        s"tok(low)=${bt.tokenize("low").mkString("|")}")
      // NB language ID: trains on heuristic labels, scores hostile inputs
      val liDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(col("text").isNotNull)
        .select(col("text"), graft.pipeline.TextOps.langIdHeuristic(col("text")).as("lang"))
      val liModel = graft.pipeline.LangId.train(liDocs, "text", "lang", n = 2, vocabSize = 256)
      val liOut = Seq("the cat and the dog", "", "zzzz").toDF("text")
        .select(graft.pipeline.LangId.scoreCol(col("text"), liModel).as("s"))
        .collect().map(r => r.getStruct(0).getString(0)).toSeq
      println(s"LANGID_NB langs=${liModel.langs.mkString(",")} preds=$liOut")
      // fuzzy dedup front door on real docs: every doc labeled, canonical
      // count == component count
      val fd = graft.pipeline.Dedup.fuzzyDedup(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), "doc_id", "text",
        numHashes = 8, bands = 4)
      val fdAgg = fd.agg(count(lit(1)), sum(when(col("is_canonical"), 1).otherwise(0)),
        countDistinct("component")).collect()(0)
      println(s"FUZZY_DEDUP docs=${fdAgg.getLong(0)} canonical=${fdAgg.getLong(1)} " +
        s"components=${fdAgg.getLong(2)} (canonical == components expected)")
      // resumable curation: full run, then delete 3 buckets and resume —
      // manifests must come back bit-identical, untouched buckets unwritten
      val docs5 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val curDir = java.nio.file.Files.createTempDirectory("drive_curate").toString
      val m1 = CurationJob.run(docs5, curDir, nBuckets = 8, seqLen = 128)
      val keepPart = 0
      val keepFile = java.nio.file.Files.list(java.nio.file.Paths.get(s"$curDir/__part=$keepPart"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      val mtimeBefore = java.nio.file.Files.getLastModifiedTime(keepFile)
      Seq(1, 4, 6).foreach { p =>
        java.nio.file.Files.delete(java.nio.file.Paths.get(s"$curDir/_manifest_part_$p.json"))
        val d = java.nio.file.Paths.get(s"$curDir/__part=$p")
        java.nio.file.Files.walk(d).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.delete(f))
      }
      val m2 = CurationJob.run(docs5, curDir, nBuckets = 8, seqLen = 128)
      val same = m1.map(m => (m.part, m.rows, m.featureHash)) ==
        m2.map(m => (m.part, m.rows, m.featureHash))
      val untouched = java.nio.file.Files.getLastModifiedTime(keepFile) == mtimeBefore
      println(s"CURATE_RESUME manifests_identical=$same untouched_bucket_not_rewritten=$untouched " +
        s"rows=${m2.map(_.rows).sum} (expect true/true)")
    }
    // round 5 (cont.): trained-model persistence — BPE merge file +
    // LangId parquet round-trips, scores bit-identical after reload
    {
      import spark.implicits._
      val bt = graft.pipeline.BpeTrainer.train(
        Seq("low low lower lowest", "new newer newest low").toDF("text"), "text", nMerges = 12)
      val bpePath = java.nio.file.Files.createTempFile("drive_bpe", ".txt").toString
      graft.pipeline.BpeModel.saveFile(bt, bpePath)
      val btBack = graft.pipeline.BpeModel.loadFile(bpePath)
      println(s"BPE_PERSIST merges_roundtrip=${btBack.merges.toSeq == bt.merges.toSeq} " +
        s"tok_eq=${btBack.tokenize("lowest").toSeq == bt.tokenize("lowest").toSeq}")
      val liDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(col("text").isNotNull)
        .select(col("text"), graft.pipeline.TextOps.langIdHeuristic(col("text")).as("lang"))
      val liModel = graft.pipeline.LangId.train(liDocs, "text", "lang", n = 2, vocabSize = 256)
      val liDir = java.nio.file.Files.createTempDirectory("drive_langid").toString
      graft.pipeline.LangId.save(liModel, liDir)
      val liBack = graft.pipeline.LangId.load(liDir)
      val probe = Seq("the cat and the dog", "le chat et le chien", "zzzz", "")
      val bitEq = probe.forall(t => liBack.score(t.toLowerCase(java.util.Locale.ROOT)) ==
        liModel.score(t.toLowerCase(java.util.Locale.ROOT)))
      println(s"LANGID_PERSIST langs_eq=${liBack.langs.toSeq == liModel.langs.toSeq} " +
        s"vocab_eq=${liBack.vocabSize == liModel.vocabSize} scores_bit_identical=$bitEq")
      // hostile: refuse to persist an empty model
      val emptyRefused =
        try { graft.pipeline.LangId.save(new graft.pipeline.LangId.LangIdModel(
          Array.empty, Array.empty, 2, Array.empty, new java.util.HashMap()), liDir); false }
        catch { case _: IllegalArgumentException => true }
      println(s"LANGID_PERSIST_EMPTY_REFUSED=$emptyRefused (expect true)")
    }
    // round 5 (cont.): perceptual image near-dup — dHash over decoded
    // luminance, banded hamming pairs; junk payloads skipped
    {
      val rng = new scala.util.Random(7)
      def png(px: Array[Int], w: Int, h: Int): Array[Byte] = {
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w) {
          val v = px(y * w + x) & 0xFF; img.setRGB(x, y, (v << 16) | (v << 8) | v)
        }
        val baos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", baos); baos.toByteArray
      }
      val base = Array.fill(24 * 12)(rng.nextInt(256))
      val edited = base.clone(); edited(40) = 255 - edited(40)
      val rows = Seq(
        org.apache.spark.sql.Row(1L, png(base, 24, 12)),
        org.apache.spark.sql.Row(2L, png(edited, 24, 12)),
        org.apache.spark.sql.Row(3L, png(Array.fill(24 * 12)(rng.nextInt(256)), 24, 12)),
        org.apache.spark.sql.Row(4L, "not an image at all".getBytes))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("img_id", org.apache.spark.sql.types.LongType, false),
        org.apache.spark.sql.types.StructField("media", org.apache.spark.sql.types.BinaryType)))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      val pairs = graft.pipeline.Multimodal.imageNearDupPairs(df, "img_id", "media")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      println(s"IMG_NEARDUP pairs=$pairs (expect contains (1,2); never id 4; " +
        s"dhash(junk)=${graft.pipeline.Multimodal.dHash("junk".getBytes)} expect null)")
    }
    // round 5 (cont.): model-based quality filter — NB on weak heuristic
    // labels over real docs; margin filter keeps most, junk scores negative
    {
      import graft.pipeline.QualityFilter
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val qm = QualityFilter.train(docs, "text", vocabSize = 512)
      val kept = QualityFilter.filter(docs, "text", qm).count()
      // corpus-level separation: weak-hi docs must out-margin weak-lo docs
      // (an out-of-domain probe sentence would be dominated by unseen-gram
      // mass — NB margins are only meaningful on the training distribution)
      val sep = docs.select(QualityFilter.weakLabelCol(col("text")).as("l"),
          QualityFilter.marginCol(col("text"), qm).as("m"))
        .filter(col("l").isNotNull)
        .groupBy("l").agg(avg("m").as("avg_m")).orderBy("l")
        .collect().map(r => f"${r.getString(0)}=${r.getDouble(1)}%.1f").toSeq
      println(s"QUALITY_NB kept=$kept of ${docs.count()} avg_margin=$sep " +
        "(expect avg(hi) > avg(lo))")
    }
    // round 5 (cont.): product quantization — 16x-compressed codes, ADC
    // kNN recall vs brute force on the real embeddings table
    {
      import graft.pipeline.{Pq, Similarity}
      val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val dim = e.select(size(col("embedding"))).first().getInt(0)
      val pq = Pq.train(e, "vec_id", "embedding", m = 16, k = 64)
      val codes = Pq.encodeCorpus(e, "vec_id", "embedding", pq).cache()
      val bytesPerVec = codes.select(length(col("code"))).first().getInt(0)
      val queries = e.filter(col("vec_id") < 5)
      val approx = Pq.adcKnn(codes, queries, "vec_id", "embedding", k = 10, pq)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = Similarity.bruteForceKnn(e, queries, "vec_id", "embedding", k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (approx & exact).size.toDouble / math.max(exact.size, 1)
      val reranked = Pq.adcKnnRerank(codes, e, queries, "vec_id", "embedding", k = 10, pq)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val rr = (reranked & exact).size.toDouble / math.max(exact.size, 1)
      println(f"PQ dim=$dim raw=${dim * 4}B code=${bytesPerVec}B recall@10=$recall%.2f " +
        f"reranked=$rr%.2f (expect 16B codes, rerank >= plain, both well above chance)")
      // hostile: empty corpus trains nothing, fails fast
      val emptyRefused =
        try { Pq.train(e.limit(0), "vec_id", "embedding", m = 4, k = 4); false }
        catch { case _: IllegalArgumentException => true }
      println(s"PQ_EMPTY_REFUSED=$emptyRefused (expect true)")
      // IVFADC: coarse pruning over the compressed codes; full probe must
      // reproduce the flat ADC ranking exactly
      val cents = Similarity.trainCentroidsFromSample(
        Similarity.sampleByKey(e, "vec_id", "embedding", 256), 16)
      val ivfCodes = Pq.encodeCorpusIvf(e, "vec_id", "embedding", pq, cents).cache()
      val flat = Pq.adcKnn(ivfCodes.select(col("vec_id"), col("code")), queries,
        "vec_id", "embedding", k = 10, pq)
        .orderBy("query_id", "rank").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val full = Pq.ivfAdcKnn(ivfCodes, queries, "vec_id", "embedding", k = 10, pq,
        cents, nProbe = cents.length)
        .orderBy("query_id", "rank").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val pruned = Pq.ivfAdcKnn(ivfCodes, queries, "vec_id", "embedding", k = 10, pq,
        cents, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val prunedRecall = (pruned & flat.toSet).size.toDouble / flat.size
      println(f"IVFADC full_eq_flat=${full == flat} pruned_recall_vs_flat=$prunedRecall%.2f " +
        "(expect true; pruned well above chance at 1/4 the scan)")
    }
    // round 5 (cont.): audio perceptual near-dup — energy-contour aHash,
    // volume-invariance, junk skipped
    {
      def wavOf(samples: Array[Double]): Array[Byte] = {
        val out = new java.io.ByteArrayOutputStream()
        def p32(v: Int) = (0 until 4).foreach(k => out.write((v >> (8 * k)) & 0xFF))
        def p16(v: Int) = (0 until 2).foreach(k => out.write((v >> (8 * k)) & 0xFF))
        out.write("RIFF".getBytes); p32(36 + 2 * samples.length); out.write("WAVE".getBytes)
        out.write("fmt ".getBytes); p32(16); p16(1); p16(1); p32(8000); p32(16000); p16(2); p16(16)
        out.write("data".getBytes); p32(2 * samples.length)
        samples.foreach(s => p16(math.round(s * 32767).toInt & 0xFFFF))
        out.toByteArray
      }
      val rng = new scala.util.Random(13)
      val sig = Array.fill(128)((rng.nextInt(33) - 16) / 16.0 * 0.9)
      val rows = Seq(
        org.apache.spark.sql.Row(1L, wavOf(sig)),
        org.apache.spark.sql.Row(2L, wavOf(sig.map(_ * 0.5))), // half volume
        org.apache.spark.sql.Row(3L, wavOf(Array.fill(128)((rng.nextInt(33) - 16) / 16.0 * 0.9))),
        org.apache.spark.sql.Row(4L, "not audio".getBytes))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("aid", org.apache.spark.sql.types.LongType, false),
        org.apache.spark.sql.types.StructField("media", org.apache.spark.sql.types.BinaryType)))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      val pairs = graft.pipeline.Multimodal.audioNearDupPairs(df, "aid", "media")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      println(s"AUDIO_NEARDUP pairs=$pairs (expect contains (1,2) — volume-invariant; never id 4; " +
        s"ahash(junk)=${graft.pipeline.Multimodal.aHash("junk".getBytes)} expect null)")
    }
    spark.stop()
  }
}
