package graft.time

import java.sql.Timestamp

import graft.SparkSpec
import graft.plans.{AsOfMerge, AsOfMergeExec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class AsOfJoinSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)

  /** Window-based oracle: join all r.ts <= l.ts, keep rank-1 by r.ts desc. */
  private def oracle(left: DataFrame, right: DataFrame, pay: String): DataFrame = {
    val l = left.withColumn("__lid", monotonically_increasing_id())
    val j = l.join(right.withColumnRenamed("ts", "rts").withColumnRenamed("k", "rk"),
      col("k") === col("rk") && col("rts") <= col("ts"), "left")
    val w = Window.partitionBy("__lid").orderBy(desc("rts"))
    j.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("k"), col("ts"), col(pay).as(s"asof_$pay"))
  }

  private def randomCase(seed: Int, nKeys: Int, nLeft: Int, nRight: Int,
                         skewThreshold: Long = 2000000L): Unit = {
    val rng = new scala.util.Random(seed)
    val left = (0 until nLeft).map { _ =>
      (s"k${rng.nextInt(nKeys)}", ts(rng.nextInt(100000).toLong))
    }.toDF("k", "ts")
    val right = (0 until nRight).map { i =>
      (s"k${rng.nextInt(nKeys)}", ts(rng.nextInt(100000).toLong), i.toDouble)
    }.toDF("k", "ts", "v")
    val got = AsOfJoin.asof(left, right, "k", "ts", Seq("v"),
      skewThreshold = skewThreshold, salts = 4)
      .groupBy("k", "ts").agg(sort_array(collect_list("asof_v")).as("vs"))
    val exp = oracle(left, right, "v")
      .groupBy("k", "ts").agg(sort_array(collect_list("asof_v")).as("vs"))
    assert(got.exceptAll(exp).count() == 0 && exp.exceptAll(got).count() == 0)
  }

  test("matches window oracle on random tables") {
    randomCase(1, nKeys = 7, nLeft = 500, nRight = 200)
    randomCase(2, nKeys = 1, nLeft = 300, nRight = 300)
    randomCase(3, nKeys = 50, nLeft = 400, nRight = 50)
  }

  test("salted path (forced) matches oracle, including the mega key") {
    randomCase(4, nKeys = 3, nLeft = 2000, nRight = 100, skewThreshold = 10L)
  }

  test("tie semantics: right row at exactly l.ts is taken") {
    val left = Seq(("a", ts(100)), ("a", ts(99))).toDF("k", "ts")
    val right = Seq(("a", ts(100), 1.0), ("a", ts(50), 2.0)).toDF("k", "ts", "v")
    val got = AsOfJoin.asof(left, right, "k", "ts", Seq("v"))
      .orderBy("ts").select("asof_v").as[Double].collect()
    assert(got.toSeq == Seq(2.0, 1.0))
  }

  test("left rows before any right row get null payload") {
    val left = Seq(("a", ts(10)), ("a", ts(60))).toDF("k", "ts")
    val right = Seq(("a", ts(50), 7.0)).toDF("k", "ts", "v")
    val got = AsOfJoin.asof(left, right, "k", "ts", Seq("v"))
      .orderBy("ts").select("asof_v").collect()
    assert(got(0).isNullAt(0) && got(1).getDouble(0) == 7.0)
  }

  test("caller-supplied skew keys skip the pre-scan and match the oracle") {
    val rng = new scala.util.Random(21)
    // k0 is hot (1500 rows), the rest are light
    val left = ((0 until 1500).map(_ => ("k0", ts(rng.nextInt(100000).toLong))) ++
      (0 until 300).map(_ => (s"k${1 + rng.nextInt(4)}", ts(rng.nextInt(100000).toLong)))).toDF("k", "ts")
    val right = (0 until 120).map(i =>
      (s"k${rng.nextInt(5)}", ts(rng.nextInt(100000).toLong), i.toDouble)).toDF("k", "ts", "v")
    val exp = oracle(left, right, "v")
      .groupBy("k", "ts").agg(sort_array(collect_list("asof_v")).as("vs"))
    for (sk <- Seq(Some(Seq("k0")), Some(Seq.empty[String]), None)) {
      val got = AsOfJoin.asof(left, right, "k", "ts", Seq("v"),
        skewThreshold = 100L, salts = 4, skewKeys = sk)
        .groupBy("k", "ts").agg(sort_array(collect_list("asof_v")).as("vs"))
      assert(got.exceptAll(exp).count() == 0 && exp.exceptAll(got).count() == 0, s"skewKeys=$sk")
    }
  }

  test("salted path exchanges on (key, salt) so hot keys spread across salts") {
    val left = (0 until 400).map(i => ("hot", ts(i.toLong))).toDF("k", "ts")
    val right = Seq(("hot", ts(10), 1.0)).toDF("k", "ts", "v")
    // salted path: the merge must sit on a (key, salt) exchange — a key-only
    // partitioning would satisfy (key, salt) by the subset rule and collapse
    // all salts of a hot key into one task
    val salted = AsOfJoin.asof(left, right, "k", "ts", Seq("v"), skewKeys = Some(Seq("hot")))
    assert(merges(salted) == 1, "merge operator not planned on the salted path")
    val keys = exchangeKeys(salted)
    assert(keys.nonEmpty && keys.forall(_ == Seq("k", "__salt")), s"salted exchanges: $keys")
    assert(salted.count() == 400)
    // unsalted path over a key-clustered, (key, ts)-sorted left side (the
    // persisted point-in-time layer) plans the merge with no exchange at all
    val turns = TranscriptGen.generate(spark, 30, 10, 5).toDF()
    val base = PointInTime.baseFeatures(turns).persist()
    try {
      base.count()
      val sessions = base.groupBy(col("conv_id"), col("session_id"))
        .agg(max(col("ts")).as("ts"), sum(col("text_len")).as("session_len"))
      val plain = AsOfJoin.asof(base, sessions, "conv_id", "ts", Seq("session_len"), skewKeys = Some(Nil))
      assert(merges(plain) == 1, "merge operator not planned on the plain path")
      assert(exchangeKeys(plain).isEmpty, plain.queryExecution.executedPlan.toString)
      assert(plain.count() == turns.count())
    } finally base.unpersist()
  }

  test("right-side-heavy key: ts-range salting with carry-in matches the unsalted join") {
    val rng = new scala.util.Random(31)
    // one key with a 3000-row right timeline (distinct ts -> deterministic
    // payload pick on both paths) + normal keys
    val hotTs = rng.shuffle((0 until 100000).toVector).take(3000)
    val right = (hotTs.zipWithIndex.map { case (t, i) => ("hot", ts(t.toLong), i.toDouble) } ++
      (0 until 100).map(i => (s"k${i % 5}", ts(rng.nextInt(100000).toLong), 10000.0 + i)))
      .toDF("k", "ts", "v")
    val left = ((0 until 400).map(_ => ("hot", ts(rng.nextInt(100000).toLong))) ++
      (0 until 200).map(_ => (s"k${rng.nextInt(5)}", ts(rng.nextInt(100000).toLong)))).toDF("k", "ts")
    def g(df: DataFrame) = df.groupBy("k", "ts").agg(sort_array(collect_list("asof_v")).as("vs"))
    for (dir <- Seq("backward", "forward"); tol <- Seq[Option[Double]](None, Some(500.0))) {
      val plain = AsOfJoin.asof(left, right, "k", "ts", Seq("v"),
        direction = dir, toleranceSecs = tol, skewKeys = Some(Nil))
      val salted = AsOfJoin.asof(left, right, "k", "ts", Seq("v"),
        direction = dir, toleranceSecs = tol, skewKeys = Some(Nil),
        rightSkewKeys = Some(Seq("hot")), salts = 4)
      assert(g(salted).exceptAll(g(plain)).count() == 0 &&
        g(plain).exceptAll(g(salted)).count() == 0, s"dir=$dir tol=$tol")
    }
    // detection scan (rightSkewKeys = None) finds the hot key and agrees too
    val detected = AsOfJoin.asof(left, right, "k", "ts", Seq("v"),
      skewKeys = Some(Nil), rightSkewKeys = None, skewThreshold = 500L, salts = 4)
    val plainB = AsOfJoin.asof(left, right, "k", "ts", Seq("v"), skewKeys = Some(Nil))
    assert(g(detected).exceptAll(g(plainB)).count() == 0 &&
      g(plainB).exceptAll(g(detected)).count() == 0)
    // the hot key genuinely SPREADS across salts: percentile boundaries are
    // strictly increasing and each ts-range holds a balanced share
    val bounds = AsOfJoin.rangeBounds(left, right, "k", "ts", Seq("hot"), 4)
    val bs = bounds("hot")
    assert(bs.size == 3 && bs == bs.sorted && bs.distinct.size == 3, bs.toString)
    val cnts = (0 until 4).map(s => hotTs.count(t => bs.count(b => t.toDouble >= b) == s))
    info(s"per-salt right rows: $cnts")
    assert(cnts.forall(c => c > 450 && c < 1100), cnts.toString)
  }

  test("a dotted key name runs the skew detection scans as a column, not a struct field") {
    val rng = new scala.util.Random(41)
    // distinct right ts -> a deterministic payload pick on every path; "hot"
    // is heavy on both sides, so each scan salts it
    val rTs = rng.shuffle((0 until 100000).toVector).take(800)
    val right = (rTs.zipWithIndex.map { case (t, i) =>
      (if (i < 600) "hot" else s"k${i % 4}", ts(t.toLong), i.toDouble) }).toDF("user.id", "ts", "v")
    val left = ((0 until 400).map(_ => ("hot", ts(rng.nextInt(100000).toLong))) ++
      (0 until 200).map(_ => (s"k${rng.nextInt(4)}", ts(rng.nextInt(100000).toLong)))).toDF("user.id", "ts")
    def g(df: DataFrame) = df.groupBy("`user.id`", "ts").agg(sort_array(collect_list("asof_v")).as("vs"))
    val plain = g(AsOfJoin.asof(left, right, "user.id", "ts", Seq("v"), skewKeys = Some(Nil)))
    val leftScan = AsOfJoin.asof(left, right, "user.id", "ts", Seq("v"),
      skewKeys = None, skewThreshold = 100L, salts = 4)
    val rightScan = AsOfJoin.asof(left, right, "user.id", "ts", Seq("v"),
      skewKeys = Some(Nil), rightSkewKeys = None, skewThreshold = 100L, salts = 4)
    for ((name, got) <- Seq("skewKeys = None" -> leftScan, "rightSkewKeys = None" -> rightScan)) {
      assert(exchangeKeys(got).contains(Seq("user.id", "__salt")), s"$name did not salt")
      assert(g(got).exceptAll(plain).count() == 0 && plain.exceptAll(g(got)).count() == 0, name)
    }
  }

  test("forward direction matches a forward window oracle, ties included") {
    val rng = new scala.util.Random(33)
    val left = (0 until 500).map(_ =>
      (s"k${rng.nextInt(6)}", ts(rng.nextInt(100000).toLong))).toDF("k", "ts")
    val right = (0 until 150).map(i =>
      (s"k${rng.nextInt(6)}", ts(rng.nextInt(100000).toLong), i.toDouble)).toDF("k", "ts", "v")
    val got = AsOfJoin.asof(left, right, "k", "ts", Seq("v"), direction = "forward")
      .groupBy("k", "ts").agg(sort_array(collect_list("asof_v")).as("vs"))
    // oracle: earliest right with r.ts >= l.ts
    val l = left.withColumn("__lid", monotonically_increasing_id())
    val j = l.join(right.withColumnRenamed("ts", "rts").withColumnRenamed("k", "rk"),
      col("k") === col("rk") && col("rts") >= col("ts"), "left")
    val w = Window.partitionBy("__lid").orderBy(asc("rts"))
    val exp = j.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("k"), col("ts"), col("v").as("asof_v"))
      .groupBy("k", "ts").agg(sort_array(collect_list("asof_v")).as("vs"))
    assert(got.exceptAll(exp).count() == 0 && exp.exceptAll(got).count() == 0)
    // tie: a right row at exactly l.ts is taken in forward mode too
    val lt = Seq(("a", ts(100))).toDF("k", "ts")
    val rt = Seq(("a", ts(100), 1.0), ("a", ts(150), 2.0)).toDF("k", "ts", "v")
    assert(AsOfJoin.asof(lt, rt, "k", "ts", Seq("v"), direction = "forward")
      .select("asof_v").as[Double].head() == 1.0)
  }

  test("tolerance nulls matches staler than the bound (both directions)") {
    val left = Seq(("a", ts(100)), ("a", ts(200))).toDF("k", "ts")
    val right = Seq(("a", ts(95), 1.0), ("a", ts(130), 2.0)).toDF("k", "ts", "v")
    // backward, tol=10s: l@100 matches r@95 (5s, kept); l@200's match r@130
    // is 70s stale -> null
    val b = AsOfJoin.asof(left, right, "k", "ts", Seq("v"), toleranceSecs = Some(10.0))
      .orderBy("ts").select("asof_v").collect()
    assert(b(0).getDouble(0) == 1.0 && b(1).isNullAt(0), b.mkString(","))
    // forward, tol=10s: l@100's next is r@130 (30s ahead -> null); l@200 has
    // no forward match -> null
    val f = AsOfJoin.asof(left, right, "k", "ts", Seq("v"),
      direction = "forward", toleranceSecs = Some(10.0))
      .orderBy("ts").select("asof_v").collect()
    assert(f(0).isNullAt(0) && f(1).isNullAt(0), f.mkString(","))
    // and with a generous tolerance forward matches appear
    val f2 = AsOfJoin.asof(left, right, "k", "ts", Seq("v"),
      direction = "forward", toleranceSecs = Some(60.0))
      .orderBy("ts").select("asof_v").collect()
    assert(f2(0).getDouble(0) == 2.0 && f2(1).isNullAt(0))
  }

  test("merge operator and union+window oracle agree exactly") {
    val rng = new scala.util.Random(11)
    val left = (0 until 600).map(_ =>
      (s"k${rng.nextInt(9)}", ts(rng.nextInt(50000).toLong))).toDF("k", "ts")
    val right = (0 until 150).map(i =>
      (s"k${rng.nextInt(9)}", ts(rng.nextInt(50000).toLong), i.toDouble)).toDF("k", "ts", "v")
    val got = AsOfJoin.asof(left, right, "k", "ts", Seq("v"))
    assert(merges(got) == 1, "merge operator not planned")
    assertSame(got, WindowOracles.asof(left, right, "k", "ts", Seq("v")))
  }

  /** Merge operators in the executed plan. */
  private def merges(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) { case m: AsOfMergeExec => m }.size

  /** Hash keys of every shuffle exchange in the executed plan. */
  private def exchangeKeys(df: DataFrame): Seq[Seq[String]] =
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeLike => e }.map {
      _.outputPartitioning match {
        case h: HashPartitioning => h.expressions.map {
          case a: org.apache.spark.sql.catalyst.expressions.Attribute => a.name
          case other => other.sql
        }
        case other => Seq(other.toString)
      }
    }

  /** Equal schemas (names, types, nullability) and equal row multisets. */
  private def assertSame(got: DataFrame, exp: DataFrame, clue: String = ""): Unit = {
    assert(got.schema == exp.schema, s"$clue schema ${got.schema.treeString} vs ${exp.schema.treeString}")
    assert(got.exceptAll(exp).count() == 0 && exp.exceptAll(got).count() == 0, s"$clue rows differ")
  }

  private def bothDirections(left: DataFrame, right: DataFrame, key: String, pay: Seq[String],
                             clue: String): Unit =
    for (dir <- Seq("backward", "forward"); tol <- Seq[Option[Double]](None, Some(30.0))) {
      val got = AsOfJoin.asof(left, right, key, "ts", pay, direction = dir, toleranceSecs = tol,
        skewKeys = Some(Nil))
      assertSame(got, WindowOracles.asof(left, right, key, "ts", pay, direction = dir, toleranceSecs = tol),
        s"$clue dir=$dir tol=$tol")
    }

  test("hostile: null keys and null ts on either side match the oracle") {
    val schemaL = "k string, ts timestamp, id int"
    val schemaR = "k string, ts timestamp, v double"
    def rows(xs: Seq[(String, java.lang.Long, Any)]) =
      xs.map { case (k, t, x) => org.apache.spark.sql.Row(k, if (t == null) null else ts(t), x) }
    val left = spark.createDataFrame(spark.sparkContext.parallelize(rows(Seq(
      ("a", 10L, 1), ("a", null, 2), (null, 20L, 3), (null, null, 4), ("b", 5L, 5),
      ("a", 40L, 6), (null, 50L, 7), ("b", null, 8)))), org.apache.spark.sql.types.StructType.fromDDL(schemaL))
    val right = spark.createDataFrame(spark.sparkContext.parallelize(rows(Seq(
      ("a", 9L, 1.0), ("a", null, 2.0), (null, 15L, 3.0), (null, null, 4.0), ("b", 6L, null),
      ("a", 41L, 6.0), (null, 60L, 7.0)))), org.apache.spark.sql.types.StructType.fromDDL(schemaR))
    bothDirections(left, right, "k", Seq("v"), "nulls")
  }

  test("hostile: empty right, one-sided keys and partitions without right rows") {
    val rng = new scala.util.Random(41)
    val left = (0 until 300).map(i =>
      (s"k${rng.nextInt(40)}", ts(rng.nextInt(5000).toLong), i)).toDF("k", "ts", "id")
    // 40 left keys over 4 shuffle partitions, right rows on 2 of them plus
    // keys the left never has
    val right = (0 until 60).map(i =>
      (Seq("k3", "k17", "zz1", "zz2")(i % 4), ts(rng.nextInt(5000).toLong), i.toDouble)).toDF("k", "ts", "v")
    bothDirections(left, right, "k", Seq("v"), "sparse right")
    bothDirections(left, right.limit(0), "k", Seq("v"), "empty right")
    bothDirections(left.limit(0), right, "k", Seq("v"), "empty left")
  }

  test("hostile: a long key (q_asof's user_id shape) stays native and matches the oracle") {
    val rng = new scala.util.Random(43)
    val events = (0 until 500).map(i =>
      (i.toLong, (rng.nextInt(30) + 3000000000L), ts(rng.nextInt(20000).toLong),
        if (rng.nextInt(4) == 0) "purchase" else "view", rng.nextInt(100).toDouble))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val purchases = events.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(max("value").as("value"))
    val got = AsOfJoin.asof(events.select("event_id", "user_id", "ts"), purchases,
      "user_id", "ts", Seq("value"), prefix = "last_purchase_", skewKeys = Some(Nil))
    assertSame(got, WindowOracles.asof(events.select("event_id", "user_id", "ts"), purchases,
      "user_id", "ts", Seq("value"), prefix = "last_purchase_"))
    // no per-row string cast of the key anywhere in the plan
    assert(!got.queryExecution.executedPlan.toString.contains("cast(user_id"),
      got.queryExecution.executedPlan.toString)
    bothDirections(events.select("event_id", "user_id", "ts"), purchases, "user_id", Seq("value"), "long key")
    // sides must agree on the key type: nothing is cast silently
    intercept[IllegalArgumentException](AsOfJoin.asof(events.select("event_id", "user_id", "ts"),
      purchases.withColumn("user_id", col("user_id").cast("string")), "user_id", "ts", Seq("value")))
  }

  test("hostile: equal right ts on the forward path") {
    val left = Seq(("a", ts(10)), ("a", ts(20)), ("a", ts(30)), ("b", ts(20))).toDF("k", "ts")
    // equal (key, ts) rights with equal payloads: the match is exact
    val tied = Seq(("a", ts(20), 5.0), ("a", ts(20), 5.0), ("a", ts(25), 6.0), ("b", ts(20), 7.0),
      ("b", ts(20), 7.0)).toDF("k", "ts", "v")
    bothDirections(left, tied, "k", Seq("v"), "ties")
    // differing payloads at one ts: the matched ts is the oracle's and the
    // payload is one of the tied rows'
    val split = Seq(("a", ts(20), 1.0), ("a", ts(20), 2.0), ("a", ts(20), 3.0)).toDF("k", "ts", "v")
      .withColumn("rts", col("ts"))
    val got = AsOfJoin.asof(left, split, "k", "ts", Seq("v", "rts"), direction = "forward")
      .orderBy("k", "ts").collect()
    val exp = WindowOracles.asof(left, split, "k", "ts", Seq("v", "rts"), direction = "forward")
      .orderBy("k", "ts").collect()
    assert(got.map(_.getAs[Any]("asof_rts")).toSeq == exp.map(_.getAs[Any]("asof_rts")).toSeq)
    got.filter(!_.isNullAt(2)).foreach(r => assert(Set(1.0, 2.0, 3.0).contains(r.getAs[Double]("asof_v"))))
  }

  test("a projection above asof that drops left columns prunes them below the merge") {
    val left = Seq(("a", ts(10), 1, "wide text", 2.5)).toDF("k", "ts", "id", "text", "w")
    val right = Seq(("a", ts(5), 7.0, "unused")).toDF("k", "ts", "v", "note")
    val out = AsOfJoin.asof(left, right, "k", "ts", Seq("v"), skewKeys = Some(Nil)).select("id", "asof_v")
    val sides = out.queryExecution.optimizedPlan.collect {
      case m: AsOfMerge => (m.left.output.map(_.name).toSet, m.right.output.map(_.name).toSet)
    }
    assert(sides == Seq((Set("k", "ts", "id"), Set("k", "ts", "v"))), sides.toString)
    assert(out.collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq == Seq((1, 7.0)))
  }
}
