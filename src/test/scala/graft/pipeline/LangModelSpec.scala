package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bigram-LM perplexity scoring: hand-computed probabilities on a toy
  * corpus, unk/backoff paths, vocab-cap tie-break determinism, expression
  * vs plain-Scala parity on the fixture, and the quality-filter property.
  */
class LangModelSpec extends SparkSpec {
  import spark.implicits._

  test("toy corpus: scores match hand-computed add-k probabilities") {
    // ref tokens: "a b a b a" -> N=5, c(a)=3, c(b)=2; bigrams ab:2, ba:2
    val ref = Seq("a b a b a").toDF("text")
    val m = LangModel.train(ref, "text", vocabSize = 10, addK = 0.5)
    assert(m.vocabSize === 2 && m.total === 5L && m.unkCount === 0L)
    val O = 3.0 // 2 vocab + unk
    // "a b": ln((3+.5)/(5+.5*3)) + ln((2+.5)/(3+.5*3))
    val exp = math.log(3.5 / 6.5) + math.log(2.5 / 4.5)
    val (n, ll) = m.score("a b")
    assert(n === 2)
    assert(math.abs(ll - exp / 2) < 1e-12)
    // unseen bigram "b b" backs off to the k-floor: ln((0+.5)/(2+.5*3))
    val (_, ll2) = m.score("b b")
    val exp2 = math.log(2.5 / 6.5) + math.log(0.5 / 3.5)
    assert(math.abs(ll2 - exp2 / 2) < 1e-12)
    // OOV token -> unk outcome with count 0 here
    val (_, ll3) = m.score("z")
    assert(math.abs(ll3 - math.log(0.5 / 6.5)) < 1e-12)
    // empty and whitespace-only docs
    assert(m.score("") === ((0, 0.0)))
    assert(m.score("   ") === ((0, 0.0)))
  }

  test("vocab cap: (count desc, token asc) tie-break; OOV mass becomes unk") {
    // c(b)=c(c)=2, c(a)=3; cap 2 keeps a and b (tie b-vs-c broken by name)
    val ref = Seq("a b c a b c a").toDF("text")
    val m = LangModel.train(ref, "text", vocabSize = 2)
    assert(m.vocab.toSeq === Seq("a", "b"))
    assert(m.unkCount === 2L) // the two c occurrences
    assert(m.indexOf("c") === m.vocabSize) // OOV -> unk index
  }

  test("null text null-propagates; bigram-size guard fails fast with guidance") {
    val ref = Seq("a b a b a").toDF("text")
    val m = LangModel.train(ref, "text", vocabSize = 10)
    val r = Seq[Option[String]](None, Some("a b")).toDF("text")
      .select(LangModel.scoreCol(col("text"), m).as("s")).collect()
    assert(r(0).isNullAt(0))
    assert(!r(1).isNullAt(0))
    val ex = intercept[IllegalArgumentException] {
      LangModel.train(ref, "text", vocabSize = 10, maxModelBigrams = 1L)
    }
    assert(ex.getMessage.contains("minBigramCount"))
  }

  test("parquet save/load round-trips the model: bit-identical scores") {
    val d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val m = LangModel.train(d.filter(col("doc_id") < 60), "text", vocabSize = 64)
    val path = java.nio.file.Files.createTempDirectory("lm_model").toString
    LangModel.save(m, path)
    val m2 = LangModel.load(path)
    assert(m2.vocab.toSeq === m.vocab.toSeq && m2.total === m.total &&
      m2.unkCount === m.unkCount && m2.k === m.k)
    d.filter(col("doc_id").between(60, 90)).collect().foreach { r =>
      val t = r.getString(1).toLowerCase.trim
      assert(m2.score(t) === m.score(t)) // exact, doubles included
    }
  }

  test("lm_score really compiles under whole-stage codegen (no silent fallback)") {
    // a companion-`eval` helper used to generate Janino-uncompilable code
    // that silently demoted the stage to interpreted execution; with
    // fallback disabled (suite-wide, TestSpark), any codegen failure throws
    val m = LangModel.train(Seq("a b a b a").toDF("text"), "text", vocabSize = 10)
    val out = Seq("a b", "b a a").toDF("text")
      .select(LangModel.scoreCol(col("text"), m).getField("n_tokens").as("n"))
      .collect().map(_.getInt(0)).sorted
    assert(out.toSeq === Seq(2, 3))
  }

  test("expression matches driver-side score on the documents fixture") {
    val d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val model = LangModel.train(d.filter(pmod(col("doc_id"), lit(10)) === 0), "text",
      vocabSize = 256)
    val scored = d.filter(pmod(col("doc_id"), lit(10)) =!= 0).limit(80)
      .select(col("doc_id"), col("text"), LangModel.scoreCol(col("text"), model).as("s"))
      .collect()
    assert(scored.length === 80)
    scored.foreach { r =>
      val s = r.getStruct(2)
      val (n, ll) = model.score(r.getString(1).toLowerCase.trim)
      assert(s.getInt(0) === n, s"doc ${r.getLong(0)} n_tokens")
      assert(math.abs(s.getDouble(1) - ll) < 1e-12, s"doc ${r.getLong(0)} ll")
      assert(s.getDouble(1) <= 0.0 || n === 0)
    }
  }

  test("native lm_bigram_keys ≡ declarative join formulation (adversarial + fixture)") {
    // the trainer's bigram table now comes from graft.functions.LmBigramKeys;
    // this pins it entry-for-entry against the r5 formulation it replaced
    // (transform+struct explode, two left joins on a vocab frame,
    // coalesce(unkIdx)) on token arrays with unseen tokens, null elements,
    // supplementary code points, repeats, and sub-2-length arrays
    val bridge = org.apache.spark.sql.graft.GraftSqlBridge
    val vocab = Array("a", "b", "😀", "x y", "")
    val rows: Seq[Seq[String]] = Seq(
      Seq("a", "b", "a", "a"), Seq("zzz", "a"), Seq("a"), Seq(),
      Seq("😀", "b", "😀"), Seq("x y", "x", "y"),
      Seq(null, "a", null), Seq("", "a", ""), Seq("b", "b", "b", "unseen"))
    val df = rows.toDF("ws")
    val native = df.filter(size(col("ws")) >= 2)
      .select(explode(bridge.column(graft.functions.LmBigramKeys(
        bridge.expression(col("ws")), vocab))).as("key"))
      .groupBy("key").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val unkIdx = vocab.length
    val vocDf = broadcast(vocab.zipWithIndex.toSeq.toDF("w", "i"))
    val joined = df.filter(size(col("ws")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("ws")) - 2), i =>
        struct(element_at(col("ws"), (i + 1).cast("int")).as("a"),
          element_at(col("ws"), (i + 2).cast("int")).as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .join(vocDf.withColumnRenamed("w", "a").withColumnRenamed("i", "ia"), Seq("a"), "left")
      .join(vocDf.withColumnRenamed("w", "b").withColumnRenamed("i", "ib"), Seq("b"), "left")
      .select(coalesce(col("ia"), lit(unkIdx)).cast("long").as("i1"),
        coalesce(col("ib"), lit(unkIdx)).cast("long").as("i2"))
      .groupBy("i1", "i2").agg(count(lit(1)).as("c"))
      .collect().map(r => ((r.getLong(0) << 32) | (r.getLong(1) & 0xFFFFFFFFL), r.getLong(2)))
      .toMap
    assert(native === joined)
    // and on the real fixture corpus with the trained vocab
    val d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .filter(pmod(col("doc_id"), lit(10)) === 0)
    val m = LangModel.train(d, "text", vocabSize = 64)
    val t = d.select(filter(split(trim(lower(col("text"))), "\\s+"),
      w => length(w) > 0).as("ws")).filter(size(col("ws")) >= 2)
    val nat = t.select(explode(bridge.column(graft.functions.LmBigramKeys(
        bridge.expression(col("ws")), m.vocab))).as("key"))
      .groupBy("key").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val vd = broadcast(m.vocab.zipWithIndex.toSeq.toDF("w", "i"))
    val jf = t.select(explode(transform(sequence(lit(0), size(col("ws")) - 2), i =>
        struct(element_at(col("ws"), (i + 1).cast("int")).as("a"),
          element_at(col("ws"), (i + 2).cast("int")).as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .join(vd.withColumnRenamed("w", "a").withColumnRenamed("i", "ia"), Seq("a"), "left")
      .join(vd.withColumnRenamed("w", "b").withColumnRenamed("i", "ib"), Seq("b"), "left")
      .select(coalesce(col("ia"), lit(m.vocab.length)).cast("long").as("i1"),
        coalesce(col("ib"), lit(m.vocab.length)).cast("long").as("i2"))
      .groupBy("i1", "i2").agg(count(lit(1)).as("c"))
      .collect().map(r => ((r.getLong(0) << 32) | (r.getLong(1) & 0xFFFFFFFFL), r.getLong(2)))
      .toMap
    assert(nat === jf)
    // the model's persisted bigram pairs are exactly the filtered agg
    assert(m.bigramPairs.toMap === nat.filter(_._2 >= 1L))
  }

  test("quality-filter property: reference-register text outscores gibberish") {
    val d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val model = LangModel.train(d, "text", vocabSize = 256)
    val natural = d.limit(1).collect()(0).getString(1)
    val (_, llNat) = model.score(natural.toLowerCase.trim)
    val (_, llGib) = model.score("zxq vrb plk wfj qqq mzx brr tkk zzz yyy xxx www")
    // the word-soup fixture's ~31-word uniform vocab caps the achievable
    // margin (measured 0.65 nats/token); real corpora separate far more
    assert(llNat > llGib + 0.5,
      s"natural $llNat should clearly outscore gibberish $llGib")
    // perplexity convenience is exp(-ll)
    val p = Seq(natural).toDF("text")
      .select(LangModel.perplexity(LangModel.scoreCol(col("text"), model)).as("p"))
      .collect()(0).getDouble(0)
    assert(math.abs(p - math.exp(-llNat)) < 1e-9)
  }
}
