package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BPE tokenizer vs the Python golden (tools/gen_bpe_golden.py trains the
  * checked-in merges and tokenizes the test texts with the same rules).
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def res(p: String) = getClass.getResource(p).getPath
  lazy val model: BpeModel = BpeModel.loadFile(res("/fixtures/bpe_merges.txt"))
  lazy val golden: Seq[(String, Int, Seq[String])] = {
    val src = scala.io.Source.fromFile(res("/fixtures/bpe_golden.tsv"), "UTF-8")
    try src.getLines().toVector.map { l =>
      val parts = l.split("\t", -1)
      (parts(0), parts(1).toInt,
        if (parts.length < 3 || parts(2).isEmpty) Nil else parts(2).split(" ").toSeq)
    } finally src.close()
  }

  test("driver-side tokenize matches the Python golden exactly") {
    assert(model.merges.length == 200)
    golden.foreach { case (text, n, toks) =>
      val got = model.tokenize(text).toSeq
      assert(got == toks, s"'$text': $got vs $toks")
      assert(model.countTokens(text) == n)
    }
  }

  test("native bpe_count column matches the golden through codegen") {
    val df = golden.map(_._1).toDF("text").repartition(2)
    val got = df.select(col("text"), BpeModel.countCol(col("text"), model).as("n"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    golden.foreach { case (text, n, _) =>
      assert(got(text) == n, s"'$text': ${got(text)} vs $n")
    }
    // empty text counts 0; null text stays null through the expression's
    // null handling
    val edge = Seq[Option[String]](Some(""), None).toDF("text")
      .select(BpeModel.countCol(col("text"), model).as("n")).collect()
    assert(edge(0).getInt(0) == 0)
    assert(edge(1).isNullAt(0))
  }

  lazy val encoder: BpeEncoder =
    new BpeEncoder(model, BpeModel.loadVocabFile(res("/fixtures/bpe_vocab.txt")))
  lazy val idsGolden: Seq[(String, Seq[Int])] = {
    val src = scala.io.Source.fromFile(res("/fixtures/bpe_ids_golden.tsv"), "UTF-8")
    try src.getLines().toVector.map { l =>
      val parts = l.split("\t", -1)
      (parts(0), if (parts.length < 2 || parts(1).isEmpty) Nil
                 else parts(1).split(" ").toSeq.map(_.toInt))
    } finally src.close()
  }

  test("driver-side encode matches the Python ids golden exactly") {
    idsGolden.foreach { case (text, ids) =>
      assert(encoder.encode(text).toSeq == ids, s"'$text'")
    }
    // ids are consistent with tokens: decoding id back through the vocab
    // position must reproduce the token (no unk needed on corpus text)
    val vocab = BpeModel.loadVocabFile(res("/fixtures/bpe_vocab.txt"))
    val (t0, toks0) = (golden.head._1, golden.head._3)
    assert(encoder.encode(t0).toSeq.map(vocab(_)) == toks0)
    // unseen characters map to <unk> = 0
    assert(encoder.encode("ééé").forall(i => i == 0 || vocab(i) == BpeModel.Eow))
  }

  test("native bpe_encode column matches the golden through codegen") {
    val df = idsGolden.map(_._1).toDF("text").repartition(2)
    val got = df.select(col("text"), BpeModel.encodeCol(col("text"), encoder).as("ids"))
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    idsGolden.foreach { case (text, ids) =>
      assert(got(text) == ids, s"'$text': ${got(text)} vs $ids")
    }
    val nullRow = Seq[Option[String]](None).toDF("text")
      .select(BpeModel.encodeCol(col("text"), encoder).as("ids")).collect()(0)
    assert(nullRow.isNullAt(0))
  }

  test("distributed trainer reproduces the Python trainer's merges token-for-token") {
    val src = scala.io.Source.fromFile(res("/fixtures/bpe_corpus.txt"), "UTF-8")
    val corpusLines = try src.getLines().toVector finally src.close()
    val corpus = corpusLines.toDF("text").repartition(3)
    val trained = BpeTrainer.train(corpus, "text", nMerges = 200, checkpointEvery = 16)
    assert(trained.merges.length == model.merges.length,
      s"${trained.merges.length} vs ${model.merges.length}")
    trained.merges.zip(model.merges).zipWithIndex.foreach { case ((got, exp), i) =>
      assert(got == exp, s"merge $i: $got vs $exp")
    }
    // the trained model TOKENIZES identically too (the end-to-end claim)
    golden.foreach { case (text, n, toks) =>
      assert(trained.tokenize(text).toSeq == toks, s"'$text'")
      assert(trained.countTokens(text) == n)
    }
    // early exhaustion: asking for more merges than exist stops cleanly
    val tiny = BpeTrainer.train(Seq("ab ab").toDF("text"), "text", nMerges = 50)
    assert(tiny.merges.length < 50 && tiny.tokenize("ab").toSeq == Seq("ab</w>"))
    // hostile: empty corpus -> zero merges, no crash
    assert(BpeTrainer.train(corpus.limit(0), "text", 10).merges.isEmpty)
    // saveFile/loadFile round-trips the trained model (the persistence
    // half of the train-once-serve-refit-free story)
    val mPath = java.nio.file.Files.createTempFile("graft_bpe", ".txt").toString
    BpeModel.saveFile(trained, mPath)
    assert(BpeModel.loadFile(mPath).merges.toSeq == trained.merges.toSeq)
  }

  test("distributed regimes (incremental delta AND full recount) ≡ Python golden") {
    // maxLocalWords = 0 forces the distributed regime, whose default is
    // now the incremental delta loop (driver pair counts, one delta job
    // per round); maxLocalPairs = 0 additionally forces the original full
    // per-round recount. Both must produce the IDENTICAL ranked merge
    // list as the Python golden (and thus as the default driver-local
    // loop, pinned by the test above).
    val src = scala.io.Source.fromFile(res("/fixtures/bpe_corpus.txt"), "UTF-8")
    val corpusLines = try src.getLines().toVector finally src.close()
    val corpus = corpusLines.toDF("text").repartition(3)
    val inc = BpeTrainer.train(corpus, "text", nMerges = 200, checkpointEvery = 16,
      maxLocalWords = 0)
    assert(inc.merges.length == model.merges.length,
      s"${inc.merges.length} vs ${model.merges.length}")
    inc.merges.zip(model.merges).zipWithIndex.foreach { case ((got, exp), i) =>
      assert(got == exp, s"incremental merge $i: $got vs $exp")
    }
    val rec = BpeTrainer.train(corpus, "text", nMerges = 200, checkpointEvery = 16,
      maxLocalWords = 0, maxLocalPairs = 0L)
    assert(rec.merges.toSeq == model.merges.toSeq, "recount fallback diverged")
    // early exhaustion holds in the incremental distributed regime too
    val tiny = BpeTrainer.train(Seq("ab ab").toDF("text"), "text", nMerges = 50,
      maxLocalWords = 0)
    assert(tiny.merges.length < 50 && tiny.tokenize("ab").toSeq == Seq("ab</w>"))
  }

  test("a driver pair table that outgrows maxLocalPairs hands over to the recount regime") {
    val src = scala.io.Source.fromFile(res("/fixtures/bpe_corpus.txt"), "UTF-8")
    val corpusLines = try src.getLines().toVector finally src.close()
    val corpus = corpusLines.toDF("text").repartition(3)
    // the bound is the starting pair table exactly: it is admitted, and the
    // first round that adds more pairs than it removes crosses it
    val base = new BpeModel(Array.empty)
    val words = corpusLines.flatMap(_.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")).filter(_.nonEmpty).distinct
    val nPairs = words.flatMap(w => base.tokenizeWord(w).sliding(2).collect { case Array(a, b) => (a, b) }).distinct.size
    val (m, regime) = BpeTrainer.trainWithRegime(corpus, "text", nMerges = 200, checkpointEvery = 16,
      maxLocalWords = 0, maxLocalPairs = nPairs.toLong)
    assert(regime == "incremental+recount", regime)
    assert(m.merges.toSeq == model.merges.toSeq, "hand-over changed the merges")
    // and the untouched bound keeps the whole run incremental
    assert(BpeTrainer.trainWithRegime(corpus, "text", nMerges = 200, checkpointEvery = 16,
      maxLocalWords = 0, maxLocalPairs = 8000000L)._2 == "incremental")
  }

  test("merge-fold expressions reject symbol arrays that admit null elements") {
    import graft.functions.{BpeFoldMerges, BpeMergeDeltas}
    import org.apache.spark.sql.graft.GraftSqlBridge.{column, expression}
    val df = Seq(Seq("a", null, "b")).toDF("sym")
    assert(df.schema("sym").dataType == org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = true))
    for (e <- Seq(BpeFoldMerges(expression(col("sym")), Array(("a", "b"))),
                  BpeMergeDeltas(expression(col("sym")), Array.empty, "a", "b"))) {
      val err = intercept[org.apache.spark.sql.AnalysisException](df.select(column(e)).collect())
      assert(err.getMessage.contains("non-null elements"), err.getMessage)
    }
    // the trainer's own symbol arrays are non-null and still accepted
    val ok = Seq("ab").toDF("w").select(BpeModel.tokensCol(col("w"), new BpeModel(Array.empty)).as("sym"))
    assert(ok.select(column(BpeFoldMerges(expression(col("sym")), Array(("a", "b"))))).head().getSeq[String](0)
      == Seq("ab", "</w>"))
  }

  test("byte-fallback encoder matches the Python golden and round-trips") {
    val vocabB = BpeModel.loadVocabFile(res("/fixtures/bpe_vocab_bytes.txt"))
    val encB = new BpeEncoder(model, vocabB, byteFallback = true)
    val src = scala.io.Source.fromFile(res("/fixtures/bpe_ids_bytes_golden.tsv"), "UTF-8")
    val goldenB = try src.getLines().toVector.map { l =>
      val parts = l.split("\t", -1)
      (parts(0), if (parts.length < 2 || parts(1).isEmpty) Nil
                 else parts(1).split(" ").toSeq.map(_.toInt))
    } finally src.close()
    assert(goldenB.nonEmpty)
    goldenB.foreach { case (text, ids) =>
      val got = encB.encode(text).toSeq
      assert(got == ids, s"'$text': $got vs $ids")
      // zero information loss: decode reproduces the normalized text
      val norm = text.toLowerCase(java.util.Locale.ROOT).trim
        .split("\\s+").filter(_.nonEmpty).mkString(" ")
      assert(encB.decode(got.toArray) == norm, s"'$text' decode")
      // byte fallback never emits <unk>
      assert(!got.contains(0), s"'$text' leaked <unk>")
    }
    // in-vocab text encodes to the same TOKEN SEQUENCE as the plain path
    // (ids differ by the byte-token offset; map back through each vocab)
    val vocabA = BpeModel.loadVocabFile(res("/fixtures/bpe_vocab.txt"))
    val t0 = "the quick brown fox"
    assert(encB.encode(t0).map(vocabB(_)).toSeq == encoder.encode(t0).map(vocabA(_)).toSeq)
    // the native expression path carries byte-fallback encoders unchanged
    val viaCol = Seq("γράφειν means to write").toDF("text")
      .select(BpeModel.encodeCol(col("text"), encB).as("ids"))
      .collect()(0).getSeq[Int](0)
    assert(viaCol == goldenB.head._2, s"$viaCol vs ${goldenB.head._2}")
    // construction fails loudly on a vocab without byte coverage
    intercept[IllegalArgumentException] {
      new BpeEncoder(model, vocabA, byteFallback = true)
    }
  }

  test("counts are stable on the documents fixture and fallback stays available") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
    val r = docs.select(
      BpeModel.countCol(col("text"), model).as("bpe"),
      TextOps.tokenCount(col("text")).as("heuristic"))
      .agg(sum("bpe"), sum("heuristic"), min("bpe")).collect()(0)
    // subword counts exceed whitespace-word counts (merges never cross
    // whitespace) and every doc tokenizes
    assert(r.getLong(0) >= r.getLong(1), s"${r.getLong(0)} vs ${r.getLong(1)}")
    assert(r.getInt(2) > 0)
  }
}
