package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Product quantization: the exactness anchor (lossless config ⇒ ADC ==
  * exact dot bit-for-bit), recall vs brute force on clustered data, the
  * compression claim, and degradation semantics.
  */
class PqSpec extends SparkSpec {
  import spark.implicits._

  test("exactness anchor: subDim=1 + full-alphabet codebooks reproduce the exact dot") {
    // every dimension draws from a 4-value alphabet, and the FIRST 4 rows
    // enumerate it per dimension so Lloyd's first-k init sees every value;
    // k-means then converges to exactly those values (mean of equals)
    val alphabet = Array(0.0, 0.25, 0.5, 1.0)
    val dim = 8
    val rng = new scala.util.Random(3)
    val enum4 = (0 until 4).map(r => (r.toLong, Seq.fill(dim)(alphabet(r))))
    val rest = (4 until 100).map(r => (r.toLong, Seq.fill(dim)(alphabet(rng.nextInt(4)))))
    val corpus = (enum4 ++ rest).toDF("vec_id", "embedding")
    val model = Pq.train(corpus, "vec_id", "embedding", m = dim, k = 4, sampleSize = 100)
    assert(model.subDim == 1 && model.dim == dim)
    // every codebook holds exactly the alphabet (possibly reordered)
    (0 until dim).foreach { s =>
      assert(model.codebooks(s).map(_(0)).sorted.toSeq == alphabet.toSeq, s"subspace $s")
    }
    // encode→decode is lossless on every corpus vector
    val vecs = corpus.orderBy("vec_id").collect().map(_.getSeq[Double](1).toArray)
    vecs.foreach(v => assert(model.decode(model.encode(v)).toSeq == v.toSeq))
    // ADC == exact dot BIT-FOR-BIT (same left-to-right accumulation)
    val q = Array.tabulate(dim)(i => 0.1 * (i + 1))
    val table = model.lut(q)
    vecs.foreach { v =>
      var exact = 0.0
      var i = 0
      while (i < dim) { exact += q(i) * v(i); i += 1 }
      assert(model.adc(model.encode(v), table) == exact)
    }
    // and through the Spark expressions end-to-end: adcKnn ranking equals
    // brute-force dot ranking (cosine with equal-norm ties aside, use dot
    // by comparing against a driver-side sort)
    val codes = Pq.encodeCorpus(corpus, "vec_id", "embedding", model)
    assert(codes.select(length(col("code"))).distinct().collect().map(_.getInt(0)).toSeq == Seq(dim))
    val queries = Seq((1000L, q.toSeq)).toDF("vec_id", "embedding")
    val got = Pq.adcKnn(codes, queries, "vec_id", "embedding", k = 5, model)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getDouble(2)))
    val expect = vecs.zipWithIndex
      .map { case (v, i) => (i.toLong, v.zip(q).map { case (a, b) => b * a }.sum) }
      .sortBy { case (id, d) => (-d, id) }.take(5).toSeq
    assert(got.toSeq == expect, s"got ${got.toSeq} expect $expect")
  }

  test("lossy config: high recall vs brute-force cosine on clustered embeddings") {
    // 64 well-separated clusters x 10 members on the unit sphere (unit
    // vectors make dot == cosine, so ADC-dot ranking targets the same
    // metric bruteForceKnn ranks on); exact top-9 = the cluster mates,
    // and PQ error (64 codewords per 4-dim subspace ~ one per cluster
    // sub-center) stays far below the between-cluster margin
    val dim = 16
    val rng = new scala.util.Random(17)
    def unit(v: Array[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n).toSeq
    }
    val centers = Array.fill(64)(Array.fill(dim)(rng.nextGaussian()))
    val corpus = (0 until 640).map { i =>
      val c = centers(i % 64)
      (i.toLong, unit(c.map(x => x + rng.nextGaussian() * 0.05)))
    }.toDF("vec_id", "embedding")
    val model = Pq.train(corpus, "vec_id", "embedding", m = 4, k = 64)
    val codes = Pq.encodeCorpus(corpus, "vec_id", "embedding", model).cache()
    val queries = corpus.filter(col("vec_id") < 3)
    val approx = Pq.adcKnn(codes, queries, "vec_id", "embedding", k = 9, model)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.bruteForceKnn(corpus, queries, "vec_id", "embedding", k = 9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx & exact).size.toDouble / exact.size
    info(f"PQ recall@9 = $recall%.3f")
    assert(recall >= 0.8, f"recall $recall%.3f below 0.8")
    // compression: 16 float dims (64 B raw) -> 4 code bytes
    assert(model.m == 4 && codes.select(length(col("code"))).first().getInt(0) == 4)
  }

  test("ADC shortlist + exact re-rank recovers brute-force recall on hard data") {
    // UNclustered data (uniform directions) is the hard case: plain ADC
    // top-k misses neighbors, but an exact re-rank of the ADC shortlist
    // recovers them — the standard PQ serving shape
    val dim = 32
    val rng = new scala.util.Random(29)
    def unit(v: Array[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n).toSeq
    }
    val corpus = (0 until 500).map(i => (i.toLong, unit(Array.fill(dim)(rng.nextGaussian()))))
      .toDF("vec_id", "embedding")
    val model = Pq.train(corpus, "vec_id", "embedding", m = 8, k = 32)
    val codes = Pq.encodeCorpus(corpus, "vec_id", "embedding", model).cache()
    val queries = corpus.filter(col("vec_id") < 3)
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = Similarity.bruteForceKnn(corpus, queries, "vec_id", "embedding", k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & exact).size.toDouble / exact.size
    }
    val plain = recallOf(Pq.adcKnn(codes, queries, "vec_id", "embedding", k = 10, model))
    val rerank = recallOf(Pq.adcKnnRerank(codes, corpus, queries,
      "vec_id", "embedding", k = 10, model, shortlist = 100))
    info(f"plain ADC recall@10 = $plain%.3f, reranked = $rerank%.3f")
    assert(rerank >= plain, f"rerank $rerank%.3f below plain $plain%.3f")
    assert(rerank >= 0.9, f"reranked recall $rerank%.3f below 0.9")
    // shortlist < k refused
    intercept[IllegalArgumentException] {
      Pq.adcKnnRerank(codes, corpus, queries, "vec_id", "embedding",
        k = 10, model, shortlist = 5)
    }
  }

  test("IVFADC: full probe identical to flat ADC; pruned probe keeps recall at a fraction of the scan") {
    val dim = 16
    val rng = new scala.util.Random(41)
    def unit(v: Array[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n).toSeq
    }
    // 48 clusters x 10 members: exact top-9 = the cluster mates, so recall
    // is decided by probing the right coarse cluster, not by within-cluster
    // ADC resolution (which the re-rank test covers)
    val centers = Array.fill(48)(Array.fill(dim)(rng.nextGaussian()))
    val corpus = (0 until 480).map { i =>
      val c = centers(i % 48)
      (i.toLong, unit(c.map(x => x + rng.nextGaussian() * 0.05)))
    }.toDF("vec_id", "embedding")
    val model = Pq.train(corpus, "vec_id", "embedding", m = 4, k = 64)
    val cents = Similarity.trainCentroidsFromSample(
      Similarity.sampleByKey(corpus, "vec_id", "embedding", 480), 48)
    val ivfCodes = Pq.encodeCorpusIvf(corpus, "vec_id", "embedding", model, cents).cache()
    val queries = corpus.filter(col("vec_id") < 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    // full probe == flat ADC, bit for bit (pruning is a no-op at nProbe=all)
    val flat = rows(Pq.adcKnn(ivfCodes.select(col("vec_id"), col("code")),
      queries, "vec_id", "embedding", k = 9, model))
    val full = rows(Pq.ivfAdcKnn(ivfCodes, queries, "vec_id", "embedding",
      k = 9, model, cents, nProbe = cents.length))
    assert(full == flat)
    // pruned probe: high recall vs exact brute force
    val pruned = Pq.ivfAdcKnn(ivfCodes, queries, "vec_id", "embedding",
      k = 9, model, cents, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.bruteForceKnn(corpus, queries, "vec_id", "embedding", k = 9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (pruned & exact).size.toDouble / exact.size
    info(f"IVFADC nProbe=2 recall@9 = $recall%.3f")
    assert(recall >= 0.8, f"recall $recall%.3f below 0.8")
    // nProbe out of range refused
    intercept[IllegalArgumentException] {
      Pq.ivfAdcKnn(ivfCodes, queries, "vec_id", "embedding", k = 9, model, cents, nProbe = 99)
    }
  }

  test("degradation and guards: ragged/null vectors, codegen, query bound") {
    val corpus = (0 until 50).map(i => (i.toLong, Seq.fill(8)(i * 0.1))).toDF("vec_id", "embedding")
    val model = Pq.train(corpus, "vec_id", "embedding", m = 4, k = 8)
    // null and ragged vectors encode to null, never a throw — pinned under
    // codegen (the suite runs with fallback disabled: the forwarder-trap defense)
    val bad = Seq((1L, Some(Seq.fill(8)(0.5))), (2L, None), (3L, Some(Seq(1.0, 2.0))))
      .toDF("vec_id", "embedding")
    val out = Pq.encodeCol(col("embedding"), model)
    val rows = bad.select(col("vec_id"), out.as("code")).orderBy("vec_id").collect()
    assert(!rows(0).isNullAt(1) && rows(1).isNullAt(1) && rows(2).isNullAt(1))
    // k > 256 refused (codes must fit one byte)
    intercept[IllegalArgumentException] {
      new Pq.PqModel(1, 257, 8, Array.fill(1)(Array.fill(257)(Array.fill(8)(0.0))))
    }
    // dim not divisible by m refused
    intercept[IllegalArgumentException] {
      Pq.train(corpus, "vec_id", "embedding", m = 3, k = 4)
    }
    // bounded-query guard fails fast
    val codes = Pq.encodeCorpus(corpus, "vec_id", "embedding", model)
    intercept[IllegalArgumentException] {
      Pq.adcKnn(codes, corpus, "vec_id", "embedding", k = 2, model, maxQueries = 10)
    }
  }
}
