package graft.functions

import graft.SparkSpec
import graft.pipeline.Similarity
import org.apache.spark.sql.functions._

class IvfProbeSpec extends SparkSpec {
  import spark.implicits._

  test("native probe assignment is bit-identical to the built-in formulation") {
    val rng = new scala.util.Random(17)
    val cents = Array.fill(9)(Array.fill(12)(rng.nextGaussian())).map { v =>
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    // random vectors + adversarial rows: duplicated centroid directions
    // (exact sim ties), zeros, short and long vectors
    val rows: Seq[Seq[Float]] = Seq.fill(300)(Seq.fill(12)(rng.nextGaussian().toFloat)) ++
      cents.take(3).map(_.map(_.toFloat).toSeq) ++
      Seq(Seq.fill(12)(0f), Seq.fill(5)(1f), Seq.fill(20)(1f))
    val df = rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v").cache()
    for (nProbe <- Seq(1, 3, 9)) {
      val native = df.select(col("id"), Similarity.probeClusters(col("v"), cents, nProbe).as("p"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val builtin = df.select(col("id"), BuiltinOracles.probeClusters(col("v"), cents, nProbe).as("p"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      assert(native == builtin, s"nProbe=$nProbe mismatch")
    }
    // exact-tie case: two identical centroids -> smaller index first
    val dup = Array(cents(0), cents(0), cents(1))
    val t = df.limit(5).select(Similarity.probeClusters(col("v"), dup, 2).as("p"))
      .collect().map(_.getSeq[Int](0))
    val tb = df.limit(5).select(BuiltinOracles.probeClusters(col("v"), dup, 2).as("p"))
      .collect().map(_.getSeq[Int](0))
    assert(t.toSeq == tb.toSeq)
  }

  test("clusterCol agrees with driver-side argmax and handles nProbe > k") {
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val df = Seq((0L, Seq(0.9f, 0.1f)), (1L, Seq(0.2f, 0.8f))).toDF("id", "v")
    val got = df.select(col("id"), Similarity.clusterCol(col("v"), cents).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(0L -> 0, 1L -> 1))
    // nProbe capped at k
    val p = df.select(Similarity.probeClusters(col("v"), cents, 5).as("p"))
      .collect().map(_.getSeq[Int](0))
    assert(p.forall(_.size == 2))
  }
}
