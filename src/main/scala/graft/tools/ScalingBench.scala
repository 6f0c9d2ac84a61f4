package graft.tools

import graft.Bench

/** Two-parallelism scaling evidence (BASELINE.json north rule: throughput
  * scaling efficiency >= 0.8 between N and 4N executors). No real cluster
  * exists in this sandbox, so the same flagship job runs at local[N] and
  * local[4N] on the same parquet input; efficiency =
  * (throughput@4N) / (4 * throughput@N).
  *
  * Run: sbt "runMain graft.tools.ScalingBench [N]"   (default N=8)
  */
object ScalingBench {

  /** One warm measured pipeline execution at `cores` (fresh context: only
    * one master can exist per JVM, so levels alternate via stop/start).
    */
  private def run(cores: Int, sfDir: String, nConvs: Long, nFormulas: Int): (Long, Double) = {
    // FIXED partition count at every parallelism level: on a real cluster
    // you add executors to the same job — the plan (and so the work) must
    // be identical between N and 4N, only the concurrency differs.
    // 128 (not 32): partitions must stay >> max cores or wave
    // quantization dominates — at 32 partitions/16 cores a job is 2
    // scheduler waves and ONE straggler partition adds 50% wall-clock,
    // which measured as fake scaling loss (pair efficiencies 0.58-0.86)
    val spark = Sessions.local(cores, 128)
    val turns = Bench.benchTranscripts(spark, sfDir, nConvs)
    Bench.transcriptPipeline(spark, turns, nFormulas) // warm-up
    val ((n, _), sec) = Bench.timed(Bench.transcriptPipeline(spark, turns, nFormulas))
    spark.stop()
    (n, n / sec)
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 8
    // scaling evidence needs a compute-dominated job: default ~8M turns
    val nConvs = if (args.length > 1) args(1).toLong else 400000L
    // winner-formula count of the regeneration projection: production jobs
    // carry O(100) formulas; a thin projection makes this single-socket box
    // measure its memory-bandwidth ceiling instead of compute parallelism
    val nFormulas = if (args.length > 2) args(2).toInt else 40
    val pairs = if (args.length > 3) args(3).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // INTERLEAVED pairs: each repetition measures N then 4N back-to-back and
    // yields one efficiency sample, so slow ambient-load drift on a shared
    // box hits both levels of a pair instead of biasing the ratio (the old
    // phase-sequential median-of-5 swung 0.73..0.93 run to run)
    var rows = 0L
    val samples = (1 to pairs).map { _ =>
      val (rows1, thr1) = run(n, sfDir, nConvs, nFormulas)
      val (rows4, thr4) = run(4 * n, sfDir, nConvs, nFormulas)
      require(rows1 == rows4)
      rows = rows1
      (thr1, thr4, thr4 / (4.0 * thr1))
    }
    val med = samples.sortBy(_._3).apply(samples.size / 2)
    val effs = samples.map(s => f"${s._3}%.3f").mkString("[", ",", "]")
    println(f"""{"rows":$rows,"formulas":$nFormulas,"throughput_local[$n]":${med._1}%.1f,"throughput_local[${4 * n}]":${med._2}%.1f,"scaling_efficiency":${med._3}%.3f,"pair_efficiencies":$effs,"unit":"rows/sec"}""")
  }
}
