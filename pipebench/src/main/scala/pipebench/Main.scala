package pipebench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Runs one workload in this JVM and prints its metrics as the last line.
  *
  *   pipebench.Main --workload pit_regen|curate --seed N --seconds S
  *                  --trace 0|1 --work DIR
  *
  * A run sets up several times (reporting the median as `setup_s`), runs a
  * fixed number of warm-up iterations, then times a fixed number of
  * iterations: S divided by the workload's nominal iteration time, and at
  * least three. The count depends on S only, never on how fast this run
  * happens to be, so every run times the same stretch of the JVM's warm-up
  * curve. With `--trace 1` the untraced iterations are followed by a fixed
  * number of traced ones, and the per-layer metrics are printed instead of
  * the end-to-end ones.
  */
object Main {
  private val setups = 3
  /** Traced iterations of a `--trace 1` run; span counts repeat exactly. */
  private val tracedIters = 3

  /** Input size, warm-up iterations and nominal seconds per timed iteration
    * of each workload. Class loading, code generation and the JIT of the
    * planner take several iterations of a fresh JVM to settle.
    */
  private final case class Plan(size: Long, warmIters: Int, nominalS: Double)
  private val plans = Map(
    "pit_regen" -> Plan(20000L, 3, 4.0), // conversations: ~410 k turns, one of them 2000 turns long
    "curate" -> Plan(4000L, 3, 5.3)) // documents

  val spans: Seq[String] = Seq(
    "time.base_features", "time.session_summary", "time.asof", "expr.regen_projection",
    "pipeline.quality_gate", "pipeline.substring_dedup", "pipeline.pack", "ckpt.write", "ckpt.resume")

  /** Per-layer metrics beyond the span counters, with units. */
  val extras: Seq[(String, String)] = Seq(
    "time.asof.exchanges" -> "count", "ckpt.resume.cost_ratio" -> "ratio", "ckpt.bytes_written" -> "bytes",
    "run.gc_s" -> "s", "run.heap_peak_mb" -> "MB", "run.probe_s" -> "s", "run.trace_overhead" -> "ratio",
    "run.compose_ratio" -> "ratio")

  /** The spans that together stand for one library entry point, which a
    * traced iteration also times as a whole call.
    */
  private val composed = Map(
    "curate" -> Seq("pipeline.quality_gate", "pipeline.substring_dedup", "pipeline.pack", "ckpt.write"))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val t0 = System.nanoTime()
  private def say(line: String): Unit = println(f"# [${(System.nanoTime() - t0) / 1e9}%6.2f] $line")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val Plan(size, warmIters, nominalS) = plans.getOrElse(name, sys.error(s"unknown workload $name"))
    val nTimed = math.max(3, math.round(seconds / nominalS).toInt)

    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("pipebench")
      // several tasks per core, so a core slowed by the JIT, the GC or
      // another tenant delays its share of a stage and not the whole stage
      .config("spark.sql.shuffle.partitions", (4 * cores).toString)
      .config("spark.sql.leafNodeDefaultParallelism", (4 * cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // room for every generated class of an iteration, so later iterations
      // reuse them instead of compiling and JIT-warming new ones (default 100)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    say("session up")

    val workload: Workload = name match {
      case "pit_regen" => new PitRegen(spark, seed, size)
      case "curate" => new Curate(spark, seed, size)
    }

    // fixed CPU probe, independent of the code under test: a slow probe
    // marks a loaded window; it never drops or repeats a sample
    def probe(): Double = Workload.timed {
      spark.range(0L, 8L * 1000000L, 1L, cores).select(sum(xxhash64(col("id")).cast("double"))).collect()
    }._2
    val setupS = (1 to setups).map { k =>
      val s = Workload.timed(workload.setup(work.resolve(s"setup-$k")))._2
      say(f"setup $k: $s%.4f s")
      s
    }
    // the first call compiles the probe's code; the second reads the host
    probe()
    val probeBefore = probe()

    var iteration = 0
    var failed = 0
    var reference: Option[String] = None
    val tally = mutable.LinkedHashMap[String, (Int, Int)]()
    def iterate(phase: String, tracer: Option[Tracer]): Option[Outcome] = {
      iteration += 1
      val dir = work.resolve(s"iter-$iteration")
      Files.createDirectories(dir)
      val gc0 = Jvm.gcSeconds
      val jit0 = Jvm.jitSeconds
      val cls0 = Jvm.classesLoaded
      val o = try Some(workload.run(dir, tracer)).map(o => o.copy(spans = tracer.fold(o.spans)(_.collect()))) catch {
        case e: Exception => say(s"$phase $iteration FAILED: $e"); None
      }
      spark.catalog.clearCache()
      Workload.deleteTree(dir)
      o.flatMap { o =>
        if (reference.isEmpty) { reference = Some(o.fingerprint); say(s"output: ${o.fingerprint.take(400)}") }
        val checks = o.checks :+ ("output identical to the first iteration's" -> reference.contains(o.fingerprint))
        checks.foreach { case (c, ok) =>
          val (p, n) = tally.getOrElse(c, (0, 0))
          tally(c) = (p + (if (ok) 1 else 0), n + 1)
        }
        val bad = checks.filterNot(_._2).map(_._1)
        say(f"$phase $iteration: ${o.iterS}%.4f s (main pass ${o.mainS}%.4f s, ${o.rows} rows, gc ${Jvm.gcSeconds - gc0}%.3f s, jit ${Jvm.jitSeconds - jit0}%.3f s, classes +${Jvm.classesLoaded - cls0})" +
          (if (bad.isEmpty) "" else s" FAILED: ${bad.mkString("; ")}"))
        if (bad.nonEmpty) failed += 1
        Some(o)
      }.orElse { failed += 1; None }
    }
    def loop(phase: String, n: Int, tracer: Option[Tracer]): Seq[Outcome] =
      (1 to n).flatMap(_ => iterate(phase, tracer))

    val warmT0 = System.nanoTime()
    loop("warm-up", warmIters, None)
    say(f"warm-up: ${(System.nanoTime() - warmT0) / 1e9}%.2f s")

    val gc0 = Jvm.gcSeconds
    Jvm.resetHeapPeak()
    val timedRuns = loop("timed", nTimed, None)
    val gcPerIter = (Jvm.gcSeconds - gc0) / math.max(1, timedRuns.size)
    val heapPeak = Jvm.heapPeakMb
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val traced = tracer.toSeq.flatMap(t => loop("traced", tracedIters, Some(t)))
    val probeAfter = probe()
    spark.stop()
    say("stopped")

    val attempted = iteration
    say(f"probe before $probeBefore%.4f s, after $probeAfter%.4f s")
    tally.foreach { case (c, (p, n)) => say(s"check ${if (p == n) "PASS" else "FAIL"} $p/$n: $c") }
    say(s"attempted $attempted, failed $failed")
    val ok = timedRuns.nonEmpty && (!trace || traced.nonEmpty)
    if (!ok) { System.err.println("no timed iteration completed"); sys.exit(1) }

    val metrics: Seq[(String, Double, String)] = if (!trace) {
      Seq(("setup_s", median(setupS), "s"),
        ("iter_s", median(timedRuns.map(_.iterS)), "s"),
        ("rows_per_s", median(timedRuns.map(o => o.rows / o.mainS)), "rows/s"))
    } else {
      val stats = traced.map(_.spans)
      val spanMetrics = for (s <- spans; (c, unit, f) <- SpanStats.counters)
        yield (s"$s.$c", median(stats.map(m => f(m.getOrElse(s, SpanStats.zero)))), unit)
      def extra(k: String) = median(traced.map(_.extras.getOrElse(k, 0.0)))
      val untracedIter = median(timedRuns.map(_.iterS))
      val tracedIter = median(traced.map(_.iterS))
      say(f"trace overhead: traced $tracedIter%.4f s / untraced $untracedIter%.4f s per iteration")
      val fullRun = if (name == "curate") median(timedRuns.map(_.mainS)) else 0.0
      val resume = if (name == "curate") median(timedRuns.map(_.extras("ckpt.resume_s"))) else 0.0
      if (name == "curate") say(f"resume cost: resume $resume%.4f s / full run $fullRun%.4f s")
      val wholeCall = median(traced.map(_.extras.getOrElse("run.whole_call_s", 0.0)))
      if (composed.contains(name)) say(f"whole call: $wholeCall%.4f s, traced in one span after the composed spans")
      val values = Map(
        "time.asof.exchanges" -> extra("time.asof.exchanges"),
        "ckpt.resume.cost_ratio" -> (if (name == "curate") resume / fullRun else 0.0),
        "ckpt.bytes_written" -> extra("ckpt.bytes_written"),
        "run.gc_s" -> gcPerIter,
        "run.heap_peak_mb" -> heapPeak,
        "run.probe_s" -> math.max(probeBefore, probeAfter),
        "run.trace_overhead" -> tracedIter / untracedIter,
        "run.compose_ratio" -> median(traced.map { o =>
          val whole = o.extras.getOrElse("run.whole_call_s", 0.0)
          val parts = composed.getOrElse(name, Nil).map(s => o.spans.getOrElse(s, SpanStats.zero).wallS).sum
          if (whole > 0) parts / whole else 0.0
        }))
      spanMetrics ++ extras.map { case (k, unit) => (k, values(k), unit) }
    }
    val body = metrics.map { case (k, v, unit) => s""""$k": {"value": ${num(v)}, "unit": "$unit"}""" }
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {${body.mkString(", ")}}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
}
