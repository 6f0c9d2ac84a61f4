package pipebench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ckpt.Checkpoint
import graft.pipeline.{Dedup, Pack, TextOps}
import graft.tools.CurationJob

/** A fresh `CurationJob.run` over a generated corpus, the loss of a fixed
  * quarter of its output buckets, and the resume that rebuilds them. The
  * only workload that writes.
  */
final class Curate(spark: SparkSession, seed: Long, nDocs: Long) extends Workload {
  import Workload._
  import Curate._

  private var docs: DataFrame = _

  def setup(dir: Path): Unit = {
    import spark.implicits._
    val path = dir.resolve("docs").toString
    val s = seed
    spark.range(0L, nDocs, 1L, spark.sparkContext.defaultParallelism)
      .map(id => (id, Corpus.text(s, id))).toDF("doc_id", "text")
      .write.parquet(path)
    docs = spark.read.parquet(path)
  }

  def run(dir: Path, tracer: Option[Tracer]): Outcome = {
    val out = dir.resolve("out")
    val t0 = System.nanoTime()
    val (fresh, freshS) = timed {
      if (tracer.isEmpty) CurationJob.run(docs, out.toString, nBuckets, seqLen)
      else freshInSpans(out.toString, tracer)
    }
    val bytes = treeBytes(out)
    lost.foreach { p =>
      Files.delete(out.resolve(s"_manifest_part_$p.json"))
      deleteTree(out.resolve(s"__part=$p"))
    }
    val (resumed, resumeS) = timed {
      within(tracer, "ckpt.resume") { CurationJob.run(docs, out.toString, nBuckets, seqLen) }
    }
    val iterS = (System.nanoTime() - t0) / 1e9
    def key(ms: Seq[Checkpoint.Manifest]) = ms.map(m => s"${m.part}:${m.rows}:${m.featureHash}")
    // traced: the real entry point as one whole-call span into a directory
    // of its own, so that drift between the composed spans and the library shows
    val whole = tracer.map { t =>
      val (ms, s) = timed(t.span(wholeCall)(CurationJob.run(docs, dir.resolve("whole").toString, nBuckets, seqLen)))
      ("composed spans write the same manifests as CurationJob.run" -> (key(ms) == key(fresh)), s)
    }
    Outcome(nDocs, freshS, iterS, key(fresh).mkString(","),
      Seq("per-bucket manifests after the resume equal the fresh run's" -> (key(resumed) == key(fresh)),
        "every bucket holds rows" -> fresh.forall(_.rows > 0)) ++ whole.map(_._1),
      Map("ckpt.bytes_written" -> bytes.toDouble, "ckpt.resume_s" -> resumeS) ++ whole.map(w => "run.whole_call_s" -> w._2))
  }

  /** `CurationJob.run`'s chain, one library call per span. */
  private def freshInSpans(out: String, tracer: Option[Tracer]): Seq[Checkpoint.Manifest] = {
    val gated = within(tracer, "pipeline.quality_gate") {
      force(tracer, docs.withColumn("q", TextOps.qualityScore(col("text")))
        .where(col("q") >= 0.5).select("doc_id", "text"))
    }
    val deduped = within(tracer, "pipeline.substring_dedup") {
      force(tracer, Dedup.substringDedup(gated, "doc_id", "text"))
    }
    val keyed = within(tracer, "pipeline.pack") {
      val words = filter(split(col("text_clean"), " ", -1), w => length(w) > 0)
      val ids = transform(words, w =>
        pmod(conv(substring(md5(w), 1, 15), 16, 10).cast("long"), lit(32768L)).cast("int"))
      val packed = Pack.packSequences(deduped.withColumn("ids", ids), "doc_id", "ids", seqLen = seqLen, nShards = 4)
      force(tracer, packed.withColumn("pack_key", col("shard").cast("long") * 1000000000L + col("seq")))
    }
    within(tracer, "ckpt.write") {
      Checkpoint.writeResumable(keyed, out, "pack_key", nBuckets,
        lineage = s"input=documents|op=curate_pack|seqLen=$seqLen|shards=4|v=1")
    }
  }
}

object Curate {
  val wholeCall = "pipeline.curation_job"
  val nBuckets = 16
  val seqLen = 128
  /** The fixed quarter of the buckets the resume has to rebuild. */
  val lost: Seq[Int] = 0 until nBuckets by 4
}

/** Deterministic document corpus: each text is a pure function of (seed,
  * doc id). It mixes ordinary prose, repeats of earlier documents, pages
  * that share boilerplate blocks, and low-quality fragments.
  */
object Corpus {
  private val stop = Array("the", "a", "of", "and", "to", "in", "is", "for", "on", "with", "that", "it")
  private val content = Array(
    "data", "table", "query", "spark", "window", "turn", "feature", "model", "join", "stream",
    "session", "vector", "hash", "bucket", "merge", "filter", "sample", "token", "score", "batch",
    "cluster", "record", "partition", "schema", "column", "index", "shuffle", "stage", "task", "plan",
    "value", "result", "order", "group", "range", "point", "time", "event", "agent", "tool")
  private val boilerplate = Array(
    "subscribe to our newsletter for the latest updates on data tools and receive a weekly digest of the best articles",
    "all rights reserved no part of this page may be reproduced without the written permission of the publisher",
    "this site uses cookies to improve the experience of every visitor and to measure the traffic on each page",
    "click here to read the full terms of service and the privacy policy that apply to the use of this site")

  private def prose(rng: SplittableRandom, nWords: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < nWords) {
      if (i > 0) sb.append(if (i % 12 == 0) ". " else " ")
      sb.append(if (rng.nextInt(3) == 0) stop(rng.nextInt(stop.length)) else content(rng.nextInt(content.length)))
      i += 1
    }
    sb.append('.').toString
  }

  /** The mix is fixed by id, so every seed yields the same amount of work:
    * a tenth repeats an earlier ordinary document, a tenth carries one of the
    * boilerplate blocks, a tenth is low-quality text, the rest is prose.
    */
  def text(seed: Long, id: Long): String = {
    val rng = new SplittableRandom(seed * 0x9e3779b97f4a7c15L ^ id)
    (id % 10).toInt match {
      case 0 if id >= 10 => text(seed, id - 7)
      case 1 => prose(rng, 20 + rng.nextInt(40)) + " " + boilerplate((id / 10 % boilerplate.length).toInt)
      case 2 => if (id / 10 % 2 == 0) "buy now" else "!!! $$$ ### " * (1 + rng.nextInt(8))
      case _ => prose(rng, 20 + rng.nextInt(80))
    }
  }
}
