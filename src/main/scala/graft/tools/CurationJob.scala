package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Json
import graft.ckpt.Checkpoint
import graft.pipeline.{Dedup, Pack, TextOps}

/** Production curation job (spark-submit entry): the q_curate_pack chain —
  * quality gate → substring dedup → tokenization → packed training
  * sequences — written as a RESUMABLE hash-bucketed parquet output with
  * per-partition lineage + row-count/feature-hash manifests
  * (ckpt.Checkpoint). Re-running the same command after a crash/kill skips
  * completed buckets and recomputes only the missing ones; the chain is
  * deterministic (md5 tokenization, doc_id-ordered packing), so a resumed
  * run's manifests are bit-identical to an uninterrupted one's (Drive
  * proves this by deleting buckets and re-running).
  *
  *   spark-submit --class graft.tools.CurationJob <jar> \
  *     <documents parquet dir> <outDir> [nBuckets] [seqLen]
  */
object CurationJob {

  /** The composed chain + resumable write; callable from tests/Drive. */
  def run(docs: DataFrame, outDir: String, nBuckets: Int = 64,
          seqLen: Int = 128, nShards: Int = 4,
          lineageInput: String = "documents"): Seq[Checkpoint.Manifest] = {
    val gated = docs.withColumn("q", TextOps.qualityScore(col("text")))
      .where(col("q") >= 0.5).select("doc_id", "text")
    val deduped = Dedup.substringDedup(gated, "doc_id", "text")
    val words = filter(split(col("text_clean"), " ", -1), w => length(w) > 0)
    val ids = transform(words, w =>
      pmod(conv(substring(md5(w), 1, 15), 16, 10).cast("long"), lit(32768L)).cast("int"))
    val packed = Pack.packSequences(
      deduped.withColumn("ids", ids), "doc_id", "ids", seqLen = seqLen, nShards = nShards)
    // bucket key: (shard, seq) flattened — unique per packed sequence, so
    // buckets are uniform regardless of shard count
    val keyed = packed.withColumn("pack_key",
      col("shard").cast("long") * 1000000000L + col("seq"))
    Checkpoint.writeResumable(keyed, outDir, "pack_key", nBuckets,
      lineage = s"input=$lineageInput|op=curate_pack|seqLen=$seqLen|shards=$nShards|v=1")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: CurationJob <documents dir> <outDir> [nBuckets] [seqLen]")
    val input = args(0)
    val outDir = args(1)
    val nBuckets = if (args.length > 2) args(2).toInt else 64
    val seqLen = if (args.length > 3) args(3).toInt else 128
    val spark = Sessions.job("graft-curation-job")
    val docs = spark.read.parquet(input)
    val manifests = run(docs, outDir, nBuckets, seqLen, lineageInput = input)
    println(s"""{"buckets":$nBuckets,"rows":${manifests.map(_.rows).sum},"outDir":${Json.quote(outDir)}}""")
    spark.stop()
  }
}
