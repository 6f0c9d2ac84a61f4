package graft.tools

import org.apache.spark.sql.functions._

import graft.Json
import graft.ckpt.Checkpoint
import graft.time.{PointInTime, TranscriptGen}

/** Production feature-regeneration job (spark-submit entry, north rule):
  * reads a transcript table, computes the point-in-time base features and
  * writes one row per turn: the keys (conv_id, turn_idx, ts) plus the 12
  * numeric base features (PointInTime.numericFeatureCols without turn_idx)
  * as doubles. The output is a resumable hash-bucketed parquet directory
  * with per-partition lineage + row-count/feature-hash manifests.
  *
  *   spark-submit --class graft.tools.FeatureJob <jar> \
  *     <input parquet dir | gen:<nConvs>> <outDir> [nBuckets]
  *
  * Re-running the same command after a crash/kill skips completed buckets.
  */
object FeatureJob {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: FeatureJob <input|gen:N> <outDir> [nBuckets]")
    val input = args(0)
    val outDir = args(1)
    val nBuckets = if (args.length > 2) args(2).toInt else 64
    val spark = Sessions.job("graft-feature-job")

    val turns =
      if (input.startsWith("gen:")) TranscriptGen.generate(spark, input.drop(4).toLong).toDF()
      else graft.sources.Tables.read(spark, input) // iceberg on a cluster, parquet locally
    val base = PointInTime.baseFeatures(turns)
    val features = PointInTime.numericFeatureCols.filterNot(_ == "turn_idx")
    val out = base.select(
      Seq(col("conv_id"), col("turn_idx"), col("ts")) ++
        features.map(c => col(c).cast("double").as(c)): _*)
    val manifests = Checkpoint.writeResumable(out, outDir, "conv_id", nBuckets,
      lineage = s"input=$input|op=pit_base_features|v=1")
    val totalRows = manifests.map(_.rows).sum
    println(s"""{"buckets":$nBuckets,"rows":$totalRows,"outDir":${Json.quote(outDir)}}""")
    spark.stop()
  }
}
