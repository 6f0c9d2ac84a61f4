package graft.ckpt

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Json

/** Resumable stage output with per-partition lineage + metrics
  * (SURVEY.md §2.10, north rule): the output is hash-bucketed by an entity
  * key into `nBuckets` parquet subdirectories; every completed bucket gets a
  * manifest JSON {part, rows, featureHash, lineage, writtenAt} where
  * featureHash is an order-independent xxhash64 aggregate over all columns
  * VERIFIED BY READING BACK what landed on disk. A restarted job skips
  * buckets whose manifest exists and recomputes only the missing ones, so a
  * 10^12-row regeneration survives preemption at bucket granularity. It
  * refuses a directory whose manifests carry another lineage, so two
  * different jobs never mix their buckets in one output.
  */
object Checkpoint {

  final case class Manifest(part: Int, rows: Long, featureHash: Long, lineage: String)

  private def manifestPath(dir: String, part: Int) = s"$dir/_manifest_part_$part.json"

  def completedParts(dir: String, nBuckets: Int): Set[Int] =
    (0 until nBuckets).filter(p => Files.exists(Paths.get(manifestPath(dir, p)))).toSet

  def readManifest(dir: String, part: Int): Manifest = {
    val s = new String(Files.readAllBytes(Paths.get(manifestPath(dir, part))), "UTF-8")
    val f = Json.parse(s).asInstanceOf[Vector[(String, Any)]].toMap
    Manifest(f("part").asInstanceOf[Long].toInt, f("rows").asInstanceOf[Long],
      f("featureHash").asInstanceOf[Long], f("lineage").asInstanceOf[String])
  }

  private def q(c: String): Column = col(s"`${c.replace("`", "``")}`")

  /** Order-independent content hash: sum of per-row xxhash64 over the given
    * columns (doubles hashed via their IEEE bits for stability).
    */
  private def rowHash(df: DataFrame): Column = {
    // xxhash64 hashes doubles by their IEEE-754 bits — stable across runs
    val cols = df.columns.sorted.map(q)
    xxhash64(cols.toIndexedSeq: _*)
  }

  /** Write `df` bucketed by hash(keyCol) % nBuckets, skipping buckets that
    * already have a manifest. Returns all manifests (existing + new).
    * Throws `IllegalStateException`, touching no file, when an existing
    * manifest's lineage is not `lineage`.
    */
  def writeResumable(df: DataFrame, dir: String, keyCol: String, nBuckets: Int,
                     lineage: String): Seq[Manifest] = {
    val spark = df.sparkSession
    Files.createDirectories(Paths.get(dir))
    val done = completedParts(dir, nBuckets)
    // checked before the partial-bucket cleanup below deletes anything
    done.toSeq.sorted.map(readManifest(dir, _)).find(_.lineage != lineage).foreach { m =>
      throw new IllegalStateException(s"[ckpt] $dir part ${m.part} was written with lineage " +
        s"${Json.quote(m.lineage)}, not ${Json.quote(lineage)}")
    }
    val todo = (0 until nBuckets).filterNot(done)
    if (todo.nonEmpty) {
      // a bucket without a manifest may hold a partial write from a crashed
      // attempt — clear it so append can't duplicate rows
      todo.foreach { p =>
        val d = Paths.get(s"$dir/__part=$p")
        if (Files.exists(d)) {
          Files.walk(d).sorted(java.util.Comparator.reverseOrder())
            .forEach(f => Files.delete(f))
        }
      }
      val withPart = df.withColumn("__part",
        pmod(xxhash64(q(keyCol)), lit(nBuckets)).cast("int"))
      val subset = withPart.filter(col("__part").isin(todo: _*))
      subset.write.mode("append").partitionBy("__part").parquet(dir)
      // verify-by-readback: metrics computed from what is on disk
      val written = spark.read.parquet(dir)
        .filter(col("__part").isin(todo: _*))
      val metricsDf = written.drop("__part")
      val stats = written.select(col("__part"),
          rowHash(metricsDf).as("__h"))
        .groupBy("__part")
        .agg(count(lit(1)).as("rows"),
          // XOR: order-independent and overflow-free under ANSI mode
          expr("bit_xor(__h)").as("hash"))
        .collect()
      val byPart = stats.map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      todo.foreach { p =>
        val (rows, h) = byPart.getOrElse(p, (0L, 0L))
        val json = s"""{"part":$p,"rows":$rows,"featureHash":$h,"lineage":${Json.quote(lineage)},""" +
          s""""writtenAt":"${java.time.Instant.now()}"}"""
        Files.write(Paths.get(manifestPath(dir, p)), json.getBytes("UTF-8"))
      }
    }
    (0 until nBuckets).map(p => readManifest(dir, p))
  }

  /** Read a completed resumable output. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).drop("__part")
}
