package graft.ckpt

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.time.{PointInTime, TranscriptGen}
import org.apache.spark.sql.functions._

/** FIXTURES.md F8: checkpoint-resume idempotence. */
class CheckpointSpec extends SparkSpec {

  private def tmpDir(): String = Files.createTempDirectory("graft_ckpt").toString

  lazy val out = {
    val turns = TranscriptGen.generate(spark, 60, 10, 9).toDF()
    PointInTime.baseFeatures(turns)
      .select(col("conv_id"), col("turn_idx"),
        col("text_len").cast("double"), col("cum_text_len").cast("double"))
      .cache()
  }

  test("clean write produces one manifest per bucket; metrics verified by readback") {
    val dir = tmpDir()
    val m = Checkpoint.writeResumable(out, dir, "conv_id", 8, "test-lineage")
    assert(m.size == 8)
    assert(m.map(_.rows).sum == out.count())
    assert(m.forall(_.lineage == "test-lineage"))
    val back = Checkpoint.read(spark, dir)
    assert(back.count() == out.count())
    assert(back.exceptAll(out).count() == 0)
  }

  test("resume after losing buckets reproduces identical manifests and data") {
    val dir = tmpDir()
    val clean = Checkpoint.writeResumable(out, dir, "conv_id", 8, "L")
    // simulate a crash: drop half the manifests, one with partial data loss
    (0 until 8 by 2).foreach { p =>
      Files.delete(Paths.get(s"$dir/_manifest_part_$p.json"))
    }
    // partial data in bucket 0: delete one data file to corrupt it
    val d0 = new java.io.File(s"$dir/__part=0")
    d0.listFiles().headOption.foreach(_.delete())
    val resumed = Checkpoint.writeResumable(out, dir, "conv_id", 8, "L")
    assert(resumed.map(m => (m.part, m.rows, m.featureHash)) ==
      clean.map(m => (m.part, m.rows, m.featureHash)))
    val back = Checkpoint.read(spark, dir)
    assert(back.count() == out.count())
    assert(back.exceptAll(out).count() == 0 && out.exceptAll(back).count() == 0)
  }

  test("resume with all manifests present writes nothing new") {
    val dir = tmpDir()
    Checkpoint.writeResumable(out, dir, "conv_id", 4, "L")
    val before = Files.walk(Paths.get(dir)).count()
    Checkpoint.writeResumable(out, dir, "conv_id", 4, "L")
    assert(Files.walk(Paths.get(dir)).count() == before)
  }

  private def snapshot(dir: String): Map[String, Seq[Byte]] =
    Files.walk(Paths.get(dir)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(Files.isRegularFile(_)).map(f => f.toString -> Files.readAllBytes(f).toSeq).toMap

  test("resume refuses a foreign lineage and leaves every file untouched") {
    val dir = tmpDir()
    // JSON metacharacters and a glob's `{a,b}`: the manifest must escape them
    // on write and read them back whole
    val a = "input=/data/{2024,2025}|q=\"x\\y\"\t|v=1"
    val clean = Checkpoint.writeResumable(out, dir, "conv_id", 4, a)
    assert(clean.forall(_.lineage == a))
    // bucket 1 loses its manifest, as a crash before it was written would:
    // a resume would clear that bucket's data first
    Files.delete(Paths.get(s"$dir/_manifest_part_1.json"))
    val before = snapshot(dir)
    val e = intercept[IllegalStateException] {
      Checkpoint.writeResumable(out, dir, "conv_id", 4, "input=/data/{2026}|v=1")
    }
    Seq(dir, "part 0", "/data/{2024,2025}", "/data/{2026}").foreach(w =>
      assert(e.getMessage.contains(w), s"'$w' missing from: ${e.getMessage}"))
    assert(snapshot(dir) == before, "a refused resume changed files")
    // the original lineage still resumes
    assert(Checkpoint.writeResumable(out, dir, "conv_id", 4, a) == clean)
  }

  test("a dotted key column buckets by the column, not a struct field") {
    val dir = tmpDir()
    val dotted = out.withColumnRenamed("conv_id", "user.id")
    val m = Checkpoint.writeResumable(dotted, dir, "user.id", 4, "L")
    val plain = Checkpoint.writeResumable(out, tmpDir(), "conv_id", 4, "L")
    assert(m.map(x => (x.part, x.rows)) == plain.map(x => (x.part, x.rows)))
    val back = Checkpoint.read(spark, dir)
    assert(back.columns.contains("user.id") && back.exceptAll(dotted).count() == 0)
  }
}
