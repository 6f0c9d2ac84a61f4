package graft.tools

import java.nio.file.{Files, Path}

import graft.SparkSpec

/** The probe tools on the shared session: `dump` writes one formatted plan
  * per query and fails loudly on names that are not queries.
  */
class ProbeSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  private def listing(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[Path].getFileName.toString).toSeq.sorted finally s.close()
  }

  test("dump writes one non-empty formatted plan per query") {
    val out = Files.createTempDirectory("probe_dump")
    Probe.dump(spark, sfDir, out.toString, "t", Seq("q_text_stats", "q_dedup_exact"))
    assert(listing(out) == Seq("q_dedup_exact_t.txt", "q_text_stats_t.txt"))
    listing(out).foreach { f =>
      val txt = new String(Files.readAllBytes(out.resolve(f)), "UTF-8")
      assert(txt.contains("== Physical Plan =="), f)
    }
  }

  test("dump names an unknown query and writes nothing") {
    val out = Files.createTempDirectory("probe_dump_bad")
    val e = intercept[IllegalArgumentException] {
      Probe.dump(spark, sfDir, out.toString, "t", Seq("q_text_stats", "q_no_such_query"))
    }
    assert(e.getMessage.contains("q_no_such_query"))
    assert(listing(out).isEmpty)
  }
}
