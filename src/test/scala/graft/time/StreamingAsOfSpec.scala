package graft.time

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming as-of enrichment vs the batch [[AsOfJoin]]: identical rows in
  * batch execution AND across micro-batches, tolerance included.
  */
class StreamingAsOfSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)

  // two keys, interleaved rights; one left exactly AT a right ts (tie),
  // one left before any right (null payload)
  private val leftRows = Seq(
    ("a", ts(5)), ("a", ts(100)), ("a", ts(150)), ("a", ts(260)),
    ("b", ts(90)), ("b", ts(210)))
  private val rightRows = Seq(
    ("a", ts(100), 1.0), ("a", ts(200), 2.0),
    ("b", ts(80), 10.0), ("b", ts(205), 20.0))

  private def normalize(df: DataFrame) =
    df.select(col("k"), col("ts"), col("asof_v"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime,
        Option(r.get(2)).map(_.asInstanceOf[Double]))).toSet

  test("batch execution matches AsOfJoin, tolerance included") {
    val l = leftRows.toDF("k", "ts")
    val r = rightRows.toDF("k", "ts", "v")
    // tol=30 discriminates: a@150 (50s stale) and a@260 (60s) null out
    for (tol <- Seq[Option[Double]](None, Some(30.0))) {
      val batch = AsOfJoin.asof(l, r, "k", "ts", Seq("v"),
        skewKeys = Some(Nil), toleranceSecs = tol)
      val streamOp = StreamingAsOf.asof(l, r, "k", "ts", Seq("v"), toleranceSecs = tol)
      assert(normalize(streamOp) == normalize(batch), s"tol=$tol")
    }
  }

  test("streaming across micro-batches matches the batch join") {
    val l = leftRows.toDF("k", "ts")
    val r = rightRows.toDF("k", "ts", "v")
    val expected = normalize(AsOfJoin.asof(l, r, "k", "ts", Seq("v"), skewKeys = Some(Nil)))

    // both sides come from ONE source: each phase is one addData, i.e. one
    // offset range, so a micro-batch always holds a phase's left rows
    // together with its right rows (two sources fed by two addData calls
    // let a batch take one side's rows before the other's)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Boolean, String, Timestamp, Double)]
    val tagged = src.toDS().toDF("isRight", "k", "ts", "v")
    val out = StreamingAsOf.asof(
      tagged.filter(!col("isRight")).select("k", "ts"), tagged.filter(col("isRight")).select("k", "ts", "v"),
      "k", "ts", Seq("v"), watermark = "10000 hours")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("streamasof").start()
    // event-time-ordered feed split mid-timeline: state must carry over
    val cut = 120L
    def phase(keep: Long => Boolean) = src.addData(
      leftRows.filter(r => keep(r._2.getTime)).map { case (k, t) => (false, k, t, 0.0) } ++
        rightRows.filter(r => keep(r._2.getTime)).map { case (k, t, v) => (true, k, t, v) })
    phase(_ <= cut * 1000)
    q.processAllAvailable()
    phase(_ > cut * 1000)
    q.processAllAvailable()
    q.stop()
    val got = normalize(spark.sql("SELECT k, ts, asof_v FROM streamasof"))
    assert(got == expected, s"$got vs $expected")
  }
}
