package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VecDotSpec extends SparkSpec {
  import spark.implicits._

  private def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  test("vec_dot matches the higher-order-function formulation bit-for-bit") {
    val rng = new scala.util.Random(17)
    val rows = Seq.fill(500)((
      Array.fill(64)(rng.nextFloat() * 2 - 1).toSeq,
      Array.fill(64)(rng.nextFloat() * 2 - 1).toSeq))
    val df = rows.toDF("a", "b")
    val cmp = df.select(
      call_function("vec_dot", col("a"), col("b")).as("fast"),
      hofDot(col("a"), col("b")).as("slow"))
    // identical left-to-right double accumulation => exact equality
    assert(cmp.filter(col("fast") =!= col("slow")).count() === 0)
    assert(cmp.filter(col("fast").isNull).count() === 0)
  }

  test("vec_dot handles double arrays, nulls, and length mismatch") {
    val df = Seq(
      (Some(Seq(1.0, 2.0, 3.0)), Some(Seq(4.0, 5.0, 6.0))),
      (None, Some(Seq(1.0))),
      (Some(Seq(1.0, 2.0)), Some(Seq(3.0))) // min-length semantics
    ).toDF("a", "b")
    val out = df.select(call_function("vec_dot", col("a"), col("b")).as("d")).collect()
    assert(out(0).getDouble(0) === 32.0)
    assert(out(1).isNullAt(0))
    assert(out(2).getDouble(0) === 3.0)
  }

  test("vec_dot works in SQL and survives codegen") {
    val rng = new scala.util.Random(5)
    Seq.fill(100)((Array.fill(16)(rng.nextFloat()).toSeq, Array.fill(16)(rng.nextFloat()).toSeq))
      .toDF("a", "b").createOrReplaceTempView("vecs")
    val n = spark.sql("SELECT vec_dot(a, b) AS d FROM vecs WHERE vec_dot(a, b) > 0").count()
    assert(n === 100) // all-positive entries => all dots positive
  }
}
