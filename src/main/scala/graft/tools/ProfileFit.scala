package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.feateng.{FeatEng, FeatEngConfig}
import graft.select.FeatSel

/** Phase timing of the steps=3 fixture fit (diagnoses the test-gate cost). */
object ProfileFit {
  def t[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"PHASE $name: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val input = spark.read.parquet(
      "src/test/resources/fixtures/f2_input.parquet").drop("row_id").cache()
    input.count()

    val eng = t("engineerFeatures steps=3") {
      new FeatEng(FeatEngConfig(maxSteps = 3))
        .engineerFeatures(input, Seq("x1", "x2", "x3"), passThrough = Seq("target"))
    }
    println(s"ENGINEERED=${eng.newCols.size}")
    val picked = t("selectFeatures 5 runs") {
      FeatSel.selectFeatures(eng.df, eng.columns, "target")
    }
    println(s"SELECTED=${picked.size}: ${picked.take(8).mkString(" | ")}")
    t("full fitTransform steps=3") {
      graft.model.AutoFeat.fitTransform(input, "target",
        graft.model.AutoFeatConfig(feategSteps = 3))
    }
    spark.stop()
  }
}
