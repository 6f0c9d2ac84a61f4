package graft

import org.apache.spark.sql.functions.col

import graft.expr.ExprJson
import graft.feateng.{FeatEng, FeatEngConfig}
import graft.model.{AutoFeatModel, LinearModel, ModelJson}

/** The one codec behind every artifact graft writes: strings, exact
  * integers, bit-preserving doubles, strict errors — and every formula
  * synthesis builds survives both artifact formats that carry formulas.
  */
class JsonSpec extends SparkSpec {

  private def rt(s: String): Any = Json.parse(Json.quote(s))

  test("strings round-trip: quotes, backslashes, every control character, non-BMP text, braces") {
    val controls = (0 until 0x20).map(_.toChar).mkString
    for (s <- Seq("", "plain", "a\"b", "back\\slash\\", controls, "tab\tnew\nline",
      "emoji 😀 and 𝔊", "/data/{2024,2025}", "{a,b}", "é\u007f\u2028", "\"\\\"")) {
      assert(rt(s) == s, s"round-trip of ${Json.quote(s)}")
    }
    // a lone control char is written as a \u escape, never raw
    assert(Json.quote("\u0001") == "\"\\u0001\"")
  }

  test("integer literals read back exactly as Long") {
    for (v <- Seq(Long.MinValue, Long.MaxValue, 0L, -1L, 9007199254740993L)) {
      assert(Json.parse(v.toString) == v)
      assert(Json.parse(v.toString).isInstanceOf[Long])
    }
    // past the Long range an integer literal reads as its toDouble
    assert(Json.parse("9223372036854775808") == 9.223372036854775808e18)
  }

  test("doubles keep their bits, NaN and the infinities included") {
    for (d <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0,
      1e-300, 0.1, Double.MinPositiveValue, Double.MaxValue, -123.456e7)) {
      val back = Json.parse(d.toString).asInstanceOf[Double]
      assert(java.lang.Double.doubleToRawLongBits(back) == java.lang.Double.doubleToRawLongBits(d),
        s"$d came back as $back")
    }
  }

  test("all eight escapes and \\u escapes decode, surrogate pairs included") {
    assert(Json.parse("\"\\\"\\\\\\/\\b\\f\\n\\r\\t\"") == "\"\\/\b\f\n\r\t")
    assert(Json.parse("\"\\u0041\\u00e9\\ud83d\\ude00\"") == "Aé😀")
    assert(Json.parse("""{"k":[1,2.5,"s",true,false,null],"e":{}, "a" : [ ]}""") ==
      Vector("k" -> Vector(1L, 2.5, "s", true, false, null), "e" -> Vector(), "a" -> Vector()))
  }

  test("malformed or truncated input throws IllegalArgumentException") {
    for (bad <- Seq("", "tru", "nul", "[1,2", "{\"a\":1", "{\"a\"", "\"abc", "\"ab\\", "\"\\u12\"",
      "\"\\x\"", "[1,]", "{,}", "01", "1.", "-", "1e", "[1] 2", "{\"a\" 1}", "\"a\u0001\"", "[1 2]")) {
      val e = intercept[IllegalArgumentException](Json.parse(bad))
      assert(e.getMessage.contains(" at "), s"${Json.quote(bad)}: ${e.getMessage}")
    }
  }

  test("every formula FeatEng builds round-trips through ExprJson and ModelJson") {
    val input = spark.read.parquet(getClass.getResource("/fixtures/f2_input.parquet").getPath)
    val res = new FeatEng(FeatEngConfig(maxSteps = 2))
      .engineerFeatures(input.withColumn("rid", col("row_id")), Seq("x1", "x2", "x3"))
    assert(res.pool.size > 100, s"pool of ${res.pool.size}")
    res.pool.foreach { case (n, e) =>
      val back = ExprJson.fromJson(ExprJson.toJson(e))
      assert(back == e && back.name == e.name, n)
    }
    val cols = res.pool.keys.toSeq
    val m = AutoFeatModel(cols, Nil, Nil, Map("x1" -> "x1"), cols, res.pool, cols,
      LinearModel(cols, cols.indices.map(_ * 0.5).toArray, 1.5, 0.01))
    val loaded = ModelJson.fromJson(m.toJson)
    assert(loaded.formulas == res.pool && loaded.newFeatCols == cols)
    assert(loaded.model.coef.toSeq == m.model.coef.toSeq)
    assert(loaded.toJson == m.toJson)
  }
}
