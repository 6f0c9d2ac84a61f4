package graft.model

import graft.Json
import graft.expr.ExprJson

/** The model-state sink: [[toJson]] writes an [[AutoFeatModel]] and
  * [[fromJson]] reads it back into a servable model, so a fresh session
  * (spark-submit serving job, different cluster) can
  * `transform`/`predict`/`score` without refitting. Formulas use
  * [[ExprJson]]'s array format; the codec is [[graft.Json]].
  */
object ModelJson {

  def toJson(m: AutoFeatModel): String = {
    def arr(xs: Seq[String]) = xs.map(Json.quote).mkString("[", ",", "]")
    val fj = m.formulas.map { case (k, v) => s"${Json.quote(k)}:${ExprJson.toJson(v)}" }
      .mkString("{", ",", "}")
    val s2c = m.symToCol.map { case (k, v) => s"${Json.quote(k)}:${Json.quote(v)}" }
      .mkString("{", ",", "}")
    val pj = m.piGroups.map { case (n, ts) =>
      s"""{"name":${Json.quote(n)},"terms":${ts.map { case (c, e) => s"${Json.quote(c)}:$e" }.mkString("{", ",", "}")}}"""
    }.mkString("[", ",", "]")
    val pt = if (m.classifier.isDefined || m.multiClassifier.isDefined) "classification" else "regression"
    // Double.toString emits NaN / Infinity / -Infinity for non-finite
    // values; the parser accepts those spellings back, so a degenerate fit
    // round-trips instead of failing at load time.
    val multi = m.multiClassifier.map { mm =>
      s""","classes":[${mm.classes.mkString(",")}],"interceptMulti":[${mm.intercept.mkString(",")}],
         |"coefMulti":[${mm.coef.map(r => "[" + r.mkString(",") + "]").mkString(",")}]""".stripMargin
    }.getOrElse("")
    s"""{"originalColumns":${arr(m.originalColumns)},"categoricalCols":${arr(m.categoricalCols)},
       |"feategCols":${arr(m.feategCols)},"symToCol":$s2c,"newFeatCols":${arr(m.newFeatCols)},
       |"formulas":$fj,"goodCols":${arr(m.goodCols)},"piGroups":$pj,"allColumns":${arr(m.allColumns)},
       |"problemType":"$pt"$multi,
       |"coef":[${m.model.coef.mkString(",")}],"intercept":${m.model.intercept},"alpha":${m.model.alpha}}""".stripMargin
  }

  def fromJson(json: String): AutoFeatModel = {
    val fields = Json.parse(json).asInstanceOf[Vector[(String, Any)]].toMap
    def dbl(v: Any): Double = v match {
      case l: Long => l.toDouble
      case d => d.asInstanceOf[Double]
    }
    def dbls(v: Any): Array[Double] = v.asInstanceOf[Vector[_]].map(dbl).toArray
    def strs(k: String): Seq[String] =
      fields(k).asInstanceOf[Vector[_]].map(_.asInstanceOf[String])
    def strMap(k: String): Vector[(String, String)] =
      fields(k).asInstanceOf[Vector[(String, Any)]].map { case (a, b) => a -> b.asInstanceOf[String] }
    val formulas = fields("formulas").asInstanceOf[Vector[(String, Any)]]
      .map { case (n, ast) => n -> ExprJson.fromAst(ast) }.toMap
    val coef = dbls(fields("coef"))
    val intercept = dbl(fields("intercept"))
    val alpha = dbl(fields("alpha"))
    val goodCols = strs("goodCols")
    val piGroups = fields("piGroups").asInstanceOf[Vector[_]].map { g =>
      val m = g.asInstanceOf[Vector[(String, Any)]].toMap
      (m("name").asInstanceOf[String],
        m("terms").asInstanceOf[Vector[(String, Any)]]
          .map { case (c, e) => c -> dbl(e) })
    }
    val problemType = fields.get("problemType").map(_.asInstanceOf[String]).getOrElse("regression")
    val multiClassifier = fields.get("classes").map { cs =>
      graft.select.Logistic.MultiModel(goodCols, dbls(cs).toSeq,
        fields("coefMulti").asInstanceOf[Vector[_]].map(dbls).toArray,
        dbls(fields("interceptMulti")))
    }
    val classifier =
      if (problemType == "classification" && multiClassifier.isEmpty)
        Some(graft.select.Logistic.Model(goodCols, coef, intercept))
      else None
    AutoFeatModel(
      originalColumns = strs("originalColumns"),
      categoricalCols = strs("categoricalCols"),
      feategCols = strs("feategCols"),
      symToCol = strMap("symToCol").toMap,
      newFeatCols = strs("newFeatCols"),
      formulas = formulas,
      goodCols = goodCols,
      model = LinearModel(goodCols, coef, intercept, alpha),
      classifier = classifier,
      piGroups = piGroups,
      allColumns = fields.get("allColumns").map(_ => strs("allColumns")).getOrElse(Nil),
      multiClassifier = multiClassifier)
  }
}
