package graft.expr

import graft.Json

/** Structural JSON serde for FExpr — the persisted model artifact stores
  * formulas structurally (not by re-parsing canonical names).
  * Format: ["n","p/q"] | ["v","sym"] | ["+",...] | ["*",...] |
  *         ["^",b,e] | ["f","exp",arg]
  */
object ExprJson {

  def toJson(e: FExpr): String = e match {
    case Num(r)    => s"""["n","${r.n}/${r.d}"]"""
    case Var(s)    => s"""["v",${Json.quote(s)}]"""
    case Add(as)   => as.map(toJson).mkString("""["+",""", ",", "]")
    case Mul(as)   => as.map(toJson).mkString("""["*",""", ",", "]")
    case Pow(b, x) => s"""["^",${toJson(b)},${toJson(x)}]"""
    case Fn(k, a)  => s"""["f",${Json.quote(k.fname)},${toJson(a)}]"""
  }

  def fromJson(s: String): FExpr = fromAst(Json.parse(s))

  /** The format above as a parsed [[Json]] value. Sums and products are
    * rebuilt through the raw constructors: the stored form is canonical.
    */
  def fromAst(v: Any): FExpr = v match {
    case arr: Vector[_] if arr.nonEmpty => arr.head match {
      case "n" =>
        val Array(n, d) = arr(1).asInstanceOf[String].split('/')
        Num(Rat.make(BigInt(n), BigInt(d)))
      case "v" => Var(arr(1).asInstanceOf[String])
      case "+" => Add(arr.tail.map(fromAst))
      case "*" => Mul(arr.tail.map(fromAst))
      case "^" => Pow(fromAst(arr(1)), fromAst(arr(2)))
      case "f" =>
        val k = arr(1) match {
          case "exp" => Fk.Exp; case "log" => Fk.Log; case "sin" => Fk.Sin
          case "cos" => Fk.Cos; case "Abs" => Fk.Abs
          case other => throw new IllegalArgumentException(s"unknown fn $other")
        }
        Fn(k, fromAst(arr(2)))
      case other => throw new IllegalArgumentException(s"unknown expr tag $other")
    }
    case other => throw new IllegalArgumentException(s"not an expr array: $other")
  }
}
