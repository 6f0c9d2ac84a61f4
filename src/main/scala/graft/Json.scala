package graft

/** The one JSON codec for the artifacts graft writes: model state
  * ([[graft.model.ModelJson]]), formulas ([[graft.expr.ExprJson]]),
  * checkpoint manifests and job summary lines. RFC 8259, plus the `NaN`,
  * `Infinity` and `-Infinity` spellings `Double.toString` gives a degenerate
  * fit's coefficients. Parsed values: String | Long (an integer literal in
  * range, exact — manifest feature hashes use all 64 bits) | Double (any
  * other number, through the literal's `toDouble`) | Boolean | null |
  * Vector[Any] | Vector[(String, Any)] (an object, keys in document order).
  * Malformed or truncated input throws `IllegalArgumentException` naming
  * the position.
  */
object Json {

  /** `"` and `\` escaped, control characters as `\u00XX`, the rest verbatim. */
  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def parse(s: String): Any = new P(s).document()

  private final class P(s: String) {
    private var i = 0
    private def fail(what: String): Nothing = throw new IllegalArgumentException(s"json: $what at $i")
    private def ws(): Unit = while (i < s.length && " \t\n\r".indexOf(s(i)) >= 0) i += 1
    private def peek(): Char = { ws(); if (i >= s.length) fail("unexpected end"); s(i) }
    /** The character at i, consumed. */
    private def next(): Char = { if (i >= s.length) fail("unexpected end"); i += 1; s(i - 1) }
    private def expect(c: Char): Unit = if (peek() == c) i += 1 else fail(s"expected '$c'")
    private def word[T](w: String, v: T): T = if (s.startsWith(w, i)) { i += w.length; v } else fail(s"expected $w")
    /** Consumes the next character if it is one of `cs`. */
    private def opt(cs: String): Boolean = i < s.length && cs.indexOf(s(i)) >= 0 && { i += 1; true }

    def document(): Any = { val v = value(); ws(); if (i < s.length) fail("trailing input"); v }

    private def value(): Any = peek() match {
      case '{' => items('}') { val k = str(); expect(':'); k -> value() }
      case '[' => items(']')(value())
      case '"' => str()
      case 't' => word("true", true)
      case 'f' => word("false", false)
      case 'n' => word("null", null)
      case 'N' => word("NaN", Double.NaN)
      case 'I' => word("Infinity", Double.PositiveInfinity)
      case '-' if s.startsWith("-I", i) => word("-Infinity", Double.NegativeInfinity)
      case _ => num()
    }

    /** Comma-separated items after the opening bracket at i, up to `close`. */
    private def items[T](close: Char)(item: => T): Vector[T] = {
      i += 1
      val out = Vector.newBuilder[T]
      var more = peek() != close
      while (more) {
        out += item
        more = peek() == ','
        if (more) i += 1
      }
      expect(close)
      out.result()
    }

    /** Escapes decode to UTF-16 units, so an escaped surrogate pair
      * rebuilds its supplementary character.
      */
    private def str(): String = {
      expect('"')
      val sb = new StringBuilder
      var c = next()
      while (c != '"') {
        if (c < ' ') fail("control character in string")
        if (c != '\\') sb += c
        else {
          val e = next()
          val k = "\"\\/bfnrt".indexOf(e)
          val hex = s.slice(i, i + 4)
          if (k >= 0) sb += "\"\\/\b\f\n\r\t"(k)
          else if (e == 'u' && hex.length == 4 && hex.forall(h => h < 128 && Character.digit(h, 16) >= 0)) {
            sb += Integer.parseInt(hex, 16).toChar
            i += 4
          } else fail("bad escape")
        }
        c = next()
      }
      sb.toString
    }

    private def num(): Any = {
      val start = i
      def digits(): Unit = {
        val from = i
        while (i < s.length && s(i) >= '0' && s(i) <= '9') i += 1
        if (i == from) fail("expected a digit")
      }
      opt("-")
      if (!opt("0")) digits() // no leading zeros
      val frac = opt(".") && { digits(); true }
      val exp = opt("eE") && { opt("+-"); digits(); true }
      val lit = s.substring(start, i)
      lit.toLongOption match {
        case Some(l) if !frac && !exp => l
        case _ => lit.toDouble
      }
    }
  }
}
