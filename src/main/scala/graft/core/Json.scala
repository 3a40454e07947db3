package graft.core

/** Minimal JSON AST + recursive-descent parser + writer — enough for the
  * REST wire format (objects, arrays, strings, numbers, booleans, null);
  * dependency-free by design (nothing beyond the Spark classpath).
  */
object Json {

  sealed trait Value {
    def asObj: Map[String, Value] = this match {
      case Obj(m) => m
      case v => throw new IllegalArgumentException(s"expected object, got $v")
    }
    def asArr: Seq[Value] = this match {
      case Arr(vs) => vs
      case v => throw new IllegalArgumentException(s"expected array, got $v")
    }
    def asStr: String = this match {
      case Str(s) => s
      case v => throw new IllegalArgumentException(s"expected string, got $v")
    }
    def asDouble: Double = this match {
      case Num(n) => n
      case v => throw new IllegalArgumentException(s"expected number, got $v")
    }
    /** An integral number in Int range: 2.5 or 1e12 is rejected, never
      * truncated or clamped.
      */
    def asInt: Int = {
      val d = asDouble
      if (d != math.rint(d) || d < Int.MinValue || d > Int.MaxValue)
        throw new IllegalArgumentException(s"expected an integer, got $d")
      d.toInt
    }
  }
  case class Obj(fields: Map[String, Value]) extends Value
  case class Arr(values: Seq[Value]) extends Value
  case class Str(value: String) extends Value
  case class Num(value: Double) extends Value
  case class Bool(value: Boolean) extends Value
  case object Null extends Value

  object Obj { def of(kvs: (String, Value)*): Obj = Obj(kvs.toMap) }

  // ---- parse ----

  def parse(s: String): Value = {
    val p = new Parser(s)
    val v = p.parseValue()
    p.skipWs()
    require(p.eof, s"trailing characters at ${p.pos}")
    v
  }

  private final class Parser(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def skipWs(): Unit =
      while (!eof && (s(pos) == ' ' || s(pos) == '\n' || s(pos) == '\t' || s(pos) == '\r'))
        pos += 1
    private def expect(c: Char): Unit = {
      require(!eof && s(pos) == c, s"expected '$c' at $pos in: ${s.take(80)}")
      pos += 1
    }

    def parseValue(): Value = {
      skipWs()
      require(!eof, "unexpected end of input")
      s(pos) match {
        case '{' => parseObj()
        case '[' => parseArr()
        case '"' => Str(parseString())
        case 't' => require(s.startsWith("true", pos), s"bad literal at $pos"); pos += 4; Bool(true)
        case 'f' => require(s.startsWith("false", pos), s"bad literal at $pos"); pos += 5; Bool(false)
        case 'n' => require(s.startsWith("null", pos), s"bad literal at $pos"); pos += 4; Null
        case _ => parseNum()
      }
    }

    private def parseObj(): Obj = {
      expect('{'); skipWs()
      if (!eof && s(pos) == '}') { pos += 1; return Obj(Map.empty) }
      val b = Map.newBuilder[String, Value]
      var done = false
      while (!done) {
        skipWs()
        val k = parseString()
        skipWs(); expect(':')
        b += k -> parseValue()
        skipWs()
        if (!eof && s(pos) == ',') pos += 1 else { expect('}'); done = true }
      }
      Obj(b.result())
    }

    private def parseArr(): Arr = {
      expect('['); skipWs()
      if (!eof && s(pos) == ']') { pos += 1; return Arr(Seq.empty) }
      val b = Seq.newBuilder[Value]
      var done = false
      while (!done) {
        b += parseValue()
        skipWs()
        if (!eof && s(pos) == ',') pos += 1 else { expect(']'); done = true }
      }
      Arr(b.result())
    }

    private def parseString(): String = {
      expect('"')
      val sb = new StringBuilder
      while (s(pos) != '"') {
        if (s(pos) == '\\') {
          pos += 1
          s(pos) match {
            case '"' => sb += '"'; case '\\' => sb += '\\'; case '/' => sb += '/'
            case 'b' => sb += '\b'; case 'f' => sb += '\f'; case 'n' => sb += '\n'
            case 'r' => sb += '\r'; case 't' => sb += '\t'
            case 'u' =>
              sb += Integer.parseInt(s.substring(pos + 1, pos + 5), 16).toChar
              pos += 4
            case c => throw new IllegalArgumentException(s"bad escape \\$c")
          }
          pos += 1
        } else { sb += s(pos); pos += 1 }
      }
      pos += 1
      sb.toString
    }

    private def parseNum(): Num = {
      val start = pos
      if (!eof && (s(pos) == '-' || s(pos) == '+')) pos += 1
      while (!eof && (s(pos).isDigit || s(pos) == '.' || s(pos) == 'e' || s(pos) == 'E' ||
        s(pos) == '-' || s(pos) == '+')) pos += 1
      require(pos > start, s"bad number at $start")
      Num(s.substring(start, pos).toDouble)
    }
  }

  // ---- write ----

  def write(v: Value): String = {
    val sb = new java.lang.StringBuilder(256)
    writeTo(v, sb)
    sb.toString
  }

  /** Streaming emitter: appends in place — the recursive string-concat
    * form allocated one intermediate String per node, which dominated the
    * serialize cost of vector-echo responses (k docs × dim floats each).
    */
  def writeTo(v: Value, sb: java.lang.StringBuilder): Unit = v match {
    case Obj(m) =>
      sb.append('{')
      var first = true
      m.foreach { case (k, vv) =>
        if (!first) sb.append(',')
        first = false
        quoteTo(k, sb); sb.append(':'); writeTo(vv, sb)
      }
      sb.append('}')
    case Arr(vs) =>
      sb.append('[')
      var first = true
      vs.foreach { vv =>
        if (!first) sb.append(',')
        first = false
        writeTo(vv, sb)
      }
      sb.append(']')
    case Str(s) => quoteTo(s, sb)
    case Num(n) =>
      if (n.isWhole && math.abs(n) < 1e15) sb.append(n.toLong) else sb.append(n)
    case Bool(b) => sb.append(b)
    case Null => sb.append("null")
  }

  private def quoteTo(s: String, sb: java.lang.StringBuilder): Unit = {
    sb.append('"')
    var i = 0
    // fast path: scan for the first char needing an escape; most strings
    // (ids, field names, params) have none and append whole
    var clean = true
    while (clean && i < s.length) {
      val c = s.charAt(i)
      if (c == '"' || c == '\\' || c < ' ') clean = false else i += 1
    }
    if (clean) sb.append(s)
    else {
      sb.append(s, 0, i)
      while (i < s.length) {
        s.charAt(i) match {
          case '"' => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case '\t' => sb.append("\\t")
          case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
          case c => sb.append(c)
        }
        i += 1
      }
    }
    sb.append('"')
  }
}
