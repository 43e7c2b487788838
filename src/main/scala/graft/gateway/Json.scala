package graft.gateway

import scala.collection.immutable.VectorBuilder

/** Minimal JSON AST + parser + renderer (the build is offline: no JSON
  * library resolves, and Spark's Jackson shades are internal API). Field
  * order is preserved; numbers are kept as BigDecimal so 64-bit ids render
  * without precision loss.
  */
sealed trait JValue {
  def render: String = Json.render(this)
}
object JValue {
  final case class JStr(v: String) extends JValue
  final case class JNum(v: BigDecimal) extends JValue
  final case class JBool(v: Boolean) extends JValue
  case object JNull extends JValue
  final case class JArr(items: Vector[JValue]) extends JValue
  final case class JObj(fields: Vector[(String, JValue)]) extends JValue {
    def get(key: String): Option[JValue] = fields.collectFirst { case (`key`, v) => v }
    def str(key: String): Option[String] = get(key).collect { case JStr(s) => s }
    /** The field as an Int: None when it is absent, not a number, or not
      * a whole number in Int range (never a wrapped or truncated value).
      */
    def int(key: String): Option[Int] = get(key).collect { case JNum(n) if n.isValidInt => n.toInt }
    /** The field as a Long, on the terms of [[int]]. */
    def long(key: String): Option[Long] = get(key).collect { case JNum(n) if n.isValidLong => n.toLong }
    def obj(key: String): Option[JObj] = get(key).collect { case o: JObj => o }
  }
  object JObj {
    def apply(fields: (String, JValue)*): JObj = JObj(fields.toVector)
  }
  def num(l: Long): JNum = JNum(BigDecimal(l))
  def num(d: Double): JValue =
    if (d.isNaN || d.isInfinite) JNull else JNum(BigDecimal(d))
}

object Json {
  import JValue._

  def render(v: JValue): String = {
    val sb = new StringBuilder
    renderTo(v, sb)
    sb.toString
  }

  private def renderTo(v: JValue, sb: StringBuilder): Unit = v match {
    case JNull => sb.append("null")
    case JBool(b) => sb.append(if (b) "true" else "false")
    case JNum(n) => sb.append(n.bigDecimal.toPlainString)
    case JStr(s) => renderString(s, sb)
    case JArr(items) =>
      sb.append('[')
      var first = true
      items.foreach { i =>
        if (!first) sb.append(',')
        first = false
        renderTo(i, sb)
      }
      sb.append(']')
    case JObj(fields) =>
      sb.append('{')
      var first = true
      fields.foreach { case (k, fv) =>
        if (!first) sb.append(',')
        first = false
        renderString(k, sb)
        sb.append(':')
        renderTo(fv, sb)
      }
      sb.append('}')
  }

  private def renderString(s: String, sb: StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  final case class JsonParseException(msg: String) extends RuntimeException(msg)

  /** Deepest array/object nesting [[parse]] accepts. The parser recurses
    * once per level, so an unbounded depth lets a small body overflow the
    * thread's stack; past this cap the input is rejected instead.
    */
  val MaxDepth = 512

  def parse(input: String): JValue = {
    val p = new Parser(input)
    val v = p.parseValue()
    p.skipWs()
    if (!p.atEnd) throw JsonParseException(s"Trailing content at offset ${p.pos}")
    v
  }

  private final class Parser(s: String) {
    var pos = 0
    private var depth = 0
    def atEnd: Boolean = pos >= s.length
    def skipWs(): Unit =
      while (!atEnd && (s.charAt(pos) == ' ' || s.charAt(pos) == '\t' ||
        s.charAt(pos) == '\n' || s.charAt(pos) == '\r')) pos += 1

    private def fail(msg: String): Nothing =
      throw JsonParseException(s"$msg at offset $pos")

    private def expect(c: Char): Unit = {
      if (atEnd || s.charAt(pos) != c) fail(s"Expected '$c'")
      pos += 1
    }

    def parseValue(): JValue = {
      skipWs()
      if (atEnd) fail("Unexpected end of input")
      s.charAt(pos) match {
        case '{' => nested(parseObj())
        case '[' => nested(parseArr())
        case '"' => JStr(parseString())
        case 't' => parseLit("true", JBool(true))
        case 'f' => parseLit("false", JBool(false))
        case 'n' => parseLit("null", JNull)
        case c if c == '-' || (c >= '0' && c <= '9') => parseNum()
        case c => fail(s"Unexpected character '$c'")
      }
    }

    private def parseLit(lit: String, v: JValue): JValue = {
      if (!s.startsWith(lit, pos)) fail(s"Invalid literal")
      pos += lit.length
      v
    }

    /** Parses an array or object one level deeper than its container;
      * a failure ends the whole parse, so nothing needs unwinding.
      */
    private def nested(parse: => JValue): JValue = {
      if (depth == MaxDepth) fail(s"Nesting deeper than $MaxDepth levels")
      depth += 1
      val v = parse
      depth -= 1
      v
    }

    private def parseObj(): JObj = {
      expect('{')
      skipWs()
      val fields = new VectorBuilder[(String, JValue)]
      if (!atEnd && s.charAt(pos) == '}') { pos += 1; return JObj(fields.result()) }
      var done = false
      while (!done) {
        skipWs()
        val k = parseString()
        skipWs()
        expect(':')
        val v = parseValue()
        fields += (k -> v)
        skipWs()
        if (!atEnd && s.charAt(pos) == ',') pos += 1
        else { expect('}'); done = true }
      }
      JObj(fields.result())
    }

    private def parseArr(): JArr = {
      expect('[')
      skipWs()
      val items = new VectorBuilder[JValue]
      if (!atEnd && s.charAt(pos) == ']') { pos += 1; return JArr(items.result()) }
      var done = false
      while (!done) {
        items += parseValue()
        skipWs()
        if (!atEnd && s.charAt(pos) == ',') pos += 1
        else { expect(']'); done = true }
      }
      JArr(items.result())
    }

    private def parseString(): String = {
      expect('"')
      val sb = new StringBuilder
      while (!atEnd && s.charAt(pos) != '"') {
        val c = s.charAt(pos)
        if (c == '\\') {
          pos += 1
          if (atEnd) fail("Unterminated escape")
          s.charAt(pos) match {
            case '"' => sb.append('"')
            case '\\' => sb.append('\\')
            case '/' => sb.append('/')
            case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case 'n' => sb.append('\n')
            case 'r' => sb.append('\r')
            case 't' => sb.append('\t')
            case 'u' =>
              if (pos + 4 >= s.length) fail("Truncated unicode escape")
              val hex = s.substring(pos + 1, pos + 5)
              if (!hex.forall(c => "0123456789abcdefABCDEF".indexOf(c) >= 0))
                fail("Invalid unicode escape")
              sb.append(Integer.parseInt(hex, 16).toChar)
              pos += 4
            case e => fail(s"Invalid escape '\\$e'")
          }
          pos += 1
        } else { sb.append(c); pos += 1 }
      }
      expect('"')
      sb.toString
    }

    private def parseNum(): JNum = {
      val start = pos
      if (!atEnd && s.charAt(pos) == '-') pos += 1
      while (!atEnd && {
        val c = s.charAt(pos)
        (c >= '0' && c <= '9') || c == '.' || c == 'e' || c == 'E' || c == '+' || c == '-'
      }) pos += 1
      try JNum(BigDecimal(s.substring(start, pos)))
      catch { case _: NumberFormatException => fail("Invalid number") }
    }
  }
}
