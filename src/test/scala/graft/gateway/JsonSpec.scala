package graft.gateway

import org.scalatest.funsuite.AnyFunSuite

import JValue._

class JsonSpec extends AnyFunSuite {

  test("round-trips nested structures") {
    val in = """{"a":[1,2.5,-3],"b":{"c":"x\"y","d":null,"e":true},"f":[]}"""
    val v = Json.parse(in)
    assert(Json.parse(Json.render(v)) == v)
  }

  test("64-bit integers survive without precision loss") {
    val v = Json.parse("""{"id":9007199254740993}""").asInstanceOf[JObj]
    assert(v.get("id").contains(JNum(BigDecimal("9007199254740993"))))
    assert(Json.render(v) == """{"id":9007199254740993}""")
  }

  test("string escapes render and parse") {
    val s = JStr("line1\nline2\ttab \"quote\" \\ back ctl")
    assert(Json.parse(Json.render(s)) == s)
  }

  test("unicode escapes parse") {
    assert(Json.parse("\"\\u0041\\u00e9\"") == JStr("Aé"))
  }

  test("a unicode escape needs four hex digits") {
    Seq("\"\\uZZZZ\"", "\"\\u-041\"", "\"\\u12G4\"", "\"\\u+041\"").foreach { bad =>
      val e = intercept[Json.JsonParseException](Json.parse(bad))
      assert(e.msg.startsWith("Invalid unicode escape"), bad)
    }
    assert(Json.parse("\"\\u0041\"") == JStr("A"))
  }

  test("int and long read only whole numbers in range") {
    val o = Json.parse(
      """{"a":4294967297,"b":4294968296,"c":2.9,"d":-7,"e":"7","f":9223372036854775808}""")
      .asInstanceOf[JObj]
    assert(Seq("a", "b", "c", "d", "e", "f").map(o.int) == Seq(None, None, None, Some(-7), None, None))
    assert(Seq("a", "c", "f").map(o.long) == Seq(Some(4294967297L), None, None))
  }

  test("malformed input throws JsonParseException") {
    Seq("{", "[1,", "\"unterminated", "{'single':1}", "{\"a\":}", "1 2").foreach { bad =>
      intercept[Json.JsonParseException](Json.parse(bad))
    }
  }

  test("nesting past MaxDepth throws JsonParseException; the cap itself parses") {
    def arrays(n: Int) = "[" * n + "]" * n
    def objects(n: Int) = """{"a":""" * n + "1" + "}" * n
    def depth(v: JValue): Int = v match {
      case JArr(items) => 1 + items.map(depth).maxOption.getOrElse(0)
      case JObj(fields) => 1 + fields.map(f => depth(f._2)).maxOption.getOrElse(0)
      case _ => 0
    }
    // 5,000 levels is a 10 KB body, enough to overflow a default thread stack.
    Seq(arrays(5000), objects(5000), arrays(Json.MaxDepth + 1), objects(Json.MaxDepth + 1))
      .foreach { deep =>
        val e = intercept[Json.JsonParseException](Json.parse(deep))
        assert(e.msg.contains(s"Nesting deeper than ${Json.MaxDepth} levels"), e.msg)
      }
    assert(depth(Json.parse(arrays(Json.MaxDepth))) == Json.MaxDepth)
    assert(depth(Json.parse(objects(Json.MaxDepth))) == Json.MaxDepth)
  }

  test("NaN/Infinity render as null") {
    assert(JValue.num(Double.NaN) == JNull)
    assert(JValue.num(Double.PositiveInfinity) == JNull)
  }
}
