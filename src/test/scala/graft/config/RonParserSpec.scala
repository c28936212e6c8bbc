package graft.config

import org.scalatest.funsuite.AnyFunSuite

/** Edge cases of the vendored RON reader (beyond the ConfigSpec
  * YAML↔RON round-trip): structs vs tuples vs maps, Option unwrapping,
  * enum variants, comments, escapes, loud rejection of junk.
  */
class RonParserSpec extends AnyFunSuite {

  private def parse(s: String) = RonParser.parse(s)

  test("scalars: strings with escapes, ints, floats, bools, None") {
    val uEsc = "\\u" // dodge Scala's own \u pre-processing in literals
    val n = parse(
      s"""(
        |  a: "x \\"quoted\\" \\n y",
        |  b: 42,
        |  c: -3.5,
        |  d: 1e3,
        |  e: true,
        |  f: None,
        |  g: Some("wrapped"),
        |  h: "$uEsc{1F600}",
        |)""".stripMargin)
    assert(n.get("a").asText == "x \"quoted\" \n y")
    assert(n.get("b").asLong == 42L)
    assert(n.get("c").asDouble == -3.5)
    assert(n.get("d").asDouble == 1000.0)
    assert(n.get("e").asBoolean)
    assert(n.get("f").isNull)
    assert(n.get("g").asText == "wrapped")
    assert(n.get("h").asText == new String(Character.toChars(0x1F600)))
  }

  test("named structs decode like anonymous ones (serde semantics)") {
    val a = parse("""Config(x: 1, y: [1, 2, 3])""")
    val b = parse("""(x: 1, y: [1, 2, 3])""")
    assert(a == b)
    assert(a.get("y").get(2).asInt == 3)
  }

  test("maps with string keys, nested lists of structs, trailing commas") {
    val n = parse(
      """(
        |  mappings: { "M": "MALE", "F": "FEMALE", },
        |  sources: [
        |    (name: "a", enabled: true),
        |    (name: "b", enabled: false),
        |  ],
        |)""".stripMargin)
    assert(n.get("mappings").get("M").asText == "MALE")
    assert(n.get("sources").get(1).get("name").asText == "b")
    assert(!n.get("sources").get(1).get("enabled").asBoolean)
  }

  test("bare enum variants parse as strings; tuples as arrays; unit as null") {
    val n = parse("""(kind: csv, pair: (1, 2), nothing: ())""")
    assert(n.get("kind").asText == "csv")
    assert(n.get("pair").get(0).asInt == 1)
    assert(n.get("pair").get(1).asInt == 2)
    assert(n.get("nothing").isNull)
  }

  test("line and nested block comments are skipped") {
    val n = parse(
      """// header comment
        |( /* block /* nested */ still comment */
        |  a: 1, // trailing
        |  b: "slashes // inside strings kept",
        |)""".stripMargin)
    assert(n.get("a").asInt == 1)
    assert(n.get("b").asText == "slashes // inside strings kept")
  }

  test("duplicate struct fields and map keys are rejected (serde semantics)") {
    intercept[IllegalArgumentException](
      RonParser.parse("(output_dir: \"/a\", output_dir: \"/b\")"))
    intercept[IllegalArgumentException](
      RonParser.parse("{\"k\": 1, \"k\": 2}"))
  }

  test("junk is rejected loudly") {
    assertThrows[IllegalArgumentException](parse("""(a: 1) trailing"""))
    assertThrows[IllegalArgumentException](parse("""(a: )"""))
    assertThrows[IllegalArgumentException](parse("""(a: "unterminated)"""))
    assertThrows[IllegalArgumentException](parse("""{1: "non-string key"}"""))
    // a number token that does not convert fails naming its offset, not
    // as a bare NumberFormatException
    Seq("(a: 1.2.3)", "(a: 1e)", "(a: -)", "(a: 99999999999999999999)").foreach { junk =>
      val e = intercept[IllegalArgumentException](parse(junk))
      assert(e.getMessage.startsWith("RON parse error at offset"), e.getMessage)
    }
  }
}
