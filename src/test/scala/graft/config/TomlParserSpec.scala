package graft.config

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Edge cases of the vendored TOML reader (beyond the ConfigSpec
  * YAML↔TOML round-trip): quoting, comments, multi-line arrays, dotted
  * and quoted keys, arrays of tables, loud rejection of unsupported
  * syntax, and a round trip of generated config-shaped trees.
  */
class TomlParserSpec extends AnyFunSuite {

  private def parse(s: String) = TomlParser.parse(s)

  test("scalars: strings (basic + literal + escapes), ints, floats, bools") {
    val n = parse(
      """a = "x \"quoted\" y"
        |b = 'literal \n kept'
        |c = 42
        |d = -3.5
        |e = true
        |f = 1_000_000
        |""".stripMargin)
    assert(n.get("a").asText == "x \"quoted\" y")
    assert(n.get("b").asText == "literal \\n kept") // literal strings keep backslashes
    assert(n.get("c").asLong == 42L)
    assert(n.get("d").asDouble == -3.5)
    assert(n.get("e").asBoolean)
    assert(n.get("f").asLong == 1000000L)
  }

  test("comments stripped outside strings, kept inside") {
    val n = parse(
      """a = "has # inside" # trailing comment
        |# full-line comment
        |b = 1
        |""".stripMargin)
    assert(n.get("a").asText == "has # inside")
    assert(n.get("b").asInt == 1)
  }

  test("tables, dotted keys, quoted key segments") {
    val n = parse(
      """[outer.inner]
        |x = 1
        |"dotted.key" = 2
        |[other]
        |y.z = 3
        |""".stripMargin)
    assert(n.at("/outer/inner/x").asInt == 1)
    assert(n.at("/outer/inner/dotted.key").asInt == 2)
    assert(n.at("/other/y/z").asInt == 3)
  }

  test("arrays: inline, nested, multi-line") {
    val n = parse(
      """a = [1, 2, 3]
        |b = [[1, 2], ["x", "y"]]
        |c = [
        |  "one",
        |  "two",
        |]
        |""".stripMargin)
    assert(n.get("a").size == 3 && n.get("a").get(2).asInt == 3)
    assert(n.get("b").get(1).get(0).asText == "x")
    assert(n.get("c").size == 2 && n.get("c").get(1).asText == "two")
  }

  test("arrays of tables with nested array-of-table children") {
    val n = parse(
      """[[src]]
        |name = "a"
        |[[src.cols]]
        |id = 1
        |[[src.cols]]
        |id = 2
        |[[src]]
        |name = "b"
        |[[src.cols]]
        |id = 9
        |""".stripMargin)
    assert(n.get("src").size == 2)
    assert(n.at("/src/0/cols/1/id").asInt == 2)
    assert(n.at("/src/1/cols/0/id").asInt == 9) // children attach to the LAST table
  }

  test("inline tables, including nested keys") {
    val n = parse("""m = { a = 1, b = "x", c.d = true }""")
    assert(n.at("/m/a").asInt == 1)
    assert(n.at("/m/b").asText == "x")
    assert(n.at("/m/c/d").asBoolean)
  }

  test("duplicate keys and redefined tables fail loudly (TOML semantics, not last-wins)") {
    // a copy-pasted duplicate assignment must not silently drop the
    // value the author meant
    intercept[IllegalArgumentException](parse("a = 1\na = 2"))
    intercept[IllegalArgumentException](parse("[t]\nx = 1\nx = 2"))
    intercept[IllegalArgumentException](parse("[t]\na = 1\n[t]\nb = 2"))
    intercept[IllegalArgumentException](parse("""m = { a = 1, a = 2 }"""))
    // but each [[x]] element may define its own [x.sub] table
    val n = parse(
      """[[f]]
        |[f.p]
        |c = "red"
        |[[f]]
        |[f.p]
        |c = "blue"
        |""".stripMargin)
    assert(n.at("/f/0/p/c").asText == "red" && n.at("/f/1/p/c").asText == "blue")
    // and a super-table implicitly created by [a.b] may be defined later
    val m = parse("[a.b]\nx = 1\n[a]\ny = 2")
    assert(m.at("/a/b/x").asInt == 1 && m.at("/a/y").asInt == 2)
  }

  test("basic strings: literal tab, \\u and \\U escapes, escaped-quote keys") {
    // a literal tab is VALID inside a TOML basic string (a JSON parser
    // rejects it); \UXXXXXXXX is core TOML
    val n = parse("a = \"col\tA\"\nb = \"\\u0041\\U0001F600\"")
    assert(n.get("a").asText == "col\tA")
    assert(n.get("b").asText == "A" + new String(Character.toChars(0x1F600)))
    // an escaped quote inside a quoted key is part of the KEY
    val k = parse("\"a\\\"b\" = 1")
    assert(k.get("a\"b").asInt == 1)
    // unbalanced quote in a key fails instead of being ignored
    intercept[IllegalArgumentException](parse("\"a = 1"))
    // unknown escapes fail, not pass through
    intercept[IllegalArgumentException](parse("""a = "\q""""))
  }

  test("unsupported syntax fails loudly, never mis-parses") {
    intercept[IllegalArgumentException](parse("a = 1979-05-27")) // dates unsupported
    intercept[IllegalArgumentException](parse("just a line"))
    intercept[IllegalArgumentException](parse("a = [1, 2")) // unterminated
    // trailing tokens after a closed string are rejected, not dropped
    intercept[IllegalArgumentException](parse("""a = "x" "y""""))
    intercept[IllegalArgumentException](parse("""a = 'x' trailing"""))
  }

  test("malformed headers, bare keys, elements and numbers fail naming their line") {
    Seq("""[pipeline] strategies = ["alias_map"]""", "[t]]", "a b = 1",
      "x = [1,,2]", "x = {a = 1,, b = 2}",
      "x = 1f", "x = 1d", "x = .5", "x = 5.", "x = 07", "x = _1_", "x = 1__0",
      "x = Infinity", "x = NaN", "x = 99999999999999999999").foreach { bad =>
      val e = intercept[IllegalArgumentException](parse(bad))
      assert(e.getMessage.startsWith("TOML parse error at line 1:"), s"$bad: ${e.getMessage}")
    }
    // lines are counted through comments and multi-line arrays
    val e = intercept[IllegalArgumentException](parse("a = [\n  1, # one\n  2,\n]\nb = 1f\n"))
    assert(e.getMessage.startsWith("TOML parse error at line 5:"), e.getMessage)
    // a [table] may not reopen an array of tables, and no header or
    // dotted key may add to an inline table or array written as a value
    Seq("[[a]]\nx = 1\n[a]\ny = 2" -> 3, "m = {a = 1}\n[m.sub]\nb = 2" -> 2,
      "m = {a = 1}\n[m]\nb = 2" -> 2, "m = {a = 1}\nm.b = 2" -> 2, "a = [{x = 1}]\n[[a]]" -> 2)
      .foreach { case (bad, line) =>
        val e = intercept[IllegalArgumentException](parse(bad))
        assert(e.getMessage.startsWith(s"TOML parse error at line $line:"), s"$bad: ${e.getMessage}")
      }
  }

  // --- round trip of generated config-shaped trees -------------------
  // (raw ScalaCheck generators with fixed seeds, as PropertySpec)
  private val F = JsonNodeFactory.instance
  private val key: Gen[String] = Gen.frequency(
    3 -> Gen.oneOf(Gen.identifier.map(_.take(10)), Gen.oneOf("a-b", "x_1", "42", "-", "_")),
    1 -> Gen.choose(1, 6).flatMap(Gen.listOfN(_, Gen.oneOf(".", "\"", "#", "=", " ", "a", "\\", "'")))
      .map(_.mkString))
  private val text: Gen[String] = Gen.choose(0, 8).flatMap(Gen.listOfN(_, Gen.oneOf(
    "a", "Z", " ", "\t", "#", "\"", "'", "\\", "\n", "\u0001", "=", ",", "[", "]", "{", "}", "é",
    new String(Character.toChars(0x1F600)))).map(_.mkString))
  private val scalar: Gen[JsonNode] = Gen.oneOf(
    text.map(F.textNode),
    Gen.long.map(l => F.numberNode(l)),
    Gen.long.map { bits =>
      val d = java.lang.Double.longBitsToDouble(bits)
      F.numberNode(if (d.isNaN || d.isInfinite) bits / 7.0 else d)
    },
    Gen.oneOf(true, false).map(b => F.booleanNode(b)))
  private def obj(depth: Int): Gen[ObjectNode] =
    Gen.choose(0, 4).flatMap(Gen.listOfN(_, Gen.zip(key, value(depth - 1)))).map { kvs =>
      val o = F.objectNode()
      kvs.distinctBy(_._1).foreach { case (k, v) => o.set[JsonNode](k, v) }
      o
    }
  private def value(depth: Int): Gen[JsonNode] =
    if (depth <= 0) scalar
    else Gen.frequency(3 -> scalar, 1 -> obj(depth),
      1 -> Gen.choose(0, 3).flatMap(n => Gen.oneOf(Gen.listOfN(n, value(depth - 1)),
        Gen.listOfN(n, obj(depth - 1)))).map { vs =>
        val a = F.arrayNode(); vs.foreach(a.add); a
      })

  /** `v` as a TOML value; `tables` picks the header form's spellings
    * (literal strings where possible, \U escapes, multi-line arrays).
    */
  private def render(v: JsonNode, tables: Boolean): String = v match {
    case o: ObjectNode =>
      o.properties.asScala.map(e => s"${renderKey(e.getKey)} = ${render(e.getValue, tables)}")
        .mkString("{", ", ", "}")
    case _ if v.isArray =>
      val vs = v.elements.asScala.map(render(_, tables)).toSeq
      if (tables) vs.map(x => s"\n  $x, # item").mkString("[", "", "\n]")
      else vs.mkString("[", ", ", "]")
    case _ if v.isTextual => quote(v.textValue, tables)
    case _ => v.toString // longs, doubles (Java's 1.0E10 is TOML) and booleans
  }
  private def renderKey(k: String): String =
    if (k.matches("[A-Za-z0-9_-]+")) k else quote(k, literal = false)
  private def quote(s: String, literal: Boolean): String =
    if (literal && s.forall(c => c == '\t' || c >= ' ' && c != '\'' && c != 0x7f)) s"'$s'"
    else s.codePoints.toArray.map {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\t' => "\t"
      case c if c < ' ' => f"\\u$c%04X"
      case c if c > 0xFFFF && literal => f"\\U$c%08X"
      case c => new String(Character.toChars(c))
    }.mkString("\"", "", "\"")

  /** Header form: a table's plain keys, then `[path]` per object and
    * `[[path]]` per element of a non-empty array of objects.
    */
  private def tablesForm(root: ObjectNode): String = {
    val sb = new StringBuilder
    def isTableArray(v: JsonNode) = v.isArray && !v.isEmpty && v.elements.asScala.forall(_.isObject)
    def table(o: ObjectNode, path: Seq[String]): Unit = {
      val entries = o.properties.asScala.map(e => e.getKey -> e.getValue).toSeq
      def header(k: String) = (path :+ k).map(renderKey).mkString(" . ")
      entries.foreach { case (k, v) =>
        if (!v.isObject && !isTableArray(v))
          sb ++= s"${renderKey(k)} = ${render(v, tables = true)} # c\n"
      }
      entries.foreach {
        case (k, v: ObjectNode) => sb ++= s"\n[ ${header(k)} ] # table\n"; table(v, path :+ k)
        case (k, v) if isTableArray(v) => v.elements.asScala.foreach { e =>
          sb ++= s"[[${header(k)}]]\n"; table(e.asInstanceOf[ObjectNode], path :+ k)
        }
        case _ => ()
      }
    }
    table(root, Seq.empty)
    sb.result()
  }

  test("property: config-shaped trees round-trip through both TOML forms") {
    val trees = (0 until 400).flatMap(i => obj(4).apply(Gen.Parameters.default, Seed(i.toLong)))
    assert(trees.size >= 300)
    trees.foreach { tree =>
      val inline = tree.properties.asScala
        .map(e => s"${renderKey(e.getKey)} = ${render(e.getValue, tables = false)}").mkString("\r\n")
      Seq(tablesForm(tree), inline).foreach(toml => assert(parse(toml) == tree, toml))
    }
  }
}
