package graft.config

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}

/** Minimal TOML → Jackson tree parser, covering the subset a pipeline
  * config uses (reference `config/config_loader.rs:8-44` accepts TOML as
  * a first-class format via the `config` crate; no TOML library exists
  * on this classpath). One pass over the text with a cursor, as
  * [[RonParser]]. The grammar:
  *
  *   - lines holding `key = value`, a `[a.b]` or `[[a.b]]` header, or
  *     nothing, each with an optional `#` comment; LF or CRLF ends;
  *   - dotted keys of bare (`A-Za-z0-9_-`) or quoted segments;
  *   - one-line basic ("…", escapes `\b \t \n \f \r \" \\ \uXXXX
  *     \UXXXXXXXX`) and literal ('…') strings; decimal integers of
  *     64 bits with `_` between digits; floats with a fraction and/or
  *     an exponent; booleans;
  *   - arrays and inline tables `{k = v, …}`, which may span lines and
  *     hold comments, with one optional trailing comma.
  *
  * Anything else fails naming its line rather than parsing as another
  * tree: dates, multi-line strings, `inf`/`nan`, hex/octal/binary or
  * zero-led integers, other escapes, duplicate keys, redefined tables,
  * a `[table]` header naming an array, a header or dotted key adding
  * to an array or inline table written as a value, empty elements, and
  * anything but a comment after a header or value.
  */
object TomlParser {

  private val F = JsonNodeFactory.instance
  private val IntRe = "[+-]?(?:0|[1-9](?:_?[0-9])*)".r
  private val FloatRe = s"$IntRe(?:\\.[0-9](?:_?[0-9])*)?(?:[eE][+-]?[0-9](?:_?[0-9])*)?".r

  def parse(text: String): ObjectNode = new P(text).document()

  private final class P(s: String) {
    private var i = 0
    private var depth = 0 // open arrays and inline tables
    private val root = F.objectNode()
    // Explicitly-defined [table] headers: TOML errors on redefining
    // one (a copy-pasted duplicate section would otherwise silently
    // merge). Implicit creation via [a.b] does NOT define [a].
    private val defined = scala.collection.mutable.Set.empty[Seq[String]]
    // Arrays and inline tables written as values are complete: TOML
    // lets no later header or dotted key add to them.
    private val closed = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[JsonNode, java.lang.Boolean])

    private def eof: Boolean = i >= s.length
    private def peek: Char = if (eof) '\u0000' else s.charAt(i)
    private def found: String =
      if (eof) "the end of input" else if (peek == '\n' || peek == '\r') "a line end" else s"'$peek'"

    private def fail(msg: String): Nothing = throw new IllegalArgumentException(
      s"TOML parse error at line ${s.take(i).count(_ == '\n') + 1}: $msg")

    def document(): ObjectNode = {
      var current = root // insertion point, set by table headers
      while (!eof) {
        skip()
        if (!eof && peek != '\n' && peek != '\r') {
          current = if (peek == '[') header() else { keyValue(current); current }
          skip()
        }
        if (!eof && !newline()) fail(s"expected a line end, got $found")
      }
      root
    }

    private def newline(): Boolean = {
      val n = if (peek == '\n') 1 else if (s.startsWith("\r\n", i)) 2 else 0
      i += n
      n > 0
    }

    /** Skip spaces and a comment; line ends too inside brackets. */
    private def skip(): Unit = {
      var more = true
      while (more) {
        while (peek == ' ' || peek == '\t') i += 1
        if (peek == '#') while (!eof && peek != '\n') i += 1
        more = depth > 0 && newline()
      }
    }

    private def expect(token: String): Unit =
      if (s.startsWith(token, i)) i += token.length else fail(s"expected '$token', got $found")

    /** `[a.b]` or `[[a.b]]`; returns the table later keys fill. */
    private def header(): ObjectNode = {
      val array = s.startsWith("[[", i)
      i += (if (array) 2 else 1)
      val path = key()
      expect(if (array) "]]" else "]")
      if (array) {
        val parent = descend(root, path.init)
        val arr = parent.get(path.last) match {
          case a: ArrayNode if !closed.contains(a) => a
          case null => parent.putArray(path.last)
          case other => fail(s"[[${path.mkString(".")}]] conflicts with $other")
        }
        // each [[x]] element may re-define its own [x.sub] tables —
        // they belong to the NEW element, not the previous one
        defined.filterInPlace(p => !p.startsWith(path))
        arr.addObject()
      } else {
        if (!defined.add(path))
          fail(s"table [${path.mkString(".")}] is defined twice — TOML " +
            "rejects redefinition; a duplicated section would silently merge")
        if (descend(root, path.init).get(path.last).isInstanceOf[ArrayNode])
          fail(s"table [${path.mkString(".")}] names an array")
        descend(root, path)
      }
    }

    private def key(): Seq[String] = {
      skip()
      val segment =
        if (peek == '"' || peek == '\'') string()
        else {
          val start = i
          while (peek < 128 && (peek.isLetterOrDigit || peek == '_' || peek == '-')) i += 1
          if (i == start) fail(s"expected a key, got $found")
          s.substring(start, i)
        }
      if (segment.isEmpty) fail("empty key")
      skip()
      if (peek == '.') { i += 1; segment +: key() } else Seq(segment)
    }

    private def keyValue(table: ObjectNode): Unit = {
      val path = key()
      expect("=")
      val target = descend(table, path.init)
      // TOML rejects assigning one key twice — the LAST value would
      // otherwise silently win over the one the author meant.
      if (target.has(path.last))
        fail(s"duplicate key '${path.mkString(".")}' — the earlier " +
          "value would be silently overwritten")
      target.set[JsonNode](path.last, value())
    }

    /** Walk/create object nodes along a path; a trailing array-of-tables
      * segment targets its LAST element (TOML semantics).
      */
    private def descend(node: ObjectNode, path: Seq[String]): ObjectNode =
      path.foldLeft(node) { (acc, k) =>
        acc.get(k) match {
          case n if closed.contains(n) => fail(s"key '$k' holds a complete inline $n")
          case o: ObjectNode => o
          case a: ArrayNode if a.size() > 0 && a.get(a.size() - 1).isObject =>
            a.get(a.size() - 1).asInstanceOf[ObjectNode]
          case null => acc.putObject(k)
          case other => fail(s"key '$k' already holds $other")
        }
      }

    private def value(): JsonNode = {
      skip()
      peek match {
        case '"' | '\'' => F.textNode(string())
        case '[' =>
          val arr = F.arrayNode()
          items(']')(arr.add(value()))
          closed.add(arr)
          arr
        case '{' =>
          val obj = F.objectNode()
          items('}')(keyValue(obj))
          closed.add(obj)
          obj
        case _ =>
          val start = i
          while (!eof && " \t\r\n,]}#".indexOf(peek) < 0) i += 1
          val token = s.substring(start, i)
          token match {
            case "" => fail(s"expected a value, got $found")
            case "true" => F.booleanNode(true)
            case "false" => F.booleanNode(false)
            case IntRe() => F.numberNode(token.replace("_", "").toLongOption
              .getOrElse(fail(s"integer $token does not fit 64 bits")))
            case FloatRe() => F.numberNode(token.replace("_", "").toDouble)
            case _ => fail(s"unsupported TOML value: $token")
          }
      }
    }

    /** `open item, …, item close`, a trailing comma allowed. */
    private def items(close: Char)(item: => Unit): Unit = {
      depth += 1
      i += 1
      skip()
      while (peek != close) {
        item
        skip()
        if (peek == ',') { i += 1; skip() }
        else if (peek != close) fail(s"expected ',' or '$close', got $found")
      }
      depth -= 1
      i += 1
    }

    /** A basic string (escapes decoded) or literal string, on one line. */
    private def string(): String = {
      val quote = peek
      val sb = new StringBuilder
      i += 1
      while (peek != quote) {
        if (eof || peek == '\n') fail("unterminated string")
        if (quote == '"' && peek == '\\') sb ++= unescape()
        else { sb += peek; i += 1 }
      }
      i += 1
      sb.result()
    }

    /** The TOML basic-string escape at the cursor: \b \t \n \f \r \" \\
      * \u (4 hex) \U (8 hex); anything else fails loudly.
      */
    private def unescape(): String = {
      val c = if (i + 1 < s.length) s.charAt(i + 1) else '\u0000'
      i += 2
      val simple = "btnfr\"\\".indexOf(c)
      if (simple >= 0) "\b\t\n\f\r\"\\".substring(simple, simple + 1)
      else if (c == 'u' || c == 'U') {
        val n = if (c == 'u') 4 else 8
        val digits = s.slice(i, i + n)
        val cp = if (digits.matches(s"[0-9A-Fa-f]{$n}")) Integer.parseUnsignedInt(digits, 16) else -1
        if (!Character.isValidCodePoint(cp)) fail(s"bad \\$c escape '$digits'")
        i += n
        new String(Character.toChars(cp))
      } else fail(s"unsupported escape \\$c")
    }
  }
}
