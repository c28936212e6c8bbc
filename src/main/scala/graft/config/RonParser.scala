package graft.config

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.JsonNodeFactory

/** Minimal RON (Rusty Object Notation) → Jackson tree parser.
  *
  * The reference accepts `.ron` configs as a first-class format
  * (reference `phenoxtract/src/config/config_loader.rs:8-44` via the
  * `config` crate's RON backend); no RON library exists on this
  * classpath, so this is a small from-scratch recursive-descent reader
  * covering the config surface:
  *
  *   - anonymous and named structs `Name(field: value, …)` → objects
  *     (the struct name is ignored, matching serde's deserialization);
  *   - maps `{"key": value, …}` → objects;
  *   - lists `[v, …]` and tuples `(v, …)` → arrays;
  *   - strings with `\n \t \r \\ \" \u{…}` escapes; bare enum
  *     variants (`csv`) → strings;
  *   - integers, floats (incl. exponents), booleans;
  *   - `Some(v)` unwraps to `v`, `None` → null, unit `()` → null;
  *   - `//` line and nestable `/* */` block comments, trailing commas.
  *
  * Anything outside that subset (raw strings, chars, `0x` literals,
  * `#![enable]` extensions) is rejected loudly rather than mis-parsed.
  */
object RonParser {

  private val F = JsonNodeFactory.instance

  def parse(text: String): JsonNode = {
    val p = new P(text)
    p.ws()
    val v = p.value()
    p.ws()
    if (!p.eof) p.fail("trailing input after top-level value")
    v
  }

  private final class P(s: String) {
    var i = 0
    def eof: Boolean = i >= s.length
    def peek: Char = if (eof) '\u0000' else s.charAt(i)

    def fail(msg: String): Nothing = {
      val ctx = s.substring(math.max(0, i - 20), math.min(s.length, i + 20))
      throw new IllegalArgumentException(s"RON parse error at offset $i: $msg (near: …$ctx…)")
    }

    /** Skip whitespace and comments. */
    def ws(): Unit = {
      var moved = true
      while (moved) {
        moved = false
        while (!eof && peek.isWhitespace) { i += 1; moved = true }
        if (!eof && peek == '/' && i + 1 < s.length) s.charAt(i + 1) match {
          case '/' =>
            while (!eof && peek != '\n') i += 1
            moved = true
          case '*' =>
            i += 2
            var depth = 1
            while (depth > 0) {
              if (i + 1 >= s.length) fail("unterminated block comment")
              if (s.charAt(i) == '/' && s.charAt(i + 1) == '*') { depth += 1; i += 2 }
              else if (s.charAt(i) == '*' && s.charAt(i + 1) == '/') { depth -= 1; i += 2 }
              else i += 1
            }
            moved = true
          case _ => ()
        }
      }
    }

    private def expect(c: Char): Unit =
      if (eof || peek != c) fail(s"expected '$c'") else i += 1

    def value(): JsonNode = {
      ws()
      peek match {
        case '"' => F.textNode(string())
        case '[' => list()
        case '{' => map()
        case '(' => structOrTuple()
        case c if c == '-' || c == '+' || c.isDigit => number()
        case c if c.isLetter || c == '_' => identValue()
        case _ => fail("expected a value")
      }
    }

    private def string(): String = {
      expect('"')
      val sb = new StringBuilder
      while (!eof && peek != '"') {
        if (peek == '\\') {
          i += 1
          if (eof) fail("unterminated escape")
          s.charAt(i) match {
            case 'n' => sb += '\n'; i += 1
            case 't' => sb += '\t'; i += 1
            case 'r' => sb += '\r'; i += 1
            case '0' => sb += '\u0000'; i += 1
            case '\\' => sb += '\\'; i += 1
            case '"' => sb += '"'; i += 1
            case '\'' => sb += '\''; i += 1
            case 'u' =>
              i += 1; expect('{')
              val start = i
              while (!eof && peek != '}') i += 1
              if (eof) fail("unterminated \\u{…} escape")
              val hex = s.substring(start, i)
              sb.appendAll(Character.toChars(Integer.parseInt(hex, 16)))
              expect('}')
            case other => fail(s"unsupported escape \\$other")
          }
        } else { sb += peek; i += 1 }
      }
      expect('"')
      sb.toString
    }

    private def ident(): String = {
      val start = i
      while (!eof && (peek.isLetterOrDigit || peek == '_')) i += 1
      if (i == start) fail("expected identifier")
      s.substring(start, i)
    }

    private def number(): JsonNode = {
      val start = i
      if (peek == '-' || peek == '+') i += 1
      var isFloat = false
      while (!eof && (peek.isDigit || peek == '.' || peek == 'e' || peek == 'E' ||
             ((peek == '-' || peek == '+') && (s.charAt(i - 1) == 'e' || s.charAt(i - 1) == 'E')))) {
        if (peek == '.' || peek == 'e' || peek == 'E') isFloat = true
        i += 1
      }
      val tok = s.substring(start, i)
      if (isFloat) F.numberNode(tok.toDoubleOption.getOrElse(fail(s"malformed number '$tok'")))
      else F.numberNode(tok.toLongOption.getOrElse(fail(s"malformed or non-64-bit integer '$tok'")))
    }

    private def list(): JsonNode = {
      expect('[')
      val arr = F.arrayNode()
      ws()
      while (peek != ']') {
        arr.add(value())
        ws()
        if (peek == ',') { i += 1; ws() }
        else if (peek != ']') fail("expected ',' or ']' in list")
      }
      expect(']')
      arr
    }

    private def map(): JsonNode = {
      expect('{')
      val obj = F.objectNode()
      ws()
      while (peek != '}') {
        val key = peek match {
          case '"' => string()
          case c if c.isLetter || c == '_' => ident()
          case _ => fail("map keys must be strings or identifiers")
        }
        ws(); expect(':')
        // serde rejects duplicate map keys — last-wins would silently
        // discard the value the author meant
        if (obj.has(key)) fail(s"duplicate map key '$key'")
        obj.set[JsonNode](key, value())
        ws()
        if (peek == ',') { i += 1; ws() }
        else if (peek != '}') fail("expected ',' or '}' in map")
      }
      expect('}')
      obj
    }

    /** After an optional struct name: `(field: v, …)` → object,
      * `(v, …)` → array, `()` → null.
      */
    private def structOrTuple(): JsonNode = {
      expect('(')
      ws()
      if (peek == ')') { i += 1; return F.nullNode() }
      // Struct iff the next tokens are `ident :` — lookahead without
      // consuming (a bare ident could also be an enum-variant element
      // of a tuple).
      val mark = i
      val isStruct =
        if (peek.isLetter || peek == '_') {
          val _ = ident(); ws()
          val r = peek == ':'
          i = mark
          r
        } else false
      if (isStruct) {
        val obj = F.objectNode()
        ws()
        while (peek != ')') {
          val key = ident()
          ws(); expect(':')
          // serde rejects duplicate struct fields — same stance as maps
          if (obj.has(key)) fail(s"duplicate struct field '$key'")
          obj.set[JsonNode](key, value())
          ws()
          if (peek == ',') { i += 1; ws() }
          else if (peek != ')') fail("expected ',' or ')' in struct")
        }
        expect(')')
        obj
      } else {
        val arr = F.arrayNode()
        while (peek != ')') {
          arr.add(value())
          ws()
          if (peek == ',') { i += 1; ws() }
          else if (peek != ')') fail("expected ',' or ')' in tuple")
        }
        expect(')')
        if (arr.size == 1) arr.get(0) else arr // 1-tuples are parenthesized values
      }
    }

    /** Bare identifier value: bool / None / Some(…) / named struct /
      * enum variant.
      */
    private def identValue(): JsonNode = {
      val name = ident()
      ws()
      name match {
        case "true" => F.booleanNode(true)
        case "false" => F.booleanNode(false)
        case "None" => F.nullNode()
        case "Some" =>
          expect('(')
          val inner = value()
          ws(); expect(')')
          inner
        case _ =>
          // Named struct/tuple `Name(…)`; bare variant otherwise.
          if (peek == '(') structOrTuple()
          else F.textNode(name)
      }
    }
  }
}
