package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.collect.PhenopacketJson
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  // `jstr`: the JSON string literal Bench's result line quotes with,
  // which is PhenopacketJson.quote.
  test("jstr output parses back to the original string through a JSON parser") {
    val s = "say \"hi\" \\ " + (0 until 0x20).map(_.toChar).mkString + " end"
    assert(new ObjectMapper().readValue(PhenopacketJson.quote(s), classOf[String]) == s)
  }
}
