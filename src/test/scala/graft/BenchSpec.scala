package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("jstr output parses back to the original string through a JSON parser") {
    val s = "say \"hi\" \\ " + (0 until 0x20).map(_.toChar).mkString + " end"
    assert(new ObjectMapper().readValue(Bench.jstr(s), classOf[String]) == s)
  }
}
