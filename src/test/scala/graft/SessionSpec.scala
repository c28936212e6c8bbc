package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Drift guard: session settings live in `Session.local` alone, so no
  * other source file may build a SparkSession by hand.
  */
class SessionSpec extends AnyFunSuite {

  test("only graft/Session.scala builds a SparkSession") {
    val needle = "SparkSession" + ".builder" // split so this file does not match
    val factory = Paths.get("src/main/scala/graft/Session.scala")
    val stream = Files.walk(Paths.get("src"))
    val offenders =
      try stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
        .filterNot(_ == factory)
        .filter(p => Files.readString(p).contains(needle))
        .map(_.toString).toSeq.sorted
      finally stream.close()
    assert(Files.readString(factory).contains(needle))
    assert(offenders.isEmpty, s"hand-built sessions in: ${offenders.mkString(", ")}")
  }
}
