package graft.clean

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Drift guard: the Java-trim regex lives in `Casts.javaTrim` alone, so
  * no other main source file may spell it out again.
  */
class JavaTrimSpec extends AnyFunSuite {

  test("only clean/Casts.scala spells out the Java-trim regex") {
    val needle = "^[\\\\x00-\\\\x20]+|[\\\\x00-\\\\x20]+$" // as written in Scala source
    val owner = Paths.get("src/main/scala/graft/clean/Casts.scala")
    val stream = Files.walk(Paths.get("src/main"))
    val offenders =
      try stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
        .filterNot(_ == owner)
        .filter(p => Files.readString(p).contains(needle))
        .map(_.toString).toSeq.sorted
      finally stream.close()
    assert(Files.readString(owner).contains(needle))
    assert(offenders.isEmpty, s"Java-trim regex copied into: ${offenders.mkString(", ")}")
  }
}
