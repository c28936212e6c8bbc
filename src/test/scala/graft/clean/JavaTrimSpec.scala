package graft.clean

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Drift guard: the Java-trim rule lives in `Casts.javaTrim` alone, so
  * no other main source file may spell it out again, as its trim set or
  * as the regex it replaced.
  */
class JavaTrimSpec extends AnyFunSuite {

  test("only clean/Casts.scala spells out the Java-trim rule") {
    val trimSet = "(0 to 0x20).map(_.toChar)"
    val needles = Seq(trimSet, "[\\\\x00-\\\\x20]+") // as written in Scala source
    val owner = Paths.get("src/main/scala/graft/clean/Casts.scala")
    val stream = Files.walk(Paths.get("src/main"))
    val offenders =
      try stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
        .filterNot(_ == owner)
        .filter(p => needles.exists(Files.readString(p).contains))
        .map(_.toString).toSeq.sorted
      finally stream.close()
    assert(Files.readString(owner).contains(trimSet))
    assert(offenders.isEmpty, s"Java-trim rule copied into: ${offenders.mkString(", ")}")
  }
}
