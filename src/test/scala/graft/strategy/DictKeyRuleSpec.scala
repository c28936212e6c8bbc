package graft.strategy

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Drift guard: strategies that look cells up in a driver-built
  * dictionary apply the JVM rule that built its keys (`BiDict.norm`,
  * `BiDict.resolve`) to each cell in a UDF, so no strategy may re-spell
  * that rule as Column algebra — no `lower_root` and no CURIE regex.
  */
class DictKeyRuleSpec extends AnyFunSuite {

  test("no strategy re-spells BiDict's key rule as Column algebra") {
    val needles = Seq("lower_root", "[A-Za-z][A-Za-z0-9_.]*:")
    val dir = Paths.get("src/main/scala/graft/strategy")
    val stream = Files.list(dir)
    val offenders =
      try stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
        .flatMap { p =>
          val src = Files.readString(p)
          needles.filter(src.contains).map(n => s"${p.getFileName} ($n)")
        }
        .toSeq.sorted
      finally stream.close()
    assert(Files.readString(Paths.get("src/main/scala/graft/ontology/BiDict.scala"))
      .contains(needles(1)))
    assert(offenders.isEmpty, s"BiDict key rule re-spelled in: ${offenders.mkString(", ")}")
  }
}
