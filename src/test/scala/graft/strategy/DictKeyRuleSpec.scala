package graft.strategy

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Drift guards over the strategy sources.
  *
  * Strategies that look cells up in a driver-built dictionary apply the
  * JVM rule that built its keys (`BiDict.norm`, `BiDict.resolve`) to
  * each cell in a UDF, so no strategy may re-spell that rule as Column
  * algebra — no `lower_root` and no CURIE regex.
  *
  * A cell's trimmed string form has one owner, `CellRuleStrategy` in
  * Strategy.scala; no other strategy file trims cells as Column algebra.
  */
class DictKeyRuleSpec extends AnyFunSuite {

  /** `file (needle)` for each strategy source other than `except` that
    * contains one of the needles.
    */
  private def offenders(needles: Seq[String], except: Set[String] = Set.empty): Seq[String] = {
    val stream = Files.list(Paths.get("src/main/scala/graft/strategy"))
    try stream.iterator().asScala
      .filter((p: Path) => p.toString.endsWith(".scala") && Files.isRegularFile(p) &&
        !except.contains(p.getFileName.toString))
      .flatMap { p =>
        val src = Files.readString(p)
        needles.filter(src.contains).map(n => s"${p.getFileName} ($n)")
      }
      .toSeq.sorted
    finally stream.close()
  }

  test("no strategy re-spells BiDict's key rule as Column algebra") {
    val needles = Seq("lower_root", "[A-Za-z][A-Za-z0-9_.]*:")
    assert(Files.readString(Paths.get("src/main/scala/graft/ontology/BiDict.scala"))
      .contains(needles(1)))
    val found = offenders(needles)
    assert(found.isEmpty, s"BiDict key rule re-spelled in: ${found.mkString(", ")}")
  }

  test("only Strategy.scala builds a cell's trimmed string form") {
    val found = offenders(Seq("Casts.javaTrim", "trimEmptyToNull"), except = Set("Strategy.scala"))
    assert(found.isEmpty, s"cell trim outside CellRuleStrategy in: ${found.mkString(", ")}")
    assert(Files.readString(Paths.get("src/main/scala/graft/strategy/Strategy.scala"))
      .contains("Casts.trimEmptyToNull"))
  }
}
