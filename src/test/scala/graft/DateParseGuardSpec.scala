package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Drift guard: the ETL parses date and time cells through
  * `functions.MultiFormatParse` alone (behind `Casts.toDateMulti` /
  * `Casts.toTimestampMulti`), so no ETL source file may build a date
  * parser of its own: no java.time pattern or `parse`, and no Spark
  * string-to-date cast.
  */
class DateParseGuardSpec extends AnyFunSuite {

  test("no ETL source file parses dates or times outside MultiFormatParse") {
    val javaTimeParse =
      "\\b(LocalDate|LocalDateTime|LocalTime|OffsetDateTime|OffsetTime|ZonedDateTime|Instant|Year|YearMonth)\\s*\\.\\s*parse\\(".r
    val needles: Seq[(String, String => Boolean)] = Seq(
      "DateTimeFormatter.ofPattern" -> (_.contains("DateTimeFormatter.ofPattern")),
      "java.time .parse(" -> (src => javaTimeParse.findFirstIn(src).nonEmpty),
      "try_cast(\"date\")" -> (_.contains("try_cast(\"date\")")),
      "to_date(" -> (_.contains("to_date(")))
    val root = Paths.get("src/main/scala/graft")
    def scalaFiles(dir: Path): Seq[Path] = {
      val stream = Files.walk(dir)
      try stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p)).toSeq
      finally stream.close()
    }
    val files = Seq("config", "extract", "clean", "strategy", "collect", "load", "model")
      .flatMap(d => scalaFiles(root.resolve(d))) :+ root.resolve("Pipeline.scala")
    val offenders = files.flatMap { p =>
      val src = Files.readString(p)
      needles.collect { case (name, found) if found(src) => s"$p ($name)" }
    }.sorted
    assert(offenders.isEmpty, s"date or time parsing outside MultiFormatParse in: ${offenders.mkString(", ")}")
    assert(Files.readString(root.resolve("collect/Assembler.scala"))
      .contains("MultiFormatParse.timestampBoxed"))
  }
}
