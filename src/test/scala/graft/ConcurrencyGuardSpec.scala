package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Drift guard: the ETL runs driver-side work concurrently through
  * `Cdf.parMap` alone, so no other ETL source file may start threads,
  * pools or futures of its own.
  */
class ConcurrencyGuardSpec extends AnyFunSuite {

  test("only model/Cdf.scala runs ETL work concurrently") {
    val needles = Seq("Executors.", "ExecutionContext", "Future", "ForkJoinPool",
      "new Thread", ".par")
    def uses(src: String, needle: String): Boolean =
      if (needle == ".par") "\\.par\\b".r.findFirstIn(src).nonEmpty // not .parse, .partition
      else src.contains(needle)
    val root = Paths.get("src/main/scala/graft")
    val helper = root.resolve("model/Cdf.scala")
    def scalaFiles(dir: Path): Seq[Path] = {
      val stream = Files.walk(dir)
      try stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p)).toSeq
      finally stream.close()
    }
    val files = Seq("config", "extract", "clean", "strategy", "collect", "load", "model")
      .flatMap(d => scalaFiles(root.resolve(d))) :+ root.resolve("Pipeline.scala")
    val offenders = files.filterNot(_ == helper).flatMap { p =>
      val src = Files.readString(p)
      needles.filter(uses(src, _)).map(n => s"$p ($n)")
    }.sorted
    assert(Files.readString(helper).contains("Executors."))
    assert(offenders.isEmpty, s"concurrency outside Cdf.parMap in: ${offenders.mkString(", ")}")
  }
}
