package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Drift guard: `src/main/scala/graft` keeps only what a catalog query,
  * an ETL stage or a main reaches. Every non-private top-level
  * `case class` or `object`, and every non-private `def`, `val` or
  * `case class` declared at member level of a top-level object, must
  * be named (word-bounded, comments stripped) somewhere in `src/main` or
  * `perfbench/src` besides a declaration. The only exceptions are the
  * reference twins in `ops/` and `functions/` that tests compare a
  * reached path against, each listed with the test that uses it, and
  * the mains that `runMain` starts.
  */
class OpsReachabilitySpec extends AnyFunSuite {

  private val opsTwins = Map(
    "Dedup.minhashSignatures" ->
      "OpsSpec: minhash_sig equals the shingleRows + min-aggregate signatures per family",
    "Dedup.ngramJaccardPairs" ->
      "OpsSpec: prefix-filtered jaccard join equals the quadratic join exactly",
    "SpanDedup.positionedGrams" ->
      "OpsSpec: winnow fingerprints equal the window-algebra spelling over positioned grams",
    "ZOrder.interleave2Scalar" ->
      "ZOrderSpec: column expression matches the scalar reference on a value grid")
  private val functionsTwins = Map(
    "DateTimeFns.calendarDiff" ->
      "PropertySpec: calendar diff round-trips; native calendar_age_iso equals the algebra",
    "DateTimeFns.toIso8601" ->
      "IsoDurationSecondsSpec: toIso8601 renders a negative calendar diff as null")

  /** The entry points `sbt runMain` starts, which nothing in src/main
    * names.
    */
  private val mains = Set("Bench", "Verify", "FallbackSweep", "ScaleUp")

  /** `src` with comments removed, and with string literal contents
    * removed too when `keepStrings` is false (so braces inside strings
    * cannot disturb depth tracking). Newlines survive, so line
    * structure is kept.
    */
  private def strip(src: String, keepStrings: Boolean): String = {
    val out = new StringBuilder
    val charLit = "'(\\\\.|[^'\\\\])'".r
    var i = 0
    val n = src.length
    while (i < n) {
      if (src.startsWith("//", i)) {
        while (i < n && src.charAt(i) != '\n') i += 1
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (src.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
          else { if (src.charAt(i) == '\n') out += '\n'; i += 1 }
        }
      } else if (src.startsWith("\"\"\"", i)) {
        var j = src.indexOf("\"\"\"", i + 3)
        j = if (j < 0) n else j + 3
        while (j < n && src.charAt(j) == '"') j += 1
        val lit = src.substring(i, j)
        out ++= (if (keepStrings) lit else "\"\"" + "\n" * lit.count(_ == '\n'))
        i = j
      } else if (src.charAt(i) == '"') {
        var j = i + 1
        while (j < n && src.charAt(j) != '"') j += (if (src.charAt(j) == '\\') 2 else 1)
        j = math.min(j + 1, n)
        out ++= (if (keepStrings) src.substring(i, j) else "\"\"")
        i = j
      } else charLit.findPrefixMatchOf(src.substring(i, math.min(i + 4, n))) match {
        case Some(m) => out ++= (if (keepStrings) m.matched else "' '"); i += m.end
        case None => out += src.charAt(i); i += 1
      }
    }
    out.toString
  }

  private def scalaFiles(dir: Path): Seq[Path] = {
    val stream = Files.walk(dir)
    try stream.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p)).toSeq.sorted
    finally stream.close()
  }

  private val declRe = ("""^\s*(?:@\w+\s+)*((?:(?:final|override|implicit|lazy|private|protected)""" +
    """(?:\[\w+\])?\s+)*)(?:def|val|case\s+class)\s+([A-Za-z_]\w*)""").r
  private val topRe = """^(?:(?:final|sealed|abstract)\s+)*(?:case\s+class|object)\s+([A-Za-z_]\w*)""".r
  private val tokenRe = """\b(object|class|trait)\b|[{}]""".r

  /** The name of every non-private top-level case class or object of
    * `file`, and (object.name) of every non-private member declared
    * directly in one of its top-level objects.
    */
  private def members(file: Path): Seq[String] = {
    var kinds = List.empty[String] // innermost first
    var pending: Option[String] = None
    val objectName = """\bobject\s+(\w+)""".r
    var current = ""
    strip(Files.readString(file), keepStrings = false).split("\n").toSeq.flatMap { line =>
      val found =
        if (kinds.isEmpty) topRe.findFirstMatchIn(line).map(_.group(1))
        else if (kinds.size == 1 && kinds.head == "object")
          declRe.findFirstMatchIn(line)
            .filterNot(m => Option(m.group(1))
              .exists(mods => mods.contains("private") || mods.contains("protected")))
            .map(m => s"$current.${m.group(2)}")
        else None
      tokenRe.findAllMatchIn(line).foreach { m =>
        m.matched match {
          case "{" =>
            kinds = pending.getOrElse("block") :: kinds
            pending = None
          case "}" => kinds = kinds.drop(1)
          case kind =>
            if (pending.isEmpty) pending = Some(kind)
            if (kinds.isEmpty && kind == "object")
              objectName.findFirstMatchIn(line.substring(m.start)).foreach(o => current = o.group(1))
        }
      }
      found
    }
  }

  private lazy val corpus = (scalaFiles(Paths.get("src/main")) ++ scalaFiles(Paths.get("perfbench/src")))
    .map(p => strip(Files.readString(p), keepStrings = true)).mkString("\n")

  /** Fails unless every definition scanned in `files` is reached, or
    * is one of the `listed` exceptions for them.
    */
  private def assertReached(label: String, files: Seq[Path], minDeclared: Int,
      listed: Set[String]): Unit = {
    val declared = files.flatMap(members)
    assert(declared.size > minDeclared, s"$label scan found only ${declared.size} declarations")
    val declKeyword = """(?:def|val|var|class|object|trait|type)\s+$""".r
    def used(name: String): Boolean =
      s"\\b${java.util.regex.Pattern.quote(name)}\\b".r.findAllMatchIn(corpus).exists { m =>
        declKeyword.findFirstIn(corpus.substring(math.max(0, m.start - 16), m.start)).isEmpty
      }
    val unreached = declared.filterNot(d => used(d.split('.').last)).toSet
    val stale = listed -- unreached
    assert(stale.isEmpty, s"listed exceptions that are reached or gone: ${stale.mkString(", ")}")
    val orphans = (unreached -- listed).toSeq.sorted
    assert(orphans.isEmpty, s"$label definitions no query, ETL stage or main reaches: ${orphans.mkString(", ")}")
  }

  private def dir(name: String): Seq[Path] = scalaFiles(Paths.get(s"src/main/scala/graft/$name"))

  test("every public ops member is reached from src/main or perfbench, or is a listed reference twin") {
    assertReached("ops", dir("ops"), 100, opsTwins.keySet)
  }

  test("every public functions definition is reached from src/main or perfbench, " +
      "or is a listed reference twin") {
    assertReached("functions", dir("functions"), 30, functionsTwins.keySet)
  }

  test("every public definition of the other packages is reached from src/main or perfbench, " +
      "or is a main run by runMain") {
    val scanned = dir("ops") ++ dir("functions")
    assertReached("graft", dir("").filterNot(scanned.contains), 200, mains)
  }
}
