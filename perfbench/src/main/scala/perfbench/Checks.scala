package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.config.ConfigRunner
import graft.model.Cdf
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Correctness gates of the ETL workload. */
object Checks {
  private val mapper = new ObjectMapper()

  private def kids(n: JsonNode, f: String): Seq[JsonNode] =
    Option(n.get(f)).toSeq.flatMap(_.elements().asScala)
  private def txt(n: JsonNode, path: String*): String =
    path.foldLeft(Option(n))((acc, f) => acc.flatMap(x => Option(x.get(f))))
      .map(_.asText()).getOrElse("-")
  private def time(n: JsonNode): String =
    if (n == null) "-"
    else Option(n.get("age")).map(a => "age:" + a.get("iso8601duration").asText())
      .getOrElse("ts:" + txt(n, "timestamp"))

  /** The canonical fact lines of a rendered packet — the same lines the
    * generator derives from its own choices (`Cohort.Line`).
    */
  def lines(p: JsonNode): Seq[String] = {
    val subj = p.get("subject")
    val indiv = Seq(s"sex|${txt(subj, "sex")}") ++
      Option(subj.get("dateOfBirth")).map(d => s"dob|${d.asText()}") ++
      Option(subj.get("vitalStatus")).map(v => s"vital|${txt(v, "status")}")
    val pf = kids(p, "phenotypicFeatures").map { f =>
      s"pf|${txt(f, "type", "id")}|${txt(f, "type", "label")}|" +
        s"${if (Option(f.get("excluded")).exists(_.asBoolean())) "excluded" else "-"}|${time(f.get("onset"))}"
    }
    val dz = kids(p, "diseases").map(d =>
      s"dz|${txt(d, "term", "id")}|${txt(d, "term", "label")}|${time(d.get("onset"))}")
    val gi = kids(p, "interpretations").flatMap { i =>
      val d = txt(i, "diagnosis", "disease", "id")
      kids(i.get("diagnosis"), "genomicInterpretations").map { g =>
        Option(g.get("gene")) match {
          case Some(gd) => s"gi|$d|gene|${txt(gd, "valueId")}|${txt(gd, "symbol")}"
          case None =>
            val vd = g.get("variantInterpretation").get("variationDescriptor")
            s"gi|$d|variant|${txt(vd, "geneContext", "valueId")}|${txt(vd, "geneContext", "symbol")}|" +
              s"${txt(vd, "allelicState", "label")}|${kids(vd, "expressions").headOption.map(_.get("value").asText()).getOrElse("-")}"
        }
      }
    }
    val ms = kids(p, "measurements").map { m =>
      val a = s"${txt(m, "assay", "id")}|${txt(m, "assay", "label")}"
      val v = m.get("value")
      Option(v.get("quantity")) match {
        case Some(q) =>
          val rr = q.get("referenceRange")
          s"mq|$a|${q.get("value").asDouble()}|${txt(q, "unit", "id")}|${txt(q, "unit", "label")}|" +
            s"${Option(rr).map(_.get("low").asDouble().toString).getOrElse("-")}|" +
            s"${Option(rr).map(_.get("high").asDouble().toString).getOrElse("-")}|${time(m.get("timeObserved"))}"
        case None =>
          s"ml|$a|${txt(v, "ontologyClass", "id")}|${txt(v, "ontologyClass", "label")}|${time(m.get("timeObserved"))}"
      }
    }
    indiv ++ pf ++ dz ++ gi ++ ms
  }

  /** Outcome of checking one output directory against the digest. */
  final case class PacketCheck(packets: Int, bytes: Long, problems: Seq[String],
      normalized: Map[String, String]) {
    def ok: Boolean = problems.isEmpty
  }

  /** Every packet's fact lines must hash to the digest entry of its
    * subject, and there must be exactly one packet per patient.
    * `normalized` maps packet id → hash of the whole packet without
    * `metaData.created`, for comparing two runs of the same input.
    */
  def packets(dir: Path, digest: Map[String, String]): PacketCheck = {
    val files = Files.list(dir).iterator().asScala.filter(_.toString.endsWith(".json")).toSeq
    val problems = Seq.newBuilder[String]
    var bytes = 0L
    val seen = scala.collection.mutable.HashSet.empty[String]
    val normalized = files.map { f =>
      val raw = Files.readAllBytes(f)
      bytes += raw.length
      val p = mapper.readTree(raw)
      val subject = p.get("subject").get("id").asText()
      seen += subject
      val ls = lines(p)
      digest.get(subject) match {
        case None => problems += s"unexpected packet for '$subject'"
        case Some(h) if h != Cohort.sha(ls) =>
          problems += s"packet of '$subject' differs from the digest; its lines: ${ls.sorted.mkString(" ; ")}"
        case _ => ()
      }
      p.get("metaData").asInstanceOf[ObjectNode].remove("created")
      p.get("id").asText() -> Cohort.sha(Seq(mapper.writeValueAsString(p)))
    }.toMap
    val missing = digest.keySet.diff(seen)
    if (missing.nonEmpty) problems += s"${missing.size} patients have no packet, e.g. ${missing.take(3).mkString(", ")}"
    PacketCheck(files.size, bytes, problems.result().take(5), normalized)
  }

  // ------------------------------------------------------------ reference goldens

  /** The reference's 8 expected packets through `ConfigRunner.run`,
    * compared under `ReferenceGoldenE2eSpec`'s normalizations. Returns
    * the differences (empty = pass).
    */
  def goldens(spark: SparkSession, repo: Path, work: Path): Seq[String] = {
    val fixture = repo.resolve("src/test/resources/refgolden").toAbsolutePath
    val out = work.resolve("refgolden_out")
    Files.createDirectories(work)
    Main.deleteTree(out)
    val cfg = work.resolve("refgolden.yaml")
    Files.writeString(cfg, Files.readString(fixture.resolve("config.yaml"))
      .replace("${REFGOLDEN_DIR}", fixture.toString).replace("${REFGOLDEN_OUT}", out.toString))
    ConfigRunner.run(spark, cfg.toString)
    def load(d: Path) = Files.list(d).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".json")).map(p => mapper.readTree(Files.readString(p)))
      .map(n => n.get("id").asText() -> normalize(n)).toMap
    val produced = load(out)
    val expected = load(fixture.resolve("expected"))
    if (produced.keySet != expected.keySet)
      Seq(s"golden packet ids differ: ${produced.keySet.toSeq.sorted} vs ${expected.keySet.toSeq.sorted}")
    else expected.keys.toSeq.sorted.flatMap { id =>
      val diffs = scala.collection.mutable.ArrayBuffer.empty[String]
      diff(s"$id:$$", expected(id), produced(id), diffs)
      diffs.take(3)
    }
  }

  private def normalize(root: JsonNode): JsonNode = {
    val n = root.deepCopy[JsonNode]()
    Option(n.get("metaData")).collect { case o: ObjectNode => o.remove("created") }
    for {
      interp <- kids(n, "interpretations")
      diag <- Option(interp.get("diagnosis"))
      gi <- kids(diag, "genomicInterpretations")
      vi <- Option(gi.get("variantInterpretation"))
      vd <- Option(vi.get("variationDescriptor"))
    } vd.asInstanceOf[ObjectNode].put("id", "TEST_ID")
    for {
      md <- Option(n.get("metaData")).toSeq
      rs <- kids(md, "resources")
      if rs.get("id").asText() == "loinc"
    } rs.asInstanceOf[ObjectNode].put("version", "-")
    for {
      subj <- Option(n.get("subject"))
      vs <- Option(subj.get("vitalStatus"))
      if !vs.has("survivalTimeInDays")
    } vs.asInstanceOf[ObjectNode].put("survivalTimeInDays", 0)
    n
  }

  private def diff(path: String, exp: JsonNode, act: JsonNode,
      out: scala.collection.mutable.ArrayBuffer[String]): Unit =
    if (exp.isNumber && act.isNumber) {
      if (exp.doubleValue() != act.doubleValue()) out += s"$path: expected $exp, got $act"
    } else if (exp.isObject && act.isObject) {
      val ek = exp.fieldNames().asScala.toSet
      val ak = act.fieldNames().asScala.toSet
      (ek ++ ak).toSeq.sorted.foreach { k =>
        if (!ak(k)) out += s"$path.$k: missing"
        else if (!ek(k)) out += s"$path.$k: unexpected"
        else diff(s"$path.$k", exp.get(k), act.get(k), out)
      }
    } else if (exp.isArray && act.isArray) {
      if (exp.size() != act.size()) out += s"$path: expected ${exp.size()} elements, got ${act.size()}"
      (0 until math.min(exp.size(), act.size())).foreach(i => diff(s"$path[$i]", exp.get(i), act.get(i), out))
    } else if (exp != act) out += s"$path: expected $exp, got $act"

  // ------------------------------------------------------------ vacuity

  /** One strategy call of a pipeline pass: whether `isValid` held, and
    * the tables before and after it.
    */
  final case class StrategyStep(label: String, valid: Boolean, before: Seq[Cdf], after: Seq[Cdf])

  /** Every configured strategy must pass `isValid` on the generated
    * tables and change the table contexts or at least one of the first
    * rows (every generated row carries a value for each strategy).
    * Returns the strategies that would be timed as no-ops.
    */
  def vacuousStrategies(steps: Seq[StrategyStep]): Seq[String] = steps.flatMap { st =>
    // a table the strategy passed through keeps its frame: no job
    def changed = st.after.zip(st.before).exists { case (a, b) =>
      a.context != b.context || ((a.df ne b.df) && (a.df.schema != b.df.schema ||
        !a.df.limit(50).collect().sameElements(b.df.limit(50).collect())))
    }
    if (!st.valid) Some(s"${st.label}: isValid is false on the generated tables")
    else if (changed) None
    else Some(s"${st.label}: changed no cell")
  }
}
