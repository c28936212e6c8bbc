package graft.collect

import graft.ontology.{OntologyClass, Resource}

/** GA4GH Phenopacket v2 document model — the subset of the schema the
  * reference's builder surface emits (reference
  * `phenoxtract/src/transform/traits.rs:9-129` and the `phenopackets`
  * crate messages). Plain case classes: Spark product encoders handle
  * them inside `Dataset[Phenopacket]`, and the JSON writer below mirrors
  * protobuf-JSON conventions (camelCase names, enum string names,
  * empty/None fields omitted). Terms and resources are the ontology
  * package's [[OntologyClass]] and [[Resource]].
  */
final case class Age(iso8601duration: String)

/** protobuf oneof: exactly one of the fields is set. */
final case class TimeElement(age: Option[Age] = None, timestamp: Option[String] = None)

final case class VitalStatus(
    status: String,
    timeOfDeath: Option[TimeElement] = None,
    causeOfDeath: Option[OntologyClass] = None,
    survivalTimeInDays: Option[Long] = None)

final case class Individual(
    id: String,
    dateOfBirth: Option[String] = None,
    sex: Option[String] = None,
    timeAtLastEncounter: Option[TimeElement] = None,
    vitalStatus: Option[VitalStatus] = None)

final case class PhenotypicFeature(
    `type`: OntologyClass,
    excluded: Option[Boolean] = None,
    onset: Option[TimeElement] = None,
    resolution: Option[TimeElement] = None,
    severity: Option[OntologyClass] = None)

final case class Disease(
    term: OntologyClass,
    onset: Option[TimeElement] = None,
    resolution: Option[TimeElement] = None,
    primarySite: Option[OntologyClass] = None)

final case class ReferenceRange(unit: OntologyClass, low: Double, high: Double)

final case class Quantity(
    unit: OntologyClass,
    value: Double,
    referenceRange: Option[ReferenceRange] = None)

/** protobuf oneof value: quantity | ontology class. */
final case class MeasurementValue(
    quantity: Option[Quantity] = None,
    ontologyClass: Option[OntologyClass] = None)

final case class Measurement(
    assay: OntologyClass,
    value: MeasurementValue,
    timeObserved: Option[TimeElement] = None)

final case class ProcedureAction(
    code: OntologyClass,
    bodySite: Option[OntologyClass] = None,
    performed: Option[TimeElement] = None)

final case class Treatment(
    agent: OntologyClass,
    routeOfAdministration: Option[OntologyClass] = None,
    drugType: Option[String] = None,
    cumulativeDose: Option[Quantity] = None)

final case class MedicalAction(
    procedure: Option[ProcedureAction] = None,
    treatment: Option[Treatment] = None,
    treatmentTarget: Option[OntologyClass] = None,
    treatmentIntent: Option[OntologyClass] = None,
    responseToTreatment: Option[OntologyClass] = None,
    treatmentTerminationReason: Option[OntologyClass] = None)

final case class GeneDescriptor(valueId: String, symbol: String)

final case class VcfExpression(syntax: String, value: String)

/** VRSatile VcfRecord (reference emits it from its HGVS client's
  * VariantValidator response; here populated from the offline
  * `HgvsResolver` cache).
  */
final case class VcfRecord(
    genomeAssembly: String, chrom: String, pos: Long, ref: String, alt: String)

final case class VariationDescriptor(
    id: String,
    expressions: Seq[VcfExpression] = Seq.empty,
    vcfRecord: Option[VcfRecord] = None,
    allelicState: Option[OntologyClass] = None,
    geneContext: Option[GeneDescriptor] = None,
    moleculeContext: Option[String] = None)

final case class VariantInterpretation(
    acmgPathogenicityClassification: Option[String] = None,
    therapeuticActionability: Option[String] = None,
    variationDescriptor: Option[VariationDescriptor] = None)

final case class GenomicInterpretation(
    subjectOrBiosampleId: String,
    interpretationStatus: String,
    gene: Option[GeneDescriptor] = None,
    variantInterpretation: Option[VariantInterpretation] = None)

final case class Diagnosis(
    disease: OntologyClass,
    genomicInterpretations: Seq[GenomicInterpretation] = Seq.empty)

final case class Interpretation(
    id: String,
    progressStatus: String,
    diagnosis: Option[Diagnosis] = None)

final case class MetaData(
    created: String,
    createdBy: String,
    submittedBy: Option[String] = None,
    resources: Seq[Resource] = Seq.empty,
    phenopacketSchemaVersion: String = "2.0")

final case class Phenopacket(
    id: String,
    subject: Individual,
    phenotypicFeatures: Seq[PhenotypicFeature] = Seq.empty,
    measurements: Seq[Measurement] = Seq.empty,
    diseases: Seq[Disease] = Seq.empty,
    interpretations: Seq[Interpretation] = Seq.empty,
    medicalActions: Seq[MedicalAction] = Seq.empty,
    metaData: MetaData = MetaData("", ""))

/** protobuf-JSON-convention writer: camelCase field names (the case
  * classes already use them), None and empty Seq omitted, enum values
  * as strings; plus the reference's post-serialization fixup dropping
  * `survivalTimeInDays == 0` (reference
  * `load/file_system_loader.rs:32-47`). Hand-rolled for exact control
  * over field suppression — jackson would emit nulls/empties.
  */
object PhenopacketJson {

  def render(p: Phenopacket): String = {
    val v = obj(
      "id" -> str(p.id),
      "subject" -> individual(p.subject),
      "phenotypicFeatures" -> arr(p.phenotypicFeatures.map(feature)),
      "measurements" -> arr(p.measurements.map(measurement)),
      "diseases" -> arr(p.diseases.map(disease)),
      "interpretations" -> arr(p.interpretations.map(interpretation)),
      "medicalActions" -> arr(p.medicalActions.map(medicalAction)),
      "metaData" -> metaData(p.metaData))
    Render.pretty(v, 0)
  }

  // --- JSON tree ----------------------------------------------------
  sealed trait J
  final case class JStr(s: String) extends J
  final case class JNum(d: Double) extends J
  /** Exact integer node: longs must NOT round-trip through JNum's
    * Double (values above 2^53 — a VCF pos, a day count — would render
    * rounded, and the `l.toDouble == n.d` integrality check would
    * accept the rounded value as exact).
    */
  final case class JInt(l: Long) extends J
  final case class JBool(b: Boolean) extends J
  final case class JObj(fields: Seq[(String, J)]) extends J
  final case class JArr(items: Seq[J]) extends J
  case object JOmit extends J

  private def str(s: String): J = JStr(s)
  private def num(d: Double): J = JNum(d)
  private def int(l: Long): J = JInt(l)
  private def bool(b: Boolean): J = JBool(b)
  private def opt[A](o: Option[A])(f: A => J): J = o.fold[J](JOmit)(f)
  private def obj(fields: (String, J)*): J =
    JObj(fields.filterNot(_._2 == JOmit).filter {
      case (_, JArr(items)) => items.nonEmpty
      case _                => true
    })
  private def arr(items: Seq[J]): J = JArr(items)

  // --- message renderers --------------------------------------------
  private def ontoClass(o: OntologyClass): J = obj("id" -> str(o.id), "label" -> str(o.label))

  private def timeElement(t: TimeElement): J = obj(
    "age" -> opt(t.age)(a => obj("iso8601duration" -> str(a.iso8601duration))),
    "timestamp" -> opt(t.timestamp)(str))

  private def vitalStatus(v: VitalStatus): J = obj(
    "status" -> str(v.status),
    "timeOfDeath" -> opt(v.timeOfDeath)(timeElement),
    "causeOfDeath" -> opt(v.causeOfDeath)(ontoClass),
    // survivalTimeInDays == 0 is suppressed (reference S6 fixup).
    "survivalTimeInDays" -> opt(v.survivalTimeInDays.filter(_ != 0L))(int))

  // `sex`/`karyotypicSex` are protobuf enums whose UNKNOWN defaults the
  // reference's serde always emits (karyotypic sex is warn-only /
  // never set — phenopacket_builder.rs:74-85); mirror that here.
  private def individual(i: Individual): J = obj(
    "id" -> str(i.id),
    "dateOfBirth" -> opt(i.dateOfBirth)(str),
    "vitalStatus" -> opt(i.vitalStatus)(vitalStatus),
    "sex" -> str(i.sex.getOrElse("UNKNOWN_SEX")),
    "karyotypicSex" -> str("UNKNOWN_KARYOTYPE"),
    "timeAtLastEncounter" -> opt(i.timeAtLastEncounter)(timeElement))

  private def feature(f: PhenotypicFeature): J = obj(
    "type" -> ontoClass(f.`type`),
    "excluded" -> opt(f.excluded.filter(identity))(bool),
    "onset" -> opt(f.onset)(timeElement),
    "resolution" -> opt(f.resolution)(timeElement),
    "severity" -> opt(f.severity)(ontoClass))

  private def quantity(q: Quantity): J = obj(
    "unit" -> ontoClass(q.unit),
    "value" -> num(q.value),
    "referenceRange" -> opt(q.referenceRange)(r => obj(
      "unit" -> ontoClass(r.unit), "low" -> num(r.low), "high" -> num(r.high))))

  private def measurement(m: Measurement): J = obj(
    "assay" -> ontoClass(m.assay),
    "value" -> obj(
      "quantity" -> opt(m.value.quantity)(quantity),
      "ontologyClass" -> opt(m.value.ontologyClass)(ontoClass)),
    "timeObserved" -> opt(m.timeObserved)(timeElement))

  private def disease(d: Disease): J = obj(
    "term" -> ontoClass(d.term),
    "onset" -> opt(d.onset)(timeElement),
    "resolution" -> opt(d.resolution)(timeElement),
    "primarySite" -> opt(d.primarySite)(ontoClass))

  private def geneDescriptor(g: GeneDescriptor): J =
    obj("valueId" -> str(g.valueId), "symbol" -> str(g.symbol))

  private def interpretation(i: Interpretation): J = obj(
    "id" -> str(i.id),
    "progressStatus" -> str(i.progressStatus),
    "diagnosis" -> opt(i.diagnosis)(d => obj(
      "disease" -> ontoClass(d.disease),
      "genomicInterpretations" -> arr(d.genomicInterpretations.map(genomic)))))

  private def genomic(g: GenomicInterpretation): J = obj(
    "subjectOrBiosampleId" -> str(g.subjectOrBiosampleId),
    "interpretationStatus" -> str(g.interpretationStatus),
    "gene" -> opt(g.gene)(geneDescriptor),
    "variantInterpretation" -> opt(g.variantInterpretation)(v => obj(
      "acmgPathogenicityClassification" -> opt(v.acmgPathogenicityClassification)(str),
      "therapeuticActionability" -> opt(v.therapeuticActionability)(str),
      "variationDescriptor" -> opt(v.variationDescriptor)(vd => obj(
        "id" -> str(vd.id),
        "geneContext" -> opt(vd.geneContext)(geneDescriptor),
        "expressions" -> arr(vd.expressions.map(e =>
          obj("syntax" -> str(e.syntax), "value" -> str(e.value)))),
        "vcfRecord" -> opt(vd.vcfRecord)(r => obj(
          "genomeAssembly" -> str(r.genomeAssembly), "chrom" -> str(r.chrom),
          "pos" -> int(r.pos), "ref" -> str(r.ref), "alt" -> str(r.alt))),
        "moleculeContext" -> opt(vd.moleculeContext)(str),
        "allelicState" -> opt(vd.allelicState)(ontoClass))))))

  private def medicalAction(m: MedicalAction): J = obj(
    "procedure" -> opt(m.procedure)(p => obj(
      "code" -> ontoClass(p.code),
      "bodySite" -> opt(p.bodySite)(ontoClass),
      "performed" -> opt(p.performed)(timeElement))),
    "treatment" -> opt(m.treatment)(t => obj(
      "agent" -> ontoClass(t.agent),
      "routeOfAdministration" -> opt(t.routeOfAdministration)(ontoClass),
      "drugType" -> opt(t.drugType)(str),
      "cumulativeDose" -> opt(t.cumulativeDose)(quantity))),
    "treatmentTarget" -> opt(m.treatmentTarget)(ontoClass),
    "treatmentIntent" -> opt(m.treatmentIntent)(ontoClass),
    "responseToTreatment" -> opt(m.responseToTreatment)(ontoClass),
    "treatmentTerminationReason" -> opt(m.treatmentTerminationReason)(ontoClass))

  private def metaData(m: MetaData): J = obj(
    "created" -> str(m.created),
    "createdBy" -> str(m.createdBy),
    "submittedBy" -> opt(m.submittedBy)(str),
    "resources" -> arr(m.resources.map(r => obj(
      "id" -> str(r.id), "name" -> str(r.name), "url" -> str(r.url),
      "version" -> str(r.version), "namespacePrefix" -> str(r.namespacePrefix),
      "iriPrefix" -> str(r.iriPrefix)))),
    "phenopacketSchemaVersion" -> str(m.phenopacketSchemaVersion))

  /** A JSON string literal: quote and backslash escaped, `\n`, `\r`
    * and `\t` short, every other char below U+0020 as `\u00XX`. The
    * packets, `graft.Bench`'s result line and `graft.Verify`'s
    * oracle_sql.json all quote with it.
    */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  // --- rendering ----------------------------------------------------
  private object Render {
    private def numRepr(n: JNum): String =
      if (n.d.isNaN) "\"NaN\""               // protobuf-JSON convention:
      else if (n.d.isPosInfinity) "\"Infinity\""  // non-finite doubles are
      else if (n.d.isNegInfinity) "\"-Infinity\"" // quoted strings
      else if (n.d == math.floor(n.d)) {
        // protobuf-JSON renders integral doubles without a fraction
        val l = n.d.toLong
        if (l.toDouble == n.d) l.toString else n.d.toString
      } else n.d.toString

    def compact(j: J): String = j match {
      case JStr(s)     => quote(s)
      case n: JNum     => numRepr(n)
      case JInt(l)     => l.toString
      case JBool(b)    => b.toString
      case JObj(fs)    => fs.map { case (k, v) => quote(k) + ":" + compact(v) }.mkString("{", ",", "}")
      case JArr(items) => items.map(compact).mkString("[", ",", "]")
      case JOmit       => "null"
    }

    def pretty(j: J, indent: Int): String = {
      val pad = "  " * indent
      val padIn = "  " * (indent + 1)
      j match {
        case JObj(fs) if fs.nonEmpty =>
          fs.map { case (k, v) => padIn + quote(k) + ": " + pretty(v, indent + 1).dropWhile(_ == ' ') }
            .mkString("{\n", ",\n", s"\n$pad}")
        case JArr(items) if items.nonEmpty =>
          items.map(i => padIn + pretty(i, indent + 1).dropWhile(_ == ' '))
            .mkString("[\n", ",\n", s"\n$pad]")
        case other => compact(other)
      }
    }
  }
}
