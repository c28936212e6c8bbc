package graft.collect

import graft.clean.Casts
import graft.model._
import graft.strategy.MultiHpoColExpansionStrategy
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** One normalized row of per-patient evidence, extracted from a
  * contextualized table. The union of all tables' facts is THE single
  * shuffle of the pipeline: `groupByKey(subject)` feeds the assembly
  * aggregator (reference G1/G2, `cdf_collector_broker.rs:36-91`, which
  * instead materializes one sub-DataFrame per patient; here patients
  * stay distributed).
  *
  * Attributes are a FLAT fixed-width nullable schema, not a map: a null
  * string costs a bit on the shuffle wire, the schema is
  * column-prunable, and no per-row map objects are built.
  *
  * Ordering: the assembler sorts by `(src, idx, seq)` = (data-source
  * registration order, the fact's position in its table's plan, row
  * order) — column-major within a table, as the reference's collectors
  * iterate the column store series by series (verified against its
  * expected_P001 golden). The shuffle loses this order; the ordinals
  * rebuild it.
  */
final case class Fact(
    subject: String,
    src: Int,
    table: String,
    seq: Long,
    idx: Int,
    block: String, // building block id, "" = none
    kind: String,  // FactKinds.*
    field: String = null, value: String = null,
    hpo: String = null, observed: String = null, onset: String = null,
    resolution: String = null, severity: String = null,
    term: String = null, primarySite: String = null,
    assay: String = null, unit: String = null, time: String = null,
    refLow: String = null, refHigh: String = null,
    code: String = null, bodySite: String = null,
    agent: String = null, route: String = null, drugType: String = null,
    qtyValue: String = null, qtyUnit: String = null,
    target: String = null, intent: String = null, response: String = null,
    termination: String = null,
    gene: String = null, variants: String = null, disease: String = null)

object Fact {
  /** Nullable attr column → Option, blank-safe. */
  def opt(s: String): Option[String] = Option(s).map(_.trim).filter(_.nonEmpty)

  /** The attribute fields: all after `kind`. */
  val attrNames: Seq[String] = Fact(null, 0, null, 0L, 0, null, null).productElementNames.drop(7).toSeq
}

/** One fact a table yields per row: its kind and building block, the
  * sources that keep it, and where each non-null attribute comes from.
  * A row yields the fact when a `keep` source reads non-blank (not null,
  * not only U+0020 spaces: Spark's `trim`; the reference's collectors
  * skip empty cells). The presence fact's empty `keep` always keeps it.
  */
final case class FactPlan(kind: String, block: String, keep: Seq[FactPlan.Source],
    attrs: Seq[(String, FactPlan.Source)])

object FactPlan {
  sealed trait Source
  /** A constant of the table context (an assay id, a decoded HPO header). */
  final case class Lit(value: String) extends Source
  /** One cell of the row, cast to string by Spark. */
  final case class Cell(column: String) extends Source
  /** `concat_ws("||", trim(cell)…)` of a block's HGVS cells: null cells
    * are skipped, and all-null cells give "". */
  final case class HgvsJoin(columns: Seq[String]) extends Source
}

object Facts {
  import ContextKind._
  import FactKinds._
  import FactPlan._

  /** All facts of one table, by one narrow operator: one `select` casts
    * the subject and each cell [[plan]] reads to string once, into one
    * array; one `flatMap` applies the plan to each row and emits each
    * fact's strings as one array too, which a final `select` names. The
    * generated code grows with the cells read, not with facts × schema.
    * `src` is the table's data-source ordinal (registration order).
    */
  def extract(cdf: Cdf, src: Int = 0): Dataset[Fact] = {
    import cdf.df.sparkSession.implicits._
    val subject = cdf.subjectIdColumn
    val plans = plan(cdf)
    val cells = plans.flatMap(p => (p.keep ++ p.attrs.map(_._2)).flatMap {
      case Cell(c) => Seq(c); case HgvsJoin(cs) => cs; case Lit(_) => Nil
    }).distinct
    val at = cells.zipWithIndex.toMap
    val strings = Seq("subject", "block", "kind") ++ Fact.attrNames
    val emitters = plans.zipWithIndex.map { case (p, idx) =>
      val keep = p.keep.map(reader(_, at))
      val attrs = p.attrs.map { case (name, source) => (strings.indexOf(name), reader(source, at)) }
      (subject: String, seq: Long, v: Array[String]) =>
        if (keep.nonEmpty && !keep.exists(k => Option(k(v)).exists(_.exists(_ != ' ')))) None
        else {
          val a = new Array[String](strings.size)
          a(0) = subject; a(1) = p.block; a(2) = p.kind
          attrs.foreach { case (i, read) => a(i) = read(v) }
          Some((seq, idx, a))
        }
    }

    cdf.df
      // A blank subject passes construction-time validation (it checks
      // nulls before the preprocessor trims to null) and must not become
      // a "cohort-null" packet. Java trim, as the preprocessor's: a table
      // that skipped it may carry a "\t" subject Spark's `trim` keeps.
      .filter(col(subject).isNotNull && Casts.javaTrim(col(subject).cast("string")) =!= "")
      .select(col(subject).cast("string"), monotonically_increasing_id(),
        array(cells.map(col(_).cast("string")): _*).cast("array<string>"))
      .as[(String, Long, Array[String])]
      .flatMap { case (subject, seq, v) => emitters.flatMap(_(subject, seq, v)) }
      .select(get(col("_3"), lit(0)).as("subject") +: lit(src).as("src") +: lit(cdf.context.name).as("table") +:
        col("_1").as("seq") +: col("_2").as("idx") +:
        strings.zipWithIndex.tail.map { case (n, i) => get(col("_3"), lit(i)).as(n) }: _*)
      .as[Fact]
  }

  /** The narrow union of every table's facts; table order = source ordinal. */
  def extractAll(tables: Seq[Cdf]): Dataset[Fact] = {
    require(tables.nonEmpty,
      "fact extraction needs at least one table — no data sources were configured/loaded")
    tables.zipWithIndex.map { case (t, i) => extract(t, i) }.reduce(_ unionByName _)
  }

  /** Reads a source from the cells `extract` selects (`at`: cell → index). */
  private def reader(source: Source, at: Map[String, Int]): Array[String] => String = source match {
    case Lit(value) => _ => value
    case Cell(c) => val i = at(c); _(i)
    case HgvsJoin(cs) => val is = cs.map(at)
      v => is.flatMap(i => Option(v(i))).map(_.replaceAll("^ +| +$", "")).mkString("||")
  }

  /** Individual fields (collector C1), by data-context kind. */
  private val individualFields: Map[ContextKind, String] = Map(
    KSubjectSex -> "sex", KDateOfBirth -> "dateOfBirth", KVitalStatus -> "vitalStatus",
    KCauseOfDeath -> "causeOfDeath", KSurvivalTimeDays -> "survivalTimeInDays",
    KTimeAtLastEncounter -> "timeAtLastEncounter", KTimeOfDeath -> "timeOfDeath")

  private val actionOutcome = Seq("target" -> KTreatmentTarget, "intent" -> KTreatmentIntent,
    "response" -> KResponseToTreatment, "termination" -> KTreatmentTerminationReason)

  /** The payload kinds that carry linked cells of their building block
    * (collectors C2, C4, C6–C9), in fact order: data-context kind → (fact kind,
    * payload attribute, `(attribute, linked kind)` pairs).
    */
  private type Links = Seq[(String, ContextKind)]
  private val payloads: Seq[(ContextKind, (String, String, Links))] = Seq(
    KHpo -> (HpoCell, "hpo", Seq("onset" -> KOnset, "resolution" -> KTimeOfResolution,
      "severity" -> KSeverity, "observed" -> KObservationStatus)),
    KDisease -> (DiseaseK, "term",
      Seq("onset" -> KOnset, "resolution" -> KTimeOfResolution, "primarySite" -> KPrimarySite)),
    KQuantitativeMeasurement -> (Quant, "value", Seq("time" -> KTimeOfMeasurement,
      "refLow" -> KReferenceRangeStart, "refHigh" -> KReferenceRangeEnd)),
    KQualitativeMeasurement -> (Qual, "value", Seq("time" -> KTimeOfMeasurement)),
    KProcedure -> (ProcedureK, "code",
      Seq("bodySite" -> KProcedureBodySite, "time" -> KTimeOfProcedure) ++ actionOutcome),
    KTreatmentAgent -> (TreatmentK, "agent", Seq("route" -> KRouteOfAdministration,
      "drugType" -> KDrugType, "qtyValue" -> KQuantityValue, "qtyUnit" -> KQuantityUnit) ++ actionOutcome))

  /** Attributes a measurement's own data context fixes. */
  private def literals(c: Context): Seq[(String, Source)] = c match {
    case Context.QuantitativeMeasurement(assay, unit) => Seq("assay" -> Lit(assay), "unit" -> Lit(unit))
    case Context.QualitativeMeasurement(assay) => Seq("assay" -> Lit(assay))
    case _ => Nil
  }

  /** Every fact one row of `cdf` can yield, in `idx` order: presence,
    * individual fields, HPO cells, HPO headers, diseases, quantitative
    * and qualitative measurements, procedures, treatments,
    * interpretations. Starts no Spark job; throws when a building block
    * links more than one column of a kind.
    */
  def plan(cdf: Cdf): Seq[FactPlan] = {
    val b = cdf.bindings
    def linked(block: Option[String], attrs: Links): Seq[(String, Source)] =
      attrs.flatMap { case (a, k) => cdf.singleLinkedColumn(block, Set(k)).map(a -> Cell(_)) }
    def unheaded(sc: SeriesContext) = sc.headerContext == Context.NoContext

    // One presence fact per row: every subject in any table yields a
    // packet, even when every data cell of the row is null (reference
    // get_or_create_phenopacket, cdf_collector_broker.rs:36-71).
    val presence = FactPlan(Subject, "", Nil, Nil)

    val individual = b.collect {
      case (c, sc) if unheaded(sc) && individualFields.contains(sc.dataContext.kind) =>
        FactPlan(Individual_, sc.buildingBlockId.getOrElse(""), Seq(Cell(c)),
          Seq("field" -> Lit(individualFields(sc.dataContext.kind)), "value" -> Cell(c)))
    }

    def payload(entry: (ContextKind, (String, String, Links))) = entry match {
      case (data, (kind, attr, links)) => b.collect {
        // HPO cells and diseases come only from columns without a header context
        case (c, sc) if sc.dataContext.kind == data && (unheaded(sc) || (data != KHpo && data != KDisease)) =>
          FactPlan(kind, sc.buildingBlockId.getOrElse(""), Seq(Cell(c)),
            literals(sc.dataContext) ++ ((attr -> Cell(c)) +: linked(sc.buildingBlockId, links)))
      }
    }
    def hpoHeaders = b.collect {
      // Reference collects header=Hpo columns whose CELLS are
      // observation statuses (hpo_in_header_collector) — a header=Hpo
      // column with some other data context is not an observation grid.
      case (c, sc) if sc.headerContext.kind == KHpo && sc.dataContext.kind == KObservationStatus =>
        val (hpoId, blockFromHeader) = MultiHpoColExpansionStrategy.decodeHeader(c)
        val blk = sc.buildingBlockId.orElse(blockFromHeader)
        FactPlan(HpoHeader, blk.getOrElse(""), Seq(Cell(c)),
          Seq("hpo" -> Lit(hpoId), "observed" -> Cell(c)) ++ linked(blk, Seq("onset" -> KOnset)))
    }

    // Interpretations: gene + variant columns of one NAMED block, with
    // the block's disease for the diagnosis (reference
    // interpretation_collector.rs:16-196 filters
    // where_building_block(IsSome): block-less genetics never marry
    // unrelated diseases).
    def interps = b.collect {
      case (_, sc) if (sc.dataContext.kind == KHgnc || sc.dataContext.kind == KHgvs) &&
          sc.buildingBlockId.isDefined => sc.buildingBlockId
    }.distinct.map { blk =>
      val hgvs = b.collect { case (c, sc) if sc.buildingBlockId == blk && sc.dataContext.kind == KHgvs => c }
      val evidence = linked(blk, Seq("gene" -> KHgnc)) ++
        (if (hgvs.isEmpty) Nil else Seq("variants" -> HgvsJoin(hgvs)))
      FactPlan(Interp, blk.get, evidence.map(_._2), evidence ++ linked(blk, Seq("disease" -> KDisease)))
    }

    // planned in idx order (hence the defs): the first duplicate linked column is the one reported
    Seq(presence) ++ individual ++ payload(payloads.head) ++ hpoHeaders ++
      payloads.tail.flatMap(payload) ++ interps
  }
}

object FactKinds {
  val Subject = "subject" // presence-only: creates the packet
  val Individual_ = "individual"
  val HpoCell = "hpo_cell"
  val HpoHeader = "hpo_header"
  val DiseaseK = "disease"
  val Quant = "quant"
  val Qual = "qual"
  val ProcedureK = "procedure"
  val TreatmentK = "treatment"
  val Interp = "interp"
}
