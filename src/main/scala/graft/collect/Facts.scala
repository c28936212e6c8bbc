package graft.collect

import graft.clean.Casts
import graft.model._
import graft.strategy.MultiHpoColExpansionStrategy
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** One normalized row of per-patient evidence, extracted from a
  * contextualized table. The union of all tables' facts is THE single
  * shuffle of the pipeline: `groupByKey(subject)` feeds the assembly
  * aggregator (reference G1/G2,
  * `transform/collecting/cdf_collector_broker.rs:36-91` — which instead
  * materializes one sub-DataFrame per patient, its main scalability
  * cliff; here patients stay distributed).
  *
  * Attribute columns are a FLAT fixed-width nullable schema (not a
  * `Map[String,String]`): Tungsten encodes null strings as a bit + an
  * empty slot, so unused attributes cost nothing on the shuffle wire,
  * the schema is column-prunable, and no per-row map/key objects are
  * built — this matters at 100 TB where the fact union is the dominant
  * shuffle payload.
  *
  * Ordering: the assembler sorts by `(src, idx, seq)` = (data-source
  * registration order, COLUMN order, row order within the column) —
  * column-major within a table, because the reference's collectors
  * iterate the Polars column store series-by-series (verified against
  * the reference's own expected_P001 golden). The shuffle reader yields
  * groups in arbitrary order; these ordinals reconstruct it.
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
}

object Facts {

  import FactKinds._

  /** Attribute columns of the flat Fact schema, in declaration order. */
  private val attrNames = Seq(
    "field", "value",
    "hpo", "observed", "onset", "resolution", "severity",
    "term", "primarySite",
    "assay", "unit", "time", "refLow", "refHigh",
    "code", "bodySite",
    "agent", "route", "drugType", "qtyValue", "qtyUnit",
    "target", "intent", "response", "termination",
    "gene", "variants", "disease")

  /** Extract all facts of one contextualized table: a narrow projection
    * (select + posexplode), no shuffle. Column→fact planning happens
    * driver-side from the table context; cell work is codegen'd.
    *
    * `src` is the table's data-source ordinal (pipeline registration
    * order) — it makes cross-table fact ordering deterministic.
    */
  def extract(cdf: Cdf, src: Int = 0): Dataset[Fact] = {
    val spark = cdf.df.sparkSession
    import spark.implicits._

    val subject = cdf.subjectIdColumn
    val factCols = factStructs(cdf)
    if (factCols.isEmpty) return spark.emptyDataset[Fact]

    cdf.df
      // A blank subject cell can slip past construction-time validation
      // (it checks nulls BEFORE the preprocessor trims whitespace to
      // null); rows with no subject must not become a "cohort-null"
      // packet via the presence fact. Java trim, as the preprocessor's:
      // a table that skipped it may carry a "\t" subject, which Spark's
      // `trim` (spaces only) would keep.
      .filter(col(subject).isNotNull && Casts.javaTrim(col(subject).cast("string")) =!= "")
      .withColumn("__seq", monotonically_increasing_id())
      .select(
        col(subject).cast("string").as("subject"),
        col("__seq").as("seq"),
        posexplode(array(factCols: _*)).as(Seq("idx", "f")))
      .filter(col("f.__keep"))
      .select(
        (col("subject") +: lit(src).as("src") +: lit(cdf.context.name).as("table") +:
          col("seq") +: col("idx") +:
          col("f.block").as("block") +: col("f.kind").as("kind") +:
          attrNames.map(n => col(s"f.$n").as(n))): _*)
      .as[Fact]
  }

  /** Union the facts of every table (narrow union, preserves
    * partitioning of each input). Table order = source ordinal.
    */
  def extractAll(tables: Seq[Cdf]): Dataset[Fact] = {
    require(tables.nonEmpty,
      "fact extraction needs at least one table — no data sources were configured/loaded")
    tables.zipWithIndex.map { case (t, i) => extract(t, i) }.reduce(_ unionByName _)
  }

  // ------------------------------------------------------------------

  private def s(c: String) = col(c).cast("string")

  /** A fact is kept only when its primary payload cell is non-blank —
    * the reference's collectors skip empty cells the same way.
    */
  private def present(c: org.apache.spark.sql.Column) =
    c.isNotNull && trim(c.cast("string")) =!= ""

  private def factStructs(cdf: Cdf): Seq[org.apache.spark.sql.Column] = {
    val b = cdf.bindings

    def blockOf(sc: SeriesContext): String = sc.buildingBlockId.getOrElse("")
    def linked(block: Option[String], kinds: ContextKind*): Option[String] =
      cdf.singleLinkedColumn(block, kinds.toSet)

    def mk(kind: String, block: String, keep: org.apache.spark.sql.Column,
        attrs: (String, org.apache.spark.sql.Column)*) = {
      val given = attrs.toMap
      val fields =
        lit(block).as("block") +: lit(kind).as("kind") +: keep.as("__keep") +:
          attrNames.map(n =>
            given.get(n).map(_.cast("string")).getOrElse(lit(null).cast("string")).as(n))
      struct(fields: _*)
    }

    // One presence fact per row: every subject that appears in any
    // table yields a (possibly minimal) packet, exactly like the
    // reference broker's get_or_create_phenopacket-per-partition
    // (cdf_collector_broker.rs:36-71) — even when every data cell of
    // the row is null.
    val presence = Seq(mk(Subject, "", lit(true)))

    val individual = b.collect {
      case (c, sc) if sc.headerContext == Context.NoContext =>
        def f(field: String) =
          mk(Individual_, blockOf(sc), present(col(c)), "field" -> lit(field), "value" -> s(c))
        sc.dataContext match {
          case Context.SubjectSex       => Some(f("sex"))
          case Context.DateOfBirth      => Some(f("dateOfBirth"))
          case Context.VitalStatus      => Some(f("vitalStatus"))
          case Context.CauseOfDeath     => Some(f("causeOfDeath"))
          case Context.SurvivalTimeDays => Some(f("survivalTimeInDays"))
          case Context.TimeAtLastEncounter(_) => Some(f("timeAtLastEncounter"))
          case Context.TimeOfDeath(_)         => Some(f("timeOfDeath"))
          case _ => None
        }
    }.flatten

    val hpoCells = b.collect {
      case (c, sc) if sc.dataContext.kind == ContextKind.KHpo &&
          sc.headerContext == Context.NoContext =>
        val blk = sc.buildingBlockId
        mk(HpoCell, blockOf(sc), present(col(c)),
          "hpo" -> s(c),
          "onset" -> linked(blk, ContextKind.KOnset).map(s).getOrElse(lit(null)),
          "resolution" -> linked(blk, ContextKind.KTimeOfResolution).map(s).getOrElse(lit(null)),
          "severity" -> linked(blk, ContextKind.KSeverity).map(s).getOrElse(lit(null)),
          "observed" -> linked(blk, ContextKind.KObservationStatus).map(s).getOrElse(lit(null)))
    }

    val hpoHeaders = b.collect {
      // Reference collects header=Hpo columns whose CELLS are
      // observation statuses (hpo_in_header_collector) — a header=Hpo
      // column with some other data context is not an observation grid.
      case (c, sc) if sc.headerContext.kind == ContextKind.KHpo &&
          sc.dataContext.kind == ContextKind.KObservationStatus =>
        val (hpoId, blockFromHeader) = MultiHpoColExpansionStrategy.decodeHeader(c)
        val blk = sc.buildingBlockId.orElse(blockFromHeader)
        val onsetCol = cdf.singleLinkedColumn(blk, Set(ContextKind.KOnset))
        mk(HpoHeader, blk.getOrElse(""), present(col(c)),
          "hpo" -> lit(hpoId),
          "observed" -> s(c),
          "onset" -> onsetCol.map(s).getOrElse(lit(null)))
    }

    val diseases = b.collect {
      case (c, sc) if sc.dataContext.kind == ContextKind.KDisease &&
          sc.headerContext == Context.NoContext =>
        val blk = sc.buildingBlockId
        mk(DiseaseK, blockOf(sc), present(col(c)),
          "term" -> s(c),
          "onset" -> linked(blk, ContextKind.KOnset).map(s).getOrElse(lit(null)),
          "resolution" -> linked(blk, ContextKind.KTimeOfResolution).map(s).getOrElse(lit(null)),
          "primarySite" -> linked(blk, ContextKind.KPrimarySite).map(s).getOrElse(lit(null)))
    }

    val quants = b.collect {
      case (c, sc) if sc.dataContext.kind == ContextKind.KQuantitativeMeasurement =>
        val Context.QuantitativeMeasurement(assay, unit) = sc.dataContext: @unchecked
        val blk = sc.buildingBlockId
        mk(Quant, blockOf(sc), present(col(c)),
          "assay" -> lit(assay), "unit" -> lit(unit), "value" -> s(c),
          "time" -> linked(blk, ContextKind.KTimeOfMeasurement).map(s).getOrElse(lit(null)),
          "refLow" -> linked(blk, ContextKind.KReferenceRangeStart).map(s).getOrElse(lit(null)),
          "refHigh" -> linked(blk, ContextKind.KReferenceRangeEnd).map(s).getOrElse(lit(null)))
    }

    val quals = b.collect {
      case (c, sc) if sc.dataContext.kind == ContextKind.KQualitativeMeasurement =>
        val Context.QualitativeMeasurement(assay) = sc.dataContext: @unchecked
        val blk = sc.buildingBlockId
        mk(Qual, blockOf(sc), present(col(c)),
          "assay" -> lit(assay), "value" -> s(c),
          "time" -> linked(blk, ContextKind.KTimeOfMeasurement).map(s).getOrElse(lit(null)))
    }

    val procedures = b.collect {
      case (c, sc) if sc.dataContext.kind == ContextKind.KProcedure =>
        val blk = sc.buildingBlockId
        mk(ProcedureK, blockOf(sc), present(col(c)),
          "code" -> s(c),
          "bodySite" -> linked(blk, ContextKind.KProcedureBodySite).map(s).getOrElse(lit(null)),
          "time" -> linked(blk, ContextKind.KTimeOfProcedure).map(s).getOrElse(lit(null)),
          "target" -> linked(blk, ContextKind.KTreatmentTarget).map(s).getOrElse(lit(null)),
          "intent" -> linked(blk, ContextKind.KTreatmentIntent).map(s).getOrElse(lit(null)),
          "response" -> linked(blk, ContextKind.KResponseToTreatment).map(s).getOrElse(lit(null)),
          "termination" -> linked(blk, ContextKind.KTreatmentTerminationReason).map(s).getOrElse(lit(null)))
    }

    val treatments = b.collect {
      case (c, sc) if sc.dataContext.kind == ContextKind.KTreatmentAgent =>
        val blk = sc.buildingBlockId
        mk(TreatmentK, blockOf(sc), present(col(c)),
          "agent" -> s(c),
          "route" -> linked(blk, ContextKind.KRouteOfAdministration).map(s).getOrElse(lit(null)),
          "drugType" -> linked(blk, ContextKind.KDrugType).map(s).getOrElse(lit(null)),
          "qtyValue" -> linked(blk, ContextKind.KQuantityValue).map(s).getOrElse(lit(null)),
          "qtyUnit" -> linked(blk, ContextKind.KQuantityUnit).map(s).getOrElse(lit(null)),
          "target" -> linked(blk, ContextKind.KTreatmentTarget).map(s).getOrElse(lit(null)),
          "intent" -> linked(blk, ContextKind.KTreatmentIntent).map(s).getOrElse(lit(null)),
          "response" -> linked(blk, ContextKind.KResponseToTreatment).map(s).getOrElse(lit(null)),
          "termination" -> linked(blk, ContextKind.KTreatmentTerminationReason).map(s).getOrElse(lit(null)))
    }

    // Interpretation evidence: gene + variant columns grouped by block;
    // the disease term of the same block rides along for diagnosis
    // assembly (reference `interpretation_collector.rs:16-196`).
    // Only NAMED building blocks form interpretations (reference
    // filters where_building_block(IsSome) — block-less genetics
    // columns are never married to unrelated diseases).
    val interpBlocks = b.collect {
      case (_, sc) if (sc.dataContext.kind == ContextKind.KHgnc ||
          sc.dataContext.kind == ContextKind.KHgvs) &&
          sc.buildingBlockId.isDefined => sc.buildingBlockId
    }.distinct
    val interps = interpBlocks.map { blk =>
      val geneCol = linked(blk, ContextKind.KHgnc)
      val hgvsCols = cdf.bindings.collect {
        case (c2, sc2) if sc2.buildingBlockId == blk &&
          sc2.dataContext.kind == ContextKind.KHgvs => c2
      }
      val diseaseCol = linked(blk, ContextKind.KDisease)
      val variantsExpr =
        if (hgvsCols.isEmpty) lit(null).cast("string")
        else concat_ws("||", hgvsCols.map(c => trim(s(c))): _*)
      val geneExpr = geneCol.map(s).getOrElse(lit(null).cast("string"))
      mk(Interp, blk.getOrElse(""),
        present(geneExpr) || present(variantsExpr),
        "gene" -> geneExpr,
        "variants" -> variantsExpr,
        "disease" -> diseaseCol.map(s).getOrElse(lit(null)))
    }

    presence ++ individual ++ hpoCells ++ hpoHeaders ++ diseases ++ quants ++ quals ++
      procedures ++ treatments ++ interps
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
