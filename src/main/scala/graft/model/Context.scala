package graft.model

/** Semantic column roles — the reference's ~35-variant `Context` enum
  * (`phenoxtract/src/config/context.rs:48-104`), as a Scala ADT.
  *
  * `TimeKind` distinguishes age-typed vs date-typed time columns
  * (`Onset(age)` vs `Onset(date)` in the reference's config syntax).
  */
sealed trait TimeKind
object TimeKind {
  case object Age extends TimeKind
  case object Date extends TimeKind
  def parse(s: String): TimeKind = s.trim.toLowerCase match {
    case "age"  => Age
    case "date" => Date
    case other  => throw new IllegalArgumentException(s"unknown time kind '$other'")
  }
}

sealed trait Context { def kind: ContextKind }

object Context {
  import ContextKind._

  /** A time element context: age- or date-typed (reference
    * `Context::time_element_context_variants`). DateToAge rewrites a
    * date-typed one to its age-typed twin with `withTime`.
    */
  sealed trait Timed extends Context {
    def t: TimeKind
    def withTime(t: TimeKind): Timed
  }

  // --- Individual ---------------------------------------------------
  case object SubjectId extends Context { val kind = KSubjectId }
  case object SubjectSex extends Context { val kind = KSubjectSex }
  case object DateOfBirth extends Context { val kind = KDateOfBirth }
  case object VitalStatus extends Context { val kind = KVitalStatus }
  final case class TimeAtLastEncounter(t: TimeKind) extends Timed {
    val kind = KTimeAtLastEncounter
    def withTime(t: TimeKind): Timed = copy(t = t)
  }
  final case class TimeOfDeath(t: TimeKind) extends Timed {
    val kind = KTimeOfDeath
    def withTime(t: TimeKind): Timed = copy(t = t)
  }
  case object CauseOfDeath extends Context { val kind = KCauseOfDeath }
  case object SurvivalTimeDays extends Context { val kind = KSurvivalTimeDays }

  // --- Phenotype / disease ------------------------------------------
  case object Hpo extends Context { val kind = KHpo }
  case object Disease extends Context { val kind = KDisease }
  case object MultiHpoId extends Context { val kind = KMultiHpoId }
  final case class Onset(t: TimeKind) extends Timed {
    val kind = KOnset
    def withTime(t: TimeKind): Timed = copy(t = t)
  }
  case object HpoOrDisease extends Context { val kind = KHpoOrDisease }
  final case class TimeOfResolution(t: TimeKind) extends Timed {
    val kind = KTimeOfResolution
    def withTime(t: TimeKind): Timed = copy(t = t)
  }
  case object Severity extends Context { val kind = KSeverity }
  case object ObservationStatus extends Context { val kind = KObservationStatus }
  case object PrimarySite extends Context { val kind = KPrimarySite }

  // --- Genetics ------------------------------------------------------
  case object Hgvs extends Context { val kind = KHgvs }
  case object Hgnc extends Context { val kind = KHgnc }

  // --- Measurements --------------------------------------------------
  final case class QuantitativeMeasurement(assayId: String, unitOntologyId: String)
      extends Context { val kind = KQuantitativeMeasurement }
  final case class QualitativeMeasurement(assayId: String)
      extends Context { val kind = KQualitativeMeasurement }
  final case class TimeOfMeasurement(t: TimeKind) extends Timed {
    val kind = KTimeOfMeasurement
    def withTime(t: TimeKind): Timed = copy(t = t)
  }
  case object ReferenceRangeStart extends Context { val kind = KReferenceRangeStart }
  case object ReferenceRangeEnd extends Context { val kind = KReferenceRangeEnd }

  // --- Medical actions ----------------------------------------------
  case object TreatmentAgent extends Context { val kind = KTreatmentAgent }
  case object RouteOfAdministration extends Context { val kind = KRouteOfAdministration }
  case object DrugType extends Context { val kind = KDrugType }
  case object TreatmentTarget extends Context { val kind = KTreatmentTarget }
  case object TreatmentIntent extends Context { val kind = KTreatmentIntent }
  case object ResponseToTreatment extends Context { val kind = KResponseToTreatment }
  case object TreatmentTerminationReason extends Context { val kind = KTreatmentTerminationReason }
  case object Procedure extends Context { val kind = KProcedure }
  case object ProcedureBodySite extends Context { val kind = KProcedureBodySite }
  final case class TimeOfProcedure(t: TimeKind) extends Timed {
    val kind = KTimeOfProcedure
    def withTime(t: TimeKind): Timed = copy(t = t)
  }
  case object QuantityValue extends Context { val kind = KQuantityValue }
  case object QuantityUnit extends Context { val kind = KQuantityUnit }

  case object NoContext extends Context { val kind = KNone }

  /** The contexts a config names without a parameter, by kind; the
    * six [[Timed]] ones and the two measurements take one.
    */
  val plain: Map[ContextKind, Context] = Seq(SubjectId, SubjectSex, DateOfBirth, VitalStatus,
    CauseOfDeath, SurvivalTimeDays, Hpo, Disease, MultiHpoId, HpoOrDisease, Severity,
    ObservationStatus, PrimarySite, Hgvs, Hgnc, ReferenceRangeStart, ReferenceRangeEnd,
    TreatmentAgent, RouteOfAdministration, DrugType, TreatmentTarget, TreatmentIntent,
    ResponseToTreatment, TreatmentTerminationReason, Procedure, ProcedureBodySite,
    QuantityValue, QuantityUnit, NoContext).map(c => c.kind -> c).toMap
}

/** Field-stripped discriminant mirror of Context (reference
  * `context.rs:38-46`, strum `ContextKind`): used for "any
  * QuantitativeMeasurement regardless of assay" style filtering.
  * `name` is the snake_case name a config spells it with.
  */
sealed abstract class ContextKind(val name: String) extends Serializable
object ContextKind {
  case object KSubjectId extends ContextKind("subject_id")
  case object KSubjectSex extends ContextKind("subject_sex")
  case object KDateOfBirth extends ContextKind("date_of_birth")
  case object KVitalStatus extends ContextKind("vital_status")
  case object KTimeAtLastEncounter extends ContextKind("time_at_last_encounter")
  case object KTimeOfDeath extends ContextKind("time_of_death")
  case object KCauseOfDeath extends ContextKind("cause_of_death")
  case object KSurvivalTimeDays extends ContextKind("survival_time_days")
  case object KHpo extends ContextKind("hpo")
  case object KDisease extends ContextKind("disease")
  case object KMultiHpoId extends ContextKind("multi_hpo_id")
  case object KOnset extends ContextKind("onset")
  case object KHpoOrDisease extends ContextKind("hpo_or_disease")
  case object KTimeOfResolution extends ContextKind("time_of_resolution")
  case object KSeverity extends ContextKind("severity")
  case object KObservationStatus extends ContextKind("observation_status")
  case object KPrimarySite extends ContextKind("primary_site")
  case object KHgvs extends ContextKind("hgvs")
  case object KHgnc extends ContextKind("hgnc")
  case object KQuantitativeMeasurement extends ContextKind("quantitative_measurement")
  case object KQualitativeMeasurement extends ContextKind("qualitative_measurement")
  case object KTimeOfMeasurement extends ContextKind("time_of_measurement")
  case object KReferenceRangeStart extends ContextKind("reference_range_start")
  case object KReferenceRangeEnd extends ContextKind("reference_range_end")
  case object KTreatmentAgent extends ContextKind("treatment_agent")
  case object KRouteOfAdministration extends ContextKind("route_of_administration")
  case object KDrugType extends ContextKind("drug_type")
  case object KTreatmentTarget extends ContextKind("treatment_target")
  case object KTreatmentIntent extends ContextKind("treatment_intent")
  case object KResponseToTreatment extends ContextKind("response_to_treatment")
  case object KTreatmentTerminationReason extends ContextKind("treatment_termination_reason")
  case object KProcedure extends ContextKind("procedure")
  case object KProcedureBodySite extends ContextKind("procedure_body_site")
  case object KTimeOfProcedure extends ContextKind("time_of_procedure")
  case object KQuantityValue extends ContextKind("quantity_value")
  case object KQuantityUnit extends ContextKind("quantity_unit")
  case object KNone extends ContextKind("none")

  /** Every kind by its config name: the plain contexts' and the eight
    * parameterized ones'.
    */
  val byName: Map[String, ContextKind] = (Context.plain.keys ++ Seq(KTimeAtLastEncounter,
    KTimeOfDeath, KOnset, KTimeOfResolution, KQuantitativeMeasurement, KQualitativeMeasurement,
    KTimeOfMeasurement, KTimeOfProcedure)).map(k => k.name -> k).toMap
}
