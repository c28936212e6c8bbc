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
}

/** Field-stripped discriminant mirror of Context (reference
  * `context.rs:38-46`, strum `ContextKind`): used for "any
  * QuantitativeMeasurement regardless of assay" style filtering.
  */
sealed trait ContextKind
object ContextKind {
  case object KSubjectId extends ContextKind
  case object KSubjectSex extends ContextKind
  case object KDateOfBirth extends ContextKind
  case object KVitalStatus extends ContextKind
  case object KTimeAtLastEncounter extends ContextKind
  case object KTimeOfDeath extends ContextKind
  case object KCauseOfDeath extends ContextKind
  case object KSurvivalTimeDays extends ContextKind
  case object KHpo extends ContextKind
  case object KDisease extends ContextKind
  case object KMultiHpoId extends ContextKind
  case object KOnset extends ContextKind
  case object KHpoOrDisease extends ContextKind
  case object KTimeOfResolution extends ContextKind
  case object KSeverity extends ContextKind
  case object KObservationStatus extends ContextKind
  case object KPrimarySite extends ContextKind
  case object KHgvs extends ContextKind
  case object KHgnc extends ContextKind
  case object KQuantitativeMeasurement extends ContextKind
  case object KQualitativeMeasurement extends ContextKind
  case object KTimeOfMeasurement extends ContextKind
  case object KReferenceRangeStart extends ContextKind
  case object KReferenceRangeEnd extends ContextKind
  case object KTreatmentAgent extends ContextKind
  case object KRouteOfAdministration extends ContextKind
  case object KDrugType extends ContextKind
  case object KTreatmentTarget extends ContextKind
  case object KTreatmentIntent extends ContextKind
  case object KResponseToTreatment extends ContextKind
  case object KTreatmentTerminationReason extends ContextKind
  case object KProcedure extends ContextKind
  case object KProcedureBodySite extends ContextKind
  case object KTimeOfProcedure extends ContextKind
  case object KQuantityValue extends ContextKind
  case object KQuantityUnit extends ContextKind
  case object KNone extends ContextKind
}
