package graft.collect

import graft.SparkSpec
import graft.model._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Fact extraction: the driver-side plan of one table, and the
  * operator over tables that did not go through the preprocessor
  * (direct callers, the catalog's `etl_assembly`).
  */
class FactsSpec extends SparkSpec {
  import spark.implicits._

  test("blank subjects are dropped, whitespace by Java trim, not only spaces") {
    val df = Seq(("P1", "MALE"), ("\t", "FEMALE"), (" \r\n ", "MALE"), ("  ", "MALE"))
      .toDF("subject_id", "sex")
    val cdf = Cdf.validated(TableContext("t", Seq(
      SeriesContext(Identifier.Single("subject_id"), dataContext = Context.SubjectId),
      SeriesContext(Identifier.Single("sex"), dataContext = Context.SubjectSex))), df)
    assert(Facts.extract(cdf).collect().map(_.subject).distinct.toSeq == Seq("P1"))
  }

  test("plan: every fact kind of one table, its sources, in idx order, without a Spark job") {
    import FactKinds._
    import FactPlan._
    def sc(id: String, ctx: Context, block: String = null, header: Context = Context.NoContext) =
      SeriesContext(Identifier.Single(id), headerContext = header, dataContext = ctx,
        buildingBlockId = Option(block))
    val series = Seq(
      sc("subject_id", Context.SubjectId), sc("sex", Context.SubjectSex),
      sc("dob", Context.DateOfBirth),
      sc("hpo", Context.Hpo, "A"), sc("onset", Context.Onset(TimeKind.Age), "A"),
      sc("resolved", Context.TimeOfResolution(TimeKind.Age), "A"),
      sc("severity", Context.Severity, "A"), sc("observed", Context.ObservationStatus, "A"),
      sc("HP:0000002#B", Context.ObservationStatus, header = Context.Hpo),
      sc("disease", Context.Disease, "G"),
      sc("height", Context.QuantitativeMeasurement("LOINC:1", "UO:1"), "M"),
      sc("measured", Context.TimeOfMeasurement(TimeKind.Date), "M"),
      sc("nitrite", Context.QualitativeMeasurement("LOINC:2"), "M"),
      sc("procedure", Context.Procedure, "R"), sc("site", Context.ProcedureBodySite, "R"),
      sc("agent", Context.TreatmentAgent, "T"), sc("route", Context.RouteOfAdministration, "T"),
      sc("gene", Context.Hgnc, "G"), sc("hgvs1", Context.Hgvs, "G"), sc("hgvs2", Context.Hgvs, "G"),
      sc("loose_hgvs", Context.Hgvs))
    // any job over this frame fails: planning must not start one
    def table(series: Seq[SeriesContext]) = Cdf(TableContext("t", series), spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(1), 1).map[Row](_ => sys.error("plan started a Spark job")),
      StructType(series.map(_.identifier).collect {
        case Identifier.Single(name) => StructField(name, StringType)
      })))

    val plans = Facts.plan(table(series))
    val variants = HgvsJoin(Seq("hgvs1", "hgvs2"))
    assert(plans == Seq(
      FactPlan(Subject, "", Nil, Nil),
      FactPlan(Individual_, "", Seq(Cell("sex")), Seq("field" -> Lit("sex"), "value" -> Cell("sex"))),
      FactPlan(Individual_, "", Seq(Cell("dob")),
        Seq("field" -> Lit("dateOfBirth"), "value" -> Cell("dob"))),
      FactPlan(HpoCell, "A", Seq(Cell("hpo")), Seq("hpo" -> Cell("hpo"), "onset" -> Cell("onset"),
        "resolution" -> Cell("resolved"), "severity" -> Cell("severity"),
        "observed" -> Cell("observed"))),
      FactPlan(HpoHeader, "B", Seq(Cell("HP:0000002#B")),
        Seq("hpo" -> Lit("HP:0000002"), "observed" -> Cell("HP:0000002#B"))),
      FactPlan(DiseaseK, "G", Seq(Cell("disease")), Seq("term" -> Cell("disease"))),
      FactPlan(Quant, "M", Seq(Cell("height")), Seq("assay" -> Lit("LOINC:1"), "unit" -> Lit("UO:1"),
        "value" -> Cell("height"), "time" -> Cell("measured"))),
      FactPlan(Qual, "M", Seq(Cell("nitrite")), Seq("assay" -> Lit("LOINC:2"),
        "value" -> Cell("nitrite"), "time" -> Cell("measured"))),
      FactPlan(ProcedureK, "R", Seq(Cell("procedure")),
        Seq("code" -> Cell("procedure"), "bodySite" -> Cell("site"))),
      FactPlan(TreatmentK, "T", Seq(Cell("agent")),
        Seq("agent" -> Cell("agent"), "route" -> Cell("route"))),
      // the block-less HGVS column yields no interpretation
      FactPlan(Interp, "G", Seq(Cell("gene"), variants),
        Seq("gene" -> Cell("gene"), "variants" -> variants, "disease" -> Cell("disease")))))
    assert(plans.flatMap(_.attrs.map(_._1)).toSet.subsetOf(Fact.attrNames.toSet))

    val e = intercept[IllegalStateException](
      Facts.plan(table(series :+ sc("onset2", Context.Onset(TimeKind.Age), "A"))))
    assert(e.getMessage.contains("expected at most one column") &&
      e.getMessage.contains("onset, onset2"), e.getMessage)
  }
}
