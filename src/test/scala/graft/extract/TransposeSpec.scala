package graft.extract

import graft.SparkSpec
import graft.model._

/** Conditional transpose (reference `data_source.rs:37-77`) through the
  * sources' shared grid → frame path, and the duplicate-field divergence
  * made loud: the reference emits duplicate output columns when the
  * first column repeats a field name, which Spark cannot represent, so
  * the engine fails with the divergence message instead.
  */
class TransposeSpec extends SparkSpec {
  import ExcelSourceSpec.{inlineRows, oneSheetWorkbook, writeTemp}

  private def toDf(grid: Seq[Seq[String]], patientsAreRows: Boolean) =
    Grid.toDataFrame(spark, grid.map(_.toVector).toVector, hasHeaders = true,
      patientsAreRows, "test")

  private def subject(name: String) =
    SeriesContext(Identifier.Single(name), dataContext = Context.SubjectId)

  private def csv(text: String): String = writeTemp(text.getBytes("UTF-8"), ".csv")

  test("patients-in-columns transpose flips orientation") {
    val out = toDf(Seq(
      Seq("Patient ID", "P001", "P002"),
      Seq("Sex", "m", "f"),
      Seq("HPO", "Fever", "Chills")), patientsAreRows = false)
    assert(out.columns.toSeq == Seq("Patient ID", "Sex", "HPO"))
    assert(out.collect().map(_.toSeq).toSeq ==
      Seq(Seq("P001", "m", "Fever"), Seq("P002", "f", "Chills")))
  }

  test("duplicate field names fail loudly instead of silently collapsing") {
    val e = intercept[IllegalArgumentException] {
      toDf(Seq(
        Seq("Patient ID", "P001", "P002"),
        Seq("HPO", "Fever", "Chills"),
        Seq("HPO", "Cough", "Rash")), patientsAreRows = false)
    }
    assert(e.getMessage.contains("duplicate field name"), e.getMessage)
    assert(e.getMessage.contains("HPO"), e.getMessage)
    assert(e.getMessage.contains("data_source.rs"), e.getMessage)
  }

  test("patients-as-rows input passes through untouched, no dup scan") {
    // a normal-orientation table may of course repeat VALUES anywhere;
    // only its header row is checked for duplicates
    val out = toDf(Seq(Seq("id", "hpo"), Seq("P001", "Fever"), Seq("P001", "Fever")),
      patientsAreRows = true)
    assert(out.columns.toSeq == Seq("id", "hpo"))
    assert(out.collect().length == 2)
  }

  test("a transposed CSV with only its field column gives zero rows named by the fields") {
    val ctx = TableContext("t", Seq(subject("Patient ID")))
    val cdf = CsvSource.extract(spark,
      CsvSourceConfig(csv("Patient ID\nSex\n"), ctx, patientsAreRows = false))
    // the same table as a header-only patients-as-rows CSV
    val rowsCdf = CsvSource.extract(spark, CsvSourceConfig(csv("Patient ID,Sex\n"), ctx))
    assert(cdf.df.schema == rowsCdf.df.schema)
    assert(cdf.df.columns.toSeq == Seq("Patient ID", "Sex"))
    assert(cdf.df.count() == 0)
  }

  test("a patients-as-columns table gives the same Cdf read as CSV and as an XLSX sheet") {
    // a blank cell and a short last row, which both sources read as null
    val headered = Seq(
      Seq("Patient ID", "P001", "P002", "P003"),
      Seq("Sex", "m", null, "f"),
      Seq("HPO", "Fever", "Chills"))
    Seq(true -> headered, false -> headered.map(_.tail)).foreach { case (hasHeaders, grid) =>
      val ctx = TableContext("t", Seq(subject(if (hasHeaders) "Patient ID" else "0")))
      val viaCsv = CsvSource.extract(spark, CsvSourceConfig(
        csv(grid.map(_.map(Option(_).getOrElse("")).mkString(",")).mkString("\n")), ctx,
        hasHeaders = hasHeaders, patientsAreRows = false))
      val Seq(viaXlsx) = ExcelSource.extract(spark, writeTemp(oneSheetWorkbook(inlineRows(grid))),
        Seq(ExcelSheetConfig("s", ctx, hasHeaders = hasHeaders, patientsAreRows = false)))
      assert(viaCsv.df.columns.toSeq == viaXlsx.df.columns.toSeq)
      assert(viaCsv.df.collect().toSeq == viaXlsx.df.collect().toSeq)
      assert(viaCsv.df.count() == 3)
    }
  }
}
