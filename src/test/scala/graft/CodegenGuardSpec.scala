package graft

import graft.collect.AssemblerConfig
import graft.extract.{CsvSource, CsvSourceConfig}
import graft.model._
import graft.ontology.BiDictLibrary
import graft.strategy.DateToAgeStrategy

import java.nio.file.Files

/** The ETL's plans must stay inside whole-stage codegen: with
  * `spark.sql.codegen.fallback=false` a generated method that janino
  * cannot compile (e.g. "Code grows beyond 64 KB") fails the run
  * instead of silently dropping to interpreted eval.
  *
  * The shape is a DOB column that the preprocessor elects to date and
  * that `date_to_age` then parses again for its patient→DOB map: with
  * the date cascade spelled as column algebra, the second parse
  * re-inlined the first into one generated method past janino's limit.
  */
class CodegenGuardSpec extends SparkSpec {

  private val subject =
    SeriesContext(Identifier.Single("subject_id"), dataContext = Context.SubjectId)

  test("a DOB column elected to date and read by date_to_age compiles under codegen") {
    val dir = Files.createTempDirectory("codegen_guard")
    val csv = dir.resolve("basic.csv")
    Files.writeString(csv,
      "subject_id,DOB,Date of onset\n" +
        "P001,1990-01-15,1998-04-25\n" +
        "P002,30.06.2000,2001-06-29\n" +
        "P003,1985,2000-01-01\n")
    val basic = CsvSource.extract(spark, CsvSourceConfig(csv.toString,
      TableContext("basic", Seq(subject,
        SeriesContext(Identifier.Single("DOB"), dataContext = Context.DateOfBirth),
        SeriesContext(Identifier.Single("Date of onset"),
          dataContext = Context.Onset(TimeKind.Date))))))
    val pipeline = Pipeline(
      strategies = Seq(DateToAgeStrategy()),
      library = BiDictLibrary(Seq.empty),
      assembler = AssemblerConfig(cohort = "cohort"))

    val key = "spark.sql.codegen.fallback"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    val packets =
      try pipeline.transform(Seq(basic)).collect().sortBy(_.id)
      finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))

    assert(packets.map(_.id).toSeq == Seq("cohort-P001", "cohort-P002", "cohort-P003"))
    assert(packets.map(_.subject.dateOfBirth).toSeq == Seq(
      Some("1990-01-15T00:00:00Z"), Some("2000-06-30T00:00:00Z"), Some("1985-01-01T00:00:00Z")))
  }
}
