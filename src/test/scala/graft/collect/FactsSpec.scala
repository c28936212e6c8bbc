package graft.collect

import graft.SparkSpec
import graft.model._

/** Fact extraction over tables that did not go through the
  * preprocessor (direct callers, the catalog's `etl_assembly`).
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
}
