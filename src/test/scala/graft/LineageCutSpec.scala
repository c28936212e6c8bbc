package graft

import graft.clean.Preprocessor
import graft.extract.{CsvSource, CsvSourceConfig}
import graft.model._
import graft.strategy.MappingStrategy
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.LogicalRelation

import java.nio.file.Files

/** Each stage hands the next one materialized tables: after
  * `Preprocessor.process`, and after a strategy for every table it
  * rewrote, a table's plan is one checkpointed RDD leaf — no file scan
  * and no earlier rewrites left to re-plan. A table a strategy passed
  * through keeps its frame.
  */
class LineageCutSpec extends SparkSpec {

  private val subject =
    SeriesContext(Identifier.Single("subject_id"), dataContext = Context.SubjectId)

  private def csvTable(name: String, body: String, series: SeriesContext*): Cdf = {
    val csv = Files.createTempDirectory("lineage_cut").resolve(s"$name.csv")
    Files.writeString(csv, body)
    CsvSource.extract(spark, CsvSourceConfig(csv.toString, TableContext(name, subject +: series)))
  }

  private def isCut(df: DataFrame): Boolean = df.queryExecution.analyzed match {
    case r: LogicalRDD => r.rdd.isCheckpointed
    case _             => false
  }

  test("preprocess and a strategy cut the lineage of every table they rewrite") {
    val basic = csvTable("basic", "subject_id,Sex\nP1, m \nP2,female\n",
      SeriesContext(Identifier.Single("Sex"), dataContext = Context.SubjectSex))
    val pheno = csvTable("pheno", "subject_id,phenotype\nP1,HP:0001945\n",
      SeriesContext(Identifier.Single("phenotype"), dataContext = Context.Hpo))
    assert(basic.df.queryExecution.analyzed.collectFirst { case r: LogicalRelation => r }.nonEmpty)

    val pre = Seq(basic, pheno).map(Preprocessor.process)
    pre.foreach { t =>
      assert(isCut(t.df), s"${t.context.name}: ${t.df.queryExecution.analyzed}")
      assert(t.df.queryExecution.analyzed.collectFirst { case r: LogicalRelation => r }.isEmpty)
    }

    val out = MappingStrategy.defaultSex.transform(pre)
    assert(out(0).df ne pre(0).df)
    assert(isCut(out(0).df), out(0).df.queryExecution.analyzed.toString)
    assert(out(1).df eq pre(1).df, "a table the strategy passed through keeps its frame")
    assert(out(0).df.collect().map(_.getString(1)).toSeq == Seq("MALE", "FEMALE"))
  }
}
