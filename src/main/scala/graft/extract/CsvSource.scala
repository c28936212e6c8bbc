package graft.extract

import graft.model.{Cdf, TableContext}
import org.apache.spark.sql.SparkSession

/** CSV extraction (reference S1/S4/S5,
  * `phenoxtract/src/extract/data_source.rs:37-128`).
  *
  * All columns are read as strings; type normalization is the
  * preprocessor's job (the reference reads via Polars inference but then
  * runs every column through its own cast cascade anyway — reading as
  * string + cascading is behaviorally identical and keeps the scan
  * schema stable).
  *
  * The header is only honored when `patientsAreRows && hasHeaders`
  * (reference `data_source.rs:88-101`); otherwise columns get default
  * names "0","1",… (reference `extract/utils.rs:1-3`). A
  * patients-as-columns file is collected in file order and transposed
  * on the driver by [[Grid.toDataFrame]], like an XLSX sheet.
  *
  * `ordinal` is the source's position in a config's single ordered
  * `data_sources` list (see [[graft.config.ConfigLoader]]).
  */
final case class CsvSourceConfig(
    source: String,
    tableContext: TableContext,
    separator: String = ",",
    hasHeaders: Boolean = true,
    patientsAreRows: Boolean = true,
    ordinal: Int = 0)

object CsvSource {

  def extract(spark: SparkSession, cfg: CsvSourceConfig): Cdf = {
    val useHeader = cfg.patientsAreRows && cfg.hasHeaders
    val raw = spark.read
      .option("header", useHeader.toString)
      .option("sep", cfg.separator)
      .option("inferSchema", "false")
      .csv(cfg.source)
    val df =
      if (useHeader) raw
      else if (cfg.patientsAreRows) raw.toDF(defaultColumnNames(raw.columns.length): _*)
      else {
        val grid = raw.collect().toVector.map(r => Vector.tabulate(r.length)(r.getString))
        Grid.toDataFrame(spark, grid, cfg.hasHeaders, patientsAreRows = false,
          s"csv '${cfg.source}'")
      }
    Cdf.validated(cfg.tableContext, df)
  }

  /** Headerless columns are named "0","1",… (reference `extract/utils.rs:1-3`). */
  def defaultColumnNames(n: Int): Seq[String] = (0 until n).map(_.toString)
}
