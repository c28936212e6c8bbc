package graft.extract

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** A table held on the driver as rows of string cells (null = empty
  * cell), and the one path from such a grid to a DataFrame. XLSX sheets
  * arrive as grids; patients-as-columns CSVs are collected into one.
  *
  * Both are driver-sized by construction: a sheet has at most 16,384
  * columns, a CSV at most Spark's default `maxColumns` (20,480), and
  * the reference materialises these tables whole as well.
  */
object Grid {

  type Cells = Vector[Vector[String]]

  /** Conditional transpose (reference `data_source.rs:37-77`): a
    * patients-as-columns grid becomes (output names, patient rows), one
    * row per source column in source order. With `hasHeaders` the FIRST
    * COLUMN holds the output names and a blank name cell is named
    * "null"; without, every column becomes a row and the names are the
    * row indices "0","1",…. Ragged rows are padded with null.
    */
  def transpose(grid: Cells, hasHeaders: Boolean): (Vector[String], Cells) = {
    val width = if (grid.isEmpty) 0 else grid.map(_.length).max
    val cols = Vector.tabulate(width)(j => grid.map(r => if (j < r.length) r(j) else null))
    if (hasHeaders)
      (grid.map(r => if (r.isEmpty || r(0) == null) "null" else r(0)), cols.drop(1))
    else (CsvSource.defaultColumnNames(grid.length).toVector, cols)
  }

  /** Grid → DataFrame of strings in patients-as-rows orientation.
    * Patients-as-columns grids are transposed first; otherwise the first
    * row is the header when `hasHeaders` (a blank header cell takes its
    * index as name), else the names are "0","1",…. `source` names the
    * table in errors.
    */
  def toDataFrame(spark: SparkSession, grid: Cells, hasHeaders: Boolean,
      patientsAreRows: Boolean, source: String): DataFrame = {
    require(grid.nonEmpty, s"$source: empty table")
    val (header, rows) =
      if (!patientsAreRows) transpose(grid, hasHeaders)
      else {
        val width = grid.map(_.length).max
        val padded = grid.map(_.padTo(width, null: String))
        if (hasHeaders)
          (padded.head.zipWithIndex.map { case (h, i) => Option(h).getOrElse(i.toString) },
            padded.tail)
        else (CsvSource.defaultColumnNames(width).toVector, padded)
      }
    // Two same-named columns must never reach the pipeline: an unbound
    // one slips past Cdf.validated, a bound one fails there as
    // "multiple SeriesContexts bind …". Fail here, naming the table.
    val dups = header.diff(header.distinct).distinct
    require(dups.isEmpty, {
      val (kind, fix) =
        if (patientsAreRows) ("header", "header row") else ("field", "field column")
      s"$source: duplicate $kind name(s) ${dups.mkString(", ")} — Spark cannot " +
        "represent duplicate column names (the reference's transpose emits them, " +
        s"data_source.rs:37-77); deduplicate the $fix first"
    })
    val schema = StructType(header.map(StructField(_, StringType, nullable = true)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(Row.fromSeq), 1), schema)
  }
}
