package graft.clean

import graft.model.{Cdf, ContextKind}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table preprocessing, run once per table before strategies (reference
  * `phenoxtract/src/transform/data_processing/preprocessor.rs:14-127`):
  *
  *   1. P1 trim all string columns; empty → null;
  *   2. P2 collapse whole-number float columns to long; int → long;
  *   3. P3 re-infer string columns through the ambivalent cast cascade
  *      (bool → long → double → date → datetime);
  *   4. P8 force the SubjectId column to string.
  *
  * The row-level rewrites (1) are pure column expressions; the
  * column-level type decisions (2, 3) cost one small aggregate per
  * candidate column — the reference's semantics ("the whole column must
  * cast losslessly") are inherently column-level, and the guard agg
  * reads only that column (columnar scan keeps this cheap at scale).
  */
object Preprocessor {

  def process(cdf: Cdf): Cdf = {
    val subjectCol = cdf.subjectIdColumn
    var df = trimStrings(cdf.df)
    df = fillMissing(cdf, df)
    df = ensureInts(df)
    df = reinferStrings(df, skip = Set(subjectCol))
    df = df.withColumn(subjectCol, col(subjectCol).cast(StringType))
    // cut the lineage (Cdf.materialized): every strategy check and the
    // load read the cleaned rows instead of re-running the scan, trim
    // and cast cascade
    cdf.copy(df = df).materialized
  }

  /** `fill_missing`: nulls of a series become its declared default.
    * DIVERGENCE, deliberate: the reference parses this field but never
    * applies it (SURVEY §1.2 "declared-but-unused"); the survey's build
    * plan (§7.4) calls for implementing it properly as coalesce.
    * Applied after trim (so empty cells count as missing) and before
    * type re-inference (so the fill value participates in the cascade).
    */
  def fillMissing(cdf: Cdf, df: DataFrame): DataFrame = {
    val fills = cdf.context.bindings(df.columns.toSeq).collect {
      case (c, sc) if sc.fillMissing.isDefined => c -> sc.fillMissing.get
    }
    fills.foldLeft(df) { case (acc, (c, v)) =>
      // Cast the fill literal to the COLUMN's type: bare
      // coalesce(col, lit(string)) string-promotes numeric columns
      // (changing what re-inference later elects) and fails analysis
      // outright on booleans. The fill value is trimmed first — it is
      // injected AFTER trimStrings, which must not be undone.
      val dt = acc.schema(c).dataType
      acc.withColumn(c, coalesce(col(c), lit(v.trim).try_cast(dt)))
    }
  }

  /** P1: trim + empty→null for every string column. */
  def trimStrings(df: DataFrame): DataFrame = {
    val exprs = df.schema.fields.map {
      case f if f.dataType == StringType =>
        Casts.trimEmptyToNull(col(f.name)).as(f.name)
      case f => col(f.name)
    }
    df.select(exprs.toIndexedSeq: _*)
  }

  /** P2: float columns whose values are all whole (and in long range)
    * collapse to long; int32 widens to long.
    */
  def ensureInts(df: DataFrame): DataFrame = {
    val floatCols = df.schema.fields.collect {
      case f if f.dataType == DoubleType || f.dataType == FloatType => f.name
    }.toSeq
    // One aggregate pass for all float columns' integrality guards.
    val collapsible: Seq[String] =
      if (floatCols.isEmpty) Seq.empty
      else {
        val aggs = floatCols.map { n =>
          count(when(Casts.wholeNumberViolation(col(n)), 1)).as(s"__bad_$n")
        }
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        floatCols.zipWithIndex.collect { case (n, i) if row.getLong(i) == 0L => n }
      }
    val exprs = df.schema.fields.map { f =>
      if (collapsible.contains(f.name)) col(f.name).cast(LongType).as(f.name)
      else if (f.dataType == IntegerType) col(f.name).cast(LongType).as(f.name)
      else col(f.name)
    }
    df.select(exprs.toIndexedSeq: _*)
  }

  /** P3: every string column re-infers through the cascade; first
    * lossless cast wins, else stays string. All columns' type elections
    * run in ONE aggregate pass (6 counters per column) — per-column
    * agg jobs would cost O(columns × candidates) scans.
    */
  def reinferStrings(df: DataFrame, skip: Set[String]): DataFrame = {
    val stringCols = df.schema.fields.collect {
      case f if f.dataType == StringType && !skip.contains(f.name) => f.name
    }.toSeq
    val elected = Casts.ambivalentBatch(df, stringCols)
    val exprs = df.schema.fields.map { f =>
      elected.get(f.name) match {
        case Some((dt, casted)) if dt != StringType => casted.as(f.name)
        case _                                      => col(f.name)
      }
    }
    df.select(exprs.toIndexedSeq: _*)
  }
}
