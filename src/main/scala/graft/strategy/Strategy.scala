package graft.strategy

import graft.clean.Casts
import graft.model.Cdf
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.col

/** Config-ordered whole-table transform (reference
  * `phenoxtract/src/transform/strategies/traits.rs:16-30`): guard, then
  * run over ALL tables at once (cross-table strategies like DateToAge
  * need the full set). The value strategies that map each cell by one
  * rule extend [[CellRuleStrategy]].
  */
trait Strategy {
  def name: String

  /** Structural guard — are the required contexts present / coherent? */
  def isValid(tables: Seq[Cdf]): Boolean = true

  protected def internalTransform(tables: Seq[Cdf]): Seq[Cdf]

  /** Runs the strategy and cuts the lineage ([[Cdf.materialized]]) of
    * every table it rewrote, so the next strategy's checks and the load
    * start from its output. A table passed through keeps its frame
    * (`eq`): no job, nothing stored twice.
    *
    * The cuts run concurrently ([[Cdf.parMap]]), as do the per-table
    * checks of `DateToAgeStrategy` and `MultiHpoColExpansionStrategy`;
    * tables keep their input order, and when several tables fail the
    * first table's error is thrown.
    */
  final def transform(tables: Seq[Cdf]): Seq[Cdf] = {
    require(isValid(tables), s"strategy $name: invalid input tables")
    Cdf.parMap(internalTransform(tables)) { t =>
      if (tables.exists(_.df eq t.df)) t else t.materialized
    }
  }
}

/** The contract of the value strategies T2, T3, T6 and T7 (reference
  * `mapping.rs:202-277`, `age_to_iso8601.rs:92-157`): each target cell
  * is mapped by one rule, every value the rule cannot map is collected
  * across all tables, and the strategy fails once with the full set
  * before any table is rewritten — never a throw from inside a row.
  *
  * The rule reads the cell's string form, Java-trimmed with blanks as
  * null (`Casts.trimEmptyToNull`), and a null out of a non-null cell is
  * a reject. A subclass supplies its targets, its rule and its hint;
  * the probe and the rewrite both apply that one rule.
  */
abstract class CellRuleStrategy extends Strategy {

  /** The columns of one table the rule rewrites. */
  protected def targets(cdf: Cdf): Seq[String]

  /** The rule over a cell's string form. Built once per call, so it may
    * capture a broadcast.
    */
  protected def rule(spark: SparkSession): Column => Column

  /** Says what the rejected values missed, for the exception. */
  protected def hint: String

  /** Writes one target's ruled column into its table. */
  protected def write(cdf: Cdf, column: String, ruled: Column): Cdf =
    cdf.copy(df = cdf.df.withColumn(column, ruled))

  override def isValid(tables: Seq[Cdf]): Boolean = tables.exists(targets(_).nonEmpty)

  protected final def internalTransform(tables: Seq[Cdf]): Seq[Cdf] = {
    val f = rule(tables.head.df.sparkSession)
    def cell(c: String): Column = Casts.trimEmptyToNull(col(c).cast("string"))
    val targeted = tables.map(t => t -> targets(t))

    // One job over all tables: the distinct rejected cells, capped at 50.
    val bad = targeted
      .flatMap { case (t, cs) =>
        cs.map(c => t.df.select(cell(c).as("v")).filter(col("v").isNotNull && f(col("v")).isNull))
      }
      .reduce(_ union _).distinct().limit(50).collect().map(_.getString(0))
    if (bad.nonEmpty) throw MappingException(name, bad.toSeq, hint)

    targeted.map { case (t, cs) => cs.foldLeft(t)((acc, c) => write(acc, c, f(cell(c)))) }
  }
}

/** A strategy's rejected values, all of them up to a cap, in one error
  * (thrown by [[CellRuleStrategy]] and `DateToAgeStrategy`).
  */
final case class MappingException(strategy: String, badValues: Seq[String], hint: String = "")
    extends RuntimeException(
      s"strategy $strategy: unmappable value(s): ${badValues.mkString("'", "', '", "'")}" +
        (if (hint.nonEmpty) s" — $hint" else ""))
