package graft.strategy

import graft.model.Cdf
import org.apache.spark.sql.DataFrame

/** Config-ordered whole-table transform (reference
  * `phenoxtract/src/transform/strategies/traits.rs:16-30`): guard, then
  * run over ALL tables at once (cross-table strategies like DateToAge
  * need the full set).
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

/** Error-accumulation semantics shared by the mapping-shaped strategies
  * (reference `mapping.rs:202-277`, `age_to_iso8601.rs:92-157`,
  * `date_to_age.rs:106-215`): offending DISTINCT values are gathered
  * across all tables with a cheap second-pass filter+collect, then the
  * strategy fails once with the complete set — never throw from inside
  * a row-level expression.
  */
final case class MappingException(strategy: String, badValues: Seq[String], hint: String = "")
    extends RuntimeException(
      s"strategy $strategy: unmappable value(s): ${badValues.mkString("'", "', '", "'")}" +
        (if (hint.nonEmpty) s" — $hint" else ""))

object MappingException {

  /** The one reject path of the mapping-shaped strategies. `probes`
    * holds one frame per target column, each a single string column of
    * that column's offending values. Their union's distinct values are
    * collected in ONE job, capped at 50 in total, and the strategy
    * fails once when any are found.
    */
  def rejectAny(strategy: String, probes: Seq[DataFrame], hint: String): Unit =
    if (probes.nonEmpty) {
      val bad = probes.reduce(_ union _).distinct().limit(50).collect().map(_.getString(0))
      if (bad.nonEmpty) throw MappingException(strategy, bad.toSeq, hint)
    }
}
