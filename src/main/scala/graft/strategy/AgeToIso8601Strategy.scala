package graft.strategy

import graft.functions.DateTimeFns
import graft.model._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** T3 — integral ages 0..=150 become ISO-8601 `P{n}Y`; existing ISO-8601
  * durations pass through trimmed; any other value is a reject
  * ([[CellRuleStrategy]]; reference
  * `phenoxtract/src/transform/strategies/age_to_iso8601.rs:44-158`).
  * Targets columns with NO header context and an age-typed data context.
  */
final case class AgeToIso8601Strategy() extends CellRuleStrategy {
  val name = "age_to_iso8601"

  protected def targets(cdf: Cdf): Seq[String] =
    cdf.columnsWhere(sc => sc.headerContext == Context.NoContext && (sc.dataContext match {
      case d: Context.Timed => d.t == TimeKind.Age
      case _                => false
    }))

  protected def rule(spark: SparkSession): Column => Column = { s =>
    val yrs = s.try_cast("double")
    when(s.rlike(DateTimeFns.iso8601DurationRegex), s)
      .when(yrs === floor(yrs) && yrs.between(0, 150),
        concat(lit("P"), yrs.cast("long").cast("string"), lit("Y")))
  }

  protected def hint: String = "values were neither ISO8601 nor years"
}
