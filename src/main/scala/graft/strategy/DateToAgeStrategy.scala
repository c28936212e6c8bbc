package graft.strategy

import graft.model._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StringType, TimestampType}

/** T4 — convert every date-typed time column into an ISO-8601 age
  * relative to the patient's date of birth, then rewrite the data
  * contexts `*(Date) → *(Age)` (reference
  * `phenoxtract/src/transform/strategies/date_to_age.rs:55-322`).
  *
  * Spark shape: the patient→DOB map is assembled with one aggregation
  * over the union of all DateOfBirth columns (erroring when a patient
  * carries conflicting DOBs — reference `date_to_age.rs:222-271`) and
  * collected to the driver, where the reference builds the same map. It
  * rides a Spark broadcast and every table reads a cell's DOB through a
  * lookup UDF on its subject id, so the fact tables never shuffle.
  *
  * `strict`: a date cell whose patient has no DOB is an error; lenient
  * mode leaves null.
  *
  * Date and timestamp columns are cast to dates directly; any other
  * column is parsed as a string by the preprocessor's parser
  * (`Casts.toTimestampMulti`), so a cell the preprocessor would reject
  * (`2020-7`, `2020-07-01 junk`) is an unparseable date here too.
  */
final case class DateToAgeStrategy(strict: Boolean = true) extends Strategy {
  val name = "date_to_age"

  private def dateCols(cdf: Cdf): Seq[(String, SeriesContext)] =
    cdf.bindings.filter(_._2.dataContext match {
      case d: Context.Timed => d.t == TimeKind.Date
      case _                => false
    })

  override def isValid(tables: Seq[Cdf]): Boolean =
    tables.exists(t => dateCols(t).nonEmpty) &&
      tables.exists(t => t.columnsOfKind(ContextKind.KDateOfBirth).nonEmpty)

  protected def internalTransform(tables: Seq[Cdf]): Seq[Cdf] = {
    val bc = tables.head.df.sparkSession.sparkContext.broadcast(buildDobMap(tables))
    val dobOf = udf((s: String) => if (s == null) null else bc.value.getOrElse(s, null))

    Cdf.parMap(tables) { cdf =>
      val targets = dateCols(cdf)
      if (targets.isEmpty) cdf
      else {
        val dob = dobOf(col(cdf.subjectIdColumn).cast("string")).cast("date")
        val dates = targets.map { case (c, _) => c -> toDate(cdf.df, c) }.toMap

        // ONE validation aggregate for all three error classes over all
        // date columns (was three full scans): negative ages, strict
        // orphans, and unparseable non-null dates — the reference
        // accumulates the parse failure into its error set regardless
        // of strict (`date_to_age.rs:184-187`); silently nulling the
        // onset would erase it from the packet.
        val checks = targets.zipWithIndex.flatMap { case ((c, _), i) =>
          Seq(
            count(when(dates(c) < dob, 1)).as(s"__neg_$i"),
            count(when(dates(c).isNotNull && dob.isNull, 1)).as(s"__orph_$i"),
            count(when(dob.isNotNull && col(c).isNotNull &&
              dates(c).isNull, 1)).as(s"__bad_$i"))
        }
        val row = cdf.df.agg(checks.head, checks.tail: _*).head()
        def flagged(offset: Int): Seq[String] = targets.map(_._1).zipWithIndex.collect {
          case (c, i) if row.getLong(3 * i + offset) > 0 => c
        }
        val negCols = flagged(0)
        if (negCols.nonEmpty)
          throw MappingException(name, negCols,
            "column(s) contain dates before the patient's date of birth")
        val badCols = flagged(2)
        if (badCols.nonEmpty)
          throw MappingException(name, badCols,
            "column(s) contain unparseable date values")
        if (strict) {
          val bad = flagged(1)
          if (bad.nonEmpty)
            throw MappingException(name, bad,
              "column(s) contain dates for patients with no date of birth")
        }

        // Native CalendarAgeIso, not the calendarDiff+toIso8601 column
        // algebra: the algebraic form re-inlines the multi-format date
        // parse into every diff component and blew past janino's method
        // limits (stage fell back to interpreted eval).
        // A missing DOB under NON-strict keeps the RAW date cell (the
        // reference returns AnyValue::String(date) there,
        // `date_to_age.rs:177-179`) — nulling it would silently erase
        // the observation's time information.
        val converted = targets.foldLeft(cdf.df) { case (acc, (c, _)) =>
          val age = graft.functions.GraftExtensions.calendar_age_iso(dob, dates(c))
          acc.withColumn(c,
            if (strict) age
            else when(dob.isNull, col(c).cast("string")).otherwise(age))
        }

        // Context rewrite *(Date) → *(Age), driver-side.
        val newSeries = cdf.context.seriesContexts.map { sc =>
          sc.dataContext match {
            case d: Context.Timed if d.t == TimeKind.Date => sc.copy(dataContext = d.withTime(TimeKind.Age))
            case _                                        => sc
          }
        }
        Cdf(cdf.context.copy(seriesContexts = newSeries), converted)
      }
    }
  }

  /** Column `name` of `df` as a date: DateType/TimestampType columns
    * (preprocessor-cast) directly, anything else through the
    * preprocessor's multi-format datetime parse of its string form.
    */
  private def toDate(df: DataFrame, name: String): Column = df.schema(name).dataType match {
    case DateType | TimestampType => col(name).cast(DateType)
    case _ => graft.clean.Casts.toTimestampMulti(col(name).cast(StringType)).cast(DateType)
  }

  /** Patient id → DOB as its exact `yyyy-MM-dd` string cast (the JVM
    * element type of a collected DateType varies with the java8API
    * config, the string round-trip does not). Conflicting DOBs for one
    * patient → error with the offending subject ids.
    *
    * The map is COLLECTED to the driver (the reference builds the same
    * hash map driver-side, `date_to_age.rs:222-271`): it is one entry
    * per patient, and a lazily re-evaluated distributed map would
    * re-scan every DOB column once per action on every table's plan.
    * One union-aggregate pass total, conflict check included.
    */
  private def buildDobMap(tables: Seq[Cdf]): Map[String, String] = {
    val pieces = for {
      cdf <- tables
      dobCol <- cdf.columnsOfKind(ContextKind.KDateOfBirth)
    } yield cdf.df
      .select(col(cdf.subjectIdColumn).cast("string").as("__subject"),
        toDate(cdf.df, dobCol).as("__dob"))
      .filter(col("__dob").isNotNull)
    require(pieces.nonEmpty, s"strategy $name: no DateOfBirth column found")

    val rows = pieces.reduce(_ unionByName _)
      .groupBy(col("__subject"))
      .agg(collect_set(col("__dob").cast("string")).as("__dobs"))
      .collect()
    val conflicted = rows.filter(_.getSeq[String](1).size > 1)
      .map(_.getString(0)).take(20)
    if (conflicted.nonEmpty)
      throw MappingException(name, conflicted.toSeq,
        "patient(s) with more than one distinct date of birth")
    rows.map(r => r.getString(0) -> r.getSeq[String](1).head).toMap
  }
}
