package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.types.{DataType, DateType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import java.time.{DateTimeException, ZoneId, ZonedDateTime}
import java.time.format.{DateTimeFormatter, DateTimeParseException}
import java.util.concurrent.ConcurrentHashMap
import java.util.regex.Pattern

/** The multi-format date (`timestamp = false`) or datetime
  * (`timestamp = true`) parse of [[graft.clean.Casts]] as ONE native
  * expression, null when unparseable. The only parser of date and time
  * cells in the ETL: the preprocessor's casts, `date_to_age` (through
  * `Casts.toTimestampMulti`) and the assembler's `collect.TimeParse`
  * (through [[MultiFormatParse.timestampBoxed]] in UTC) all use it;
  * `DateParseGuardSpec` keeps other parsers out.
  *
  * Same cascade, same order and same results as the column algebra it
  * replaces (10 chained `try_to_timestamp` formats behind `rlike`
  * guards): that spelling was re-inlined into every plan that touched a
  * date, and a date elected by the preprocessor then re-parsed by
  * `date_to_age` grew one generated method past janino's 64 KB limit.
  * A static call keeps each plan's generated code small.
  *
  * Date: a bare 4-digit year is Jan 1 of that year; otherwise, if the
  * string has a `-`, `.` or `/`, the first of `Casts.dateFormats` that
  * parses wins, truncated to the day in the session zone. Datetime: if
  * the string has a `:`, the first of `Casts.datetimeFormats`; then, if
  * it has a letter, RFC-1123 (java.time's `RFC_1123_DATE_TIME`: Spark
  * ≥3 rejects week-day letters in its own patterns); then the date
  * parse at midnight in the session zone. The guards use
  * `java.util.regex` `find()`, as `rlike` does.
  *
  * The zone comes from the analyzer (session time zone), never from the
  * conf at the time the `Column` is built.
  */
case class MultiFormatParse(child: Expression, timestamp: Boolean,
    timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = if (timestamp) TimestampType else DateType
  override def nullable: Boolean = true
  override def prettyName: String = if (timestamp) "to_timestamp_multi" else "to_date_multi"

  override def withTimeZone(timeZoneId: String): MultiFormatParse =
    copy(timeZoneId = Option(timeZoneId))

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    if (timestamp) MultiFormatParse.timestampBoxed(s, zoneId)
    else MultiFormatParse.dateBoxed(s, zoneId)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = MultiFormatParse.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val zone = ctx.addReferenceObj("zoneId", zoneId, classOf[ZoneId].getName)
    val (boxType, call, unbox) =
      if (timestamp) ("Long", "timestampBoxed", "longValue")
      else ("Integer", "dateBoxed", "intValue")
    val boxed = ctx.freshName("boxed")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |$boxType $boxed = ($cls).$call($c, $zone);
         |if ($boxed == null) { ${ev.isNull} = true; } else { ${ev.value} = $boxed.$unbox(); }
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MultiFormatParse =
    copy(child = newChild)
}

object MultiFormatParse {

  private val BareYear = Pattern.compile("^\\d{4}$")
  private val DateSeparator = Pattern.compile("[-./]")
  private val TimeSeparator = Pattern.compile(":")
  private val Letter = Pattern.compile("[A-Za-z]")
  private val JanFirst = UTF8String.fromString("-01-01")

  /** One zone's parsers, built as `GetTimestamp` builds its own
    * (`try_to_timestamp`'s formatter: SIMPLE_DATE_FORMAT legacy
    * fallback, parsing, zoned). The time-parser policy is read once,
    * when a zone's parsers are first built.
    */
  private final class Parsers(zone: ZoneId) {
    private def build(formats: Seq[String]): Array[TimestampFormatter] =
      formats.map(f => TimestampFormatter(f, zone, LegacyDateFormats.SIMPLE_DATE_FORMAT,
        isParsing = true, forTimestampNTZ = false)).toArray
    val date: Array[TimestampFormatter] = build(graft.clean.Casts.dateFormats)
    val datetime: Array[TimestampFormatter] = build(graft.clean.Casts.datetimeFormats)
  }

  /** Once per zone per JVM; the default (java.time) formatters are
    * immutable, so every task thread shares them. */
  private val byZone = new ConcurrentHashMap[ZoneId, Parsers]()
  private def parsers(zone: ZoneId): Parsers = byZone.computeIfAbsent(zone, z => new Parsers(z))

  /** Micros of the first format that parses, or null. Only the parse
    * failures `try_to_timestamp` maps to null are caught
    * (`DateTimeParseException` is a `DateTimeException`). */
  private def firstParse(formats: Array[TimestampFormatter], s: String): java.lang.Long = {
    var i = 0
    while (i < formats.length) {
      try return java.lang.Long.valueOf(formats(i).parse(s))
      catch { case _: DateTimeException | _: java.text.ParseException => }
      i += 1
    }
    null
  }

  /** Micros of an RFC-1123 datetime ("Mon, 04 Sep 2025 11:00:59 GMT";
    * the reference's `%a, %d %b %Y %H:%M:%S GMT`), or null. */
  private def rfc1123Boxed(s: String): java.lang.Long =
    try {
      val i = ZonedDateTime.parse(s.trim, DateTimeFormatter.RFC_1123_DATE_TIME).toInstant
      java.lang.Long.valueOf(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    } catch { case _: DateTimeParseException => null }

  /** Epoch days, or null. */
  def dateBoxed(s: UTF8String, zone: ZoneId): java.lang.Integer = {
    val str = s.toString
    if (BareYear.matcher(str).find())
      DateTimeUtils.stringToDate(UTF8String.concat(s, JanFirst)) match {
        case Some(days) => java.lang.Integer.valueOf(days)
        case None       => null
      }
    else if (DateSeparator.matcher(str).find()) {
      val micros = firstParse(parsers(zone).date, str)
      if (micros == null) null
      else java.lang.Integer.valueOf(DateTimeUtils.microsToDays(micros, zone))
    } else null
  }

  /** Micros since epoch, or null; naive datetimes and dates are in
    * `zone`. The JVM entry point for callers outside a Spark plan. */
  def timestampBoxed(s: UTF8String, zone: ZoneId): java.lang.Long = {
    val str = s.toString
    if (TimeSeparator.matcher(str).find()) {
      val micros = firstParse(parsers(zone).datetime, str)
      if (micros != null) return micros
    }
    if (Letter.matcher(str).find()) {
      val micros = rfc1123Boxed(str)
      if (micros != null) return micros
    }
    val days = dateBoxed(s, zone)
    if (days == null) null else java.lang.Long.valueOf(DateTimeUtils.daysToMicros(days, zone))
  }
}
