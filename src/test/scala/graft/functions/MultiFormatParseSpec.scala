package graft.functions

import graft.SparkSpec
import graft.clean.Casts
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

/** The native date cascade ([[MultiFormatParse]], behind
  * `Casts.toDateMulti` / `Casts.toTimestampMulti`) returns exactly what
  * the column algebra it replaced returns, null included, through
  * whole-stage codegen and through interpreted `eval`, in two session
  * zones.
  */
class MultiFormatParseSpec extends SparkSpec {
  import spark.implicits._
  import MultiFormatParseSpec._

  private val zones = Seq("UTC", "America/Los_Angeles")

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val instants = Seq(
    LocalDateTime.of(1989, 5, 1, 0, 0, 0),
    LocalDateTime.of(2020, 2, 29, 23, 59, 59, 123456000),
    LocalDateTime.of(2001, 12, 7, 8, 5, 3, 7000000),
    // nonexistent / ambiguous wall times in America/Los_Angeles
    LocalDateTime.of(2021, 3, 14, 2, 30, 0),
    LocalDateTime.of(2021, 11, 7, 1, 30, 0),
    LocalDateTime.of(1, 1, 1, 0, 0, 0))

  private val inputs: Seq[String] = {
    val formatted = for {
      t <- instants
      f <- Casts.dateFormats ++ Casts.datetimeFormats
    } yield t.atOffset(ZoneOffset.ofHours(-3)).format(DateTimeFormatter.ofPattern(f))
    // fraction lengths 1, 7 and 9 and the offsets ('Z', ±HH:MM) that
    // the optional sections of the datetime formats accept
    val fractions = for {
      t <- instants
      (f, offset) <- Seq("yyyy-MM-dd'T'HH:mm:ss.SXXX" -> 0, "yyyy-MM-dd HH:mm:ss.SSSSSSS" -> 0,
        "yyyy-MM-dd'T'HH:mm:ss.SSSSSSSSSXXX" -> 5)
    } yield t.atOffset(ZoneOffset.ofHours(offset)).format(DateTimeFormatter.ofPattern(f))
    val fixed = Seq(
      // bare years, with a trailing line terminator (`$` matches before it)
      "1989", "0000", "9999", "1989\n", "1989\r\n", "\n1989", "1989 ", "19890", "198",
      // RFC-1123, incl. a wrong week-day and a numeric offset
      "Mon, 04 Sep 2023 11:00:59 GMT", "Tue, 3 Jun 2008 11:05:30 GMT",
      "Fri, 04 Sep 2023 11:00:59 GMT", "Mon, 04 Sep 2023 11:00:59 +0200",
      "Mon, 04 Sep 2023",
      // impossible and leap days, empty, 5-digit years
      "2020-02-30", "2020-02-29", "2019-02-29", "29.02.2020", "02/29/2021", "",
      "12345-01-01", "+12345-01-01", "01/01/12345", "2020-01-01T10:00:00.1234567",
      "2020-06-30T23:59:60", "2020-01-01 10:00", "2020-01-01T10:00:00Z",
      "2020-01-01T10:00:00+14:00", "2020-1-1", "1-1-2020", "1.1.2020", "2020.1.1",
      // no separator at all
      "20200101", "abc", "NaN", "123", "T", " ")
    val alphabet = Gen.oneOf("0123456789-./: TZ+GMTMonSepx,\n".toSeq)
    val random = samples(Gen.choose(0, 24).flatMap(n => Gen.listOfN(n, alphabet).map(_.mkString)), 300)
    val digitsAndSeparators = samples(for {
      parts <- Gen.listOfN(3, Gen.choose(0, 2100).map(_.toString))
      seps <- Gen.listOfN(2, Gen.oneOf("-", ".", "/", ":", " ", "T"))
    } yield parts(0) + seps(0) + parts(1) + seps(1) + parts(2), 300)
    formatted ++ fractions ++ fixed ++ random ++ digitsAndSeparators
  }

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  zones.foreach { zone =>
    test(s"native date cascade equals the column algebra, codegen and eval, in $zone") {
      // The oracle runs with ANSI off: under ANSI its bare-year
      // `to_date` raised CAST_INVALID_INPUT on "1989\n" (`$` matches
      // before a final line terminator); with ANSI off it returned
      // null, which is what the native parse returns in every mode.
      val values = inputs :+ (null: String)
      // an RDD-backed frame: a local relation would be evaluated by the
      // optimizer, never reaching generated code
      def frame = spark.sparkContext.parallelize(values.map(Tuple1(_)), 2).toDF("c")
      val c = col("c")
      val oracle = withConf("spark.sql.session.timeZone" -> zone, "spark.sql.ansi.enabled" -> "false") {
        frame.select(c, unix_date(oracleDate(c)), unix_micros(oracleTimestamp(c))).collect()
      }
      val native = withConf("spark.sql.session.timeZone" -> zone, "spark.sql.codegen.fallback" -> "false") {
        val df = frame.select(unix_date(Casts.toDateMulti(c)), unix_micros(Casts.toTimestampMulti(c)))
        assert(df.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]))
        df.collect()
      }
      val rows = oracle.zip(native).map { case (o, n) => Row.fromSeq(o.toSeq ++ n.toSeq) }
      assert(rows.length == values.size)
      val input = BoundReference(0, StringType, nullable = true)
      val dateExpr = MultiFormatParse(input, timestamp = false, Some(zone))
      val tsExpr = MultiFormatParse(input, timestamp = true, Some(zone))
      // the inputs must exercise the parsing branches, not only the nulls
      val (dates, timestamps) = (rows.count(!_.isNullAt(3)), rows.count(!_.isNullAt(4)))
      assert(dates >= 60 && timestamps >= 100, s"$dates dates, $timestamps timestamps")
      rows.foreach { r =>
        val s = r.getString(0)
        val shown = Option(s).map(_.replace("\n", "\\n").replace("\r", "\\r")).orNull
        val (oDate, oTs) = (r.get(1), r.get(2))
        assert(r.get(3) == oDate, s"codegen date of '$shown' in $zone")
        assert(r.get(4) == oTs, s"codegen timestamp of '$shown' in $zone")
        val row = InternalRow(UTF8String.fromString(s))
        assert(dateExpr.eval(row) == oDate, s"eval date of '$shown' in $zone")
        assert(tsExpr.eval(row) == oTs, s"eval timestamp of '$shown' in $zone")
      }
    }
  }

  test("a bare year with a trailing line terminator parses to null under ANSI") {
    val out = Seq("1989\n", "1989").toDF("c")
      .select(Casts.toDateMulti(col("c")).cast("string")).collect().map(r => Option(r.getString(0)))
    assert(out.toSeq == Seq(None, Some("1989-01-01")))
  }

  test("the zone is taken from the session when the plan is analysed") {
    val c = Casts.toTimestampMulti(lit("2020-01-01"))
    val micros = zones.map(z => withConf("spark.sql.session.timeZone" -> z) {
      spark.range(1).select(unix_micros(c)).head().getLong(0)
    })
    assert(micros(1) - micros(0) == 8L * 3600 * 1000000)
  }
}

object MultiFormatParseSpec {

  /** The date cascade as it was spelled before the native expression:
    * the oracle. */
  def oracleDate(c: Column): Column = {
    val viaFormats = coalesce(Casts.dateFormats.map(f => try_to_timestamp(c, lit(f)).cast(DateType)): _*)
    when(c.rlike("^\\d{4}$"), to_date(concat(c, lit("-01-01"))))
      .otherwise(when(c.rlike("[-./]"), viaFormats))
  }

  /** RFC-1123 micros through java.time, null when unparseable. */
  private val rfc1123Micros = udf { (s: String) =>
    if (s == null) null: java.lang.Long
    else try {
      val i = java.time.ZonedDateTime.parse(s.trim, DateTimeFormatter.RFC_1123_DATE_TIME).toInstant
      java.lang.Long.valueOf(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    } catch { case _: java.time.format.DateTimeParseException => null: java.lang.Long }
  }

  /** The datetime cascade as it was spelled before the native
    * expression: the oracle. */
  def oracleTimestamp(c: Column): Column =
    coalesce(
      when(c.rlike(":"), coalesce(Casts.datetimeFormats.map(f => try_to_timestamp(c, lit(f))): _*)),
      when(c.rlike("[A-Za-z]"), timestamp_micros(rfc1123Micros(c))),
      oracleDate(c).cast(TimestampType))
}
