package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IsoDurationSecondsSpec extends SparkSpec {
  import spark.implicits._

  private def viaColumn(values: Seq[String]): Seq[Option[Long]] =
    values.toDF("d")
      .select(GraftExtensions.iso_duration_seconds(col("d")).as("s"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq

  test("component arithmetic incl. weeks, time part, fractional seconds") {
    assert(viaColumn(Seq("P1Y")) == Seq(Some(31557600L)))
    assert(viaColumn(Seq("P2M")) == Seq(Some(2L * 2629800L)))
    assert(viaColumn(Seq("P1W")) == Seq(Some(7L * 86400L)))
    assert(viaColumn(Seq("P3D")) == Seq(Some(3L * 86400L)))
    assert(viaColumn(Seq("PT1H2M3S")) == Seq(Some(3723L)))
    assert(viaColumn(Seq("PT0.5S")) == Seq(Some(1L))) // rounds
    assert(viaColumn(Seq("P1Y2M3DT4H")) ==
      Seq(Some(31557600L + 2L * 2629800L + 3L * 86400L + 4L * 3600L)))
  }

  test("null / garbage / bare P are null") {
    assert(viaColumn(Seq(null.asInstanceOf[String], "garbage", "P", "1Y")) ==
      Seq(None, None, None, None))
  }

  test("regex-valid but Long-overflowing components are null, never a crash or a wrap") {
    assert(viaColumn(Seq(
      "P99999999999999999999Y", // component itself exceeds Long
      "P292471208679Y",         // parses, but × SecondsPerYear wraps negative
      "P1Y")) == Seq(None, None, Some(31557600L)))
  }

  test("toIso8601 renders a negative calendar diff as null, not the invalid bare 'P'") {
    import graft.functions.DateTimeFns
    val df = Seq(("2020-01-01", "2019-01-01"), ("2019-01-01", "2020-01-01"))
      .toDF("a", "b")
      .select(DateTimeFns.toIso8601(DateTimeFns.calendarDiff(
        col("a").cast("date"), col("b").cast("date"))).as("iso"))
    val got = df.collect().map(r => Option(r.getString(0))).toSeq
    assert(got == Seq(None, Some("P1Y")))
  }

  test("stays codegen-compatible (no interpreted fallback errors) over a real column") {
    val df = spark.range(1000)
      .select(concat(lit("P"), col("id").cast("string"), lit("D")).as("d"))
    val sum = df.select(GraftExtensions.iso_duration_seconds(col("d")).as("s"))
      .agg(org.apache.spark.sql.functions.sum("s")).head().getLong(0)
    assert(sum == (0L until 1000L).map(_ * 86400L).sum)
  }
}
