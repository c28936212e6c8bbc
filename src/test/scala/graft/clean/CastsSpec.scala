package graft.clean

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cast-cascade parity matrix (ports the semantics of the reference's
  * inline tests, `casting.rs:392-534`).
  */
class CastsSpec extends SparkSpec {
  import spark.implicits._

  private def inferred(values: Seq[String]): DataType = {
    val df = values.toDF("c")
    Casts.ambivalent(df, "c")._1
  }

  test("cascade: booleans win first") {
    assert(inferred(Seq("true", "FALSE", "True")) == BooleanType)
  }

  test("cascade: ints via float integrality") {
    assert(inferred(Seq("1", "2", "-7")) == LongType)
    assert(inferred(Seq("1.0", "2.0")) == LongType) // "1.0" → 1L, reference casting.rs:120-140
  }

  test("cascade: floats when not integral") {
    assert(inferred(Seq("1.5", "2.0")) == DoubleType)
  }

  test("cascade: dates across formats") {
    assert(inferred(Seq("1989-05-01", "01/02/2000")) == DateType)
    assert(inferred(Seq("25.04.1998")) == DateType)
  }

  test("cascade: bare-year column infers as Long (int comes before date)") {
    assert(inferred(Seq("1989", "1990")) == LongType)
  }

  test("explicit date cast: bare year → Jan 1 (parsing.rs:36-44)") {
    val out = Seq("1989", "2001-05-07", "garbage").toDF("c")
      .select(Casts.toDateMulti(col("c")).cast("string").as("d"))
      .collect().map(r => Option(r.getString(0)))
    assert(out.toSeq == Seq(Some("1989-01-01"), Some("2001-05-07"), None))
  }

  test("RFC-822 datetimes parse in the timestamp cascade (constants.rs:18)") {
    val out = Seq("Mon, 04 Sep 2023 11:00:59 GMT", "2023-09-04T11:00:59", "garbage")
      .toDF("c")
      .select(Casts.toTimestampMulti(col("c")).cast("string").as("t"))
      .collect().map(r => Option(r.getString(0)))
    assert(out.toSeq == Seq(
      Some("2023-09-04 11:00:59"), Some("2023-09-04 11:00:59"), None))
    // and the cascade elects TimestampType for an RFC-822 column
    assert(inferred(Seq("Mon, 04 Sep 2023 11:00:59 GMT")) == TimestampType)
  }

  test("cascade: mixed garbage stays string") {
    assert(inferred(Seq("abc", "1", "true")) == StringType)
  }

  test("cascade: all-null column stays string") {
    assert(inferred(Seq(null.asInstanceOf[String], null.asInstanceOf[String])) == StringType)
  }

  test("trimEmptyToNull trims and nulls empties (P1)") {
    val out = Seq("  x ", "   ", "", "y").toDF("c")
      .select(Casts.trimEmptyToNull(col("c")).as("c")).collect().map(r => Option(r.getString(0)))
    assert(out.toSeq == Seq(Some("x"), None, None, Some("y")))
  }

  test("toBoolStrict is case-insensitive and strict (P5)") {
    val out = Seq("TRUE", "false", "yes", null.asInstanceOf[String]).toDF("c")
      .select(Casts.toBoolStrict(col("c")).as("b")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getBoolean(0)))
    assert(out.toSeq == Seq(Some(true), Some(false), None, None))
  }

  test("specific cast errors with the offending values (P4)") {
    val df = Seq("1", "x", "2").toDF("c")
    val e = intercept[IllegalArgumentException](Casts.specific(df, "c", LongType))
    assert(e.getMessage.contains("x"))
  }

  test("allWholeNumbers guard (P2)") {
    assert(Casts.allWholeNumbers(Seq(1.0, 2.0).toDF("c"), "c"))
    assert(!Casts.allWholeNumbers(Seq(1.0, 2.5).toDF("c"), "c"))
  }

  test("trimEmptyToNull strips ALL whitespace <= U+0020, not just spaces") {
    // Spark's trim() strips only 0x20: "\t" previously survived as a
    // non-null cell and "2020-01-01\t" blocked the date cascade
    val out = Seq("\t", "\n", " \r\n ", "2020-01-01\t", "x\ny")
      .toDF("c").select(Casts.trimEmptyToNull(col("c")).as("c"))
      .collect().map(r => Option(r.getString(0)))
    assert(out.toSeq == Seq(None, None, None, Some("2020-01-01"), Some("x\ny")))
  }

  test("javaTrim equals String.trim on every char up to U+0020 and beyond") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // all 33 trimmed chars, then ones Java keeps: NBSP, em space, DEL, é, a surrogate pair
    val alphabet = (0 to 0x20).map(_.toChar) ++ Seq('\u00a0', '\u2003', '\u007f', '\u00e9', 'x')
    val cell = Gen.oneOf(
      Gen.listOf(Gen.oneOf(alphabet)).map(_.mkString),
      Gen.listOf(Gen.oneOf(alphabet)).map(cs => cs.mkString + "\ud83d\ude00" + cs.reverse.mkString))
    val cells = (0 until 300).flatMap(i => cell.apply(Gen.Parameters.default, Seed(i.toLong)))
    val got = cells.toDF("c").select(col("c"), Casts.javaTrim(col("c")).as("t")).collect()
      .map(r => r.getString(0) -> r.getString(1))
    got.foreach { case (c, t) => assert(t == c.trim, s"cell ${c.map(_.toInt).mkString(",")}") }
  }

  test("whole-number long-range boundary: 2^63 as a double is OUT of range") {
    // Long.MaxValue.toDouble rounds UP to 2^63, which is not a
    // representable long — a > guard admitted it and the cast clamped
    val df = Seq(9.223372036854775808E18).toDF("c") // exactly 2^63
    assert(!Casts.allWholeNumbers(df, "c"),
      "2^63 must count as a violation, not silently clamp")
    assert(Casts.allWholeNumbers(Seq(9.223372036854274E18).toDF("c"), "c"))
  }

  test("toLongViaDouble rejects the ambiguous 2^53 boundary (P6)") {
    // "9007199254740993" parses as a double to exactly 2^53 — accepting
    // it yields a silently off-by-one long
    val out = Seq("9007199254740993.0", "9007199254740991.0", "12.0")
      .toDF("c").select(Casts.toLongViaDouble(col("c")).as("l"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(out.toSeq == Seq(None, Some(9007199254740991L), Some(12L)))
  }
}
