package graft.clean

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's casting / type-re-inference surface re-expressed as
  * codegen'd Spark column expressions (no UDFs).
  *
  * Reference: `phenoxtract/src/transform/data_processing/casting.rs` and
  * `phenoxtract/src/constants.rs:3-22` for the format lists; bare-year
  * parsing rule from `data_processing/parsing.rs:36-44`.
  *
  * Everything here is row-parallel and shuffle-free; the only actions are
  * the column-level inference guards (one cheap agg per column), mirroring
  * the reference's "whole column must cast or we fail/skip" semantics.
  */
object Casts {

  /** P1: trim every string; whitespace-only / empty becomes null.
    * JAVA trim (all chars <= U+0020), NOT Spark's one-argument `trim`,
    * which strips only ASCII space: a cell containing "\t" must become
    * null, and "2020-01-01\t" must lose its tab before the date-format
    * cascade (the reference's Rust `str::trim` strips whitespace
    * generally).
    */
  def trimEmptyToNull(c: Column): Column = {
    val t = javaTrim(c)
    when(t === lit(""), lit(null).cast(StringType)).otherwise(t)
  }

  private val JavaTrimSet: String = (0 to 0x20).map(_.toChar).mkString

  /** Java `String.trim` as a column expression: strips all chars
    * <= U+0020 at both ends (Spark's one-argument `trim` strips only the
    * space). The one owner of this rule; `JavaTrimSpec` guards against
    * copies.
    *
    * Spark's `trim` with an explicit trim set, not a `regexp_replace`:
    * the value strategies reference a cell's trimmed form several times
    * per rule, and the regex form made one cold `etl_deep` run generate
    * 3.06 M characters of source where this form generates 2.20 M.
    */
  def javaTrim(c: Column): Column = trim(c, JavaTrimSet)

  /** Date formats tried in order (reference `constants.rs:3-20`,
    * chrono `%Y-%m-%d` etc. → JDK patterns). Zero-padded variants first.
    */
  val dateFormats: Seq[String] =
    Seq("yyyy-MM-dd", "yyyy.MM.dd", "MM/dd/yyyy", "dd-MM-yyyy", "dd.MM.yyyy",
        "yyyy-M-d", "yyyy.M.d", "M/d/yyyy", "d-M-yyyy", "d.M.yyyy")

  /** Datetime formats tried in order (reference `constants.rs:12-20`;
    * RFC-822 rides [[graft.functions.MultiFormatParse]]'s java.time
    * RFC-1123 parse): 'T' or space
    * separator, optional fraction of 1–9 digits (kept to microseconds,
    * Spark's precision), and after a 'T' an optional offset (`Z` or
    * `±HH:MM`). Naive datetimes are in the parse zone.
    */
  val datetimeFormats: Seq[String] =
    Seq("yyyy-MM-dd'T'HH:mm:ss[.SSSSSSSSS][XXX]", "yyyy-MM-dd HH:mm:ss[.SSSSSSSSS]")

  /** P7: multi-format date parse incl. the bare-year rule
    * ("1989" → 1989-01-01). Null-safe: unparseable → null.
    *
    * One native expression ([[graft.functions.MultiFormatParse]]), not
    * column algebra: 10 chained format attempts re-inlined into every
    * plan that touches a date cost janino compile time on each plan,
    * and a date elected here then re-parsed by `date_to_age` grew one
    * generated method past 64 KB. The guards live inside it: a bare
    * 4-digit year goes straight to Jan 1, and only strings with a
    * -/./ separator try the formats (each failed attempt throws inside
    * the JDK formatter, so a non-date column, e.g. a numeric one under
    * ambivalent election, costs one regex per row and no parse).
    */
  def toDateMulti(c: Column): Column = multiFormat(c, timestamp = false)

  /** P7: multi-format datetime parse; RFC-822/1123 (reference
    * `constants.rs:18`, `%a, %d %b %Y %H:%M:%S GMT`) rides java.time's
    * `RFC_1123_DATE_TIME` because Spark ≥3 rejects week-day letters in
    * its own patterns; then falls back to date-only formats (midnight)
    * like the reference cascade. Same native expression as
    * [[toDateMulti]]: the datetime formats are tried only on strings
    * with a ':', RFC-1123 only on strings with a letter.
    */
  def toTimestampMulti(c: Column): Column = multiFormat(c, timestamp = true)

  private def multiFormat(c: Column, timestamp: Boolean): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.functions.MultiFormatParse(GraftColumnBridge.expression(c), timestamp))
  }

  /** P5: strict case-insensitive boolean parse — only "true"/"false"
    * (any case) are accepted; anything else non-null yields null here
    * (the strategy layer turns residual nulls into accumulated errors).
    */
  def toBoolStrict(c: Column): Column =
    when(lower(c) === "true", lit(true))
      .when(lower(c) === "false", lit(false))
      .otherwise(lit(null).cast(BooleanType))

  /** P6: int parse — exact integer strings first, then the reference's
    * float-integrality route ("1.0" → 1L, "1.5" → null). The float
    * fallback is gated to ±2^53 where doubles are exact; beyond that a
    * via-double long would be silently wrong (caught by PropertySpec).
    */
  def toLongViaDouble(c: Column): Column = {
    val direct = c.cast(StringType).try_cast(LongType)
    val d = c.cast(StringType).try_cast(DoubleType)
    val maxExact = 9007199254740992.0 // 2^53
    // STRICT <: a parsed double equal to 2^53 is ambiguous — the
    // source string may have been 2^53+1 (unrepresentable, rounds down
    // to exactly 2^53), so accepting the boundary yields a silently
    // off-by-one long. Only the open interval is provably exact.
    coalesce(
      direct,
      when(d.isNotNull && d === floor(d) && abs(d) < maxExact,
        d.cast(LongType)))
  }

  /** Would casting `name` with `caster` lose any non-null value?
    * Column-level guard — one agg action. `requireValues` distinguishes
    * the INFERENCE use (an all-null column must not "win" the first
    * candidate type) from the SPECIFIC-cast use (an all-null or empty
    * column casts to anything, as in the reference).
    */
  private def lossless(df: DataFrame, name: String, casted: Column,
      requireValues: Boolean): Boolean = {
    val row = df.agg(
      count(col(name)).as("before"),
      count(casted).as("after")).head()
    row.getLong(0) == row.getLong(1) && (!requireValues || row.getLong(0) > 0)
  }

  /** The string casters, in the ambivalent cascade's order; a type
    * not listed casts with `try_cast`. */
  private val casters: Seq[(DataType, Column => Column)] = Seq(
    BooleanType   -> toBoolStrict,
    LongType      -> toLongViaDouble,
    DoubleType    -> ((c: Column) => c.try_cast(DoubleType)),
    DateType      -> toDateMulti,
    TimestampType -> toTimestampMulti)

  private def candidateCasts(c: Column): Seq[(DataType, Column)] =
    casters.map { case (t, cast) => t -> cast(c) }

  /** P3: ambivalent cast — re-infer a string column through the cascade
    * bool → long → double → date → timestamp; first lossless cast wins,
    * else the column stays string. Returns the winning type and the
    * casted column expression (reference `casting.rs:11-46`).
    */
  def ambivalent(df: DataFrame, name: String): (DataType, Column) =
    ambivalentBatch(df, Seq(name))(name)

  /** Batched type election for MANY columns in ONE aggregate pass:
    * 6 counters per column (base + 5 candidates) in a single job,
    * instead of up to 5 full-column agg jobs per column.
    */
  def ambivalentBatch(df: DataFrame, names: Seq[String]): Map[String, (DataType, Column)] = {
    if (names.isEmpty) return Map.empty
    val perCol: Seq[(String, Seq[(DataType, Column)])] =
      names.map(n => n -> candidateCasts(col(n)))
    val aggs: Seq[Column] = perCol.flatMap { case (n, cands) =>
      count(col(n)) +: cands.map { case (_, casted) => count(casted) }
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    perCol.zipWithIndex.map { case ((n, cands), i) =>
      val base = i * (cands.size + 1)
      val before = row.getLong(base)
      val winner = cands.zipWithIndex.collectFirst {
        case ((t, casted), j) if before > 0 && row.getLong(base + 1 + j) == before =>
          (t, casted)
      }
      n -> winner.getOrElse((StringType: DataType, col(n)))
    }.toMap
  }

  /** P4: specific cast — requested dtype or error listing every value
    * that failed to cast (reference `casting.rs:48-89`).
    */
  def specific(df: DataFrame, name: String, target: DataType): DataFrame = {
    val casted = casters.collectFirst { case (t, cast) if t == target => cast(col(name)) }
      .getOrElse(col(name).try_cast(target))
    if (!lossless(df, name, casted, requireValues = false)) {
      val bad = df.filter(col(name).isNotNull && casted.isNull)
        .select(col(name)).distinct().limit(20)
        .collect().map(_.get(0)).mkString(", ")
      throw new IllegalArgumentException(
        s"CastingError: column '$name' has values not castable to $target: $bad")
    }
    df.withColumn(name, casted)
  }

  /** ONE owner of the whole-number-and-in-long-range violation
    * predicate (shared with `Preprocessor.ensureInts` — the boundary
    * rule must not fork). The upper bound is `>=`: Long.MaxValue
    * rounds UP to 2^63 as a double, which is NOT a representable long,
    * so a `>` guard would admit exactly 2^63 and the cast would
    * silently clamp it to Long.MaxValue.
    */
  def wholeNumberViolation(c: Column): Column =
    c =!= floor(c) || c >= 9.223372036854776E18 /* 2^63 */ ||
      c < Long.MinValue.toDouble

  /** P2: is the whole double column integral and in long range?
    * (reference `casting.rs:206-219`) */
  def allWholeNumbers(df: DataFrame, name: String): Boolean = {
    val row = df.agg(
      count(when(wholeNumberViolation(col(name)), 1)).as("bad")).head()
    row.getLong(0) == 0L
  }
}
