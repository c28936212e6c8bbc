package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact discrete per-group percentiles WITHOUT a per-group global
  * sort.
  *
  * The window formulation (`row_number` over each group) is exact but
  * serializes every group into one sort task — with few large groups
  * (the common OLAP shape: status flags, countries), parallelism is
  * capped at the group count no matter the cluster. This operator
  * keeps the exact-selection semantics and restores parallelism:
  *
  *  1. tiny agg: per-group (min, max, count);
  *  2. histogram pass: rows bucketized by value into `buckets`
  *     equal-width bins; per-(group, bucket) counts reduce to the
  *     driver (≤ groups × buckets cells — the driver holds
  *     histograms, never data);
  *  3. the k-th row's bucket + within-bucket rank are located by a
  *     cumulative walk per group;
  *  4. narrow second pass: only rows in located buckets (≈ n/buckets
  *     of the data) are ranked by the full (value, tie…) order — the
  *     per-task work is bucket-sized, not group-sized.
  *
  * Rank arithmetic is sound because bucketing is monotone in the
  * value and value-ties share a bucket: global rank = rows in earlier
  * buckets + rank within the bucket. Heavily duplicated values can
  * swell one bucket (worst case: a constant column → one bucket holds
  * the group); the second pass then degrades toward the window plan
  * for THAT group only.
  *
  * Meant for few-groups/many-rows; with many small groups the plain
  * window formulation already parallelizes and is one pass cheaper.
  */
object Percentiles {

  /** @param percentiles (output column name, fraction); the selected
    *                    row is the `ceil(n * fraction)`-th in
    *                    (value, ties…) order — discrete selection,
    *                    no interpolation (cross-engine reproducible).
    * @param ties        deterministic tie-break columns after the value
    * @return one row per group: groupCol, then one value column per
    *         requested percentile
    */
  def exactDiscrete(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      ties: Seq[String],
      percentiles: Seq[(String, Double)],
      buckets: Int = 1024,
      maxDriverGroups: Int = 4096): DataFrame = {
    checkArgs(percentiles, buckets)
    checkValueType(df, valueCol)
    val data = nonNull(df, groupCol, valueCol)
    val (schema, rows) = collectRanges(data, groupCol, valueCol, maxDriverGroups)
    // The driver histogram holds groups × buckets cells — docstring
    // regime ("few groups, many rows") ENFORCED, not just advised: a
    // high-cardinality group column would otherwise OOM the driver.
    require(rows.isDefined,
      s"more than maxDriverGroups=$maxDriverGroups distinct '$groupCol' groups " +
        s"(the driver histogram would hold > ${maxDriverGroups.toLong * buckets} " +
        "cells) — use windowDiscrete (parallelizes fine across many groups) or " +
        "autoDiscrete (dispatches on the measured group count)")
    histogramPlan(data, groupCol, valueCol, ties, percentiles, buckets, schema, rows.get)
  }

  /** The same discrete selection via the classic window formulation:
    * `row_number` per group, pick the `ceil(n·p)`-th row. One shuffle,
    * but each group sorts in ONE task — right for MANY SMALL groups,
    * parallelism-capped for few large ones (the histogram plan's
    * regime).
    */
  def windowDiscrete(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      ties: Seq[String],
      percentiles: Seq[(String, Double)]): DataFrame = {
    checkArgs(percentiles, buckets = 2)
    val data = nonNull(df, groupCol, valueCol)
    val w = Window.partitionBy(col(groupCol))
      .orderBy((valueCol +: ties).map(col): _*)
    val ranked = data
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(groupCol))))
    val hit = percentiles
      .map { case (_, p) => col("__rn") === ceil(col("__n") * p) }
      .reduce(_ || _)
    ranked.filter(hit)
      .groupBy(col(groupCol))
      .agg(
        min(when(col("__rn") === ceil(col("__n") * percentiles.head._2), col(valueCol)))
          .as(percentiles.head._1),
        percentiles.tail.map { case (label, p) =>
          min(when(col("__rn") === ceil(col("__n") * p), col(valueCol))).as(label) }: _*)
  }

  /** ONE entry point for exact discrete percentiles: measures the group
    * count and picks the plan — few large groups → histogram-locate
    * (driver holds ≤ groups × buckets cells, restores intra-group
    * parallelism); many groups → window (each group is small; per-group
    * sort tasks parallelize across groups).
    */
  def autoDiscrete(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      ties: Seq[String],
      percentiles: Seq[(String, Double)],
      buckets: Int = 1024,
      maxDriverGroups: Int = 4096): DataFrame = {
    checkArgs(percentiles, buckets)
    checkValueType(df, valueCol)
    val data = nonNull(df, groupCol, valueCol)
    collectRanges(data, groupCol, valueCol, maxDriverGroups) match {
      case (schema, Some(rows)) =>
        histogramPlan(data, groupCol, valueCol, ties, percentiles, buckets, schema, rows)
      case _ =>
        windowDiscrete(data, groupCol, valueCol, ties, percentiles)
    }
  }

  private def checkArgs(percentiles: Seq[(String, Double)], buckets: Int): Unit = {
    require(percentiles.nonEmpty, "need at least one percentile")
    require(percentiles.forall { case (_, p) => p > 0 && p <= 1 },
      "fractions must be in (0, 1]")
    require(buckets > 1, "need at least 2 buckets")
  }

  /** The histogram plan's bucketization casts values to double, so its
    * bucket order must agree with the sort order the rank arithmetic
    * assumes — true only for numeric values. A string valueCol would
    * bucket numerically (implicit cast) but min/max/sort
    * LEXICOGRAPHICALLY: buckets disagree with ranks and the returned
    * percentile is silently wrong. Reject eagerly.
    */
  private def checkValueType(df: DataFrame, valueCol: String): Unit =
    df.schema(valueCol).dataType match {
      case _: org.apache.spark.sql.types.NumericType => ()
      case other => throw new IllegalArgumentException(
        s"valueCol must be numeric for the histogram percentile plan " +
          s"(bucketization and ordering must agree), got $other — " +
          "use windowDiscrete for non-numeric orderings")
    }

  /** Step 1 AND the group-count guard in ONE pass: the per-group
    * (min, max, n) aggregate collected with a `limit(max+1)` cap — if
    * the cap is hit the histogram regime does not apply (None); below
    * it the collected rows are REUSED by [[histogramPlan]] for both
    * the broadcast range join and the driver walk, so the guard costs
    * no extra scan (it actually removes the second ranges computation
    * the r4 plan paid for the counts collect).
    */
  private def collectRanges(
      data: DataFrame,
      groupCol: String,
      valueCol: String,
      maxDriverGroups: Int): (org.apache.spark.sql.types.StructType, Option[Array[Row]]) = {
    val ranges = data.groupBy(col(groupCol))
      .agg(min(col(valueCol)).as("__mn"), max(col(valueCol)).as("__mx"),
        count(lit(1)).as("__n"))
    val rows = ranges.limit(maxDriverGroups + 1).collect()
    (ranges.schema, if (rows.length > maxDriverGroups) None else Some(rows))
  }

  // Null values have no rank: they'd produce a null bucket (driver
  // NPE in the histogram) and inflate n past what the buckets cover.
  // Standard percentile semantics: rank over non-null values only.
  // A NULL GROUP KEY is excluded for the same reason — groupBy keeps
  // it but the equi-join histogram pass drops it, so it would reach
  // the driver walk with a count and no histogram (KeyError); a null
  // group has no row in the output (pre-bucket nulls to a sentinel
  // value if they need percentiles).
  private def nonNull(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)

  private def histogramPlan(
      data: DataFrame,
      groupCol: String,
      valueCol: String,
      ties: Seq[String],
      percentiles: Seq[(String, Double)],
      buckets: Int,
      rangesSchema: org.apache.spark.sql.types.StructType,
      rangeRows: Array[Row]): DataFrame = {
    val spark = data.sparkSession

    // 1. the pre-collected per-group (min, max, n) rows (see
    // collectRanges) serve BOTH consumers: a literal broadcast table
    // for bucketization and the driver-side counts for the walk.
    import scala.jdk.CollectionConverters._
    val ranges = spark.createDataFrame(rangeRows.toSeq.asJava, rangesSchema)

    // All bucket arithmetic in DOUBLE: long/decimal subtraction would
    // silently WRAP when the group range exceeds the type (e.g. a
    // LongType column spanning ±5e18 — range > 2^63), making bucketing
    // non-monotone and the walked percentile silently wrong (ANSI is
    // off by default). The double cast is monotone, and values that
    // collide to one double share a bucket — exactly the two
    // properties the rank arithmetic needs; the narrow second pass
    // still ranks by the ORIGINAL exact values. Degenerate extremes
    // (range overflowing double to ±inf, or distinct values collapsing
    // to one double) collapse groups into fewer buckets — still
    // monotone, degrading toward the window plan, never wrong. The
    // greatest(0) guard pins floor's NaN artifacts into range.
    def bucketOf(v: Column, mn: Column, mx: Column): Column = {
      val vd = v.cast("double"); val mnd = mn.cast("double"); val mxd = mx.cast("double")
      when(mx === mn, lit(0)).otherwise(
        greatest(lit(0L),
          least(floor((vd - mnd) / ((mxd - mnd) / buckets)), lit(buckets - 1).cast("long")))
          .cast("int"))
    }

    // 2. histogram per (group, bucket) — driver-sized by construction
    val withB = data.join(broadcast(ranges), groupCol)
      .withColumn("__b", bucketOf(col(valueCol), col("__mn"), col("__mx")))
    val hist = withB.groupBy(col(groupCol), col("__b")).count()
      .collect()
      .groupBy(_.get(0))
      .view.mapValues(_.map(r => r.getInt(1) -> r.getLong(2)).sortBy(_._1)).toMap
    val counts = rangeRows.map(r => r.get(0) -> r.getLong(3)).toMap

    // 3. locate each percentile's bucket + within-bucket rank
    val targets: Seq[(Any, Int, Long, String)] = counts.toSeq.flatMap { case (g, n) =>
      percentiles.map { case (label, p) =>
        val k = math.ceil(n * p).toLong
        var cum = 0L
        val (b, local) = hist(g).iterator.map { case (b, c) =>
          val r = (b, k - cum); cum += c; (r, cum)
        }.collectFirst { case ((b, local), cumAfter) if cumAfter >= k => (b, local) }.get
        (g, b, local, label)
      }
    }

    // 4. narrow pass: rank only the located buckets by the full order
    val tgt = spark.createDataFrame(
      targets.map { case (g, b, local, label) =>
        org.apache.spark.sql.Row(g, b, local, label) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        ranges.schema(groupCol),
        org.apache.spark.sql.types.StructField("__b", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("__local", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("__label", org.apache.spark.sql.types.StringType))))

    val w = Window.partitionBy(col(groupCol), col("__b"))
      .orderBy((valueCol +: ties).map(col): _*)
    val picked = withB
      .join(broadcast(tgt.select(col(groupCol), col("__b")).distinct()), Seq(groupCol, "__b"))
      .withColumn("__rank", row_number().over(w))
      .join(broadcast(tgt), Seq(groupCol, "__b"))
      .filter(col("__rank") === col("__local"))

    picked.groupBy(col(groupCol))
      .agg(
        min(when(col("__label") === percentiles.head._1, col(valueCol)))
          .as(percentiles.head._1),
        percentiles.tail.map { case (label, _) =>
          min(when(col("__label") === label, col(valueCol))).as(label) }: _*)
  }
}
