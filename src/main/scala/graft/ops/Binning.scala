package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-group quantile binning — curriculum / quality bucketing: every
  * row is labeled with the quantile bucket its value falls into
  * WITHIN its group (e.g. "which quality quartile of its source is
  * this document in").
  *
  * The window formulation (`ntile(k)` over each group) serializes a
  * corpus-sized group into one sort task — the same 100 TB flaw as
  * any per-group global sort. This op keeps parallelism:
  *
  *  1. boundaries: the (bins-1) per-group quantile values via
  *     [[Percentiles.exactDiscrete]] (histogram-located, exact,
  *     never a per-group sort);
  *  2. assignment: boundaries broadcast back (one row per group) and
  *     each row's bin is the count of boundaries strictly below its
  *     value — a row-local codegen'd expression over the scan.
  *
  * Semantics are value-based (quantile_disc boundaries), not
  * equal-count: rows TIED on a boundary value share the lower bin,
  * so equal inputs always land in equal bins — reproducible across
  * engines and partitionings, which `ntile`'s arbitrary tie split is
  * not. Null values get a null bin.
  *
  * The input is pinned with MEMORY_AND_DISK persistence: boundary
  * location is multi-pass by design (range agg, histogram, narrow
  * rank, final assignment), and re-running an expensive upstream
  * pipeline once per pass is the real cost at scale. Callers whose
  * input is already a materialized table lose nothing; callers
  * binning a truly cache-hostile input should write it out and bin
  * the re-read instead.
  */
object Binning {

  /** `df` plus `binCol` ∈ [0, bins-1] (null for null values): the
    * within-group quantile bucket of `valueCol`. `ties` break equal
    * values when SELECTING boundary rows (they do not affect
    * assignment).
    *
    * The internal cache (pinned through the boundary passes AND the
    * caller's assignment pass — re-running an expensive upstream
    * pipeline per pass is the real cost at scale) is released when the
    * context cleaner garbage-collects the plan; long-lived sessions
    * binning large inputs repeatedly should use
    * [[quantileBinsManaged]] and call the cleanup handle after
    * materializing the result.
    */
  def quantileBins(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      ties: Seq[String],
      bins: Int,
      binCol: String = "bin",
      maxDriverGroups: Int = 4096): DataFrame =
    quantileBinsManaged(df, groupCol, valueCol, ties, bins, binCol, maxDriverGroups)._1

  /** As [[quantileBins]], plus a cleanup thunk that unpersists the
    * internal cache — call it once the result has been materialized.
    * (Correctness never depends on the cache: boundaries are collected
    * eagerly in this call, and the assignment pass is deterministic —
    * only the avoided recomputation is at stake.)
    */
  def quantileBinsManaged(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      ties: Seq[String],
      bins: Int,
      binCol: String = "bin",
      maxDriverGroups: Int = 4096): (DataFrame, () => Unit) = {
    require(bins > 1, "need at least 2 bins")
    require(!df.columns.contains(binCol),
      s"bin column '$binCol' already exists on the input")
    val qs = (1 until bins).map(i => s"__qb$i" -> i.toDouble / bins)
    require(!df.columns.exists(qs.map(_._1).toSet),
      "reserved column name collision (__qb<i>)")
    val input = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The TINY boundary table (groups × (bins-1) cells) is materialized
    // to the driver: the returned plan depends only on `input` and a
    // literal, so the cleanup handle can safely unpersist after the
    // caller's final pass.
    // Boundary table is driver-sized BY DESIGN (groups × (bins-1) —
    // it is broadcast back for row-local assignment), so the guard is
    // structural here: raise `maxDriverGroups` deliberately for more
    // groups (sized against your driver), don't expect a fallback.
    // Validation/collect failures must unpersist (no handle has been
    // returned yet, so nothing else ever could) — the labeledPartition
    // guard, applied to the same hazard here.
    val bounds =
      try {
        val boundsPlan = Percentiles.exactDiscrete(input, groupCol, valueCol, ties, qs,
          maxDriverGroups = maxDriverGroups)
        df.sparkSession.createDataFrame(
          java.util.Arrays.asList(boundsPlan.collect(): _*), boundsPlan.schema)
      } catch { case e: Throwable => input.unpersist(); throw e }
    val binExpr = qs.map { case (q, _) =>
      when(col(valueCol) > col(q), 1L).otherwise(0L)
    }.reduce(_ + _)
    // Left join so no row is silently dropped: a row whose group has
    // no boundaries (all-null group values, or a null group key) gets
    // a null bin rather than disappearing.
    val out = input.join(broadcast(bounds), Seq(groupCol), "left")
      .withColumn(binCol,
        when(col(valueCol).isNull || col(qs.head._1).isNull, lit(null))
          .otherwise(binExpr).cast("long"))
      .drop(qs.map(_._1): _*)
    (out, () => { input.unpersist(); () })
  }

  /** CCNet-style labeled partition (Wenzek et al. 2020): split each
    * group's rows into NAMED buckets with WEIGHTED target shares —
    * the canonical use is head/middle/tail by language-model score per
    * language, where "head" is the best-scoring ~third of each
    * language used preferentially for training. [[quantileBins]] is
    * the equal-share special case; here `parts` carries
    * (label, integer weight) in ASCENDING value order, e.g.
    * `("tail", 2), ("middle", 3), ("head", 5)` targets 20%/30%/50%.
    *
    * Boundaries are the ceil(n·cumulative-fraction)-th discrete values
    * per group ([[Percentiles.exactDiscrete]] — histogram-located, no
    * per-group sort task), broadcast back for row-local assignment.
    * Value-ties on a boundary share the LOWER bucket, so shares are
    * targets, not guarantees, under heavy duplication — the price of
    * engine- and partitioning-reproducible labels (`ntile`'s exact
    * shares split ties arbitrarily AND serialize each group into one
    * sort task). Null values and null-boundary groups get a null
    * label. Same multi-pass persistence rationale as [[quantileBins]].
    */
  def labeledPartition(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      ties: Seq[String],
      parts: Seq[(String, Int)],
      labelCol: String = "bucket",
      maxDriverGroups: Int = 4096): DataFrame = {
    // validate BEFORE the persist + multi-pass boundary job — a label
    // collision must fail instantly, not after the driver collect
    require(!df.columns.contains(labelCol),
      s"label column '$labelCol' already exists on the input")
    val input = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // A validation failure inside boundsOf must not leave the cache
    // pinned with no handle returned to the caller (the cache outlives
    // the call on SUCCESS, so only the failure path unpersists).
    val bounds =
      try boundsOf(input, groupCol, valueCol, ties, parts, maxDriverGroups)
      catch { case e: Throwable => input.unpersist(); throw e }
    // As with [[quantileBins]], the cache stays pinned through the
    // caller's assignment pass and is reclaimed by the context cleaner
    // once the plan is garbage-collected.
    assignLabels(input, bounds, groupCol, valueCol, parts, labelCol)
  }

  private def boundsOf(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      ties: Seq[String],
      parts: Seq[(String, Int)],
      maxDriverGroups: Int): DataFrame = {
    require(parts.size > 1, "need at least 2 parts")
    require(parts.map(_._1).distinct.size == parts.size, "labels must be distinct")
    require(parts.forall(_._2 > 0), "part weights must be positive")
    val qs = boundaryFracs(parts)
    require(!df.columns.exists(qs.map(_._1).toSet),
      "reserved column name collision (__lp<i>)")
    val boundsPlan = Percentiles.exactDiscrete(df, groupCol, valueCol, ties, qs,
      maxDriverGroups = maxDriverGroups)
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(boundsPlan.collect(): _*), boundsPlan.schema)
  }

  /** The assignment half of [[labeledPartition]]: label = the first
    * part whose boundary the value does not exceed — structurally the
    * same count-of-boundaries-below as [[quantileBins]], mapped
    * through the label list. A broadcast join plus a row-local
    * codegen'd expression: stateless, so it runs unchanged over a
    * streaming DataFrame. `bounds` carries one row per group with the
    * (parts.size - 1) boundary values in columns `__lp0`, `__lp1`, ….
    * Null values and null-boundary groups get a null label; rows whose
    * group is absent from `bounds` too (left join).
    */
  def assignLabels(
      df: DataFrame,
      bounds: DataFrame,
      groupCol: String,
      valueCol: String,
      parts: Seq[(String, Int)],
      labelCol: String = "bucket"): DataFrame = {
    require(!df.columns.contains(labelCol),
      s"label column '$labelCol' already exists on the input")
    val qs = boundaryFracs(parts)
    require(qs.map(_._1).forall(bounds.columns.contains),
      s"bounds is missing boundary columns; expected ${qs.map(_._1).mkString(", ")}")
    val idx = qs.map { case (q, _) =>
      when(col(valueCol) > col(q), 1).otherwise(0)
    }.reduce(_ + _)
    val labels = array(parts.map(p => lit(p._1)): _*)
    // ANY null boundary nulls the label — bounds may be user-persisted
    // or hand-merged, where a row can be partially null; counting only
    // the non-null boundaries would silently assign a lower bucket.
    val anyBoundNull = qs.map(q => col(q._1).isNull).reduce(_ || _)
    df.join(broadcast(bounds), Seq(groupCol), "left")
      .withColumn(labelCol,
        when(col(valueCol).isNull || anyBoundNull, lit(null).cast("string"))
          .otherwise(element_at(labels, idx + 1)))
      .drop(qs.map(_._1): _*)
  }

  private def boundaryFracs(parts: Seq[(String, Int)]): Seq[(String, Double)] = {
    val tot = parts.map(_._2.toLong).sum.toDouble
    parts.init.scanLeft(0L) { case (acc, (_, w)) => acc + w }.tail
      .zipWithIndex.map { case (cum, i) => s"__lp$i" -> (cum / tot) }
  }
}
