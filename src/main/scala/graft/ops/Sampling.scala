package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling for training-data splits.
  *
  * `rand()`-based sampling is seed- and partitioning-dependent — a
  * re-run, a repartition, or a different engine yields a different
  * split. Hashing the row KEY instead gives a split that is stable
  * across runs, engines, and cluster layouts (md5 hex agrees
  * byte-for-byte between Spark and DuckDB), composes under union
  * (late-arriving rows land in the same bucket), and needs no shuffle:
  * it is a plain codegen'd filter that parquet scans evaluate
  * row-parallel.
  */
object Sampling {

  /** 8-hex-digit threshold such that P(md5(key) < threshold) ≈ fraction
    * under md5 uniformity.
    */
  def hexThreshold(fraction: Double): String = {
    require(fraction >= 0.0 && fraction <= 1.0, "fraction must be in [0, 1]")
    f"${math.min((fraction * 4294967296.0).toLong, 4294967295L)}%08x"
  }

  /** The sampling predicate: md5 of the (stringified) key below the
    * fraction's hex threshold. fraction 1.0 keeps ALL rows: the 8-hex
    * cap "ffffffff" would drop digests with that prefix (one per ~4.3
    * billion rows — invisible in tests, real loss at scale; the same
    * escape [[stratifiedSample]] and [[hashSplit]] use).
    */
  def samplePredicate(key: Column, fraction: Double): Column = {
    require(fraction >= 0.0 && fraction <= 1.0, "fraction must be in [0, 1]")
    if (fraction >= 1.0) lit(true)
    else md5(key.cast("string")) < lit(hexThreshold(fraction))
  }

  /** Keep ≈`fraction` of rows, keyed deterministically by `keyCol`. */
  def hashSample(df: DataFrame, keyCol: String, fraction: Double): DataFrame =
    df.filter(samplePredicate(col(keyCol), fraction))

  /** Keep each row with probability `weight/unit` (clamped to 1) where
    * the weight is a ROW-LEVEL integer column — the per-row sibling of
    * [[hashSample]]'s plan-literal fraction, for quality/centrality-
    * proportional corpus sampling (e.g. keep docs in proportion to
    * their domain's [[LinkGraph.pageRankInt]] rank).
    *
    * The draw is pure integer cross-multiplication:
    *
    *   keep  ⇔  hash32(key) · unit  <  min(weight, unit) · 2³²
    *
    * with hash32 = the first 8 md5 hex digits. No doubles, no hex
    * threshold formatting — both sides are BIGINT expressions any SQL
    * engine replays verbatim, so derived weights stay oracle-checkable
    * (the hexThreshold form needs the fraction at PLAN time).
    * Overflow-safe by the `unit ≤ 2³⁰` guard (both products stay under
    * 2⁶²). Deterministic per (key, weight): re-runs keep the same
    * rows. Null keys and null/non-positive weights drop (a row with no
    * key has no stable draw; a row with no weight has no mass).
    */
  def weightedHashSample(df: DataFrame, keyCol: String, weightCol: String,
      unit: Long): DataFrame = {
    require(unit > 0 && unit <= (1L << 30),
      s"unit must be in (0, 2^30], got $unit")
    val h = expr(
      s"CAST(conv(substring(md5(CAST(`$keyCol` AS STRING)), 1, 8), 16, 10) AS BIGINT)")
    // The null-weight filter is EXPLICIT: both Spark's least() and SQL
    // LEAST skip nulls, so without it a null weight would silently
    // clamp to `unit` and keep the row with P=1.
    df.filter(
      col(weightCol).isNotNull &&
        h * lit(unit) <
        least(col(weightCol).cast("long"), lit(unit)) * lit(4294967296L))
  }

  /** Stratified deterministic sampling: a different keep-fraction per
    * stratum (e.g. downsample dominant languages, keep the long tail —
    * the usual corpus rebalancing move). Same engine-portable md5
    * predicate as [[hashSample]], with the threshold chosen per row by
    * the stratum column: still a shuffle-free, codegen'd filter over
    * the scan. Strata absent from `fractions` fall back to
    * `defaultFraction` (0 = drop).
    */
  def stratifiedSample(
      df: DataFrame,
      keyCol: String,
      stratumCol: String,
      fractions: Map[String, Double],
      defaultFraction: Double = 0.0): DataFrame = {
    require(fractions.nonEmpty, "need at least one stratum fraction")
    // fraction 1.0 must keep ALL rows: the 8-hex cap "ffffffff" would
    // drop digests with that prefix (one per ~4 billion rows — real
    // loss at scale); "g" sorts above every hex digest.
    def cut(f: Double): String = if (f >= 1.0) "g" else hexThreshold(f)
    val threshold = fractions.toSeq.sortBy(_._1)
      .foldLeft(lit(cut(defaultFraction))) { case (acc, (stratum, f)) =>
        when(col(stratumCol) === stratum, lit(cut(f))).otherwise(acc)
      }
    df.filter(md5(col(keyCol).cast("string")) < threshold)
  }

  /** Deterministic weighted sampling without replacement (Efraimidis–
    * Spirakis A-ES): each row draws u = md5-uniform(key) ∈ (0, 1] and
    * ranks by `-ln(u) / weight`; the k smallest ranks win, which is
    * distributionally equivalent to sequential weighted draws without
    * replacement — but embarrassingly parallel: the rank is a
    * row-local codegen'd expression and the selection is a top-k
    * (TakeOrderedAndProject), never a full sort or shuffle of the
    * data. Deterministic in the key — the same rows win on any
    * engine, run, or partitioning. Rows with non-positive weight are
    * excluded.
    */
  def weightedTopK(df: DataFrame, keyCol: String, weightCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    require(!df.columns.contains("__wrank"), "reserved column name collision (__wrank)")
    val u = md5Uniform(col(keyCol))
    df.filter(col(weightCol) > 0)
      .withColumn("__wrank", -log(u) / col(weightCol))
      .orderBy(col("__wrank"), col(keyCol))
      .limit(k)
      .drop("__wrank")
  }

  /** Leakage-safe train/eval split: documents are split by the
    * connected COMPONENT of their near-dup graph, not by their own id,
    * so two near-duplicates can never straddle a split boundary — the
    * eval-set hygiene rule (a train doc's near-dup in the test split is
    * leakage that survives doc-keyed splitting). `pairs` is any
    * near-dup pair set ([[Dedup.minhashLshPairs]], exact-dup pairs, …);
    * documents absent from it are singletons split by their own id.
    * Same deterministic md5 cuts as [[hashSplit]]; splits stay disjoint
    * and exhaustive whatever the pair set.
    */
  def leakageSafeSplit(df: DataFrame, keyCol: String, pairs: DataFrame,
      weights: Seq[Double]): Seq[DataFrame] = {
    require(!df.columns.contains("__lss_key") && !df.columns.contains("component"),
      "reserved column name collision (__lss_key / component)")
    val comp = Dedup.connectedComponents(pairs).withColumnRenamed("id", keyCol)
    val keyed = df.join(comp, Seq(keyCol), "left")
      .withColumn("__lss_key", coalesce(col("component"), col(keyCol)))
      .drop("component")
    hashSplit(keyed, "__lss_key", weights).map(_.drop("__lss_key"))
  }

  /** First 8 md5 hex digits of the stringified key → a deterministic
    * uniform draw in (0, 1] — safe under a single `-ln(u)` (u = 1
    * gives exactly 0). The 32-bit uniform spelling of the md5 idiom —
    * see [[Md5Family.hex60]] for the 60-bit hash spelling.
    */
  def md5Uniform(key: Column): Column =
    (conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("long") + 1) /
      lit(4294967296.0)

  /** Disjoint deterministic split: bucket i of `weights.length` buckets,
    * with cut points at the cumulative weight fractions. Rows with the
    * same key always land in the same bucket.
    */
  def hashSplit(df: DataFrame, keyCol: String, weights: Seq[Double]): Seq[DataFrame] = {
    require(weights.nonEmpty && weights.forall(_ >= 0) && math.abs(weights.sum - 1.0) < 1e-9,
      "weights must be non-negative and sum to 1")
    val cuts = weights.scanLeft(0.0)(_ + _) // 0, w0, w0+w1, …, ~1
    val h = md5(col(keyCol).cast("string"))
    // The final bucket (by INDEX — float accumulation can leave the last
    // cut at 0.99999…, not 1.0) is unbounded above: any upper cap would
    // orphan keys whose digest starts with 0xffffffff — one per ~4
    // billion rows, invisible in tests, real row-loss at scale.
    val windows = cuts.sliding(2).toSeq
    windows.zipWithIndex.map { case (Seq(lo, hi), i) =>
      if (i == windows.size - 1) df.filter(h >= lit(hexThreshold(lo)))
      else df.filter(h >= lit(hexThreshold(lo)) && h < lit(hexThreshold(hi)))
    }
  }
}
