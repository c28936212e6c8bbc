package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Skew-resilient equi-join via key salting.
  *
  * When one join key dominates (power-law fact tables), the shuffle
  * partition holding it becomes the straggler. Salting splits each hot
  * left-side key across `saltBuckets` partitions and replicates the
  * right side once per bucket: the shuffle spreads evenly, the join
  * result is IDENTICAL to the plain join.
  *
  * AQE's skewedJoin handles moderate skew at runtime; explicit salting
  * is the deterministic tool for known-pathological keys (and works in
  * non-AQE contexts like streaming joins). Right-side replication costs
  * |right| × saltBuckets — use for dimension-sized right sides.
  */
object SkewJoin {

  def saltedJoin(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, saltBuckets: Int, joinType: String = "inner"): DataFrame = {
    require(saltBuckets > 1, "saltBuckets must be > 1")
    // Right/full outer would emit every unmatched right row once per
    // salt replica — the salt stops being invisible. Flip the sides for
    // a right-skewed outer join instead.
    requireSupportedJoinType("saltedJoin", joinType)
    require(!left.columns.contains("__salt") && !right.columns.contains("__salt"),
      "reserved column name collision (__salt)")
    // The salt must be DETERMINISTIC per row: monotonically_increasing_id
    // (or rand) changes on stage retry when the left input is itself a
    // shuffle output — a fetch-failure recompute re-salts rows into
    // different (key, salt) reduce partitions, duplicating or losing
    // join rows (the SPARK-23207 class of bug). Hash the row content
    // instead: stable across retries; rows identical in every hashed
    // column share a bucket, which skews only for degenerate
    // all-duplicate inputs. Map-typed columns are excluded — hash() on
    // maps is disallowed (SPARK-27619) and would fail a join that is
    // otherwise legal; the salt only needs determinism, not full-row
    // coverage.
    val hashCols = left.schema.fields
      .filter(f => hashableType(f.dataType)).map(f => col(f.name))
    require(hashCols.nonEmpty,
      "saltedJoin: left side has no hashable (non-map) column to derive " +
        "a deterministic salt from")
    val saltedLeft = left.withColumn("__salt",
      pmod(xxhash64(hashCols.toIndexedSeq: _*), lit(saltBuckets)))
    val saltedRight = right
      .withColumn("__salt", explode(sequence(lit(0L), lit(saltBuckets - 1L))))
    saltedLeft
      .join(saltedRight,
        saltedLeft(leftKey) === saltedRight(rightKey) &&
          saltedLeft("__salt") === saltedRight("__salt"),
        joinType)
      .drop("__salt")
  }

  /** Differentiated hot/cold equi-join: the `hotKeys` most frequent
    * left-side key tuples are joined via a BROADCAST of just their
    * right-side slice; everything else takes the ordinary shuffle join.
    * Result is IDENTICAL to `left.join(right, keys, joinType)`; no side
    * is replicated (the [[saltedJoin]] cost), so the right side may be
    * corpus-sized — only its hot slice (≤ `hotKeys` keys) must be
    * broadcast-small.
    *
    * This is the count-then-split pattern for joins whose hot keys are
    * data-derived but stable within a job (stopword bigrams, null-ish
    * sentinel ids): one cheap TakeOrderedAndProject recon pass over the
    * left keys, then two joins neither of which holds a straggler
    * partition. When both join inputs are plain shuffles AQE's skew
    * split covers the same ground reactively; this form is
    * deterministic, works with AQE disabled or the exchange pinned,
    * and — unlike AQE — also covers joins whose build side is an
    * in-pipeline AGGREGATE (`OptimizeSkewedJoin` only matches sorts
    * directly over shuffle stages; see the bigram/trigram LM scorers,
    * whose count joins are exactly that shape). BATCH-ONLY: the recon
    * pass collects, which a streaming left side cannot do — a
    * streaming caller must split on hot keys recon'd from a prior
    * batch ([[splitJoin]]).
    *
    * Null key tuples never match in an equi-join; they ride the cold
    * path (preserving their left-outer behavior). Inner/left only —
    * the hot/cold union would double-count unmatched right rows under
    * right/full outer.
    */
  def hotKeyJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      hotKeys: Int = 64, joinType: String = "inner"): DataFrame = {
    require(keys.nonEmpty, "need at least one join key")
    require(hotKeys > 0, "hotKeys must be positive")
    // validate BEFORE the recon collect — an unsupported joinType must
    // fail instantly, not after a corpus-sized aggregation job
    requireSupportedJoinType("hotKeyJoin", joinType)
    splitJoin(left, right, keys, reconHotKeys(left, keys, hotKeys), joinType)
  }

  /** Whether hash()/xxhash64() accepts the type (maps are disallowed,
    * SPARK-27619, including nested inside arrays/structs).
    */
  private def hashableType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case _: org.apache.spark.sql.types.MapType => false
      case a: org.apache.spark.sql.types.ArrayType => hashableType(a.elementType)
      case s: org.apache.spark.sql.types.StructType =>
        s.fields.forall(f => hashableType(f.dataType))
      case _ => true
    }

  private def requireSupportedJoinType(op: String, joinType: String): Unit = {
    val allowed = Set("inner", "left", "leftouter", "leftsemi")
    require(allowed.contains(joinType.toLowerCase.replace("_", "")),
      s"$op supports inner/left/left_semi join types, got '$joinType'")
  }

  /** The recon half of [[hotKeyJoin]]: the `hotKeys` most frequent key
    * tuples of `df` (ties to the least tuple), as literal rows for
    * [[splitJoin]]. Exposed so a multi-join pipeline can recon every
    * key projection off ONE cached frame instead of paying a
    * re-evaluation per chained hotKeyJoin, and so a streaming caller
    * can split on keys recon'd from a prior batch.
    */
  def reconHotKeys(df: DataFrame, keys: Seq[String], hotKeys: Int): Array[Row] = {
    require(keys.nonEmpty, "need at least one join key")
    require(hotKeys > 0, "hotKeys must be positive")
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, struct(keys.map(col): _*))
      .limit(hotKeys)
      .select(keys.map(col): _*)
      .collect()
  }

  /** The split half of [[hotKeyJoin]] with the hot tuples already in
    * hand: hot rows join via a broadcast of the right side's hot
    * slice, cold rows take the ordinary shuffle join. Identical result
    * to `left.join(right, keys, joinType)` for ANY `hotRows` — the
    * tuple list only steers routing, so an imperfect (stale, sampled,
    * projected) recon degrades performance, never correctness.
    */
  def splitJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      hotRows: Array[Row], joinType: String = "inner"): DataFrame = {
    require(keys.nonEmpty, "need at least one join key")
    requireSupportedJoinType("hotKeyJoin", joinType)
    if (hotRows.isEmpty) return left.join(right, keys, joinType)
    // literal predicate: OR over hot tuples of AND over key equalities —
    // codegen'd map-side filter, no extra shuffle on either side. For
    // single-column keys the equalities even reach the parquet scan as
    // PushedFilters (verified on q_hotkey_join's plan: the hot branch
    // scans only hot-key row groups, the cold branch pushes the
    // negations) — a split via join against a hot-keys DataFrame could
    // never push down.
    val hotPred = hotRows.map { r =>
      keys.zipWithIndex.map { case (k, i) =>
        if (r.isNullAt(i)) col(k).isNull else col(k) <=> lit(r.get(i))
      }.reduce(_ && _)
    }.reduce(_ || _)
    // null-safe <=> above: a hot tuple that contains a null (possible
    // under left join recon) still routes its rows to the hot side;
    // those rows match nothing, same as the plain join.
    val hot = left.filter(hotPred)
      .join(broadcast(right.filter(hotPred)), keys, joinType)
    val cold = left.filter(!coalesce(hotPred, lit(false)))
      .join(right, keys, joinType)
    // POSITIONAL union: both branches are the same join shape over the
    // same schemas, so their output column order is identical by
    // construction — and unlike unionByName this keeps the documented
    // identity with the plain join when left and right share a non-key
    // column name (the plain join emits both; unionByName would throw
    // on the duplicate name, AFTER the recon aggregation already ran).
    hot.union(cold)
  }
}
