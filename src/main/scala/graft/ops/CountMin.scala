package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Count-min sketch over a term stream (Cormode & Muthukrishnan) — the
  * fixed-memory frequency summary for corpus-scale n-gram statistics.
  * A full `groupBy(term).count()` shuffles every distinct term; the
  * sketch shuffles at most `depth × width` CELLS however many distinct
  * terms the 100 TB corpus holds, because the map-side partial
  * aggregate collapses each partition to the cell grid first. Estimates
  * only ever OVERCOUNT: `true ≤ est ≤ true + εN` with ε = e/width at
  * probability 1 − (1/2)^depth… the classic one-sided guarantee, so a
  * heavy-hitter screen never misses a genuinely hot term.
  *
  * Built on [[HashFamily]]: xxhash64 for production, [[Md5Family]] when
  * the sketch must replay in ANSI SQL (the oracle path — every cell and
  * estimate is then engine-portable).
  */
object CountMin {

  /** Build the sketch: one row per non-empty cell,
    * (cm_row, cm_col, cm_cnt) plus the build parameters
    * (cm_depth, cm_width, cm_family) — the [[Dedup.minhashArtifact]]
    * pattern, so a probe can verify compatibility instead of silently
    * UNDERCOUNTING against cells hashed with different geometry (which
    * would invert the one-sided `est ≥ true` guarantee). Null terms
    * are skipped. The metadata rides every row, but the artifact is
    * ≤ depth × width rows by construction.
    */
  def sketch(terms: DataFrame, termCol: String, depth: Int, width: Int,
      family: HashFamily = XxHash64Family): DataFrame = {
    require(depth >= 1 && depth <= 16, "depth out of range (1..16)")
    require(width >= 2, "width must be >= 2")
    terms
      .filter(col(termCol).isNotNull)
      .select(explode(sequence(lit(0), lit(depth - 1))).as("cm_row"), col(termCol))
      .select(col("cm_row"),
        pmod(family.hashString(0, concat(col("cm_row").cast("string"),
          lit("#"), col(termCol))), lit(width.toLong)).as("cm_col"))
      .groupBy(col("cm_row"), col("cm_col"))
      .agg(count(lit(1)).as("cm_cnt"))
      .withColumn("cm_depth", lit(depth))
      .withColumn("cm_width", lit(width))
      .withColumn("cm_family", lit(family.tag))
  }

  /** [[sketch]] from a PRE-AGGREGATED (term, weight) frame instead of
    * the raw occurrence stream: cell (r, c) accumulates sum(weight)
    * over the terms hashing there — byte-identical cells to `sketch`
    * over the stream those counts summarize (sum over occurrences ==
    * sum over distinct × count; pinned in OpsSpec), at `depth` hash
    * evaluations per DISTINCT term instead of per occurrence. The
    * shape for callers that already paid the distinct-term aggregate
    * (a heavy-hitter screen computes exact counts anyway): one corpus
    * scan and one term-keyed shuffle feed both the exact top-k and the
    * sketch, and the portable-but-expensive md5 families stop paying
    * per-occurrence string hashing.
    */
  def sketchWeighted(counts: DataFrame, termCol: String, weightCol: String,
      depth: Int, width: Int,
      family: HashFamily = XxHash64Family): DataFrame = {
    require(depth >= 1 && depth <= 16, "depth out of range (1..16)")
    require(width >= 2, "width must be >= 2")
    counts
      .filter(col(termCol).isNotNull)
      .select(explode(sequence(lit(0), lit(depth - 1))).as("cm_row"),
        col(termCol), col(weightCol).cast("long").as("__w"))
      .select(col("cm_row"),
        pmod(family.hashString(0, concat(col("cm_row").cast("string"),
          lit("#"), col(termCol))), lit(width.toLong)).as("cm_col"),
        col("__w"))
      .groupBy(col("cm_row"), col("cm_col"))
      .agg(sum(col("__w")).as("cm_cnt"))
      .withColumn("cm_depth", lit(depth))
      .withColumn("cm_width", lit(width))
      .withColumn("cm_family", lit(family.tag))
  }

  /** Point-estimate the frequency of each candidate term: the MIN over
    * the sketch cells the term hashes into. Candidates are typically
    * few (a heavy-hitter shortlist) — their d-cell probe rows join the
    * (≤ depth × width)-row sketch, which AQE broadcasts. A term whose
    * cell is absent from the sketch has true count 0 (no stream term
    * ever hit that cell) and estimates 0.
    */
  def estimate(sketchDf: DataFrame, candidates: DataFrame, termCol: String,
      depth: Int, width: Int,
      family: HashFamily = XxHash64Family): DataFrame = {
    require(depth >= 1 && depth <= 16, "depth out of range (1..16)")
    require(width >= 2, "width must be >= 2")
    // A probe with mismatched geometry/family misses the real cells,
    // the left join nulls out, and min() reports 0 for a genuinely hot
    // term — inverting the one-sided `est ≥ true` guarantee. Verify
    // against the parameters stored in the artifact, IN-PLAN rather
    // than via an eager head(1): the check is a codegen'd comparison
    // on ≤ depth × width artifact rows, costs no extra pass, and an
    // unmaterialized inline sketch plan is not executed twice.
    // Artifacts written before the metadata columns existed skip the
    // check (nothing to verify against); an EMPTY sketch never
    // evaluates it, but an empty stream estimates 0 for every term
    // under any geometry anyway.
    val cells =
      if (!sketchDf.columns.contains("cm_depth"))
        sketchDf.select(col("cm_row"), col("cm_col"), col("cm_cnt"))
      else sketchDf.select(col("cm_row"), col("cm_col"),
        when(col("cm_depth") =!= depth || col("cm_width") =!= width ||
            col("cm_family") =!= family.tag,
          raise_error(concat(
            lit("count-min sketch was built with (depth="), col("cm_depth"),
            lit(", width="), col("cm_width"), lit(", family="), col("cm_family"),
            lit(s") but estimate was called with (depth=$depth, width=$width, " +
              s"family=${family.tag}) — a mismatched probe silently undercounts"))))
          .otherwise(col("cm_cnt")).as("cm_cnt"))
    candidates
      .filter(col(termCol).isNotNull)
      .select(col(termCol), explode(sequence(lit(0), lit(depth - 1))).as("cm_row"))
      .withColumn("cm_col",
        pmod(family.hashString(0, concat(col("cm_row").cast("string"),
          lit("#"), col(termCol))), lit(width.toLong)))
      .join(cells, Seq("cm_row", "cm_col"), "left")
      .groupBy(col(termCol))
      .agg(min(coalesce(col("cm_cnt"), lit(0L))).as("est_n"))
  }

  /** Word n-gram OCCURRENCE stream of a text column — every occurrence,
    * NOT deduped per doc (contrast [[Dedup.shingleRows]]): frequency
    * statistics want the multiset. Grams are born ROW-LOCAL (native
    * tokenize + n-gram in the scan task — the posexplode + window-lead
    * spelling shuffled every corpus token doc-keyed, plus a sort,
    * before a single gram existed); gram text is byte-identical.
    */
  def ngramStream(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 1 && n <= 8, "n-gram width out of range")
    docs.select(explode(graft.functions.GraftExtensions.word_ngrams(
      Dedup.tokens(col(textCol)), n)).as("g"))
  }
}
