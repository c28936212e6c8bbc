package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact-substring deduplication (the Lee et al. 2022 "Deduplicating
  * Training Data Makes Language Models Better" operation, re-expressed
  * over token n-grams): find runs of tokens that appear verbatim in
  * MORE THAN ONE document and cut every occurrence out of every
  * document — boilerplate headers, license blocks, templated
  * navigation text — leaving the surrounding prose in place. This is
  * span surgery WITHIN documents; whole-document near-dup removal is
  * [[Dedup]]'s job, and the KEEP-FIRST variant (exactly one copy of
  * the duplicated content survives — the training-data dedup stance,
  * vs the excision here where the span itself is unwanted) is
  * [[Dedup.substringDedup]].
  *
  * Semantics (token space, whitespace tokenization):
  *  - a length-`n` token gram is DUPLICATED if it occurs in at least
  *    `minDocs` distinct documents (within-document repeats alone
  *    don't qualify — those are [[graft.ops.TextRank.repetitionSignals]]);
  *  - a token is COVERED if any duplicated gram's window contains it;
  *  - the rewrite drops covered tokens and rejoins the survivors with
  *    single spaces (token-space surgery normalizes whitespace — the
  *    reference operation works on raw bytes with a suffix array; the
  *    Spark-native shape trades byte offsets for dataframe-expressible
  *    windows at identical token-level semantics). A document whose
  *    every token is covered rewrites to null, not "".
  *
  * Scale shape — no suffix array, no driver state, four bounded
  * shuffles (both algorithm halves read ONE positioned token+gram
  * pass, [[positionedGrams]]; [[audit]] reads its row-local successor,
  * which it pins):
  *  1. doc-keyed: posexplode + window lead builds positioned grams;
  *  2. gram-keyed: distinct (gram, doc) pairs then a map-side-combined
  *     count — gram keys are md5 digests (32 hex chars), so the
  *     shuffle never carries raw n-gram text and equality is exact
  *     (full 128-bit digest, both engines compute the same md5);
  *  3. gram-keyed semi-join marking duplicated gram STARTS (hash
  *     column only crosses the wire; the dup-gram list is the tiny
  *     post-threshold aggregate, so the semi-join's skew exposure is
  *     bounded by that list — AQE cannot skew-split a join against an
  *     in-pipeline aggregate, see VolumeStressSpec's proof);
  *  4. doc-keyed: coverage window (`rows between n-1 preceding and
  *     current`) + one groupBy rebuilding the text.
  * Driver holds nothing; every intermediate is corpus-distributed.
  */
object SpanDedup {

  /** (id, __pos, __tok) 0-based positioned token stream (blank/null
    * text yields no rows).
    */
  def tokenStream(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        posexplode(Dedup.tokens(col(textCol))).as(Seq("__pos", "__tok")))

  /** One positioned pass: (id, __pos, __tok, __gh) — the token stream
    * with each position's n-gram hash alongside (`__gh` = md5 of the
    * space-joined gram; null where the window runs off the document —
    * concat null-propagates over the missing leads). Both halves of
    * the algorithm (dup detection, coverage+rebuild) read THIS one
    * dataframe, so a caller who pins it scans the corpus once.
    */
  def positionedGrams(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 2, s"gram length must be >= 2, got $n")
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val gram = (1 until n).foldLeft(col("__tok")) { case (acc, i) =>
      concat(acc, lit(" "), lead(col("__tok"), i).over(byDoc))
    }
    // Everything downstream assumes idCol identifies ONE document:
    // duplicate ids interleave two token streams in one window
    // partition — lead() stitches grams across texts, the dense-__pos
    // coverage frame breaks, and the rebuild join fans out — all
    // silently. Duplicate ids are detectable FOR FREE inside the same
    // window (each doc's own positions are unique by construction, so
    // an equal neighboring __pos can only come from a second row with
    // the same id): fail loudly instead of corrupting.
    val nextPos = lead(col("__pos"), 1).over(byDoc)
    val guardedGram = when(nextPos <=> col("__pos"),
      raise_error(concat(
        lit("duplicate (or repeated-null) document id in span-dedup input: "),
        coalesce(col(idCol).cast("string"), lit("NULL")),
        lit(" — ids must uniquely identify one document")))).otherwise(md5(gram))
    tokenStream(df, idCol, textCol)
      .select(col(idCol), col("__pos"), col("__tok"), guardedGram.as("__gh"))
  }

  /** Gram hashes occurring in ≥ `minDocs` distinct documents. */
  def duplicatedGrams(starts: DataFrame, idCol: String, minDocs: Int): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    starts.select(col("__gh"), col(idCol)).distinct()
      .groupBy(col("__gh")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__gh"))
  }

  /** The row-local document frame every audit half reads: one row per
    * input row, (id, __tk token array, __gha positioned md5-hex gram
    * array — element i = the gram starting at token i). Null text →
    * null arrays. Replaces the posexplode + window-lead positioned
    * pass ([[positionedGrams]]) for the audit paths: the lead()
    * formulation shuffles EVERY TOKEN ROW doc-keyed (plus a sort)
    * before a single gram exists — ×2, once per algorithm half — and
    * the coverage half paid a third doc-keyed exchange for its window;
    * all three exchanges vanish here (grams are born in the scan
    * task). Gram VALUES are byte-identical (md5 of the space-joined
    * gram).
    */
  private def spanDocs(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 2, s"gram length must be >= 2, got $n")
    import graft.functions.GraftExtensions.{word_ngram_md5, ws_tokens}
    df.select(col(idCol), ws_tokens(col(textCol)).as("__tk"))
      .withColumn("__gha", word_ngram_md5(col("__tk"), n))
  }

  /** Per-document audit: id, n_tokens, dup_tokens (covered by some
    * cross-document duplicated gram), clean_text (survivors joined by
    * single spaces; null when nothing survives — including documents
    * with no tokens at all).
    *
    * FOUR consumers read the [[spanDocs]] frame (the dup-gram counts,
    * the coverage semi-join's probe side, the duplicate-id guard and
    * the final rebuild join) and each one re-runs the scan + tokenize
    * + per-position md5 gram pass — the dominant per-row cost of the
    * whole audit. The frame is persisted (MEMORY_AND_DISK — spills
    * rather than OOMs at cluster scale, the minhashLshPairs pattern;
    * released by the context cleaner on plan GC).
    *
    * Coverage and rebuild are ROW-LOCAL over the token array (the
    * [[Dedup.substringDedup]] coverAndRewrite shape): marked start
    * positions return to the document as one bounded collect_list and
    * an indexed lambda drops covered tokens — no coverage window, no
    * doc-keyed token exchange, no collect_list-of-struct re-sort.
    *
    * Duplicate document ids still fail LOUDLY (downstream assumes id →
    * one document; stitched audits would be silently wrong), via a
    * narrow ids-only aggregate broadcast back as a 0-or-1-row poison
    * frame — the window form got this check for free from its sort,
    * the row-local form pays one count(*)-per-id pass over bare ids.
    */
  def audit(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minDocs: Int = 2): DataFrame = {
    val docs = spanDocs(df, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val occ = docs
      .select(col(idCol), posexplode(col("__gha")).as(Seq("__pos", "__gh")))
      .filter(col("__gh").isNotNull)
    val dup = duplicatedGrams(occ, idCol, minDocs)
    val markedPerDoc = occ.join(dup.select(col("__gh")), Seq("__gh"), "left_semi")
      .groupBy(col(idCol)).agg(collect_list(col("__pos")).as("__mp"))
    // Null-safe equi-join (hash-joinable — a constant-key poison join
    // degenerates to a nested loop, which VolumeStressSpec forbids);
    // <=> also catches the repeated-NULL-id case a plain equality
    // join would silently pass.
    val dupIds = docs.groupBy(col(idCol)).agg(count(lit(1)).as("__nr"))
      .filter(col("__nr") > 1)
      .select(col(idCol).as("__did"), lit(1).as("__dup_flag"))
    val mp = coalesce(col("__mp"), array().cast("array<int>"))
    val kept = filter(col("__tk"), (_, q) =>
      !exists(mp, p => p.between(q - lit(n - 1), q)))
    docs.join(markedPerDoc, Seq(idCol), "left")
      .join(broadcast(dupIds), col(idCol) <=> col("__did"), "left")
      .select(col(idCol),
        when(col("__dup_flag").isNotNull, raise_error(concat(
          lit("duplicate (or repeated-null) document id in span-dedup input: "),
          coalesce(col(idCol).cast("string"), lit("NULL")),
          lit(" — ids must uniquely identify one document"))).cast("long"))
          .otherwise(coalesce(size(col("__tk")), lit(0)).cast("long"))
          .as("n_tokens"),
        (coalesce(size(col("__tk")), lit(0)) - coalesce(size(kept), lit(0)))
          .cast("long").as("dup_tokens"),
        when(size(kept) > 0, array_join(kept, " ")).as("clean_text"))
  }
}
