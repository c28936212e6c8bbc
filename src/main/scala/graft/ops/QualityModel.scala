package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Model-based quality filtering — the fasttext-style linear classifier
  * stage that sits in nearly every production corpus pipeline (CCNet,
  * RefinedWeb, FineWeb): a bag-of-words logit per document, thresholded
  * to keep "high-quality" text.
  *
  * Weights are INTEGER MILLI-units (`Map[token, Long]`), so the
  * accumulation is exact integer math — the logit is bit-identical on
  * any engine, partitioning, or run (a float dot product is not:
  * summation order flips low bits, and a threshold comparison sits
  * exactly where those bits live). The sigmoid is applied only to the
  * final exact logit, and thresholding uses the logit directly
  * (sigmoid is monotone — `score ≥ 0.5 ⇔ logit ≥ 0`).
  *
  * Scale shape: the model is a broadcast table (vocab-sized); tokens
  * explode into (doc, token) rows, the weight join is a broadcast hash
  * join, and the per-doc sum is one map-side-combinable aggregate —
  * one doc-keyed shuffle carrying a single long per document.
  */
object QualityModel {

  /** Score every document: output is `df`'s id column plus
    *  - `milli_logit` — exact integer logit × 1000 (bias + Σ weights
    *    over token OCCURRENCES — a token counted twice contributes
    *    twice, the bag-of-words convention);
    *  - `kept` — `milli_logit >= 0`, i.e. P(quality) ≥ 0.5;
    *  - `score` — the sigmoid probability (derived, for ranking).
    */
  def scoreLinear(
      df: DataFrame,
      idCol: String,
      textCol: String,
      milliWeights: Map[String, Long],
      milliBias: Long = 0L): DataFrame = {
    require(milliWeights.nonEmpty, "need at least one token weight")
    val spark = df.sparkSession
    import spark.implicits._
    val w = broadcast(milliWeights.toSeq.toDF("__qm_tok", "__qm_w"))
    val toks = df.select(col(idCol), explode(Dedup.tokens(col(textCol))).as("__qm_tok"))
    val sums = toks.join(w, "__qm_tok")
      .groupBy(col(idCol))
      .agg(sum(col("__qm_w")).as("__qm_sum"))
    df.select(col(idCol))
      .join(sums, Seq(idCol), "left")
      .select(col(idCol),
        (lit(milliBias) + coalesce(col("__qm_sum"), lit(0L))).as("milli_logit"))
      .withColumn("kept", col("milli_logit") >= 0)
      .withColumn("score",
        lit(1.0) / (lit(1.0) + exp(-col("milli_logit").cast("double") / 1000.0)))
  }

  /** The filter composition: keep documents the model scores ≥ 0.5. */
  def filterQuality(
      df: DataFrame,
      idCol: String,
      textCol: String,
      milliWeights: Map[String, Long],
      milliBias: Long = 0L): DataFrame = {
    val kept = scoreLinear(df, idCol, textCol, milliWeights, milliBias)
      .filter(col("kept")).select(col(idCol))
    df.join(kept, Seq(idCol), "left_semi")
  }

  /** DEFLATE compression ratio per document — the codec-based
    * repetition/entropy signal (low ratio = template/boilerplate text,
    * near-1 = high-entropy noise; natural prose sits in between, so
    * pipelines band-pass on it). Level 6, raw deflate, UTF-8 bytes.
    *
    * Inherently non-SQL-expressible (no oracle engine exposes a codec),
    * so like BPE training this op is spec-pinned rather than
    * oracle-gated; determinism comes from the fixed codec parameters.
    * Implementation is `mapPartitions` with ONE `Deflater` reused
    * (reset, not reallocated) across a partition — the documented
    * last-resort tier, justified here because the work is opaque
    * byte-level compute with per-row native-resource cost that a
    * per-row UDF would pay thousands of times per task. Row-local →
    * embarrassingly parallel at 100 TB and streaming-safe.
    *
    * Output: (id, n_raw_bytes, n_deflate_bytes, ratio) — null and
    * EMPTY text rows yield (0, 0, null): zero input bytes have no
    * meaningful ratio, and deflate would still emit its 2-byte
    * terminator block for them.
    */
  def compressionRatio(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // The typed decode below needs a primitive long id — reject
    // string/UUID/float ids up front (same loud stance as the dedup
    // ops) instead of a silent cast-to-null that dies mid-job with an
    // opaque null-value decode error.
    val idType = df.schema(idCol).dataType
    require(Seq("byte", "short", "integer", "long").contains(idType.typeName),
      s"compressionRatio: id column '$idCol' must be an integral type, got ${idType.simpleString}")
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val deflater = new java.util.zip.Deflater(6, true)
        val buf = new Array[Byte](64 * 1024)
        var ended = false
        new Iterator[(Long, Long, Long, Option[Double])] {
          def hasNext: Boolean = {
            val h = rows.hasNext
            // release the native zlib handle as soon as the partition
            // drains instead of waiting on the Cleaner
            if (!h && !ended) { ended = true; deflater.end() }
            h
          }
          def next(): (Long, Long, Long, Option[Double]) = {
            val (id, text) = rows.next()
            if (text == null || text.isEmpty) (id, 0L, 0L, Option.empty[Double])
            else {
              val raw = text.getBytes("UTF-8")
              deflater.reset()
              deflater.setInput(raw)
              deflater.finish()
              var out = 0L
              while (!deflater.finished()) out += deflater.deflate(buf)
              (id, raw.length.toLong, out, Some(out.toDouble / raw.length))
            }
          }
        }
      }
      .toDF(idCol, "n_raw_bytes", "n_deflate_bytes", "ratio")
  }
}
