package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftExtensions.{lower_root => lowerRoot}

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
  * pick raw-corpus documents that look like a TARGET corpus by scoring
  * each document under a hashed-n-gram bag-of-features importance
  * model, then keeping the top of the importance ranking.
  *
  *  1. features: word unigrams AND bigrams, each md5-hashed into one
  *     of `buckets` counting buckets (the paper's hashed n-gram
  *     generative model — collisions are part of the model);
  *  2. per-bucket weight λ_b = log p_target(b) − log p_raw(b),
  *     carried as INTEGER MILLI-NATS (`Map[bucket, Long]`) — the same
  *     exactness contract as [[QualityModel]]: the document score
  *     Σ_occurrences λ_b is exact integer math, bit-identical on any
  *     engine/partitioning/run, because a float log-sum's low bits
  *     depend on summation order and the selection boundary sits
  *     exactly there;
  *  3. selection: [[resampleTopK]] keeps the k highest-scoring
  *     documents with an md5-of-id tiebreak — fully deterministic and
  *     oracle-checkable (the paper's Gumbel-top-k variant goes through
  *     `ln`, libm last-ulp territory, so it could not be replayed by
  *     an oracle).
  *
  * Scale shape: the weight table is `buckets`-sized and broadcast;
  * features explode into (doc, bucket) rows, the weight join is a
  * broadcast hash join, the per-doc sum is one map-side-combinable
  * doc-keyed aggregate, and top-k is Spark's TakeOrdered (per-partition
  * heaps, no global sort).
  */
object Dsir {

  /** md5 bucket of one n-gram — the engine-portable hash idiom
    * ([[Md5Family.hex60]] → mod).
    */
  def bucketOf(term: Column, buckets: Int): Column =
    pmod(Md5Family.hex60(term), lit(buckets.toLong))

  /** (id, __term) feature OCCURRENCE rows: word unigrams and bigrams
    * (lowercased, whitespace-tokenized; bigrams joined with one
    * space), born ROW-LOCAL (native tokenize + n-gram in the scan
    * task) — no shuffle. Null/blank text yields no rows.
    */
  def featureOccurrences(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tk = Dedup.tokens(lowerRoot(col(textCol)))
    df.select(col(idCol),
      explode(concat(tk,
        graft.functions.GraftExtensions.word_ngrams(tk, 2))).as("__term"))
  }

  /** Per-document exact integer importance score: `milli_weight` =
    * Σ over feature OCCURRENCES of the bucket's milli-nat weight
    * (buckets absent from the map weigh 0). Documents with no
    * features score 0.
    */
  def score(df: DataFrame, idCol: String, textCol: String,
      milliWeights: Map[Int, Long], buckets: Int): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    require(milliWeights.keys.forall(b => b >= 0 && b < buckets),
      s"weight bucket out of range [0, $buckets)")
    val spark = df.sparkSession
    import spark.implicits._
    val w = broadcast(milliWeights.toSeq.toDF("__ds_b", "__ds_w"))
    val occ = featureOccurrences(df, idCol, textCol)
      .select(col(idCol), bucketOf(col("__term"), buckets).cast("int").as("__ds_b"))
    val sums = occ.join(w, Seq("__ds_b"))
      .groupBy(col(idCol))
      .agg(sum(col("__ds_w")).as("__ds_sum"))
    df.select(col(idCol))
      .join(sums, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__ds_sum"), lit(0L)).as("milli_weight"))
  }

  /** Deterministic importance selection: the `k` highest-scoring
    * documents (ties broken by md5 of the id, then the id). Returns
    * (id, milli_weight) — semi-join back for payloads.
    */
  def resampleTopK(df: DataFrame, idCol: String, textCol: String,
      milliWeights: Map[Int, Long], buckets: Int, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    score(df, idCol, textCol, milliWeights, buckets)
      .orderBy(col("milli_weight").desc,
        md5(col(idCol).cast("string")), col(idCol))
      .limit(k)
  }
}
