package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesizes an sf1-equivalent dataset by replicating the sf0.1 tables
  * REPLICAS× with consistent key offsets, so the full query registry and
  * bench can be rehearsed at 10× the usual bench scale (VERDICT r7 item 1).
  *
  * Design goals, in order:
  *
  *  1. **Join integrity.** Every foreign key is offset by the same
  *     per-replica stride as its referenced primary key, so the join
  *     fan-outs (orders→customer, lineitem→orders/part/supplier) are
  *     EXACTLY those of the base data — scaled 10× in cardinality, not
  *     distorted. Fixed-size dims (region, nation) are NOT replicated,
  *     mirroring TPC-H where their cardinality is scale-invariant.
  *  2. **Workload honesty for the corpus ops.** Documents get a short
  *     per-replica suffix token so replicas are near-identical but not
  *     byte-equal: exact dedup keeps real work (hash-groupBy over 10×
  *     rows with ~no collapse), while MinHash/SimHash/Jaccard see dense
  *     near-dup clusters of ~10 — a deliberate stress of the banded-LSH
  *     caps and the prefix-filter verify pass. Embeddings get a tiny
  *     per-replica epsilon so ANN top-k has no artificial ties.
  *  3. **Temporal density, not temporal stretch.** Events keep their
  *     timestamps and gain 10× distinct users — the realistic shape of
  *     a service growing 10× (same retention window, more traffic), and
  *     the harder case for sessionize/window state.
  *
  * Determinism: offsets derive from max(key)+1 of the base data; the
  * only value perturbations are pure functions of (replica, id).
  *
  * Usage: SPARK_GRAFT_SRC_DIR (default /root/testdata/sf0.1) →
  * SPARK_GRAFT_OUT_DIR (default data/sf1), SPARK_GRAFT_REPLICAS (10).
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SRC_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_OUT_DIR", "data/sf1")
    val replicas = sys.env.getOrElse("SPARK_GRAFT_REPLICAS", "10").toInt
    val spark = Session.local(Session.envCores)
    run(spark, src, out, replicas)
    spark.stop()
  }

  def run(spark: SparkSession, src: String, out: String, replicas: Int): Unit = {
    def base(name: String): DataFrame = Tables.load(spark, src, name)

    // max(key)+1 strides, computed once per table (driver-side scalars —
    // bounded by the table count, not the data).
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L

    val custStride = stride(base("customer"), "c_custkey")
    val suppStride = stride(base("supplier"), "s_suppkey")
    val partStride = stride(base("part"), "p_partkey")
    val orderStride = stride(base("orders"), "o_orderkey")
    val eventStride = stride(base("events"), "event_id")
    val userStride = base("events").agg(max(col("user_id"))).head.getLong(0) + 1L
    val docStride = stride(base("documents"), "doc_id")

    /** Cross-join the table with replica ids 0..replicas-1 (a broadcast
      * of a `replicas`-row frame — the scan stays the outer side), then
      * shift each listed key column by replica*itsStride. */
    def replicate(df: DataFrame, shifts: (String, Long)*): DataFrame = {
      val reps = spark.range(replicas).withColumnRenamed("id", "__replica")
      val crossed = df.crossJoin(broadcast(reps))
      shifts.foldLeft(crossed) { case (acc, (c, s)) =>
        acc.withColumn(c, col(c) + col("__replica") * lit(s))
      }
    }

    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.drop("__replica").repartition(parts)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")

    // Scale-invariant dims: copy through unchanged.
    write(base("region"), "region", 1)
    write(base("nation"), "nation", 1)

    write(replicate(base("customer"), "c_custkey" -> custStride), "customer", 8)
    write(replicate(base("supplier"), "s_suppkey" -> suppStride), "supplier", 4)
    write(replicate(base("part"), "p_partkey" -> partStride), "part", 8)
    write(replicate(base("orders"),
      "o_orderkey" -> orderStride, "o_custkey" -> custStride), "orders", 16)
    write(replicate(base("lineitem"),
      "l_orderkey" -> orderStride, "l_partkey" -> partStride,
      "l_suppkey" -> suppStride), "lineitem", 32)
    write(replicate(base("events"),
      "event_id" -> eventStride, "user_id" -> userStride), "events", 16)

    // Documents: near-identical replicas WITHIN a cohort of up to
    // `cohortSize` replicas; strongly mutated ACROSS cohorts. Real
    // corpora's duplicate-cluster size does not grow with corpus size —
    // a 10× larger crawl has ~10× more clusters of the same size, not
    // clusters 10× as deep — so past one cohort the generator must stop
    // deepening clusters or every pairwise dedup op measures output
    // explosion (pairs ~ clusterSize²) instead of data scaling.
    //
    //  - Cohort 0 (replicas 0..cohortSize-1) reproduces the original
    //    sf1 shape byte-for-byte: replica 0 keeps the base text, the
    //    rest append a short ` rep<r>` suffix — dense high-Jaccard
    //    clusters that stress the banded-LSH caps and prefix-filter
    //    verify pass.
    //  - Cohorts 1+ additionally interleave a cohort-specific token
    //    after every 2 words. Within a cohort the insertions are
    //    identical (high Jaccard, still a near-dup cluster); across
    //    cohorts EVERY w-gram shingle for w ≥ 3 now contains a
    //    cohort-specific token (a window of 3 consecutive tokens of
    //    `w w k` spacing always covers one `k`), so cross-cohort
    //    Jaccard collapses for every shingle width the registry uses
    //    and the cluster depth stays capped at cohortSize. (The r8
    //    generator inserted every 6 words — that only decorrelates
    //    ≥7-grams, so the 3-gram ops saw 100-deep clusters at sf10 and
    //    measured output explosion instead of data scaling: the
    //    judge-reproduced disk-filling Σ df² shuffle.)
    val cohortSize = sys.env.getOrElse("SPARK_GRAFT_COHORT", "10").toInt
    val cohort = (col("__replica") / cohortSize).cast("long")
    val suffixed =
      when(col("__replica") === 0, col("text"))
        .otherwise(concat(col("text"), lit(" rep"), col("__replica")))
    val docs = replicate(base("documents"), "doc_id" -> docStride)
      .withColumn("text",
        when(cohort === 0, suffixed)
          .otherwise(regexp_replace(suffixed,
            lit("((\\S+\\s+){2})"), concat(lit("$1k"), cohort, lit(" ")))))
      .withColumn("n_chars", length(col("text")).cast("long"))
    write(docs, "documents", 8)

    // Embeddings: per-replica epsilon on every component (1e-4 * the
    // within-cohort index) keeps cosine neighborhoods intact while
    // breaking exact ties. Cohorts 1+ add a deterministic pseudo-random
    // per-(cohort, base-vector, component) offset of ±0.8 — large
    // enough that cross-cohort cosine falls well below the 0.4 near-dup
    // threshold (the cluster-depth cap again), small enough that the
    // vectors stay unit-scale. The offset hashes the BASE vec id
    // (pmod by docStride), never the replica, so all replicas of one
    // cohort share it (within-cohort near-dups survive).
    // vec_id shifts by the DOCUMENT stride, not max(vec_id)+1: vec_id
    // is a foreign key into documents (the base data embeds a PREFIX
    // of the doc ids — only ~2k of 5k docs at sf0.1), and goal #1 says
    // FKs shift with their referenced PKs. A vec-own stride would
    // re-point replica r's vectors at replica 0's unrelated documents,
    // silently distorting every filtered/hybrid ANN rehearsal.
    val embs = replicate(base("embeddings"), "vec_id" -> docStride)
      .withColumn("embedding",
        transform(col("embedding"), (x, i) => {
          val eps = (col("__replica") % cohortSize).cast("float") * lit(1e-4f)
          val cohortOff = when(cohort === 0, lit(0.0f)).otherwise(
            ((pmod(hash(cohort, pmod(col("vec_id"), lit(docStride)), i), lit(2001))
              - lit(1000)).cast("float") / lit(1000.0f)) * lit(0.8f))
          (x + eps + cohortOff).cast("float")
        }))
    write(embs, "embeddings", 8)
  }
}
