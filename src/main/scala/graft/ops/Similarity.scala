package graft.ops

import graft.functions.GraftExtensions.vec_dot
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`).
  *
  * Scale design (100 TB stance):
  *  - the query set is always the broadcast side — the corpus is never
  *    collected or replicated;
  *  - all vector math runs through the native codegen'd [[graft.functions.DotProduct]]
  *    expression (round-1 measurement: the interpreted higher-order
  *    `aggregate(zip_with(...))` formulation dominated ANN cost);
  *  - norms are projected ONCE per row before any join, so an n×q
  *    candidate join computes one dot product per pair, not three;
  *  - brute-force top-k is the exact baseline: one pass over the corpus
  *    per query batch, per-partition top-k via window row_number;
  *  - IVF: centroids are an INGEST-TIME artifact (computed once, passed
  *    in — never re-collected per query); cell assignment is stored as
  *    a partition column so a probe reads `nprobe/nlist` of the corpus
  *    via partition pruning (see [[ivfIngest]]);
  *  - LSH: sign-bit buckets from deterministic hyperplanes, with
  *    multi-table OR-amplification — candidates are the union of
  *    per-table bucket matches, deduped BEFORE scoring, so recall
  *    grows with tables while each pair is scored exactly once.
  */
object Similarity {

  /** Codegen'd dot product (native Catalyst expression). */
  def dot(a: Column, b: Column): Column = vec_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Window top-k over scored (query_id, neighbor_id, cos_sim) rows. */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Corpus side projected once: (neighbor_id, __v, __nv).
    *
    * Null and ZERO-NORM vectors are excluded here, at the single entry
    * point every operator shares: cosine against a zero vector is 0/0 =
    * NaN, and Spark orders NaN ABOVE every real double — one
    * failed-embedding artifact row would otherwise claim rank 1 in
    * every query's top-k and emit a false near-dup pair against every
    * candidate (`NaN >= threshold` is true).
    */
  private def corpusSide(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__nv", norm(col("__v")))
      .filter(col("__nv") > 0)

  /** Query side projected once and broadcast: (query_id, __q, __nq).
    * Null/zero-norm query vectors are excluded (see [[corpusSide]]).
    */
  private def querySide(queries: DataFrame, qidCol: String, qvecCol: String): DataFrame =
    queries.select(col(qidCol).as("query_id"),
      col(qvecCol).cast("array<double>").as("__q"))
      .withColumn("__nq", norm(col("__q")))
      .filter(col("__nq") > 0)

  private def scorePairs(joined: DataFrame): DataFrame =
    joined
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("__v"), col("__q")) / (col("__nv") * col("__nq"))).as("cos_sim"))

  /** Exact brute-force cosine top-k.
    * `queries`: (qid, qvec array<double>) — small, broadcast.
    * `corpus`: (id, vec array<double>).
    * Returns (query_id, neighbor_id, cos_sim) — k rows per query,
    * self-match excluded, ties broken by neighbor id.
    */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int): DataFrame =
    topK(cosineScores(corpus, idCol, vecCol, queries, qidCol, qvecCol), k)

  /** The UNCUT exact scored side: every (query_id, neighbor_id,
    * cos_sim) pair, self-match excluded — for consumers that apply
    * their own selection rule (e.g. [[Fusion.rrfFuse]] pools on
    * ROUNDED scores: a top-k pre-cut on raw floats here would decide
    * the pool boundary before the rounding can absorb float noise).
    * No shuffle of its own — downstream TakeOrderedAndProject or
    * aggregation does the cutting.
    */
  def cosineScores(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String): DataFrame =
    scorePairs(
      corpusSide(corpus, idCol, vecCol)
        .crossJoin(broadcast(querySide(queries, qidCol, qvecCol))))

  // --- IVF -----------------------------------------------------------

  /** Deterministic coarse centroids: the `nlist` corpus vectors with the
    * smallest `sampleHash(id)` (ties by id) — a reproducible
    * pseudo-random sample (driver-sized: nlist × dim doubles) —
    * optionally refined with `refineSweeps` Lloyd (k-means) iterations:
    * assign → per-cell per-dimension mean (posexplode + hash aggregate,
    * fully distributed; only the nlist × dim means are collected).
    * Cells that lose every member keep their previous centroid.
    * Ingest-time cost, never per query.
    *
    * `sampleHash` defaults to native xxhash64 (production). Pass
    * [[md5SampleHash]] for an engine-portable sample: with
    * `refineSweeps = 0` the centroids are then actual corpus vectors
    * chosen by a hash any ANSI engine reproduces, so the whole
    * assignment + probe pipeline is oracle-checkable (refinement means
    * stay rows-only — float mean summation order differs across
    * engines).
    */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, refineSweeps: Int = 0,
      sampleHash: Column => Column = xxhash64(_)): Array[Array[Double]] = {
    val c0 = corpusSide(corpus, idCol, vecCol)
    var cents: Array[Array[Double]] = corpus
      .select(col(vecCol).cast("array<double>").as("__v"),
        sampleHash(col(idCol)).as("__h"), col(idCol).as("__id"))
      .orderBy(col("__h"), col("__id")).limit(nlist)
      .select(col("__v")).collect()
      .map(r => r.getSeq[Double](0).toArray)
    (0 until refineSweeps).foreach { _ =>
      val means = c0
        .withColumn("__cell", nearestCells(col("__v"), cents, 1).getItem(0))
        .select(col("__cell"), posexplode(col("__v")).as(Seq("__d", "__x")))
        .groupBy(col("__cell"), col("__d"))
        .agg(avg(col("__x")).as("__m"))
        .collect()
        .groupBy(_.getInt(0))
        .view.mapValues(rows =>
          rows.sortBy(_.getInt(1)).map(_.getDouble(2))).toMap
      cents = cents.zipWithIndex.map { case (old, i) => means.getOrElse(i, old) }
    }
    cents
  }

  /** Engine-portable centroid-sample hash: 60 bits from the md5 of the
    * stringified id — `('0x' || substr(md5(CAST(id AS VARCHAR)), 1,
    * 15))::BIGINT` in DuckDB, byte-identical (the [[Md5Family]] trick).
    */
  def md5SampleHash(id: Column): Column =
    Md5Family.hex60(id.cast("string"))

  /** The `n` nearest centroid cell ids for a vector, best-first (exact
    * cosine against each centroid — nlist native dots per row).
    */
  def nearestCells(vec: Column, centroids: Array[Array[Double]], n: Int): Column = {
    val scored = array(centroids.zipWithIndex.map { case (cv, i) =>
      val cn = math.sqrt(cv.map(x => x * x).sum)
      struct((-dot(vec, lit(cv)) / (norm(vec) * lit(cn))).as("d"), lit(i).as("cell"))
    }: _*)
    transform(slice(sort_array(scored), 1, n), s => s.getField("cell"))
  }

  /** Ingest-time IVF materialization: assign every corpus vector to its
    * nearest centroid cell and write parquet PARTITIONED BY the cell —
    * queries then read only their probed cells (partition pruning), the
    * 100 TB story for IVF. Returns the read-back handle.
    */
  def ivfIngest(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], path: String): DataFrame = {
    corpusSide(corpus, idCol, vecCol)
      .withColumn("__cell", nearestCells(col("__v"), centroids, 1).getItem(0))
      .write.mode("overwrite").partitionBy("__cell").parquet(path)
    corpus.sparkSession.read.parquet(path)
  }

  /** IVF probe over an ingested (cell-partitioned) corpus: each query
    * scans only its `nprobe` nearest cells. Probe cells are collected
    * driver-side (nprobe ints per query — the FAISS-style probe list),
    * so the cell filter is a STATIC partition-pruning predicate on the
    * parquet scan, not a join-time filter over the full corpus.
    */
  def ivfProbe(assigned: DataFrame, centroids: Array[Array[Double]],
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nprobe: Int): DataFrame = {
    val q = querySide(queries, qidCol, qvecCol)
      .withColumn("__cells", nearestCells(col("__q"), centroids, nprobe))
    // One row per (query, probed cell) — tiny, broadcast; the distinct
    // cell list is collected driver-side (the FAISS-style probe list)
    // so the corpus filter is a STATIC partition-pruning predicate.
    val probeRows = q.select(col("query_id"), col("__q"), col("__nq"),
      explode(col("__cells")).as("__cell"))
    val probedCells: Seq[Int] = q.select(explode(col("__cells")).as("c"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val pruned = assigned.filter(col("__cell").isin(probedCells: _*))
    val joined = pruned.join(broadcast(probeRows), Seq("__cell"))
    topK(scorePairs(joined), k)
  }

  // --- embedding near-dup ---------------------------------------------

  /** ONE owner of the exact pair-scoring algebra: a frame carrying
    * (idA, idB, __va, __na, __vb, __nb) → (idA, idB, cos_sim >=
    * threshold). Every near-dup/semantic-dedup variant routes through
    * here so a change to the cosine form or threshold inclusivity
    * cannot drift between the paths.
    */
  private def thresholdedPairs(j: DataFrame, idA: String, idB: String,
      threshold: Double): DataFrame =
    j.select(col(idA), col(idB),
        (dot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)

  /** Exact embedding near-dup pairs: all (id_a < id_b) with cosine >=
    * threshold. QUADRATIC in the corpus — the oracle twin for bounded
    * subsets, like `Dedup.ngramJaccardPairs`; the scale path is
    * [[embeddingNearDupBucketedArray]].
    *
    * Executed as a BLOCK-PARTITIONED kernel, not a row-level cross
    * join: rows hash into B ≈ n/targetBlock blocks, each row is
    * replicated to the B unordered block-pair groups it participates
    * in (n×B rows shuffled — the classic distributed all-pairs
    * layout), and each group scores its ≤ targetBlock² pairs with a
    * tiled primitive-double loop (4 independent accumulator chains
    * hide FP-add latency). The 100×-measured motivation: the
    * BroadcastNestedLoopJoin formulation pays UnsafeRow/JoinedRow
    * machinery per VISITED pair — ~30× the cost of the dot product
    * itself at dim 64 (320 s → tens of seconds at 200 k vectors).
    *
    * BIT-EXACT with the cross-join twin: row eligibility is decided by
    * the same Catalyst expressions ([[norm]] + `__nv > 0`), and each
    * pair's dot is the same strictly left-to-right double summation as
    * [[graft.functions.DotProduct]], so borderline threshold crossings
    * cannot drift (spec-pinned equality incl. null/zero-norm/dup-id
    * edge cases). Exotic id types (anything the in-kernel comparator
    * doesn't cover) fall back to the cross-join twin.
    */
  def embeddingNearDupExact(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, targetBlock: Int = 8192): DataFrame = {
    require(targetBlock >= 1, "targetBlock must be >= 1")
    val idType = corpus.schema(idCol).dataType
    idKernelCompare(idType) match {
      case None => embeddingNearDupExactCrossJoin(corpus, idCol, vecCol, threshold)
      case Some(cmp) =>
        embeddingNearDupExactBlocked(corpus, idCol, vecCol, threshold, targetBlock, cmp)
    }
  }

  /** The pre-kernel cross-join formulation — retained as the
    * equality-pinned twin (spec: blocked == crossJoin on adversarial
    * corpora) and the fallback for id types without a kernel
    * comparator.
    */
  private[graft] def embeddingNearDupExactCrossJoin(corpus: DataFrame, idCol: String,
      vecCol: String, threshold: Double): DataFrame = {
    val a = corpusSide(corpus, idCol, vecCol)
      .select(col("neighbor_id").as("id_a"), col("__v").as("__va"), col("__nv").as("__na"))
    val b = corpusSide(corpus, idCol, vecCol)
      .select(col("neighbor_id").as("id_b"), col("__v").as("__vb"), col("__nv").as("__nb"))
    thresholdedPairs(
      a.crossJoin(b).filter(col("id_a") < col("id_b")),
      "id_a", "id_b", threshold)
  }

  /** In-kernel comparator reproducing Catalyst's `<` on the id column:
    * integral as long; string as UNSIGNED UTF-8 BYTE order (UTF8String
    * binary compare — Java String.compareTo would disagree on
    * supplementary-plane vs U+E000..U+FFFF code points); float/double
    * with Spark's total order (NaN largest, -0.0 == 0.0); decimal by
    * value. Anything else → None → cross-join fallback.
    */
  private def idKernelCompare(dt: org.apache.spark.sql.types.DataType)
      : Option[(Any, Any) => Int] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => Some((a, b) =>
        java.lang.Long.compare(
          a.asInstanceOf[Number].longValue(), b.asInstanceOf[Number].longValue()))
      case StringType => Some { (a, b) =>
        val x = a.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val y = b.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val n = math.min(x.length, y.length)
        var i = 0
        var r = 0
        while (r == 0 && i < n) { r = (x(i) & 0xff) - (y(i) & 0xff); i += 1 }
        if (r != 0) r else x.length - y.length
      }
      case DoubleType => Some { (a, b) =>
        val x = a.asInstanceOf[Double]; val y = b.asInstanceOf[Double]
        if (x == y) 0 else java.lang.Double.compare(x, y)
      }
      case FloatType => Some { (a, b) =>
        val x = a.asInstanceOf[Float]; val y = b.asInstanceOf[Float]
        if (x == y) 0 else java.lang.Float.compare(x, y)
      }
      case _: DecimalType => Some((a, b) =>
        a.asInstanceOf[java.math.BigDecimal].compareTo(b.asInstanceOf[java.math.BigDecimal]))
      case _ => None
    }
  }

  /** Spark-semantics `cos >= t` for a finite t: NaN compares LARGEST
    * (SQLOrderingUtil), so a NaN score passes — identical to the
    * Catalyst filter in [[thresholdedPairs]].
    */
  @inline private def geqSpark(x: Double, t: Double): Boolean =
    x >= t || java.lang.Double.isNaN(x)

  private def embeddingNearDupExactBlocked(corpus: DataFrame, idCol: String,
      vecCol: String, threshold: Double, targetBlock: Int,
      cmp: (Any, Any) => Int): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val idType = corpus.schema(idCol).dataType
    val outSchema = StructType(Seq(
      StructField("id_a", idType), StructField("id_b", idType),
      StructField("cos_sim", DoubleType)))
    // Row eligibility decided by the SAME expressions as corpusSide:
    // null ids can never satisfy id_a < id_b; null/zero-norm vectors
    // are excluded (null ELEMENTS poison vec_dot → null norm → dropped
    // here, so kernel vectors are dense); NaN norms pass `> 0` under
    // Spark's NaN-largest order and flow through to a NaN cos_sim,
    // exactly like the cross-join twin.
    val cleaned = corpus
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("__v"))
      .filter(col("id").isNotNull)
      .withColumn("__nv", norm(col("__v")))
      .filter(col("__nv") > 0)
    val n = cleaned.count()
    if (n == 0) return corpus.sparkSession
      .createDataFrame(corpus.sparkSession.sparkContext.emptyRDD[Row], outSchema)
    // B blocks of ~targetBlock rows; every row ships B times (n×B total
    // — the unavoidable replication of exact all-pairs over a grid).
    // The 1024 cap bounds per-row fan-out; past it blocks grow instead.
    val blocks = math.max(1, math.min(1024L, (n + targetBlock - 1) / targetBlock)).toInt
    val rep = cleaned
      .withColumn("__blk", pmod(xxhash64(col("id")), lit(blocks.toLong)).cast("int"))
      .select(col("id"), col("__v"), col("__nv"), col("__blk"),
        explode(sequence(lit(0), lit(blocks - 1))).as("__m"))
      .select(
        least(col("__blk"), col("__m")).as("__gi"),
        greatest(col("__blk"), col("__m")).as("__gj"),
        // In the diagonal group (k,k) the row appears once, tagged left.
        (col("__blk") <= col("__m")).as("__isLeft"),
        col("id"), col("__v"), col("__nv"))
    val keyEnc = Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt)
    val t = threshold
    rep.groupByKey(r => (r.getInt(0), r.getInt(1)))(keyEnc)
      .flatMapGroups { (key: (Int, Int), rows: Iterator[Row]) =>
        val diag = key._1 == key._2
        val lIds = scala.collection.mutable.ArrayBuffer.empty[Any]
        val lVecs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
        val lNorms = scala.collection.mutable.ArrayBuffer.empty[Double]
        val rIds = scala.collection.mutable.ArrayBuffer.empty[Any]
        val rVecs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
        val rNorms = scala.collection.mutable.ArrayBuffer.empty[Double]
        rows.foreach { r =>
          val vec = r.getSeq[Double](4).toArray
          if (r.getBoolean(2)) { lIds += r.get(3); lVecs += vec; lNorms += r.getDouble(5) }
          else { rIds += r.get(3); rVecs += vec; rNorms += r.getDouble(5) }
        }
        val (jIds, jVecs, jNorms) = if (diag) (lIds, lVecs, lNorms) else (rIds, rVecs, rNorms)
        val rn = jIds.length
        // Lazy per-left-row: bounds group memory by one row's matches,
        // never the group's full pair set (a degenerate all-duplicates
        // block would otherwise buffer targetBlock² Rows).
        lIds.indices.iterator.flatMap { i =>
          val vi = lVecs(i); val ni = lNorms(i); val ia = lIds(i)
          val di = vi.length
          val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
          @inline def emit(jj: Int, s: Double): Unit = {
            val cos = s / (ni * jNorms(jj))
            if (geqSpark(cos, t)) {
              val c = cmp(ia, jIds(jj))
              if (c < 0) buf += Row(ia, jIds(jj), cos)
              else if (c > 0) buf += Row(jIds(jj), ia, cos)
            }
          }
          var j = if (diag) i + 1 else 0
          // 4-way j-tile: four INDEPENDENT accumulator chains per
          // iteration hide the FP-add latency wall (each chain is its
          // own strictly left-to-right summation — per-pair arithmetic
          // is untouched, only inter-pair scheduling changes).
          while (j + 3 < rn) {
            val v0 = jVecs(j); val v1 = jVecs(j + 1)
            val v2 = jVecs(j + 2); val v3 = jVecs(j + 3)
            val d0 = math.min(di, v0.length); val d1 = math.min(di, v1.length)
            val d2 = math.min(di, v2.length); val d3 = math.min(di, v3.length)
            val dm = math.min(math.min(d0, d1), math.min(d2, d3))
            var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
            var k = 0
            while (k < dm) {
              val x = vi(k)
              s0 += x * v0(k); s1 += x * v1(k); s2 += x * v2(k); s3 += x * v3(k)
              k += 1
            }
            // Ragged tails (mixed-dim corpora only) finish each chain
            // in the same left-to-right order.
            var k0 = dm; while (k0 < d0) { s0 += vi(k0) * v0(k0); k0 += 1 }
            var k1 = dm; while (k1 < d1) { s1 += vi(k1) * v1(k1); k1 += 1 }
            var k2 = dm; while (k2 < d2) { s2 += vi(k2) * v2(k2); k2 += 1 }
            var k3 = dm; while (k3 < d3) { s3 += vi(k3) * v3(k3); k3 += 1 }
            emit(j, s0); emit(j + 1, s1); emit(j + 2, s2); emit(j + 3, s3)
            j += 4
          }
          while (j < rn) {
            val vj = jVecs(j)
            val d = math.min(di, vj.length)
            var s = 0.0
            var k = 0
            while (k < d) { s += vi(k) * vj(k); k += 1 }
            emit(j, s)
            j += 1
          }
          buf
        }
      }(Encoders.row(outSchema))
      .toDF()
  }

  /** LSH-bucketed embedding near-dup (scale path): candidate pairs are
    * corpus rows sharing a bucket in ANY hash table (per-table EQUI
    * self-joins — never an all-pairs product), deduped before the
    * single exact scoring pass. One bucket column per hash table,
    * produced by `buckets(t)(vec)`. [[coordinateSketches]] gives an
    * exactly-SQL-expressible family for oracle-checked runs (float
    * sign comparisons only — no dot sums whose summation order could
    * flip a bucket bit between engines); random hyperplanes
    * ([[lshPlanesPortable]]) go through [[embeddingNearDupBucketedArray]].
    *
    * In-bucket pairing is quadratic in bucket size, so buckets beyond
    * `maxBucket` are DROPPED, not expanded — the same guard as
    * [[Dedup.minhashLshPairs]] mega-buckets and [[semanticDedup]]
    * clusters (a near-constant embedding region would otherwise turn
    * one bucket into an all-pairs straggler). Observable without an
    * extra job via the "embedding_lsh_buckets" observation
    * (dropped_buckets / max_bucket); exact duplicates inside a dropped
    * bucket are still caught by [[embeddingNearDupExact]] on bounded
    * subsets or exact digest dedup upstream.
    */
  def embeddingNearDupBucketed(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, buckets: Seq[Column => Column],
      maxBucket: Int = 4096): DataFrame =
    embeddingNearDupBucketedArray(corpus, idCol, vecCol, threshold,
      v => array(buckets.map(f => f(v)): _*), maxBucket)

  /** [[embeddingNearDupBucketed]] with the bucket family as ONE
    * array<long> column (element t = table t's bucket) instead of a
    * per-table column seq: the shape native sketch expressions emit
    * ([[graft.functions.GraftExtensions.lsh_sign_buckets]]), whose
    * generated code stays constant-size however large the planned
    * sketch grows.
    */
  def embeddingNearDupBucketedArray(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bucketsArray: Column => Column,
      maxBucket: Int = 4096): DataFrame = {
    require(maxBucket > 1, "maxBucket must allow at least one pair")
    val base = corpusSide(corpus, idCol, vecCol)
    // One (id, table, bucket) layout — IDS ONLY: the vector payload
    // never rides the bucket shuffle (banding, the cap semi-join and
    // the collision self-join all move narrow integer rows; the
    // alternative — vectors through the (t, bucket) exchange — was
    // measured 3× slower even at sf0.1). The bucket-size cap is ONE
    // aggregate + semi-join, exactly the minhashLshPairs shape.
    // Deliberately UNPERSISTED (measured both ways at the 100×
    // rehearsal, r11): the banded rows have three static consumers (the
    // cap aggregate and both sides of the collision self-join), but the
    // self-join's sides are identical subtrees that runtime exchange
    // reuse deduplicates, so the sketch evaluates ~2×, not 3× — and at
    // planned sf10 shapes the query's cost lives in the ~100 M-row
    // candidate self-join and the two vector pulls, not the sketch.
    // Caching the ~(corpus × tables) banded rows measured 224.0 s vs
    // 228.7 s unpersisted (isolated, fresh JVMs) — indistinguishable,
    // so the simpler shape without cache-memory pressure inside the
    // giant joins wins.
    val banded = base.select(col("neighbor_id"),
      posexplode(bucketsArray(col("__v"))).as(Seq("__t", "__bk")))
    // n_buckets rides the same observation so the VACUOUS-RUN condition
    // — dropped_buckets == n_buckets, i.e. the cap silently discarded
    // 100% of buckets and the "result" is an empty frame that means
    // nothing — is detectable from the metrics alone. A fixed shape
    // tuned at small scale hits exactly this at 100×: at 500 k vectors
    // a 4-bit table's 16 buckets hold ~12.5 k rows each, all over a
    // 4096 cap. Size the shape with [[planSignBits]] instead.
    val sizes = banded.groupBy(col("__t"), col("__bk"))
      .agg(count(lit(1)).as("__bsz"))
      .observe(s"embedding_lsh_buckets_${ObsId.next()}",
        sum(when(col("__bsz") > maxBucket, 1L).otherwise(0L)).as("dropped_buckets"),
        count(lit(1)).as("n_buckets"),
        max(col("__bsz")).as("max_bucket"))
    val capped = banded.join(sizes.filter(col("__bsz") <= maxBucket),
      Seq("__t", "__bk"), "left_semi")
    // Candidate ID pairs deduped across tables BEFORE scoring — each
    // surviving pair costs exactly one dot product, via two narrow
    // id-equi-joins pulling the vectors back in.
    val pairs = capped.select(col("__t"), col("__bk"), col("neighbor_id").as("id_a"))
      .join(capped.select(col("__t"), col("__bk"), col("neighbor_id").as("id_b")),
        Seq("__t", "__bk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    // SHUFFLE_HASH, not sort-merge, for both vector pulls — the same
    // 100×-measured lesson as Dedup.verifiedJaccard: SMJ would SORT the
    // pair stream, and after the first pull each pair row carries a
    // dim×8-byte vector payload (~10⁸ planned candidates × ~0.5 KB at
    // the sf10 rehearsal = tens of GB through 32 concurrent
    // UnsafeExternalSorters — measured as UNABLE_TO_ACQUIRE_MEMORY
    // under suite memory pressure). The hash build side is the CORPUS
    // (corpus/numPartitions rows per task), and the fat pair rows
    // stream through unsorted.
    val va = base.select(col("neighbor_id").as("id_a"),
      col("__v").as("__va"), col("__nv").as("__na"))
      .hint("shuffle_hash")
    val vb = base.select(col("neighbor_id").as("id_b"),
      col("__v").as("__vb"), col("__nv").as("__nb"))
      .hint("shuffle_hash")
    thresholdedPairs(pairs.join(va, "id_a").join(vb, "id_b"),
      "id_a", "id_b", threshold)
  }

  // --- semantic dedup --------------------------------------------------

  /** Sign-bit sketch of the first `bits` dimensions: bit i is set when
    * `vec[i] > 0`. A crude but deterministic cluster key (each bit is a
    * coordinate-hyperplane LSH cut), with one property the random-plane
    * buckets lack: it is expressible in plain SQL, so a semantic-dedup
    * run clustered by it can be oracle-verified end-to-end. Production
    * runs should prefer [[nearestCells]] over [[ivfCentroids]] — real
    * k-means cells cluster semantically alike vectors far better.
    */
  def signBitSketch(vec: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 30, "bits must be in [1, 30]")
    val bucket = (0 until bits).map(i =>
      when(element_at(vec, i + 1) > 0, lit(1 << (bits - 1 - i))).otherwise(lit(0)))
      .reduce(_ + _)
    // A vector shorter than `bits` would silently zero-fill the high
    // bits (element_at past the end is null → otherwise(0)), collapsing
    // 2^bits intended clusters into 2^dim — clusters then overflow
    // maxCluster and pass through unjudged. Fail the ROW, the same
    // guard as coordinateSketches. A NULL vector gets a null sketch
    // (such rows are unjudgeable and excluded by the norm filters
    // downstream — they must not abort the job).
    when(vec.isNull, lit(null).cast("int"))
      .when(size(vec) >= bits, bucket)
      .otherwise(raise_error(
        concat(lit(s"signBitSketch needs dim >= $bits, got "),
          size(vec).cast("string"))))
  }

  /** SemDeDup-style semantic deduplication: within each cluster, drop
    * every row that has ANY smaller-id neighbor with cosine >=
    * `threshold` (dropped rows still dominate — a near-dup CHAIN
    * a~b~c keeps only its smallest id even when a !~ c). Returns the
    * surviving `corpus` rows unchanged.
    *
    * The cluster key bounds the quadratic pairwise scoring — cosine is
    * computed only inside clusters, never across the corpus (the
    * SemDeDup recipe: k-means cells ~ this op with a
    * [[nearestCells]]-derived key; the harness uses [[signBitSketch]]
    * to stay SQL-checkable). Clusters larger than `maxCluster` pass
    * through UNJUDGED (every member kept — dedup stays best-effort,
    * never a straggler task); the skip is observable via the
    * "semantic_dedup_clusters" observation without an extra job.
    *
    * Plan shape: one shuffle of (id, vec, cluster) by cluster for the
    * size count + self-join; the anti-join back is on the narrow id
    * set. No driver collection, no cross-cluster pairs.
    */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
      clusterKey: Column, threshold: Double, maxCluster: Int = 4096): DataFrame = {
    require(maxCluster > 1, "maxCluster must allow at least one pair")
    val reserved = Seq("__c", "__csize", "__sd_dropid")
    require(!corpus.columns.exists(reserved.contains),
      s"corpus reserves column name(s) ${reserved.mkString(", ")}")
    // Zero-norm/null vectors cannot be judged (cosine is NaN — see
    // corpusSide) and are excluded from scoring: such rows pass
    // through KEPT, like members of over-cap clusters.
    val e = corpus.withColumn("__c", clusterKey)
      .select(col(idCol).as("__id"), col("__c"),
        col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__nv", norm(col("__v")))
      .filter(col("__nv") > 0)
    val sizes = e.groupBy(col("__c")).agg(count(lit(1)).as("__csize"))
      .observe(s"semantic_dedup_clusters_${ObsId.next()}",
        sum(when(col("__csize") > maxCluster, 1L).otherwise(0L)).as("skipped_clusters"),
        max(col("__csize")).as("max_cluster"))
      .filter(col("__csize") <= maxCluster)
      .select(col("__c"))
    val judged = e.join(sizes, "__c")
    val a = judged.select(col("__c"), col("__id").as("__ida"),
      col("__v").as("__va"), col("__nv").as("__na"))
    // SHUFFLE_HASH for the in-cluster pair join: both sides carry the
    // vector payload, and sort-merge would sort them (the fat-row-sort
    // failure mode measured at the 100× rehearsal — see
    // embeddingNearDupBucketed). The build side is one partition's
    // share of the judged vectors (~corpus/numPartitions rows); the
    // quadratic pair expansion streams out unsorted.
    val b = judged.select(col("__c"), col("__id").as("__idb"),
      col("__v").as("__vb"), col("__nv").as("__nb"))
      .hint("shuffle_hash")
    val dropped = thresholdedPairs(
        a.join(b, "__c").filter(col("__ida") < col("__idb")),
        "__ida", "__idb", threshold)
      .select(col("__idb").as("__sd_dropid"))
      .distinct()
    corpus.join(dropped, col(idCol) === col("__sd_dropid"), "left_anti")
  }

  // --- sign-bit LSH ----------------------------------------------------

  /** Chosen sign-LSH shape and its predicted behavior: `bits` per
    * table, `tables` tables, the expected MEAN bucket size under
    * uniform occupancy, and the candidate-recall at the threshold.
    */
  final case class SignBitPlan(
      bits: Int, tables: Int, expectedBucket: Double, recallAtThreshold: Double)

  /** Size the sign-LSH shape for a corpus (the [[lshPlanesPortable]]
    * tensor behind [[embeddingNearDupBucketedArray]]): in-bucket
    * pairing is quadratic in bucket size, so `bits` must GROW with the
    * corpus (bits ≈ log2(N / targetBucket)); a shape tuned at small
    * scale (few bits → giant buckets) degrades superlinearly at 10×
    * the data and at 100 TB every bucket overruns `maxBucket` and is
    * dropped. `tables` is then the recall knob: one table's collision
    * probability for a pair at cosine `threshold` is (1 − θ/π)^bits
    * (Goemans–Williamson hyperplane rounding), and tables are chosen
    * so 1 − (1 − p)^tables ≥ `targetRecall`, capped at `maxTables`
    * (the cap is reported honestly in `recallAtThreshold`).
    *
    * The uniform-occupancy assumption is OPTIMISTIC for real
    * embeddings (semantic clusters skew buckets); the `maxBucket` drop
    * cap remains the hard guard — this plans the center of the
    * distribution, not the tail. Driver-side arithmetic; call once and
    * pass the result to the corpus-scale ops.
    *
    * `maxCandidates` bounds the PLANNED CANDIDATE VOLUME — the
    * expected in-bucket pair enumeration Σ over tables of
    * N·expectedBucket/2. Recall-first planning alone is a scale trap:
    * at a low threshold the per-table collision signal is weak, so the
    * recall target demands MANY tables, and tables × N ×
    * expectedBucket/2 pairs is the actual shuffle the cluster must
    * absorb (at 200 k vectors / t=0.4 the unbudgeted plan emits ~11 B
    * candidate rows — hundreds of GB — before a single cosine is
    * computed: the r9 sf10 rehearsal measured exactly that as a
    * disk-filling warmup). Over budget, `bits` rises (smaller buckets
    * → fewer pairs per table) and the honest cost is paid in
    * `recallAtThreshold`, which reports the achieved value AT the
    * threshold margin; pairs well above the threshold (true near-dups
    * at cosine ≈ 1) still collide with near-certainty, which is the
    * regime embedding dedup actually hunts.
    */
  def planSignBits(corpusSize: Long, threshold: Double,
      targetBucket: Int = 4096, targetRecall: Double = 0.9,
      maxTables: Int = 64, maxCandidates: Long = Long.MaxValue): SignBitPlan = {
    require(corpusSize > 0, "corpusSize must be positive")
    require(threshold > 0 && threshold < 1, "threshold must be in (0, 1)")
    require(targetBucket > 1, "targetBucket must be > 1")
    require(targetRecall > 0 && targetRecall < 1, "targetRecall must be in (0, 1)")
    require(maxTables >= 1, "maxTables must be >= 1")
    require(maxCandidates > 0, "maxCandidates must be positive")
    val theta = math.acos(threshold)
    def pTable(bits: Int): Double = math.pow(1 - theta / math.Pi, bits)
    def tablesFor(bits: Int): Int = {
      val p = pTable(bits)
      if (p >= 1 - 1e-12) 1
      else math.max(1, math.min(maxTables,
        math.ceil(math.log(1 - targetRecall) / math.log(1 - p)).toInt))
    }
    def candVolume(bits: Int): Double =
      tablesFor(bits).toDouble * corpusSize.toDouble *
        (corpusSize.toDouble / (1L << bits)) / 2
    var bits = math.max(1, math.min(30,
      math.ceil(math.log(corpusSize.toDouble / targetBucket) / math.log(2)).toInt))
    while (bits < 30 && candVolume(bits) > maxCandidates.toDouble) bits += 1
    val tables = tablesFor(bits)
    val recall = 1 - math.pow(1 - pTable(bits), tables)
    SignBitPlan(bits, tables, corpusSize.toDouble / (1L << bits), recall)
  }

  /** Engine-PORTABLE plane tensor — the [[graft.ops.Md5Family]] stance
    * applied to hyperplanes: plane(t)(b)(d) is derived from
    * md5("lshp:t:b:d") so ANY engine with an md5 can regenerate the
    * tensor bit-identically and replay the whole bucket pipeline in
    * SQL (the `dedup_embedding_lsh_planned` oracle does exactly that;
    * splitmix64's wrapping 64-bit multiplies are not expressible in
    * engines whose integer ops trap on overflow). Exactness argument:
    * the 13-hex (52-bit) prefix h is exactly representable in a
    * double, h − 2^51 is exact (magnitude < 2^52), and dividing by
    * 2^51 is a power-of-two scale — so every plane value, hence every
    * left-to-right dot sum, is bit-identical across IEEE-754 engines.
    */
  def lshPlanesPortable(dim: Int, bits: Int, tables: Int): Array[Array[Array[Double]]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(tables, bits) { (t, b) =>
      Array.tabulate(dim) { d =>
        md.reset()
        val hex = md.digest(s"lshp:$t:$b:$d".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        val h = java.lang.Long.parseLong(hex.substring(0, 13), 16)
        (h.toDouble - 2251799813685248.0) / 2251799813685248.0 // 2^51
      }
    }
  }

  /** Coordinate sign-bit sketch family: table t's bucket packs the signs
    * of dimensions [t·bits, (t+1)·bits) — bit b set when that component
    * is > 0. Strictly weaker clustering than random hyperplanes (each
    * cut is axis-aligned), but EXACTLY expressible in ANSI SQL (pure
    * sign comparisons, no float dot sums), so a bucketed run is
    * oracle-checkable end-to-end. Requires tables·bits ≤ dim.
    */
  def coordinateSketches(bits: Int, tables: Int): Seq[Column => Column] = {
    require(bits >= 1 && bits <= 62 && tables >= 1, "bad sketch shape")
    (0 until tables).map { t => (vec: Column) =>
      val bucket = (0 until bits).map { b =>
        when(element_at(vec, t * bits + b + 1) > 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce((x, y) => x.bitwiseOR(y))
      // dim < tables·bits would silently read nulls past the end of
      // the vector → every row lands in bucket 0 → the per-table
      // equi-join degenerates to an all-pairs product. Fail the ROW
      // instead (the dim is only known at bucketing time). NULL
      // vectors get a null bucket (null join keys never match — the
      // row simply produces no candidates) instead of aborting.
      when(vec.isNull, lit(null).cast("long"))
        .when(size(vec) >= (t + 1) * bits, bucket)
        .otherwise(raise_error(
          concat(lit(s"coordinateSketches table $t needs dim >= ${(t + 1) * bits}, got "),
            size(vec).cast("string"))))
    }
  }

  /** Multi-table LSH ANN top-k (OR-amplification): a corpus vector is a
    * candidate for a query if they share a bucket in ANY of the hash
    * tables, one bucket column per table (see
    * [[embeddingNearDupBucketed]] for the family choice). Candidates
    * are deduped after scoring; recall rises with the table count (and
    * falls with the bits per table); scores are exact for every
    * returned pair.
    */
  def bucketedTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, buckets: Seq[Column => Column]): DataFrame = {
    val tables = buckets.length

    def withBuckets(df: DataFrame, vec: String): DataFrame =
      buckets.zipWithIndex.foldLeft(df) { case (acc, (f, t)) =>
        acc.withColumn(s"__b$t", f(col(vec)))
      }

    val c = withBuckets(corpusSide(corpus, idCol, vecCol), "__v")
    val q = broadcast(withBuckets(querySide(queries, qidCol, qvecCol), "__q"))

    // OR across tables in one join condition: the broadcast hash join
    // degenerates to a broadcast nested-loop under OR, so instead join
    // per table (hashable equi-join each). Pairs are SCORED inside each
    // branch and deduped on the narrow (ids, score) rows — deduping
    // before scoring would shuffle the vector payloads (~dim × 8 bytes
    // per row) and force a SortAggregate (first() over arrays is not
    // hash-aggregable); a duplicate candidate re-costs one dot product
    // instead.
    val scored = (0 until tables).map { t =>
      scorePairs(c.join(q, c(s"__b$t") === q(s"__b$t")))
    }.reduce(_ unionByName _)
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(min(col("cos_sim")).as("cos_sim")) // duplicates score identically

    topK(scored, k)
  }

  /** Recall@k of an approximate neighbor result against the exact one —
    * the acceptance metric every ANN deployment tracks (FAISS-style):
    * per query, the fraction of the EXACT top-k the approximate index
    * retrieved. Feed it two (query, neighbor) sets, e.g. [[bucketedTopK]]
    * vs [[bruteForceTopK]] on a held-out query sample.
    *
    * Queries the approximate side missed entirely still appear (recall
    * 0), via the left join from the exact side. Both inputs are top-k
    * RESULT sets — queries × k rows by construction — so every join
    * here is broadcast-sized regardless of corpus scale; run it on a
    * sampled query set, not the full corpus.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame,
      queryCol: String, neighborCol: String): DataFrame = {
    val hit = approx.select(col(queryCol), col(neighborCol)).distinct()
      .withColumn("__hit", lit(1L))
    exact.select(col(queryCol), col(neighborCol))
      .join(hit, Seq(queryCol, neighborCol), "left")
      .groupBy(col(queryCol))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .withColumn("recall",
        round(col("n_hit").cast("double") / col("n_exact"), 4))
  }
}
