package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Degenerate-input guards for the similarity surface: zero-norm /
  * null vectors (cosine is NaN — Spark ranks NaN above every real
  * double), short vectors vs sketch width, and empty batches.
  */
class SimilarityGuardsSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, Array(1.0, 0.0, 0.0, 0.0)),
    (2L, Array(0.9, 0.1, 0.0, 0.0)),
    (3L, Array(0.0, 0.0, 0.0, 0.0)), // zero-norm: failed-embedding artifact
    (4L, null.asInstanceOf[Array[Double]]))
    .toDF("id", "vec")

  test("zero-norm and null vectors never reach top-k or near-dup results") {
    val q = Seq((10L, Array(1.0, 0.0, 0.0, 0.0))).toDF("qid", "qvec")
    val top = Similarity.bruteForceTopK(corpus, "id", "vec", q, "qid", "qvec", 4)
      .select("neighbor_id").as[Long].collect().toSet
    assert(top === Set(1L, 2L), "NaN cosine must not claim a top-k slot")

    val pairs = Similarity.embeddingNearDupExact(corpus, "id", "vec", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)), "zero vector must not pair with everything")

    // zero-norm QUERY: excluded, not NaN-matched to the whole corpus
    val qZero = Seq((11L, Array(0.0, 0.0, 0.0, 0.0))).toDF("qid", "qvec")
    assert(Similarity.bruteForceTopK(corpus, "id", "vec", qZero, "qid", "qvec", 4)
      .count() === 0L)
  }

  test("semanticDedup: unjudgeable zero-norm rows are kept and drop nothing") {
    val out = Similarity.semanticDedup(corpus, "id", "vec",
      Similarity.signBitSketch(col("vec"), 1), threshold = 0.5)
    // 1~2 near-dup → 2 dropped; zero/null vectors pass through kept
    assert(out.select("id").as[Long].collect().toSet === Set(1L, 3L, 4L))
  }

  test("signBitSketch fails the row when the vector is shorter than bits") {
    val short = Seq((1L, Array(1.0, -1.0))).toDF("id", "vec")
    val e = intercept[Exception] {
      short.select(Similarity.signBitSketch(col("vec"), 8)).collect()
    }
    assert(e.getMessage.contains("signBitSketch needs dim >= 8"))
  }

  test("empty or all-null batches degrade to empty results, not first() crashes") {
    val emptyQ = Seq.empty[(Long, Array[Double])].toDF("qid", "qvec")
    val buckets = SignLsh.perTable(dim = 4, bits = 8, tables = 4)
    val r1 = Similarity.bucketedTopK(corpus, "id", "vec", emptyQ, "qid", "qvec", 3, buckets)
    assert(r1.columns.toSeq === Seq("query_id", "neighbor_id", "cos_sim"))
    assert(r1.count() === 0L)

    val nullQ = Seq((10L, null.asInstanceOf[Array[Double]])).toDF("qid", "qvec")
    assert(Similarity.bucketedTopK(corpus, "id", "vec", nullQ, "qid", "qvec", 3, buckets)
      .count() === 0L)

    val emptyC = Seq.empty[(Long, Array[Double])].toDF("id", "vec")
    val r2 = Similarity.embeddingNearDupBucketedArray(emptyC, "id", "vec", 0.9,
      SignLsh.array(dim = 4, bits = 12, tables = 6))
    assert(r2.columns.toSeq === Seq("id_a", "id_b", "cos_sim"))
    assert(r2.count() === 0L)
  }

  test("blocked exact kernel equals the cross-join twin bit-for-bit on adversarial corpora") {
    // Adversarial corpus: duplicate ids (never self-pair), exact-dup
    // vectors, a null vector, a zero vector, a NaN element (NaN norm
    // passes `> 0` under Spark's NaN-largest order on BOTH paths),
    // ragged dims, and negative components around the threshold.
    val rnd = new scala.util.Random(20260816)
    val rows = (1 to 120).map { i =>
      val dim = if (i % 17 == 0) 6 else 8
      (i.toLong % 90L, // forces some duplicate ids
        Array.fill(dim)(rnd.nextGaussian()))
    } ++ Seq(
      (200L, Array.fill(8)(0.25)), (201L, Array.fill(8)(0.25)), // exact dups
      (202L, null.asInstanceOf[Array[Double]]),
      (203L, Array.fill(8)(0.0)),
      (204L, Array(1.0, Double.NaN, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)))
    val df = rows.toDF("id", "vec")
    def canon(out: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      out.collect().map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
    for (t <- Seq(-0.5, 0.2, 0.9)) {
      // targetBlock=7 forces ~18 blocks over 125 rows: the grid path,
      // diagonal groups, ragged tails and the 4-way tile all exercise.
      val blocked = canon(Similarity.embeddingNearDupExact(df, "id", "vec", t, targetBlock = 7))
      val twin = canon(Similarity.embeddingNearDupExactCrossJoin(df, "id", "vec", t))
      assert(blocked === twin, s"blocked != crossJoin at threshold $t")
      assert(blocked.nonEmpty, s"vacuous equality at threshold $t")
    }
    // single-block degenerate (targetBlock >= n) still matches
    val one = canon(Similarity.embeddingNearDupExact(df, "id", "vec", 0.2, targetBlock = 4096))
    assert(one === canon(Similarity.embeddingNearDupExactCrossJoin(df, "id", "vec", 0.2)))
    // empty and all-ineligible corpora degrade to empty with the schema
    val empty = Seq.empty[(Long, Array[Double])].toDF("id", "vec")
    assert(Similarity.embeddingNearDupExact(empty, "id", "vec", 0.5).columns.toSeq
      === Seq("id_a", "id_b", "cos_sim"))
    val allBad = Seq((1L, null.asInstanceOf[Array[Double]]),
      (2L, Array(0.0, 0.0))).toDF("id", "vec")
    assert(Similarity.embeddingNearDupExact(allBad, "id", "vec", 0.5).count() === 0L)
    // string ids take the kernel path with UTF-8 byte order
    val sdf = rows.map { case (i, v) => (s"doc-$i", v) }.toDF("id", "vec")
    val sBlocked = Similarity.embeddingNearDupExact(sdf, "id", "vec", 0.2, targetBlock = 7)
      .collect().map(r => (r.getString(0), r.getString(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
    val sTwin = Similarity.embeddingNearDupExactCrossJoin(sdf, "id", "vec", 0.2)
      .collect().map(r => (r.getString(0), r.getString(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
    assert(sBlocked === sTwin)
  }

  test("planSignBits sizes bits with the corpus and tables with the recall target") {
    // 1M docs / 4096-target buckets → ceil(log2(244.1)) = 8 bits;
    // at cosine 0.8: θ/π = 0.20483, p_table = 0.79517^8 = 0.16017,
    // tables = ceil(ln 0.1 / ln 0.83983) = 14
    val p = Similarity.planSignBits(1000000L, threshold = 0.8)
    assert(p.bits == 8 && p.tables == 14)
    assert(p.recallAtThreshold >= 0.9 && p.expectedBucket <= 4096.0)
    // 100× the corpus → ~7 more bits; the recall target then needs
    // more tables than the default cap allows (reported honestly), and
    // raising the cap restores it
    val big = Similarity.planSignBits(100000000L, threshold = 0.8)
    assert(big.bits > p.bits && big.tables == 64 && big.recallAtThreshold < 0.9)
    val wide = Similarity.planSignBits(100000000L, threshold = 0.8, maxTables = 128)
    assert(wide.recallAtThreshold >= 0.9)
    // an unreachable recall under maxTables is reported honestly
    val capped = Similarity.planSignBits(1000000L, threshold = 0.4,
      targetRecall = 0.99, maxTables = 4)
    assert(capped.tables == 4 && capped.recallAtThreshold < 0.99)
    // the planned shape feeds the real op and still finds near-dups
    val df = corpus.toDF("vec_id", "embedding")
    val tiny = Similarity.planSignBits(4L, threshold = 0.9, targetBucket = 2)
    val pairs = Similarity.embeddingNearDupBucketedArray(df, "vec_id", "embedding",
      threshold = 0.9, SignLsh.array(dim = 4, tiny.bits, tiny.tables))
    assert(pairs.columns.toSeq == Seq("id_a", "id_b", "cos_sim"))
  }

  test("planSignBits candidate budget raises bits and reports the recall cost") {
    // Unbudgeted at 200k vectors / t=0.4: a recall-first plan whose
    // candidate volume (tables × N × expectedBucket / 2) is ~11 B pair
    // rows — the disk-filling regime.
    val free = Similarity.planSignBits(200000L, threshold = 0.4)
    val freeVol = free.tables.toDouble * 200000L * free.expectedBucket / 2
    assert(freeVol > 1e9, s"unbudgeted volume should be huge, got $freeVol")
    // Budgeted: bits rise until the planned volume fits; the cost is
    // paid HONESTLY in recallAtThreshold, not hidden.
    val b = Similarity.planSignBits(200000L, threshold = 0.4,
      maxCandidates = 100000000L)
    val vol = b.tables.toDouble * 200000L * b.expectedBucket / 2
    assert(vol <= 100000000.0, s"planned volume $vol over budget")
    assert(b.bits > free.bits)
    assert(b.recallAtThreshold < free.recallAtThreshold)
    // pairs far above the threshold still collide with near-certainty:
    // per-table p for cosine 0.9999 over b.bits hyperplane cuts
    val theta = math.acos(0.9999)
    val pHigh = math.pow(1 - theta / math.Pi, b.bits)
    assert(1 - math.pow(1 - pHigh, b.tables) > 0.99)
    // default budget = unbudgeted behavior (spec above unchanged)
    val same = Similarity.planSignBits(1000000L, threshold = 0.8)
    assert(same.bits == 8 && same.tables == 14)
  }

  test("planSignBits-shaped near-dup run is non-vacuous with recall >= 0.9 vs exact") {
    // 200 base vectors + a high-cosine twin for each (the planted pair
    // set); the planned (bits, tables) shape must keep buckets under
    // the cap AND recover nearly all exact pairs — the property the
    // fixed-shape harness entry loses at 100×.
    // Seeded Gaussian directions: near-uniform on the sphere, so bucket
    // occupancy matches the planner's model (a trig-lattice corpus is
    // pathologically clustered and exercises the CAP, not the recall —
    // that's the next test's job).
    val rows = (0 until 200).flatMap { i =>
      val rng = new scala.util.Random(i)
      val base = Array.fill(16)(rng.nextGaussian())
      val twin = base.map(x => x + 0.05 * rng.nextGaussian())
      Seq((i.toLong, base), (i + 1000L, twin))
    }.toDF("vec_id", "embedding")
    val exact = Similarity.embeddingNearDupExact(rows, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.size >= 200, "planted twins must be exact near-dups")
    val plan = Similarity.planSignBits(400L, threshold = 0.9, targetBucket = 64)
    val approx = Similarity.embeddingNearDupBucketedArray(rows, "vec_id", "embedding",
        threshold = 0.9, SignLsh.array(dim = 16, plan.bits, plan.tables))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(approx.nonEmpty, "planned shape must not be vacuous")
    assert(approx.subsetOf(exact), "every LSH pair is exact-rescored")
    val recall = approx.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall below the plan's target")
  }

  test("embedding LSH reports the vacuous-run condition: dropped_buckets == n_buckets") {
    // A fixed small shape on a corpus bigger than bits can spread puts
    // EVERY bucket over the cap — the result is empty and means nothing.
    // The r8 sf10 rehearsal hit exactly this silently (bits=4/tables=8/
    // cap=4096 at 500k vectors → all 16-value buckets ~12.5k deep); the
    // observation must make it detectable from the metrics alone.
    val big = (0 until 300).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 0.7 + d * 1.3)))
    }.toDF("vec_id", "embedding")
    var observed: Option[(Long, Long)] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit =
        qe.observedMetrics.collectFirst {
          case (name, row) if name.startsWith("embedding_lsh_buckets") =>
            (row.getAs[Long]("dropped_buckets"), row.getAs[Long]("n_buckets"))
        }.foreach(m => observed = Some(m))
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // AQE's empty-relation propagation would prune the pruned-to-empty
    // candidate subtree INCLUDING its CollectMetrics node (same caveat
    // as the minhash mega-bucket spec).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val pairs = Similarity.embeddingNearDupBucketedArray(big, "vec_id", "embedding",
        threshold = 0.4, SignLsh.array(dim = 8, bits = 1, tables = 2), maxBucket = 20)
      assert(pairs.count() == 0) // every bucket over cap → empty result
      val deadline = System.currentTimeMillis() + 10000
      while (observed.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(observed.exists { case (dropped, total) => dropped == total && total > 0 },
        s"expected dropped_buckets == n_buckets > 0, observed $observed")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.listenerManager.unregister(listener)
    }
  }

  test("hashSample at fraction 1.0 keeps every row (no ffffffff cap)") {
    assert(Sampling.samplePredicate(lit("x"), 1.0).toString === "true",
      "fraction 1.0 must short-circuit, not compare against ffffffff")
    val df = spark.range(1000).toDF("k")
    assert(Sampling.hashSample(df, "k", 1.0).count() === 1000L)
    intercept[IllegalArgumentException] { Sampling.samplePredicate(lit("x"), 1.5) }
  }
}
