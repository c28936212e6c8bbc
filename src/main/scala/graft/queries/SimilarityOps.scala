package graft.queries

import graft.Tables
import graft.ops.Similarity
import org.apache.spark.sql.functions._

/** Embedding similarity-search queries. Brute-force cosine top-k is the
  * exact baseline and is DuckDB-oracle-checked (list_cosine_similarity).
  * The LSH gates run with the SQL-exact coordinate sign-sketch bucket
  * family so they are oracle-checked end-to-end (the random-hyperplane
  * production default keeps its score-equality/recall specs). IVF runs
  * with md5-sampled UNREFINED centroids — actual corpus vectors chosen
  * by an engine-portable hash — so assignment + probe + top-k are
  * oracle-checked too; only Lloyd refinement (float means,
  * sum-order-sensitive across engines) stays spec-covered in OpsSpec.
  *
  * IVF centroids + the cell-partitioned corpus are INGEST artifacts:
  * computed once per dataset directory and reused by every query
  * invocation (the reference pattern — FAISS trains the index before
  * serving). The per-query cost is the probe: a partition-pruned scan
  * of `nprobe/nlist` of the corpus.
  */
object SimilarityOps {
  import Catalog.{Entry, Q}

  private def queriesDf(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.load(s, dir, "embeddings").filter(col("vec_id") < 3)

  private val brute: Q = (s, dir) =>
    Similarity.bruteForceTopK(
      Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
      queriesDf(s, dir), "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"), round(col("cos_sim"), 5).as("cos_sim"))

  // LSH ANN with the coordinate sign-sketch bucket family (SQL-exact —
  // sign comparisons only, no float dot sums in the bucket key), so the
  // oracle replays bucketing → candidate dedup → exact scoring → top-k.
  // The random-hyperplane production family keeps its recall spec.
  private val lsh: Q = (s, dir) =>
    Similarity.bucketedTopK(
      Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
      queriesDf(s, dir), "vec_id", "embedding", k = 5,
      Similarity.coordinateSketches(bits = 4, tables = 4))
      .select(col("query_id"), col("neighbor_id"), round(col("cos_sim"), 5).as("cos_sim"))
  private val lshSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |b AS (
      |  SELECT vec_id, t,
      |    (CASE WHEN v[t*4+1] > 0 THEN 1 ELSE 0 END
      |   + CASE WHEN v[t*4+2] > 0 THEN 2 ELSE 0 END
      |   + CASE WHEN v[t*4+3] > 0 THEN 4 ELSE 0 END
      |   + CASE WHEN v[t*4+4] > 0 THEN 8 ELSE 0 END) AS bk
      |  FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS t) ts),
      |q AS (SELECT vec_id AS query_id, t, bk FROM b WHERE vec_id < 3),
      |cand AS (
      |  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
      |  FROM b c JOIN q ON c.t = q.t AND c.bk = q.bk
      |  WHERE c.vec_id <> q.query_id),
      |scored AS (
      |  SELECT cand.query_id, cand.neighbor_id,
      |    list_cosine_similarity(ce.v, qe.v) AS cs
      |  FROM cand
      |  JOIN e ce ON ce.vec_id = cand.neighbor_id
      |  JOIN e qe ON qe.vec_id = cand.query_id)
      |SELECT query_id, neighbor_id, round(cs, 5) AS cos_sim
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |                                   ORDER BY cs DESC, neighbor_id) AS rn
      |      FROM scored) t
      |WHERE rn <= 5""".stripMargin

  /** Ingest artifact per dataset dir: (centroids, cell-partitioned
    * corpus PATH). The path — not a DataFrame — is cached so a second
    * session in the same JVM re-reads with ITS session instead of
    * inheriting a plan bound to a stopped one (same rule as the
    * minhash artifact cache in DedupOps).
    *
    * Centroids are the md5-sampled corpus vectors with NO float-mean
    * refinement — actual stored vectors chosen by an engine-portable
    * hash, so assignment + probe + top-k replay exactly in the DuckDB
    * oracle. The Lloyd-refined production path (float means, rows-only)
    * keeps its ingest-vs-inline and refinement specs in OpsSpec.
    */
  private val ivfIndex = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[Array[Double]], String)]()

  private def ivfFor(s: org.apache.spark.sql.SparkSession, dir: String,
      nlist: Int): (Array[Array[Double]], org.apache.spark.sql.DataFrame) = {
    val (centroids, path) = ivfIndex.computeIfAbsent(s"$dir#$nlist", { _ =>
      val corpus = Tables.load(s, dir, "embeddings")
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding",
        nlist, refineSweeps = 0, sampleHash = Similarity.md5SampleHash)
      val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_")
      DedupOps.deleteRecursivelyOnExit(tmp) // same hygiene as the minhash artifact
      val p = tmp.resolve("corpus").toString
      Similarity.ivfIngest(corpus, "vec_id", "embedding", cents, p)
      (cents, p)
    })
    (centroids, s.read.parquet(path))
  }

  private val ivf: Q = (s, dir) => {
    val (centroids, assigned) = ivfFor(s, dir, nlist = 16)
    Similarity.ivfProbe(assigned, centroids,
      queriesDf(s, dir), "vec_id", "embedding", k = 5, nprobe = 4)
      .select(col("query_id"), col("neighbor_id"), round(col("cos_sim"), 5).as("cos_sim"))
  }

  // DuckDB replay of the full IVF pipeline: md5-sampled centroids →
  // nearest-cell assignment → nprobe probe → exact cosine top-k. The
  // cosine is spelled dot/(norm·norm) — the same expression tree as
  // Similarity.nearestCells/scorePairs — so orderings agree bit-for-bit.
  private val ivfSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cents AS (
      |  SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cell, v AS cv
      |  FROM (SELECT vec_id, v,
      |          ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h
      |        FROM e)
      |  ORDER BY h, vec_id LIMIT 16),
      |cn AS (SELECT cell, cv, sqrt(list_dot_product(cv, cv)) AS cnorm FROM cents),
      |en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS vnorm FROM e),
      |assigned AS (
      |  SELECT vec_id, v, vnorm, cell FROM (
      |    SELECT en.vec_id, en.v, en.vnorm, cn.cell,
      |      row_number() OVER (PARTITION BY en.vec_id
      |        ORDER BY list_dot_product(en.v, cn.cv) / (en.vnorm * cn.cnorm) DESC,
      |                 cn.cell) AS rn
      |    FROM en CROSS JOIN cn) t WHERE rn = 1),
      |qcells AS (
      |  SELECT vec_id AS query_id, v AS qv, vnorm AS qnorm, cell FROM (
      |    SELECT en.vec_id, en.v, en.vnorm, cn.cell,
      |      row_number() OVER (PARTITION BY en.vec_id
      |        ORDER BY list_dot_product(en.v, cn.cv) / (en.vnorm * cn.cnorm) DESC,
      |                 cn.cell) AS rn
      |    FROM en CROSS JOIN cn WHERE en.vec_id < 3) t WHERE rn <= 4),
      |scored AS (
      |  SELECT q.query_id, a.vec_id AS neighbor_id,
      |    list_dot_product(a.v, q.qv) / (a.vnorm * q.qnorm) AS cs
      |  FROM assigned a JOIN qcells q ON a.cell = q.cell
      |  WHERE a.vec_id <> q.query_id)
      |SELECT query_id, neighbor_id, round(cs, 5) AS cos_sim
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |                                   ORDER BY cs DESC, neighbor_id) AS rn
      |      FROM scored) t
      |WHERE rn <= 5""".stripMargin

  // Filtered vector search (the RAG shape: metadata predicate + top-k).
  // The filter is applied BEFORE scoring — post-filtering a plain top-k
  // under-fills k whenever neighbors fail the predicate. The semi-join
  // keeps only qualifying corpus vectors; at scale the predicate side
  // is a broadcast or DPP-pruned dimension.
  private val filtered: Q = (s, dir) => {
    val en = Tables.load(s, dir, "documents")
      .filter(col("lang") === "en").select(col("doc_id"))
    val corpus = Tables.load(s, dir, "embeddings")
      .join(en, col("vec_id") === col("doc_id"), "left_semi")
    Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queriesDf(s, dir), "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"), round(col("cos_sim"), 5).as("cos_sim"))
  }

  private val filteredSql =
    """WITH q AS (
      |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      |  FROM embeddings WHERE vec_id < 3),
      |scored AS (
      |  SELECT q.query_id, e.vec_id AS neighbor_id,
      |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS cs
      |  FROM embeddings e CROSS JOIN q
      |  WHERE e.vec_id <> q.query_id
      |    AND e.vec_id IN (SELECT doc_id FROM documents WHERE lang = 'en'))
      |SELECT query_id, neighbor_id, round(cs, 5) AS cos_sim
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |                                   ORDER BY cs DESC, neighbor_id) AS rn
      |      FROM scored) t
      |WHERE rn <= 5""".stripMargin

  // Embedding near-dup: exact quadratic oracle twin vs the LSH-bucketed
  // scale path (per-table equi self-joins, candidates deduped before the
  // single scoring pass).
  private val nearDupExact: Q = (s, dir) =>
    Similarity.embeddingNearDupExact(
      Tables.load(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.4)
      .select(col("id_a"), col("id_b"), round(col("cos_sim"), 5).as("cos_sim"))

  private val nearDupExactSql =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_cosine_similarity(a.v, b.v), 5) AS cos_sim
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.v, b.v) >= 0.4""".stripMargin

  // Bucketed near-dup with the same SQL-exact coordinate-sketch family
  // (8 tables × 4 bits over dims 1..32) — finds 51 of the 59 exact
  // pairs at sf0.001; the hyperplane default keeps its recall spec.
  private val nearDupLsh: Q = (s, dir) =>
    Similarity.embeddingNearDupBucketed(
      Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
      threshold = 0.4, Similarity.coordinateSketches(bits = 4, tables = 8))
      .select(col("id_a"), col("id_b"), round(col("cos_sim"), 5).as("cos_sim"))
  private val nearDupLshSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |b AS (
      |  SELECT vec_id, t,
      |    (CASE WHEN v[t*4+1] > 0 THEN 1 ELSE 0 END
      |   + CASE WHEN v[t*4+2] > 0 THEN 2 ELSE 0 END
      |   + CASE WHEN v[t*4+3] > 0 THEN 4 ELSE 0 END
      |   + CASE WHEN v[t*4+4] > 0 THEN 8 ELSE 0 END) AS bk
      |  FROM e CROSS JOIN (SELECT unnest(range(0, 8)) AS t) ts),
      |ok AS (
      |  SELECT t, bk FROM b GROUP BY t, bk HAVING count(*) <= 4096),
      |cand AS (
      |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
      |  FROM b x
      |  JOIN b y ON x.t = y.t AND x.bk = y.bk AND x.vec_id < y.vec_id
      |  JOIN ok ON x.t = ok.t AND x.bk = ok.bk),
      |out AS (
      |  SELECT id_a, id_b, list_cosine_similarity(a.v, b2.v) AS cs
      |  FROM cand JOIN e a ON a.vec_id = id_a JOIN e b2 ON b2.vec_id = id_b)
      |SELECT id_a, id_b, round(cs, 5) AS cos_sim FROM out WHERE cs >= 0.4""".stripMargin

  // planSignBits-parameterized twin of dedup_embedding_lsh — the
  // REHEARSAL shape. The fixed gate shape (4 bits × 8 tables, cap 4096)
  // is exactly right for the oracle gates but VACUOUS at 100×: at
  // ~500 k vectors every 16-value bucket holds ~12.5 k rows, the cap
  // drops 100% of buckets, and the run returns an empty frame that
  // proves nothing (the r8 sf10 rehearsal did precisely this,
  // silently). This twin re-derives (bits, tables) from the corpus
  // count at run time, so the SAME query stays non-vacuous from
  // sf0.001 to sf10 — scaling the shape with the corpus is the whole
  // point of planSignBits, and the thing a fixed-parameter harness
  // entry cannot demonstrate.
  //
  // The gate runs the md5-PORTABLE plane family (lshPlanesPortable —
  // every plane value and hence every left-to-right dot sum is
  // bit-identical across IEEE engines), so the ENTIRE pipeline —
  // planSignBits shape arithmetic, plane tensor, sign buckets, cap,
  // candidate join, cosine verify — replays in DuckDB and the row is
  // hash-checked like any other (a splitmix plane hash's wrapping
  // 64-bit multiplies are inexpressible in engines whose integer ops
  // trap on overflow); this is the Md5Family-for-gates stance the
  // minhash and simhash entries already take.
  // maxCandidates = 100 M planned pair rows (~4 GB of id-pair shuffle):
  // without it the recall-first plan at 200 k vectors / t=0.4 asks for
  // 6 bits × 36 tables = ~11 B candidate rows — the r9 sf10 warmup
  // measured that as a disk-filling job. The budget trades recall AT
  // the 0.4 margin (reported honestly by the planner); the ~1.0-cosine
  // within-cohort duplicates the rehearsal plants still collide with
  // near-certainty.
  private val nearDupLshPlanned: Q = (s, dir) => {
    val emb = Tables.load(s, dir, "embeddings")
    val plan = Similarity.planSignBits(
      math.max(emb.count(), 2L), threshold = 0.4,
      maxCandidates = 100000000L)
    val planes = Similarity.lshPlanesPortable(64, plan.bits, plan.tables)
    Similarity.embeddingNearDupBucketedArray(emb, "vec_id", "embedding",
      threshold = 0.4,
      v => graft.functions.GraftExtensions.lsh_sign_buckets(v, planes))
      .select(col("id_a"), col("id_b"), round(col("cos_sim"), 5).as("cos_sim"))
  }

  // The oracle replays the planner in SQL (bits = first b ≥
  // ceil(log2(n/4096)) whose candidate volume fits the 100 M budget;
  // tables from the Goemans–Williamson collision bound, capped at 64)
  // and regenerates the md5 plane tensor inline. list_reduce keeps the
  // dot's left-to-right order (a GROUP-BY SUM over doubles would not);
  // the bucket pack itself is an exact integer sum, order-free. The
  // ceil() calls sit far from integer boundaries at every tested n
  // (2.31 at the gate), so libm ulp drift cannot flip the shape.
  private val nearDupLshPlannedSql =
    """WITH nn AS (SELECT CAST(greatest(count(*), 2) AS DOUBLE) AS n FROM embeddings),
      |cand_b AS (
      |  SELECT b, n,
      |    CASE WHEN pow(1 - acos(0.4)/pi(), b) >= 1 - 1e-12 THEN 1
      |         ELSE greatest(1, least(64,
      |           CAST(ceil(ln(1 - 0.9) / ln(1 - pow(1 - acos(0.4)/pi(), b))) AS INT)))
      |    END AS tbl
      |  FROM (SELECT unnest(range(1, 31)) AS b), nn),
      |b0 AS (SELECT greatest(1, least(30,
      |         CAST(ceil(ln(n / 4096) / ln(2)) AS INT))) AS b0 FROM nn),
      |shape AS (
      |  SELECT coalesce(
      |    (SELECT min(c.b) FROM cand_b c, b0
      |     WHERE c.b >= b0.b0
      |       AND c.tbl * c.n * (c.n / pow(2, c.b)) / 2 <= 100000000.0),
      |    30) AS bits),
      |tbls AS (SELECT c.tbl AS tables FROM cand_b c, shape WHERE c.b = shape.bits),
      |pl AS (
      |  SELECT t.t, bb.bb,
      |    list_transform(range(0, 64), d ->
      |      (('0x' || substr(md5('lshp:' || t.t || ':' || bb.bb || ':' || d), 1, 13))::BIGINT
      |        - 2251799813685248.0) / 2251799813685248.0) AS pv
      |  FROM (SELECT unnest(range(0, (SELECT tables FROM tbls))) AS t) t,
      |       (SELECT unnest(range(0, (SELECT bits FROM shape))) AS bb) bb),
      |e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |  WHERE len(list_filter(embedding, x -> x <> 0)) > 0),
      |bkt AS (
      |  SELECT e.vec_id, pl.t,
      |    SUM(CASE WHEN list_reduce(
      |                    list_transform(range(1, 65), d -> e.v[d] * pl.pv[d]),
      |                    (x, y) -> x + y) >= 0
      |             THEN (CAST(1 AS BIGINT) << pl.bb) ELSE 0 END) AS bk
      |  FROM e CROSS JOIN pl
      |  GROUP BY e.vec_id, pl.t),
      |ok AS (SELECT t, bk FROM bkt GROUP BY t, bk HAVING count(*) <= 4096),
      |cand AS (
      |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
      |  FROM bkt x
      |  JOIN bkt y ON x.t = y.t AND x.bk = y.bk AND x.vec_id < y.vec_id
      |  JOIN ok ON x.t = ok.t AND x.bk = ok.bk),
      |out AS (
      |  SELECT id_a, id_b, list_cosine_similarity(a.v, b2.v) AS cs
      |  FROM cand JOIN e a ON a.vec_id = id_a JOIN e b2 ON b2.vec_id = id_b)
      |SELECT id_a, id_b, round(cs, 5) AS cos_sim FROM out WHERE cs >= 0.4""".stripMargin

  private val bruteSql =
    """WITH q AS (
      |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      |  FROM embeddings WHERE vec_id < 3),
      |scored AS (
      |  SELECT q.query_id, e.vec_id AS neighbor_id,
      |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS cs
      |  FROM embeddings e CROSS JOIN q
      |  WHERE e.vec_id <> q.query_id)
      |SELECT query_id, neighbor_id, round(cs, 5) AS cos_sim
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |                                   ORDER BY cs DESC, neighbor_id) AS rn
      |      FROM scored) t
      |WHERE rn <= 5""".stripMargin

  // emb_centroid — per-label mean embedding via ops.VectorAgg (one
  // bounded (sum, count) buffer per label per map task — the shuffle
  // never sees a 64× exploded table). The tiny labels×dims RESULT is
  // exploded only for the oracle compare.
  private val centroid: Q = (s, dir) =>
    graft.ops.VectorAgg.centroids(
        Tables.load(s, dir, "embeddings"), "label", "embedding")
      .select(col("label").cast("int").as("label"),
        posexplode(col("centroid")).as(Seq("dim", "mean_val")))
      .select(col("label"), col("dim"),
        // + 0.0 canonicalizes IEEE -0.0 (a rounded tiny negative) to 0.0
        (round(col("mean_val"), 4) + lit(0.0)).as("mean_val"))

  private val centroidSql =
    """SELECT label, CAST(i - 1 AS INTEGER) AS dim, round(avg(e), 4) + 0.0 AS mean_val
      |FROM (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS e,
      |             unnest(generate_series(1, len(embedding))) AS i
      |      FROM embeddings) t
      |GROUP BY label, i""".stripMargin

  // emb_quantize — symmetric per-vector int8 quantization (the ANN
  // ingest compression step: 4× smaller than float32). Row-local
  // higher-order array functions — codegen'd, shuffle-free, scales
  // with input splits. Division is forced to double on BOTH engines so
  // round() sees bit-identical inputs.
  private val quantize: Q = (s, dir) => {
    val scale = array_max(transform(col("embedding"), x => abs(x)))
    Tables.load(s, dir, "embeddings")
      .filter(col("vec_id") < 100)
      .withColumn("__scale", scale)
      .select(col("vec_id"), round(col("__scale").cast("double"), 5).as("scale"),
        posexplode(transform(col("embedding"),
          x => round(x.cast("double") / col("__scale").cast("double") * 127, 0)
            .cast("int"))).as(Seq("dim", "q")))

  }

  private val quantizeSql =
    """SELECT vec_id, round(CAST(s AS DOUBLE), 5) AS scale, CAST(i - 1 AS INTEGER) AS dim,
      |  CAST(round(CAST(e AS DOUBLE) / CAST(s AS DOUBLE) * 127, 0) AS INTEGER) AS q
      |FROM (SELECT vec_id,
      |        list_max(list_transform(embedding, x -> abs(x))) AS s,
      |        unnest(embedding) AS e,
      |        unnest(generate_series(1, len(embedding))) AS i
      |      FROM embeddings WHERE vec_id < 100) t""".stripMargin

  // dedup_semantic — SemDeDup (cluster → within-cluster cosine →
  // keep-smallest-id). Clustered by the 4-bit sign sketch so the WHOLE
  // run — clustering included — is SQL-expressible and oracle-checked;
  // production would pass a k-means (ivfCentroids) cluster key instead.
  private val semantic: Q = (s, dir) =>
    graft.ops.Similarity.semanticDedup(
      Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
      graft.ops.Similarity.signBitSketch(col("embedding"), 4), threshold = 0.4)
      .select(col("vec_id"), col("label"))

  // The oracle mirrors semanticDedup's maxCluster cap (HAVING <= 4096
  // — same cap-sharing contract as the LSH bucket oracles): over-cap
  // clusters are unjudgeable and their members pass through KEPT. At
  // sf10 every 4-bit cluster is over cap (~12.5 k rows each), so both
  // sides keep all rows — correct per spec, and the vacuous-evidence
  // condition stays observable via the "semantic_dedup_clusters"
  // observation (skipped_clusters == n clusters).
  private val semanticSql =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    (CASE WHEN embedding[1] > 0 THEN 8 ELSE 0 END
      |   + CASE WHEN embedding[2] > 0 THEN 4 ELSE 0 END
      |   + CASE WHEN embedding[3] > 0 THEN 2 ELSE 0 END
      |   + CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END) AS c
      |  FROM embeddings),
      |ok_clusters AS (
      |  SELECT c FROM e GROUP BY c HAVING count(*) <= 4096),
      |dropped AS (
      |  SELECT DISTINCT b.vec_id FROM e a JOIN e b
      |    ON a.c = b.c AND a.vec_id < b.vec_id
      |  JOIN ok_clusters o ON a.c = o.c
      |  WHERE list_cosine_similarity(a.v, b.v) >= 0.4)
      |SELECT vec_id, label FROM embeddings
      |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin

  // Hybrid retrieval: BM25 lexical ranking fused with dense cosine
  // ranking by reciprocal-rank fusion (ops.Fusion — integer nano-unit
  // contributions, exactly summable cross-engine). Pools are top-50 per
  // side (TakeOrderedAndProject, never a global window); query vector
  // is embeddings id 0, lexical terms the text_bm25 set.
  private val hybridRrf: Q = (s, dir) => {
    val lex = graft.ops.TextRank.bm25(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "join", "stream"))
      .select(col("doc_id"), col("bm25").as("score"))
    // UNCUT scored side: rrfFuse pools on ROUNDED scores, so a raw-
    // float top-k pre-cut here would decide the pool boundary before
    // the rounding can absorb cross-engine float noise
    val emb = Tables.load(s, dir, "embeddings")
    val dense = Similarity.cosineScores(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") === 0), "vec_id", "embedding")
      .select(col("neighbor_id").as("doc_id"), col("cos_sim").as("score"))
    graft.ops.Fusion.rrfFuse(Seq(lex, dense), "doc_id", "score",
      k = 15, poolSize = 50, scoreScale = 5)
  }

  private val hybridRrfSql =
    """WITH toks AS (
      |  SELECT doc_id, t FROM (
      |    SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t
      |    FROM documents) u WHERE t <> ''
      |), dtf AS (
      |  SELECT doc_id, count(*) AS dl,
      |    count(CASE WHEN t = 'spark' THEN 1 END) AS tf_spark,
      |    count(CASE WHEN t = 'join' THEN 1 END) AS tf_join,
      |    count(CASE WHEN t = 'stream' THEN 1 END) AS tf_stream
      |  FROM toks GROUP BY doc_id
      |), st AS (
      |  SELECT count(*) AS n, avg(dl) AS avgdl,
      |    count(CASE WHEN tf_spark > 0 THEN 1 END) AS df_spark,
      |    count(CASE WHEN tf_join > 0 THEN 1 END) AS df_join,
      |    count(CASE WHEN tf_stream > 0 THEN 1 END) AS df_stream
      |  FROM dtf
      |), bm AS (
      |  SELECT doc_id, round(
      |      CASE WHEN tf_spark > 0
      |           THEN ln((n - df_spark + 0.5) / (df_spark + 0.5) + 1)
      |                * (tf_spark * 2.2) / (tf_spark + (1.2 * (0.25 + 0.75 * dl / avgdl)))
      |           ELSE 0.0 END
      |    + CASE WHEN tf_join > 0
      |           THEN ln((n - df_join + 0.5) / (df_join + 0.5) + 1)
      |                * (tf_join * 2.2) / (tf_join + (1.2 * (0.25 + 0.75 * dl / avgdl)))
      |           ELSE 0.0 END
      |    + CASE WHEN tf_stream > 0
      |           THEN ln((n - df_stream + 0.5) / (df_stream + 0.5) + 1)
      |                * (tf_stream * 2.2) / (tf_stream + (1.2 * (0.25 + 0.75 * dl / avgdl)))
      |           ELSE 0.0 END, 5) AS s
      |  FROM dtf, st
      |  WHERE tf_spark > 0 OR tf_join > 0 OR tf_stream > 0
      |), lexpool AS (SELECT doc_id, s FROM bm ORDER BY s DESC, doc_id LIMIT 50),
      |lex AS (SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS r FROM lexpool),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      |dn AS (
      |  SELECT e.vec_id AS doc_id, round(list_cosine_similarity(e.v, q.qv), 5) AS s
      |  FROM e, q WHERE e.vec_id <> 0
      |), dnpool AS (SELECT doc_id, s FROM dn ORDER BY s DESC, doc_id LIMIT 50),
      |dense AS (SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS r FROM dnpool),
      |u AS (SELECT * FROM lex UNION ALL SELECT * FROM dense)
      |SELECT doc_id, CAST(sum(1000000000 // (60 + r)) AS BIGINT) AS rrf_nano,
      |  count(*) AS n_sides, CAST(min(r) AS BIGINT) AS best_rank
      |FROM u GROUP BY doc_id
      |ORDER BY rrf_nano DESC, doc_id LIMIT 15""".stripMargin

  // Random signed projection (ops.VectorAgg.signedProject): 64 → 8
  // dims, ±1 signs from the md5-parity cell rule replayed verbatim in
  // the oracle; row-local plan-baked matrix, no shuffle. Rounded to 6
  // digits (the sum is a fixed left-fold expression tree both
  // engines).
  private val randomProject: Q = (s, dir) =>
    graft.ops.VectorAgg.signedProject(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", inDims = 64, outDims = 8)
      .select(col("vec_id"), col("out_dim"), round(col("value"), 6).as("value"))
  private val randomProjectSql =
    """SELECT vec_id, k AS out_dim,
      |  round(list_sum(list_transform(range(1, 65),
      |      d -> embedding[d] *
      |        (CASE WHEN ('0x' || substr(md5('rp:' || k || ':' || (d - 1)), 32, 1))::INT
      |                   % 2 = 0
      |              THEN 1.0 ELSE -1.0 END)))
      |    / sqrt(8), 6) AS value
      |FROM (SELECT vec_id, embedding, unnest(range(0, 8)) AS k FROM embeddings) t""".stripMargin

  // Recall@5 of the LSH index against brute force (ops.Similarity
  // .recallAtK) — both sides are the already-oracle-proven queries, so
  // the metric composes their CTEs and must hash-match end to end.
  // The two legs reference the SAME embeddings scan five times (brute
  // corpus + query sides, LSH bucket corpus + query sides, LSH scoring
  // re-join): persist the loaded frame so one parquet scan serves every
  // subtree per action (guide §5 multi-consumer reuse). Results are
  // unchanged — the rounding the standalone brute/lsh entries apply is
  // projection-only and recallAtK never reads cos_sim.
  private val recallEval: Q = (s, dir) => {
    val emb = Tables.load(s, dir, "embeddings")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = emb.filter(col("vec_id") < 3)
    val exact = Similarity.bruteForceTopK(
        emb, "vec_id", "embedding", q, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val approx = Similarity.bucketedTopK(
        emb, "vec_id", "embedding", q, "vec_id", "embedding", k = 5,
        Similarity.coordinateSketches(bits = 4, tables = 4))
      .select(col("query_id"), col("neighbor_id"))
    Similarity.recallAtK(approx, exact, "query_id", "neighbor_id")
  }
  private val recallEvalSql =
    """WITH bq AS (
      |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      |  FROM embeddings WHERE vec_id < 3),
      |bscored AS (
      |  SELECT bq.query_id, e.vec_id AS neighbor_id,
      |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), bq.qv) AS cs
      |  FROM embeddings e CROSS JOIN bq
      |  WHERE e.vec_id <> bq.query_id),
      |btop AS (
      |  SELECT query_id, neighbor_id
      |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |                                     ORDER BY cs DESC, neighbor_id) AS rn
      |        FROM bscored) t
      |  WHERE rn <= 5),
      |le AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |lb AS (
      |  SELECT vec_id, t,
      |    (CASE WHEN v[t*4+1] > 0 THEN 1 ELSE 0 END
      |   + CASE WHEN v[t*4+2] > 0 THEN 2 ELSE 0 END
      |   + CASE WHEN v[t*4+3] > 0 THEN 4 ELSE 0 END
      |   + CASE WHEN v[t*4+4] > 0 THEN 8 ELSE 0 END) AS bk
      |  FROM le CROSS JOIN (SELECT unnest(range(0, 4)) AS t) ts),
      |lq AS (SELECT vec_id AS query_id, t, bk FROM lb WHERE vec_id < 3),
      |lcand AS (
      |  SELECT DISTINCT lq.query_id, c.vec_id AS neighbor_id
      |  FROM lb c JOIN lq ON c.t = lq.t AND c.bk = lq.bk
      |  WHERE c.vec_id <> lq.query_id),
      |lscored AS (
      |  SELECT lcand.query_id, lcand.neighbor_id,
      |    list_cosine_similarity(ce.v, qe.v) AS cs
      |  FROM lcand
      |  JOIN le ce ON ce.vec_id = lcand.neighbor_id
      |  JOIN le qe ON qe.vec_id = lcand.query_id),
      |ltop AS (
      |  SELECT query_id, neighbor_id
      |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |                                     ORDER BY cs DESC, neighbor_id) AS rn
      |        FROM lscored) t
      |  WHERE rn <= 5)
      |SELECT b.query_id, count(*) AS n_exact,
      |  CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_hit,
      |  round(CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
      |          AS DOUBLE) / count(*), 4) AS recall
      |FROM btop b LEFT JOIN ltop l USING (query_id, neighbor_id)
      |GROUP BY b.query_id""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("ann_recall_eval", recallEval, Some(recallEvalSql)),
    Entry("ann_random_project", randomProject, Some(randomProjectSql)),
    Entry("emb_centroid", centroid, Some(centroidSql)),
    Entry("ann_hybrid_rrf", hybridRrf, Some(hybridRrfSql)),
    Entry("dedup_semantic", semantic, Some(semanticSql)),
    Entry("emb_quantize", quantize, Some(quantizeSql)),
    Entry("ann_brute_topk", brute, Some(bruteSql)),
    Entry("ann_filtered_topk", filtered, Some(filteredSql)),
    Entry("ann_lsh_topk", lsh, Some(lshSql)),
    Entry("ann_ivf_topk", ivf, Some(ivfSql)),
    Entry("dedup_embedding_exact", nearDupExact, Some(nearDupExactSql)),
    Entry("dedup_embedding_lsh", nearDupLsh, Some(nearDupLshSql)),
    Entry("dedup_embedding_lsh_planned", nearDupLshPlanned, Some(nearDupLshPlannedSql)),
  )
}
