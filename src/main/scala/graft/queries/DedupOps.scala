package graft.queries

import graft.Tables
import graft.ops.{Dedup, Md5Family, Md5Mix32Family}
import org.apache.spark.sql.functions._
import graft.functions.GraftExtensions.{lower_root => lowerRoot}

/** Deduplication operator queries — ALL DuckDB-oracle-checked. The
  * sketch-based ops (MinHash-LSH, SimHash, incremental near-dup) run the
  * gate with the engine-portable [[graft.ops.Md5Family]] hash family, so
  * the whole shingle → signature → band → verify pipeline is reproduced
  * in SQL; the xxhash64 production default keeps its recall/property
  * specs in OpsSpec.
  */
object DedupOps {
  import Catalog.{Entry, Q}

  /** Seeds re-keyed marker NEAR-duplicates (every 5th doc, suffix-
    * mutated, shifted by 10M) — the non-vacuity device the jaccard and
    * minhash gates share. The shift must clear every real doc_id: a
    * collision would silently MERGE two documents' gram sets, and
    * differently in Spark (global (id, gram) dedup) than in the
    * per-row oracle SQL. Nothing upstream pins the generator's id
    * range, so the gate asserts it LOUDLY here instead of drifting:
    * if the corpus ever outgrows the constant, the query throws and
    * the gate goes red rather than quietly changing pair semantics.
    */
  private[queries] def seedMarkerDups(src: org.apache.spark.sql.DataFrame) = {
    // max() over an EMPTY frame is null — read it null-safely so the
    // guard either passes vacuously (no rows ⇒ no ids to collide) or
    // fails with ITS OWN message, never an opaque NPE from getLong.
    val maxRow = src.agg(max(col("doc_id"))).head()
    val maxId = if (maxRow.isNullAt(0)) -1L else maxRow.getLong(0)
    require(maxId < 10000000L,
      s"marker-dup re-key offset 10000000 no longer clears the corpus id " +
        s"range (max doc_id = $maxId) — seeded ids would collide with real " +
        "documents and silently change the gate's pair semantics")
    src.unionByName(
      src.filter(pmod(col("doc_id"), lit(5)) === 0)
        .withColumn("doc_id", col("doc_id") + lit(10000000L))
        .withColumn("text", concat(col("text"), lit(" graft dup marker"))))
  }

  private val exact: Q = (s, dir) =>
    Dedup.exact(Tables.load(s, dir, "documents"), "doc_id", "text")
  private val exactSql =
    """SELECT md5(text) AS fp, min(doc_id) AS keeper_id, count(*) AS n_dupes
      |FROM documents WHERE text IS NOT NULL GROUP BY md5(text)""".stripMargin

  // Exact word-3-gram Jaccard on the src0 subset at a LOW threshold —
  // runs through the one-pass co-occurrence count path (the truly
  // quadratic `ngramJaccardPairs` stays a spec-pinned oracle twin: at
  // the sf1 rehearsal its all-pairs crossJoin was the registry's only
  // super-linear query, 54× at 10× data, by construction). The raw src0
  // subset yields no natural pairs at gate scale, so the query UNIONs in
  // re-keyed NEAR-duplicates (every 5th doc with a marker suffix —
  // Jaccard ≈ 0.9, not 1.0) identically on both sides: a gate that
  // can't tell a correct plan from `LIMIT 0` is not a gate. The re-key
  // shift (10M) clears every driver/rehearsal doc_id range — a shift
  // that collides with a real id would silently MERGE two documents'
  // gram sets (and differently in Spark, which dedupes (id, gram)
  // globally, than in the per-row oracle SQL).
  private val jaccard: Q = (s, dir) => {
    val src0 = Tables.load(s, dir, "documents").filter(col("source") === "src0")
    val seeded = seedMarkerDups(src0)
    Dedup.ngramJaccardCountPairs(seeded, "doc_id", "text", n = 3, threshold = 0.05)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }
  private val jaccardSql =
    """WITH raw AS (
      |  SELECT doc_id, text FROM documents WHERE source = 'src0'
      |  UNION ALL
      |  SELECT doc_id + 10000000, text || ' graft dup marker' FROM documents
      |  WHERE source = 'src0' AND doc_id % 5 = 0),
      |docs AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS toks
      |  FROM raw WHERE trim(text) <> ''),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(len(toks) - 2),
      |    i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS sh
      |  FROM docs WHERE len(toks) >= 3),
      |ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
      |counts AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
      |common AS (
      |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS n_common
      |  FROM ex x JOIN ex y ON x.g = y.g AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |  round(CAST(n_common AS DOUBLE) / (a.n_sh + b.n_sh - n_common), 4) AS jaccard
      |FROM common
      |JOIN counts a ON id_a = a.doc_id
      |JOIN counts b ON id_b = b.doc_id
      |WHERE CAST(n_common AS DOUBLE) / (a.n_sh + b.n_sh - n_common) >= 0.05""".stripMargin

  // Prefix-filtered EXACT Jaccard join (PPJoin family) over the whole
  // corpus — recall 1.0, so the oracle is the PLAIN quadratic join: the
  // prefix+size filters must be invisible in the result. t=0.8 is the
  // prefix regime (prefix ≈ 20% of each doc's grams, minOverlap
  // rejects most candidates pre-verify); the low-threshold regime is
  // dedup_jaccard_grams below. Every near-dup pair in this corpus has
  // jaccard ≥ 0.8, so the two entries return the same rows at the
  // gate SFs — by different plans.
  // maxPairBudget = 500 M candidate rows, same single-box rationale as
  // dedup_jaccard_grams below: clears every oracle gate and the 10×
  // rehearsal untouched (recall stays 1.0 there, so the plain quadratic
  // oracle holds), bites at 100× (~1.7 B candidate rows measured uncut
  // — a disk-filling DISTINCT), where the highest-prefix-df cut is the
  // demonstrated honest degradation: observable, values still exact.
  private val jaccardPrefix: Q = (s, dir) =>
    Dedup.ngramJaccardPrefixPairs(
      Tables.load(s, dir, "documents"), "doc_id", "text", n = 3, threshold = 0.8,
      maxPairBudget = 500000000L)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  /** Quadratic-join word-3-gram Jaccard oracle over the full documents
    * table, parameterized ONLY by threshold — the one shared shape both
    * regime gates replay (a one-sided edit to tokenization/shingling/
    * the formula can no longer desynchronize them).
    */
  private def quadraticJaccardSql(threshold: Double): String =
    s"""WITH docs AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks
      |  FROM documents WHERE trim(text) <> ''),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(len(toks) - 2),
      |    i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS sh
      |  FROM docs WHERE len(toks) >= 3),
      |ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
      |counts AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
      |common AS (
      |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS n_common
      |  FROM ex x JOIN ex y ON x.g = y.g AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |  round(CAST(n_common AS DOUBLE) / (a.n_sh + b.n_sh - n_common), 4) AS jaccard
      |FROM common
      |JOIN counts a ON id_a = a.doc_id
      |JOIN counts b ON id_b = b.doc_id
      |WHERE CAST(n_common AS DOUBLE) / (a.n_sh + b.n_sh - n_common) >= $threshold""".stripMargin

  private val jaccardPrefixSql = quadraticJaccardSql(0.8)

  // One-pass co-occurrence-counting EXACT Jaccard — the LOW-threshold
  // regime (t=0.3: a prefix would keep ~73% of every doc and the
  // verify re-join would dwarf it — the sf1 rehearsal measured that at
  // 622 s / disk-filling spill; this plan enumerates each shared gram
  // exactly once). Oracle is the identical quadratic join.
  // maxPairBudget = 500 M enumeration rows ≈ 25 GB of aggregate spill —
  // what a single-box 77 GB-disk rehearsal can absorb. It clears every
  // oracle gate untouched (sf0.01 is trivial; the 10× rehearsal's full
  // workload is ~138 M rows, so sf1 results stay oracle-exact) and
  // BITES at the 100× rehearsal (~2 B planned rows — measured as a
  // disk-filling aggregate spill when run uncut), where the cut is the
  // demonstrated honest-degradation behavior: highest-df grams drop
  // first, observable via the jaccard_pair_budget observation, and the
  // query completes within disk instead of killing the suite. (The
  // un-guarded r8 regime planned ~69 B rows.) At sf10 the output is
  // therefore intentionally NOT oracle-comparable — the budget is the
  // documented difference; correctness of the cut semantics is pinned
  // at the gates and in OpsSpec.
  private val jaccardGrams: Q = (s, dir) =>
    Dedup.ngramJaccardCountPairs(
      Tables.load(s, dir, "documents"), "doc_id", "text", n = 3, threshold = 0.3,
      maxPairBudget = 500000000L)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  // BUDGET-AWARE oracle: replays planPairBudget's cut in SQL — the
  // df-level running cost Σ ng·d·(d−1)/2 ascending in d, cutoff = the
  // largest level prefix that fits 500 M (greedy-stop ≡ max prefix,
  // since the running sum includes the first overflowing level), grams
  // above the cutoff excluded from n_common while denominators keep
  // the TRUE set sizes. Below the bite point (sf0.001–sf1) the cutoff
  // clears max(df) and this reduces to quadraticJaccardSql exactly; at
  // the bite point (sf10: 25.4 B uncut enumeration rows) the oracle
  // now checks the documented degradation semantics instead of
  // diverging from them.
  private val jaccardGramsSql =
    """WITH docs AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS toks
      |  FROM documents WHERE trim(text) <> ''),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(len(toks) - 2),
      |    i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS sh
      |  FROM docs WHERE len(toks) >= 3),
      |ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
      |counts AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
      |gdf AS (SELECT g, count(*) AS d FROM ex GROUP BY g),
      |hist AS (SELECT d, count(*) AS ng FROM gdf GROUP BY d),
      |cum AS (SELECT d, sum(ng * (d * (d - 1) // 2)) OVER (ORDER BY d) AS c FROM hist),
      |cutoff AS (
      |  SELECT greatest(coalesce(max(d) FILTER (WHERE c <= 500000000), 1), 1) AS co
      |  FROM cum),
      |kept AS (
      |  SELECT e.doc_id, e.g FROM ex e JOIN gdf USING (g) CROSS JOIN cutoff
      |  WHERE gdf.d <= cutoff.co),
      |common AS (
      |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS n_common
      |  FROM kept x JOIN kept y ON x.g = y.g AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |  round(CAST(n_common AS DOUBLE) / (a.n_sh + b.n_sh - n_common), 4) AS jaccard
      |FROM common
      |JOIN counts a ON id_a = a.doc_id
      |JOIN counts b ON id_b = b.doc_id
      |WHERE CAST(n_common AS DOUBLE) / (a.n_sh + b.n_sh - n_common) >= 0.3""".stripMargin

  // Leakage-safe 80/20 split: split key is the connected component of
  // the exact-duplicate graph (min doc_id per text group), so duplicate
  // docs always land in the same split — the eval-hygiene rule. With
  // exact-dup pairs the component is replayable as a window min, no
  // iterative CC needed in the oracle.
  private val leakageSplit: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents").select("doc_id", "text")
    val byFp = org.apache.spark.sql.expressions.Window.partitionBy(col("__fp"))
    val pairs = docs.filter(col("text").isNotNull)
      .withColumn("__fp", md5(col("text")))
      .withColumn("__keeper", min(col("doc_id")).over(byFp))
      .filter(col("__keeper") =!= col("doc_id"))
      .select(col("__keeper").as("id_a"), col("doc_id").as("id_b"))
    val splits = graft.ops.Sampling.leakageSafeSplit(
      docs, "doc_id", pairs, Seq(0.8, 0.2))
    splits(0).select(col("doc_id"), lit(0).as("split"))
      .unionByName(splits(1).select(col("doc_id"), lit(1).as("split")))
  }
  private val leakageSplitSql = {
    val cut = graft.ops.Sampling.hexThreshold(0.8)
    s"""WITH comp AS (
       |  SELECT doc_id,
       |    CASE WHEN text IS NULL THEN doc_id
       |         ELSE min(doc_id) OVER (PARTITION BY md5(text)) END AS key
       |  FROM documents)
       |SELECT doc_id,
       |  CASE WHEN md5(CAST(key AS VARCHAR)) < '$cut' THEN 0 ELSE 1 END AS split
       |FROM comp""".stripMargin
  }

  // Quality-aware representative selection: clusters are normalized-
  // text exact duplicates (case/whitespace-insensitive), each keeps its
  // LONGEST member (n_chars desc, ties by id) — the keep-best policy,
  // vs remove_neardups' keep-smallest-id.
  private val keepBest: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    val norm = lowerRoot(regexp_replace(trim(col("text")), "\\s+", " "))
    val byFp = org.apache.spark.sql.expressions.Window.partitionBy(col("__fp"))
    val pairs = docs.filter(col("text").isNotNull)
      .withColumn("__fp", md5(norm))
      .withColumn("__keeper", min(col("doc_id")).over(byFp))
      .filter(col("__keeper") =!= col("doc_id"))
      .select(col("__keeper").as("id_a"), col("doc_id").as("id_b"))
    Dedup.keepBestOfCluster(docs, "doc_id", "n_chars", pairs)
      .select(col("doc_id"), col("source"), col("n_chars"))
  }
  private val keepBestSql =
    """WITH norm AS (
      |  SELECT doc_id,
      |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
      |    n_chars
      |  FROM documents WHERE text IS NOT NULL),
      |ranked AS (
      |  SELECT doc_id,
      |    row_number() OVER (PARTITION BY fp
      |                       ORDER BY n_chars DESC NULLS LAST, doc_id) AS rk,
      |    count(*) OVER (PARTITION BY fp) AS csz
      |  FROM norm)
      |SELECT doc_id, source, n_chars FROM documents
      |WHERE doc_id NOT IN (SELECT doc_id FROM ranked WHERE csz > 1 AND rk <> 1)""".stripMargin

  // The Md5Mix32Family constants, interpolated into the oracle SQL so
  // both engines run the SAME (a·x + b) mod p mixer — see HashFamily.
  // Shared with the pretrain-corpus capstone oracle (PipelineOps).
  private[queries] def mixConstsCte(n: Int): String = {
    val as = (0 until n).map(Md5Mix32Family.a).mkString("[", ", ", "]")
    val bs = (0 until n).map(Md5Mix32Family.b).mkString("[", ", ", "]")
    s"""consts AS (SELECT unnest(range(0, $n)) AS seed,
       |  unnest($as) AS a,
       |  unnest($bs) AS b)""".stripMargin
  }
  private[queries] val mixHash =
    s"(a * ('0x' || substr(md5(g), 1, 8))::BIGINT + b) % ${Md5Mix32Family.P}"

  // MinHash + LSH near-dup candidates, Jaccard-verified. The md5-mix
  // hash family makes signatures, band hashes, bucket caps AND the
  // verify join all SQL-expressible — the oracle recomputes the full
  // pipeline (one md5 per gram + integer mixing per seed; see
  // HashFamily for why this halves the gate's hashing cost).
  //
  // CALIBRATED banding (8 bands × 4 rows: the S-curve's 50% point
  // (1 − 0.5^(1/8))^(1/4) ≈ 0.54 sits just above t = 0.5), hunting
  // the J ≈ 0.9+ near-duplicates the corpus actually carries: seeded
  // marker dups at the gate scales (the jaccard-entry pattern — a gate
  // that can't tell a correct plan from `LIMIT 0` is not a gate) and
  // the scale generator's replica clusters at sf1/sf10. The previous
  // shape (16 × 2 at t = 0.05) measured an UNCALIBRATED regime on the
  // 31-word-vocabulary corpus: a 2-row band agrees on accidental
  // 3-gram overlap (P ≈ J²) often enough that band buckets grow with
  // the corpus and in-bucket pair expansion turns quadratic — 36.9×
  // wall at 10× data, all spent verifying sub-threshold candidates.
  // 4-row bands put accidental agreement at J⁴ (ppm-level) while the
  // planted J ≈ 0.9 clusters still collide with P ≈ 0.9998.
  private val minhash: Q = (s, dir) => {
    val src = Tables.load(s, dir, "documents")
    val seeded = seedMarkerDups(src)
    Dedup.minhashLshPairs(seeded,
      "doc_id", "text", n = 3, numHashes = 32, bands = 8, threshold = 0.5,
      family = Md5Mix32Family)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }
  private val minhashSql =
    s"""WITH raw AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000000, text || ' graft dup marker' FROM documents
      |  WHERE doc_id % 5 = 0),
      |docs AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks
      |  FROM raw WHERE trim(text) <> ''),
      |shl AS (
      |  SELECT doc_id, list_distinct(list_transform(range(len(toks) - 2),
      |    i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS sh
      |  FROM docs WHERE len(toks) >= 3),
      |ex AS (SELECT doc_id, unnest(sh) AS g FROM shl),
      |counts AS (SELECT doc_id, len(sh) AS n_sh FROM shl),
      |${mixConstsCte(32)},
      |minh AS (
      |  SELECT doc_id, seed, min($mixHash) AS v
      |  FROM ex CROSS JOIN consts
      |  GROUP BY doc_id, seed),
      |sig AS (SELECT doc_id, list(v ORDER BY seed) AS sig FROM minh GROUP BY doc_id),
      |banded AS (
      |  SELECT doc_id, b,
      |    ('0x' || substr(md5(b || ':' ||
      |       array_to_string(sig[b*4+1 : b*4+4], ',')), 1, 15))::BIGINT AS bh
      |  FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS b) bs),
      |ok_buckets AS (
      |  SELECT b, bh FROM banded GROUP BY b, bh
      |  HAVING count(*) BETWEEN 2 AND 1024),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      |  FROM banded x
      |  JOIN banded y ON x.b = y.b AND x.bh = y.bh AND x.doc_id < y.doc_id
      |  JOIN ok_buckets o ON x.b = o.b AND x.bh = o.bh),
      |common AS (
      |  SELECT c.id_a, c.id_b, count(*) AS n_common
      |  FROM cand c
      |  JOIN ex x ON x.doc_id = c.id_a
      |  JOIN ex y ON y.doc_id = c.id_b AND y.g = x.g
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |  round(CAST(n_common AS DOUBLE) / (a.n_sh + b.n_sh - n_common), 4) AS jaccard
      |FROM common
      |JOIN counts a ON id_a = a.doc_id
      |JOIN counts b ON id_b = b.doc_id
      |WHERE CAST(n_common AS DOUBLE) / (a.n_sh + b.n_sh - n_common) >= 0.5""".stripMargin

  // SimHash fingerprints (md5 bit-sign family for the oracle; the
  // 64-bit value ships as two 32-bit halves so the SQL side never
  // left-shifts into the sign bit).
  private val simhash: Q = (s, dir) =>
    Dedup.withSimhash(Tables.load(s, dir, "documents"), "text", family = Md5Family)
      .select(col("doc_id"),
        shiftrightunsigned(col("simhash"), 32).as("simhash_hi"),
        col("simhash").bitwiseAND(lit(0xFFFFFFFFL)).as("simhash_lo"))
  private val simhashSql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS tok
      |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
      |h AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5('0:' || tok), 1, 15))::BIGINT AS h1,
      |    ('0x' || substr(md5('1:' || tok), 1, 15))::BIGINT AS h2
      |  FROM toks),
      |bits AS (
      |  SELECT doc_id, j,
      |    sum(CASE WHEN ((CASE WHEN j < 60 THEN h1 >> j ELSE h2 >> (j - 60) END) & 1) = 1
      |        THEN 1 ELSE -1 END) AS s
      |  FROM h CROSS JOIN (SELECT unnest(range(0, 64)) AS j) js
      |  GROUP BY doc_id, j),
      |sim AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN s > 0 AND j < 32 THEN (1::BIGINT << CAST(j AS INTEGER)) ELSE 0 END) AS lo,
      |    sum(CASE WHEN s > 0 AND j >= 32 THEN (1::BIGINT << CAST(j - 32 AS INTEGER)) ELSE 0 END) AS hi
      |  FROM bits GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CASE WHEN d.text IS NULL THEN NULL ELSE CAST(coalesce(s.hi, 0) AS BIGINT) END AS simhash_hi,
      |  CASE WHEN d.text IS NULL THEN NULL ELSE CAST(coalesce(s.lo, 0) AS BIGINT) END AS simhash_lo
      |FROM documents d LEFT JOIN sim s USING (doc_id)""".stripMargin

  // Near-dup clusters: connected components over the exact
  // embedding-cosine pair graph (min-label propagation); the oracle
  // computes min-reachable-id per node with a recursive CTE.
  private val components: Q = (s, dir) => {
    val pairs = graft.ops.Similarity.embeddingNearDupExact(
      Tables.load(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.4)
    Dedup.connectedComponents(pairs)
  }
  // End-to-end removal: same pair graph as dedup_components, but the
  // output is the DEDUPLICATED CORPUS — each transitive duplicate group
  // keeps its smallest id (Dedup.removeNearDuplicates glue).
  private val removeNearDups: Q = (s, dir) => {
    val emb = Tables.load(s, dir, "embeddings")
    val pairs = graft.ops.Similarity.embeddingNearDupExact(
      emb, "vec_id", "embedding", threshold = 0.4)
    Dedup.removeNearDuplicates(emb, "vec_id", pairs)
      .select(col("vec_id"), col("label"))
  }
  private val removeNearDupsSql =
    """WITH RECURSIVE ev AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM ev a JOIN ev b ON a.vec_id < b.vec_id
      |  WHERE list_cosine_similarity(a.v, b.v) >= 0.4),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |reach(id, r) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src)
      |SELECT vec_id, label FROM embeddings
      |WHERE vec_id NOT IN (
      |  SELECT id FROM (
      |    SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id)
      |  WHERE component <> id)""".stripMargin

  private val componentsSql =
    """WITH RECURSIVE ev AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM ev a JOIN ev b ON a.vec_id < b.vec_id
      |  WHERE list_cosine_similarity(a.v, b.v) >= 0.4),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |reach(id, r) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src)
      |SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id""".stripMargin

  // Paragraph-level exact dedup. The synthetic documents are one long
  // word-soup line, so paragraph structure is synthesized
  // deterministically first (a break every 5 words) — the oracle then
  // checks the whole explode → global-first-occurrence → reassemble
  // pipeline; `OpsSpec` covers the semantics on a corpus with real
  // shared-boilerplate paragraphs.
  private val paraBreak = "((?:\\S+ ){4}\\S+) "
  private val paragraphs: Q = (s, dir) =>
    Dedup.paragraphDedup(
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          regexp_replace(col("text"), paraBreak, "$1\n\n").as("text")),
      "doc_id", "text")
  private val paragraphsSql =
    s"""WITH docs AS (
       |  SELECT doc_id,
       |    regexp_replace(text, '((?:\\S+ ){4}\\S+) ', '\\1' || chr(10) || chr(10), 'g') AS t
       |  FROM documents),
       |paras AS (
       |  SELECT doc_id,
       |    unnest(string_split(t, chr(10) || chr(10))) AS para,
       |    unnest(range(1, len(string_split(t, chr(10) || chr(10))) + 1)) AS pos
       |  FROM docs),
       |kept AS (
       |  SELECT doc_id, pos, para,
       |    row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
       |  FROM paras)
       |SELECT d.doc_id AS id,
       |  coalesce(k.text, '') AS text
       |FROM (SELECT DISTINCT doc_id FROM docs) d
       |LEFT JOIN (
       |  SELECT doc_id, string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text
       |  FROM kept WHERE rn = 1 GROUP BY doc_id) k
       |USING (doc_id)""".stripMargin

  // Eval-set decontamination: src0 is the training corpus, src1 plays
  // the benchmark set; any shared word 4-gram disqualifies the doc.
  private val decontaminate: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    Dedup.decontaminate(
      docs.filter(col("source") === "src0"), "doc_id", "text",
      docs.filter(col("source") === "src1"), "doc_id", "text",
      n = 4)
      .select(col("doc_id"), col("source"), col("lang"))
  }
  private val decontaminateSql =
    """WITH d AS (
      |  SELECT doc_id, source, lang, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS toks
      |  FROM documents WHERE trim(text) <> ''),
      |sh AS (
      |  SELECT doc_id, source,
      |    unnest(list_distinct(list_transform(range(len(toks) - 3),
      |      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]))) AS g
      |  FROM d WHERE len(toks) >= 4),
      |contaminated AS (
      |  SELECT DISTINCT doc_id FROM sh
      |  WHERE source = 'src0' AND g IN (SELECT g FROM sh WHERE source = 'src1'))
      |SELECT doc_id, source, lang FROM documents
      |WHERE source = 'src0' AND doc_id NOT IN (SELECT doc_id FROM contaminated)""".stripMargin

  // Graded contamination: per src0 doc, how many of its distinct word
  // 3-grams appear anywhere in the src1 "benchmark" set — the overlap
  // fraction the binary decontaminate rule coarsens.
  private val contamination: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    Dedup.contaminationScore(
      docs.filter(col("source") === "src0"), "doc_id", "text",
      docs.filter(col("source") === "src1"), "doc_id", "text",
      n = 3)
  }
  private val contaminationSql =
    """WITH d AS (
      |  SELECT doc_id, source, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS toks
      |  FROM documents WHERE trim(text) <> ''),
      |sh AS (
      |  SELECT doc_id, source,
      |    unnest(list_distinct(list_transform(range(len(toks) - 2),
      |      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS g
      |  FROM d WHERE len(toks) >= 3),
      |ref AS (SELECT DISTINCT g FROM sh WHERE source = 'src1')
      |SELECT s.doc_id, count(*) AS n_grams,
      |  CAST(count(CASE WHEN r.g IS NOT NULL THEN 1 END) AS BIGINT) AS hit_grams
      |FROM (SELECT doc_id, g FROM sh WHERE source = 'src0') s
      |LEFT JOIN ref r ON s.g = r.g
      |GROUP BY s.doc_id""".stripMargin

  // Incremental dedup: the src0 shard deduped within itself
  // (first-wins) and against the rest of the corpus — the
  // continuous-crawl shape; digests shuffle, bodies never do.
  private val incremental: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    Dedup.incremental(
      docs.filter(col("source") === "src0"),
      docs.filter(col("source") =!= "src0"),
      "doc_id", "text")
  }
  // The oracle mirrors the op's null-text rule exactly: null text is
  // non-comparable — every null-text shard row passes through with a
  // null fp instead of collapsing into one md5(NULL) group.
  private val incrementalSql =
    """WITH shard AS (
      |  SELECT md5(text) AS fp, min(doc_id) AS doc_id
      |  FROM documents WHERE source = 'src0' AND text IS NOT NULL
      |  GROUP BY md5(text))
      |SELECT doc_id, fp FROM shard s
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM documents c
      |  WHERE c.source <> 'src0' AND c.text IS NOT NULL AND md5(c.text) = s.fp)
      |UNION ALL
      |SELECT doc_id, NULL AS fp FROM documents
      |WHERE source = 'src0' AND text IS NULL""".stripMargin

  // Incremental NEAR-dup: src0 shard vs the MinHash artifact of the
  // rest of the corpus — signature agreement only, corpus text never
  // rescanned. The md5 family makes both the artifact build and the
  // probe SQL-expressible, so the oracle replays artifact → band join →
  // signature agreement end-to-end.
  //
  // The artifact is an INGEST ARTIFACT (the op's documented steady-state
  // deploy): built once per dataset directory, written to parquet, and
  // every probe loads the materialized table — same pattern as the IVF
  // index in SimilarityOps. This also satisfies the probe's requirement
  // for a materialized artifact (its eager parameter check would
  // otherwise run the build pipeline twice) without pinning cache
  // blocks for the session's lifetime.
  // The cache holds the artifact's parquet PATH, not a DataFrame: a
  // DataFrame is bound to the session that built it, so a second (or
  // restarted) session in the same JVM would inherit a plan tied to a
  // stopped session. Every caller re-reads the path with ITS session —
  // the build still runs once per dataset dir per JVM. Temp dirs are
  // removed by a JVM shutdown hook (deleteOnExit can't remove non-empty
  // directories).
  private val artifactCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[queries] def deleteRecursivelyOnExit(root: java.nio.file.Path): Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      if (Files.exists(root)) {
        Files.walk(root).sorted(Comparator.reverseOrder[Path]())
          .forEach(p => { Files.deleteIfExists(p); () })
      }
    }))
  private def artifactFor(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val path = artifactCache.computeIfAbsent(dir, { _ =>
      val corpus = Tables.load(s, dir, "documents").filter(col("source") =!= "src0")
      val tmp = java.nio.file.Files.createTempDirectory("graft_minhash_")
      deleteRecursivelyOnExit(tmp)
      val p = tmp.resolve("artifact").toString
      Dedup.minhashArtifact(corpus, "doc_id", "text", family = Md5Mix32Family)
        .write.mode("overwrite").parquet(p)
      p
    })
    s.read.parquet(path)
  }
  private val incrementalNear: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    Dedup.incrementalNearDupMatches(
      docs.filter(col("source") === "src0"), "doc_id", "text",
      artifactFor(s, dir), threshold = 0.3, family = Md5Mix32Family)
  }
  private val incrementalNearSql =
    s"""WITH docs AS (
      |  SELECT doc_id, source, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks
      |  FROM documents WHERE trim(text) <> ''),
      |shl AS (
      |  SELECT doc_id, source, list_distinct(list_transform(range(len(toks) - 2),
      |    i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS sh
      |  FROM docs WHERE len(toks) >= 3),
      |ex AS (SELECT doc_id, source, unnest(sh) AS g FROM shl),
      |${mixConstsCte(32)},
      |minh AS (
      |  SELECT doc_id, source, seed, min($mixHash) AS v
      |  FROM ex CROSS JOIN consts
      |  GROUP BY doc_id, source, seed),
      |sig AS (SELECT doc_id, source, list(v ORDER BY seed) AS sig
      |        FROM minh GROUP BY doc_id, source),
      |banded AS (
      |  SELECT doc_id, source, b,
      |    ('0x' || substr(md5(b || ':' ||
      |       array_to_string(sig[b*4+1 : b*4+4], ',')), 1, 15))::BIGINT AS bh
      |  FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS b) bs),
      |corpus_ok AS (
      |  SELECT b, bh FROM banded WHERE source <> 'src0'
      |  GROUP BY b, bh HAVING count(*) <= 4096),
      |shard_ok AS (
      |  SELECT b, bh FROM banded WHERE source = 'src0'
      |  GROUP BY b, bh HAVING count(*) <= 4096),
      |pairs AS (
      |  SELECT DISTINCT s.doc_id AS shard_id, c.doc_id AS corpus_id
      |  FROM banded s
      |  JOIN banded c ON s.b = c.b AND s.bh = c.bh
      |  JOIN shard_ok so ON s.b = so.b AND s.bh = so.bh
      |  JOIN corpus_ok co ON c.b = co.b AND c.bh = co.bh
      |  WHERE s.source = 'src0' AND c.source <> 'src0'),
      |agree AS (
      |  SELECT p.shard_id, p.corpus_id,
      |    round(sum(CASE WHEN sm.v = cm.v THEN 1 ELSE 0 END) / 32.0, 4) AS est_jaccard
      |  FROM pairs p
      |  JOIN minh sm ON sm.doc_id = p.shard_id AND sm.source = 'src0'
      |  JOIN minh cm ON cm.doc_id = p.corpus_id AND cm.seed = sm.seed
      |               AND cm.source <> 'src0'
      |  GROUP BY 1, 2)
      |SELECT shard_id, corpus_id, est_jaccard FROM agree
      |WHERE est_jaccard >= 0.3""".stripMargin

  // Exact-substring span removal (ops.SpanDedup): 4-gram runs shared
  // by ≥2 documents are cut from every document; the audit carries the
  // rewritten text so the surgery itself is hash-checked.
  private val spans: Q = (s, dir) =>
    graft.ops.SpanDedup.audit(
      Tables.load(s, dir, "documents"), "doc_id", "text", n = 4, minDocs = 2)

  private val spansSql =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN text IS NULL OR trim(text) = '' THEN []::VARCHAR[]
      |         ELSE list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') END AS ts
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, r.p - 1 AS pos, ts[r.p] AS tok
      |  FROM t, unnest(range(1, len(ts) + 1)) AS r(p)),
      |g AS (
      |  SELECT doc_id, r.p - 1 AS pos,
      |    md5(array_to_string(list_slice(ts, r.p, r.p + 3), ' ')) AS gh
      |  FROM t, unnest(range(1, len(ts) - 2)) AS r(p)),
      |dup AS (
      |  SELECT gh FROM (SELECT gh, count(DISTINCT doc_id) AS nd FROM g GROUP BY gh)
      |  WHERE nd >= 2),
      |st AS (SELECT g.doc_id, g.pos, 1 AS flag FROM g SEMI JOIN dup USING (gh)),
      |cov AS (
      |  SELECT tok.doc_id, tok.pos, tok.tok,
      |    max(coalesce(st.flag, 0)) OVER (
      |      PARTITION BY tok.doc_id ORDER BY tok.pos
      |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS c
      |  FROM tok LEFT JOIN st USING (doc_id, pos)),
      |p AS (
      |  SELECT doc_id, count(*) AS n_tokens, sum(c) AS dup_tokens,
      |    string_agg(tok, ' ' ORDER BY pos) FILTER (WHERE c = 0) AS clean_text
      |  FROM cov GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
      |  CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
      |  p.clean_text
      |FROM documents d LEFT JOIN p USING (doc_id)""".stripMargin

  // KEEP-FIRST exact-substring dedup (Dedup.substringDedup — the Lee
  // et al. rule; dedup_span_removal above is the cut-ALL-occurrences
  // excision sibling). Every 5th doc gets a fixed 12-token licence
  // header prepended identically on both sides: its first carrier
  // keeps it, every later carrier loses exactly those tokens — a gate
  // that exercises the keep-first rank, not just coverage. k = 8 so
  // the 31-word word-soup body contributes no accidental windows at
  // the gate scales. Md5Family gram keys make the whole
  // rank-and-cover pipeline SQL-replayable (minhash-gate pattern).
  private val substringSeed =
    "standard corpus licence header text repeated across every fifth document intake here"
  private val substringKeepFirst: Q = (s, dir) => {
    val seeded = Tables.load(s, dir, "documents")
      .withColumn("text",
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit(substringSeed + " "), col("text")))
          .otherwise(col("text")))
    Dedup.substringDedup(seeded, "doc_id", "text", k = 8, family = Md5Family)
      .select(col("id").as("doc_id"), col("n_toks"), col("n_removed"),
        md5(col("kept_text")).as("kept_fp"))
  }
  private val substringKeepFirstSql =
    s"""WITH raw AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 0 THEN '$substringSeed ' || text
      |         ELSE text END AS text
      |  FROM documents),
      |docs AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS tk
      |  FROM raw WHERE text IS NOT NULL),
      |occ AS (
      |  SELECT doc_id, CAST(r.i AS INT) AS p,
      |    ('0x' || substr(md5('0:' || array_to_string(tk[r.i+1 : r.i+8], ' ')), 1, 15))::BIGINT AS gh
      |  FROM docs, unnest(range(0, greatest(len(tk) - 7, 0))) AS r(i)),
      |mk AS (
      |  SELECT doc_id, p FROM (
      |    SELECT doc_id, p,
      |      row_number() OVER (PARTITION BY gh ORDER BY doc_id, p) AS rn
      |    FROM occ) WHERE rn > 1),
      |cov AS (
      |  SELECT DISTINCT doc_id, p + r.j AS q
      |  FROM mk, unnest(range(0, 8)) AS r(j)),
      |ts AS (
      |  SELECT doc_id, t.q AS q, tk[CAST(t.q AS INT) + 1] AS tok
      |  FROM docs, unnest(range(0, len(tk))) AS t(q)),
      |kt AS (
      |  SELECT ts.doc_id, ts.q, ts.tok
      |  FROM ts LEFT JOIN cov c ON c.doc_id = ts.doc_id AND c.q = ts.q
      |  WHERE c.doc_id IS NULL),
      |j AS (
      |  SELECT doc_id, count(*) AS n_kept,
      |    string_agg(tok, ' ' ORDER BY q) AS kept
      |  FROM kt GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(len(d.tk) AS BIGINT) AS n_toks,
      |  CAST(len(d.tk) - coalesce(j.n_kept, 0) AS BIGINT) AS n_removed,
      |  md5(coalesce(j.kept, '')) AS kept_fp
      |FROM docs d LEFT JOIN j USING (doc_id)""".stripMargin

  // Incremental substring dedup — the continuous-crawl shape: the src0
  // shard is cleaned against the rest-of-corpus gram ARTIFACT (corpus
  // text never rescanned) plus within-shard keep-first. The licence
  // header is seeded into every 7th corpus doc and every 5th shard doc
  // identically on both sides, so the gate exercises the corpus-wins
  // rule (shard headers vanish even where the shard saw them first)
  // AND the within-shard rank.
  private val substringIncremental: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    def seeded(df: org.apache.spark.sql.DataFrame, every: Int) =
      df.withColumn("text",
        when(pmod(col("doc_id"), lit(every)) === 0,
          concat(lit(substringSeed + " "), col("text")))
          .otherwise(col("text")))
    val corpus = seeded(docs.filter(col("source") =!= "src0"), 7)
    val shard = seeded(docs.filter(col("source") === "src0"), 5)
    val art = Dedup.substringArtifact(corpus, "doc_id", "text", k = 8,
      family = Md5Family)
    Dedup.substringDedupIncremental(shard, "doc_id", "text", art, k = 8,
        family = Md5Family)
      .select(col("id").as("doc_id"), col("n_toks"), col("n_removed"),
        md5(col("kept_text")).as("kept_fp"))
  }
  private val substringIncrementalSql =
    s"""WITH corpus AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN '$substringSeed ' || text
      |         ELSE text END AS text
      |  FROM documents WHERE source <> 'src0'),
      |shard AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 0 THEN '$substringSeed ' || text
      |         ELSE text END AS text
      |  FROM documents WHERE source = 'src0'),
      |cdocs AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS tk
      |  FROM corpus WHERE text IS NOT NULL),
      |cart AS (
      |  SELECT DISTINCT
      |    ('0x' || substr(md5('0:' || array_to_string(tk[r.i+1 : r.i+8], ' ')), 1, 15))::BIGINT AS gh
      |  FROM cdocs, unnest(range(0, greatest(len(tk) - 7, 0))) AS r(i)),
      |docs AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS tk
      |  FROM shard WHERE text IS NOT NULL),
      |occ AS (
      |  SELECT doc_id, CAST(r.i AS INT) AS p,
      |    ('0x' || substr(md5('0:' || array_to_string(tk[r.i+1 : r.i+8], ' ')), 1, 15))::BIGINT AS gh
      |  FROM docs, unnest(range(0, greatest(len(tk) - 7, 0))) AS r(i)),
      |mk AS (
      |  SELECT doc_id, p FROM occ SEMI JOIN cart USING (gh)
      |  UNION
      |  SELECT doc_id, p FROM (
      |    SELECT doc_id, p,
      |      row_number() OVER (PARTITION BY gh ORDER BY doc_id, p) AS rn
      |    FROM occ) WHERE rn > 1),
      |cov AS (
      |  SELECT DISTINCT doc_id, p + r.j AS q
      |  FROM mk, unnest(range(0, 8)) AS r(j)),
      |ts AS (
      |  SELECT doc_id, t.q AS q, tk[CAST(t.q AS INT) + 1] AS tok
      |  FROM docs, unnest(range(0, len(tk))) AS t(q)),
      |kt AS (
      |  SELECT ts.doc_id, ts.q, ts.tok
      |  FROM ts LEFT JOIN cov c ON c.doc_id = ts.doc_id AND c.q = ts.q
      |  WHERE c.doc_id IS NULL),
      |j AS (
      |  SELECT doc_id, count(*) AS n_kept,
      |    string_agg(tok, ' ' ORDER BY q) AS kept
      |  FROM kt GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(len(d.tk) AS BIGINT) AS n_toks,
      |  CAST(len(d.tk) - coalesce(j.n_kept, 0) AS BIGINT) AS n_removed,
      |  md5(coalesce(j.kept, '')) AS kept_fp
      |FROM docs d LEFT JOIN j USING (doc_id)""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("dedup_exact", exact, Some(exactSql)),
    Entry("dedup_span_removal", spans, Some(spansSql)),
    Entry("dedup_substring_keepfirst", substringKeepFirst, Some(substringKeepFirstSql)),
    Entry("dedup_substring_incremental", substringIncremental, Some(substringIncrementalSql)),
    Entry("dedup_incremental", incremental, Some(incrementalSql)),
    Entry("dedup_incremental_neardup", incrementalNear, Some(incrementalNearSql)),
    Entry("dedup_ngram_jaccard", jaccard, Some(jaccardSql)),
    Entry("dedup_minhash_lsh", minhash, Some(minhashSql)),
    Entry("dedup_simhash", simhash, Some(simhashSql)),
    Entry("dedup_components", components, Some(componentsSql)),
    Entry("dedup_remove_neardups", removeNearDups, Some(removeNearDupsSql)),
    Entry("dedup_paragraphs", paragraphs, Some(paragraphsSql)),
    Entry("dedup_decontaminate", decontaminate, Some(decontaminateSql)),
    Entry("dedup_contamination_score", contamination, Some(contaminationSql)),
    Entry("dedup_jaccard_prefix", jaccardPrefix, Some(jaccardPrefixSql)),
    Entry("dedup_jaccard_grams", jaccardGrams, Some(jaccardGramsSql)),
    Entry("dedup_leakage_split", leakageSplit, Some(leakageSplitSql)),
    Entry("dedup_keep_best", keepBest, Some(keepBestSql)),
  )
}
