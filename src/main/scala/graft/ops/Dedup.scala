package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Large-scale document deduplication operators.
  *
  * Scale design (100 TB stance):
  *  - exact dedup is a hash-groupBy on a digest — one shuffle over a
  *    16-byte key, never over the document bodies;
  *  - MinHash+LSH turns the O(n²) near-dup problem into
  *    shingle-hash → signature → band-bucket join: only documents that
  *    collide in a band are compared, so the shuffle volume is
  *    O(n · bands), and the verify step touches candidate pairs only;
  *  - exact pairwise Jaccard is kept for oracle verification on bounded
  *    subsets (it IS quadratic — never run it unbounded at scale);
  *  - the hot path is explode + codegen'd joins/aggregates. Spark's
  *    higher-order array functions (transform/aggregate/zip_with) are
  *    NEVER part of whole-stage codegen — an array-juggling formulation
  *    measured ~10× slower here, so shingling uses posexplode + window
  *    lead and signatures use hash-aggregates with map-side combine.
  */
object Dedup {

  /** Whitespace tokens of a text column — empty tokens FILTERED.
    *
    * The naive `split(trim(text), "\\s+")` emits phantom "" tokens for
    * leading/trailing non-space whitespace: Spark's `trim` strips only
    * ASCII spaces and `split` keeps leading AND trailing empty strings
    * (limit -1) — so "foo bar\n" tokenized ["foo","bar",""], making an
    * exact duplicate that differs by a trailing newline (routine in
    * real corpora) miss every Jaccard/minhash path and injecting
    * md5("") into nearly every signature. Null text stays null.
    *
    * The lambda filter is interpreted, not codegen'd — fine for the
    * array-shaped consumers; the hot exploded path ([[shingleRows]])
    * filters rows after posexplode instead, staying in codegen.
    */
  def tokens(text: Column): Column =
    // ONE native pass (see [[graft.functions.WsTokens]]): the regex
    // split + interpreted filter lambda was a measurable slice of
    // every text operator's scan stage. Equality with the HOF spelling
    // pinned in OpsSpec across separators/unicode/null shapes.
    graft.functions.GraftExtensions.ws_tokens(text)

  /** The regex-split + filter spelling of [[tokens]] — retained as the
    * executable specification [[graft.functions.WsTokens]] is pinned
    * against (OpsSpec equality property); not a production path.
    */
  private[graft] def tokensHof(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** Distinct word n-gram shingle ROWS: (id, g). The workhorse layout —
    * codegen-friendly (posexplode + window lead + concat), and every
    * downstream consumer (signatures, pair verification) wants exploded
    * rows anyway. One shuffle on id (window sort within partition).
    */
  def shingleRows(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 1 && n <= 8, "shingle width out of range")
    val byDoc = Window.partitionBy(col("id")).orderBy(col("pos"))
    // posexplode the RAW split and drop empties as a row filter — same
    // tokens as [[tokens]] but fully codegen'd (the lambda form is
    // interpreted); position gaps are harmless, the window orders by
    // pos, adjacency comes from lead().
    val toks = df
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\\s+")).as(Seq("pos", "t")))
      .filter(col("t") =!= "")
    val withLeads = (1 until n).foldLeft(toks) { (acc, i) =>
      acc.withColumn(s"t$i", lead(col("t"), i).over(byDoc))
    }
    val parts = col("t") +: (1 until n).map(i => col(s"t$i"))
    withLeads
      .filter(parts.map(_.isNotNull).reduce(_ && _))
      .select(col("id"), concat_ws(" ", parts: _*).as("g"))
      .distinct()
  }

  /** Exact dedup: digest-groupBy; keeps the smallest id per text group.
    * Returns (fp, keeper_id, n_dupes). NULL text is excluded — md5(null)
    * is null and grouping it would collapse every extraction-failure
    * document into one bogus "duplicate" group whose keeper silently
    * drops the rest (the same rule [[incremental]] documents).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .groupBy(md5(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_dupes"))

  /** MinHash signatures for a whole corpus from shingle rows (id, g):
    * `numHashes` seeded min-hash aggregates per document — fully
    * codegen'd with map-side partial aggregation; the shuffle carries
    * one (id, numHashes × long) row per document.
    * Output: (id, sig: array<bigint>).
    *
    * `family` picks the seeded hash: xxhash64 (default, fastest) or the
    * engine-portable md5 family that makes the signatures SQL-checkable
    * (see [[HashFamily]]).
    */
  def minhashSignatures(shingleRows: DataFrame, numHashes: Int,
      family: HashFamily = XxHash64Family): DataFrame = {
    val aggs = (0 until numHashes).map(i => min(family.hashString(i, col("g"))).as(s"__h$i"))
    shingleRows.groupBy(col("id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"__h$i")): _*).as("sig"))
  }

  /** [[minhashSignatures]] born ROW-LOCAL in the scan task: the whole
    * signature from ONE native [[graft.functions.MinhashSig]] pass over
    * the document's tokens — the shingleRows posexplode + window-lead
    * pass (a corpus-wide doc-keyed token exchange + sort) and the
    * groupBy(id) signature aggregate (a second full exchange of gram
    * rows) never happen. Values are byte-identical per family (OpsSpec
    * pins the equality against the aggregate form across families and
    * input shapes); documents with no n-gram yield NO row, exactly as
    * the aggregate form.
    */
  def minhashSignaturesLocal(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, family: HashFamily): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.GraftExtensions.minhash_sig(
          tokens(col(textCol)), n, numHashes, family.tag).as("sig"))
      .filter(col("sig").isNotNull)

  /** LSH candidate pairs: signatures are cut into `bands`; documents
    * sharing any band hash become a candidate pair, generated inside
    * each bucket from the bucket's (bounded) member list and then
    * verified with exact Jaccard via a shingle-row equi-join restricted
    * to the candidates. Returns (id_a, id_b, jaccard) with id_a < id_b.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxBucket: Int = 1024,
      family: HashFamily = XxHash64Family): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(maxBucket > 1, "maxBucket must allow at least one pair")
    val rows = numHashes / bands
    // The signature AND the distinct gram-hash set are born ROW-LOCAL
    // in the scan task (native MinhashSig / WordNgramHash64 over one
    // shared tokens() pass — subexpression elimination computes the
    // tokens once): the shingleRows posexplode + window-lead token
    // exchange, the groupBy(id) signature aggregate, and the verify
    // stage's collect_list gram-set aggregate are all gone (plan diff
    // in plans/r11/dedup_minhash_lsh_*). Two consumers (banding,
    // verify ×2) — persist instead of recomputing the tokenize+hash
    // scan per consumer; MEMORY_AND_DISK spills rather than OOMs at
    // cluster scale.
    val tk = tokens(col(textCol))
    val docs = df.select(col(idCol).as("id"),
        graft.functions.GraftExtensions.minhash_sig(
          tk, n, numHashes, family.tag).as("sig"),
        array_distinct(graft.functions.GraftExtensions.word_ngram_hash64(
          tk, n, 0, XxHash64Family.tag)).as("__gs"))
      .filter(col("sig").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = docs.select(col("id"),
      bandHashes(col("sig"), bands, rows, family))
    // Bucket members, then in-bucket pair expansion. Pair expansion is
    // quadratic in bucket size, so buckets beyond `maxBucket` (a
    // boilerplate-heavy corpus WILL produce one) are DROPPED, not
    // expanded — a degenerate band hash may otherwise turn one bucket
    // into a straggler task. The drop is observable without an extra
    // job via the "dedup_lsh_buckets" observation (dropped_buckets /
    // max_bucket), and identical-text clusters are still caught by
    // `exact` dedup upstream.
    val buckets = banded.groupBy(col("band_id"), col("band_hash"))
      .agg(collect_set(col("id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .observe(s"dedup_lsh_buckets_${ObsId.next()}",
        sum(when(size(col("ids")) > maxBucket, 1L).otherwise(0L)).as("dropped_buckets"),
        max(size(col("ids"))).as("max_bucket"))
      .filter(size(col("ids")) <= maxBucket)
      .select(sort_array(col("ids")).as("ids"))
    val pairs = buckets.select(explode(flatten(transform(col("ids"),
        (x, i) => transform(slice(col("ids"), i + lit(2), lit(maxBucket)),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
    // Exact-Jaccard verify over the row-local distinct gram-hash sets
    // (same hashed-set approximation contract as [[verifiedJaccard]];
    // the true set size is the array size — no sizes aggregate, no
    // collect_list). Shuffled hash join: the docs side is one bounded
    // row per doc; the fat pair rows stream through unsorted.
    val gramSets = docs.select(col("id"),
        size(col("__gs")).cast("long").as("n_sh"), col("__gs"))
      .hint("shuffle_hash")
    pairs
      .join(gramSets.select(col("id").as("id_a"), col("n_sh").as("n_a"),
        col("__gs").as("__ga")), Seq("id_a"))
      .join(gramSets.select(col("id").as("id_b"), col("n_sh").as("n_b"),
        col("__gs").as("__gb")), Seq("id_b"))
      .withColumn("n_common",
        size(array_intersect(col("__ga"), col("__gb"))).cast("long"))
      .select(col("id_a"), col("id_b"),
        (col("n_common").cast("double") /
         (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact pairwise n-gram Jaccard over ALL pairs of `df` — quadratic;
    * for oracle verification / bounded subsets only.
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    val sh = shingleRows(df, idCol, textCol, n)
    val allPairs = sh.as("x")
      .join(sh.as("y"), col("x.g") === col("y.g") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    verifiedJaccard(allPairs, sh).filter(col("jaccard") >= threshold)
  }

  /** EXACT n-gram Jaccard similarity join at scale via prefix filtering
    * (the PPJoin family, Xiao et al.) — same results as
    * [[ngramJaccardPairs]] (recall 1.0, unlike [[minhashLshPairs]]'s
    * probabilistic candidates), but candidate pairs come only from the
    * PREFIX of each document's gram set: grams ordered globally by
    * (document frequency asc, gram) — rarest first — of which the first
    * `|S| − floor(t·|S|) + 1` per document are kept. Two documents with
    * Jaccard ≥ t MUST share a prefix gram under any common total order
    * (pigeonhole on the ≥ t/(1+t)·(|S|+|T|) shared grams), so nothing
    * is missed; `floor` (vs the tight `ceil`) costs at most one extra
    * prefix gram and keeps the bound safe under float rounding. The
    * size filter `t·|S| ≤ |T| ≤ |S|/t` prunes the rest.
    *
    * Skew regime — be honest about it: hot boilerplate grams sit LAST
    * in the frequency order, so they stay OUT of prefixes exactly when
    * each document's rarer grams fill its prefix, i.e. when
    * `floor(t·|S|)` exceeds the document's boilerplate gram count.
    * Documents MOSTLY made of corpus-wide boilerplate push hot grams
    * into their prefixes, and a hot prefix gram makes the equi-join
    * enumerate its bucket quadratically (the position filter rejects
    * the pairs but only after enumeration). `maxGramDocs` is the
    * standard mega-bucket guard for that regime: grams in more
    * documents than the cap are removed by a broadcast anti-join
    * BEFORE any shuffle — their occurrence rows never ride an
    * exchange, so a corpus-wide boilerplate gram cannot pin a single
    * task even while being discarded (observable via the
    * "jaccard_prefix_grams" observation). The
    * default keeps the cap off — recall exactly 1.0; with a cap, a
    * pair is missed only if EVERY prefix gram it shares is hotter than
    * the cap (boilerplate-only pairs — [[SpanDedup]]'s job).
    */
  def ngramJaccardPrefixPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      maxGramDocs: Int = Int.MaxValue,
      maxPairBudget: Long = Long.MaxValue): DataFrame =
    ngramJaccardPrefixPairsManaged(df, idCol, textCol, n, threshold,
      maxGramDocs, maxPairBudget)._1

  /** As [[ngramJaccardPrefixPairs]], plus the unpersist thunk for the
    * internal per-doc gram-array cache (read by the prefix pass and
    * both verify pulls — several tokenize+hash recomputations without
    * it). The plain form leaves release to the context cleaner on plan
    * GC; long-lived sessions should call the thunk after materializing.
    */
  def ngramJaccardPrefixPairsManaged(df: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double,
      maxGramDocs: Int = Int.MaxValue,
      maxPairBudget: Long = Long.MaxValue): (DataFrame, () => Unit) = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    require(maxGramDocs > 0, "maxGramDocs must be positive")
    require(maxPairBudget > 0, "maxPairBudget must be positive")
    // Epsilon on every float boundary below: t·|S| for integer-valued
    // t·|S| can land one ulp HIGH in binary (0.3 × 10 = 3.0000…04),
    // which would wrongly prune a boundary pair. The slack only ever
    // ADMITS extra candidates — the exact verify pass disposes of them.
    val eps = 1e-9
    // Per-document DISTINCT gram-hash arrays, ROW-LOCAL (one native
    // WordNgramHash64 + codegen'd array_distinct in the scan task):
    // replaces the shingleRows posexplode + window-lead pass, whose
    // doc-keyed exchange shuffled EVERY TOKEN ROW (plus a sort) before
    // a single gram existed. The true set size n_sh and the verify
    // stage's gram-set arrays are now row-local columns — the id-keyed
    // sizes aggregate, its join, and the collect_list gram-set
    // aggregate are gone with the exchange (plan diff in
    // plans/r11/dedup_jaccard_prefix_*).
    //
    // Gram keys are 64-bit hashes, not text — [[verifiedJaccard]]'s
    // hashed-set approximation contract now covers the prefix path
    // too: a cross-gram collision (~10⁻¹⁹ per pair) can merge two grams'
    // df counts and at worst drop a candidate whose every OTHER shared
    // prefix gram also collided; surviving pairs verify against full
    // per-doc hash sets exactly as before (the verify arrays were
    // already hashed). The rarity order (df asc, gram-hash) is still a
    // common total order, which is all the pigeonhole recall bound
    // needs.
    val gramHashes = graft.functions.GraftExtensions.word_ngram_hash64(
      tokens(col(textCol)), n, 0, XxHash64Family.tag)
    val docsG = df
      .select(col(idCol).as("id"), array_distinct(gramHashes).as("__gs"))
      .filter(size(col("__gs")) > 0)
      .withColumn("n_sh", size(col("__gs")).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sh = docsG.select(col("id"), col("n_sh"), explode(col("__gs")).as("g"))
    // Gram document-frequency as a map-side-combinable AGGREGATE, never
    // a per-gram window: a window partition is ONE task, so a corpus-
    // wide boilerplate gram (billions of rows at 100 TB) would funnel
    // into a single straggler before any cap could discard it. The
    // aggregate partial-combines the hot gram inside every map task
    // (shuffle carries one row per task × gram), the cap is applied to
    // the tiny one-row-per-gram result, and only THEN does anything
    // fan back out. NOTE the cap itself is the skew mitigation for the
    // join below — AQE cannot split a join whose build side is this
    // in-pipeline aggregate (OptimizeSkewedJoin needs plain shuffle
    // stages under BOTH sorts; executable proof in VolumeStressSpec's
    // bigram case) — so residual per-gram fan-out is bounded by
    // maxGramDocs, not by a reactive re-plan.
    // ONE observed gram-count aggregate serves BOTH the surviving-gram
    // df table and the over-cap hot list below — a separate aggregate
    // for the hot list would re-shuffle the corpus-scale gram rows a
    // second time (Spark's exchange reuse dedupes identical subplans;
    // duplicate metric names are only rejected across DIFFERENT plans).
    val gramCounts = sh.groupBy(col("g")).agg(count(lit(1)).as("__df"))
      // unique per call: a fixed name would bar two prefix joins from
      // composing in one query plan (duplicate CollectMetrics)
      .observe(s"jaccard_prefix_grams_${ObsId.next()}",
        sum(when(col("__df") > maxGramDocs, 1L).otherwise(0L))
          .as("dropped_grams"),
        max(col("__df")).as("max_gram_docs"))
    val gramDf = gramCounts.filter(col("__df") <= maxGramDocs)
    // Set size |S| counts ALL grams (pre-cap — it is the true Jaccard
    // denominator); it rides every sh row as a row-local column now,
    // so no sizes aggregate or join exists.
    // With a cap, rows of over-cap grams are removed by a BROADCAST
    // anti-join before the g-shuffle — the hot gram's occurrence rows
    // (cap × overflow, billions at 100 TB for a boilerplate gram)
    // never ride any exchange. The hot-gram LIST is broadcast-sized by
    // pigeonhole: at most |sh| / maxGramDocs grams can exceed the cap.
    val shKept =
      if (maxGramDocs == Int.MaxValue) sh
      else sh.join(
        broadcast(gramCounts.filter(col("__df") > maxGramDocs).select(col("g"))),
        Seq("g"), "left_anti")
    // The rarity rank runs over surviving grams only. With the cap off
    // (the default) that is the full set — identical to before. With a
    // cap, dropped hot grams vacate prefix slots that rarer grams then
    // fill — a SUPERSET of the uncapped prefix minus the dropped
    // grams, so the documented recall bound (a pair is missed only if
    // every shared prefix gram is hotter than the cap) still holds;
    // n_sh − __r then only overstates the remaining suffix, admitting
    // extra candidates for the exact verify to discard — never
    // dropping a true pair.
    val byRarity = Window.partitionBy(col("id")).orderBy(col("__df"), col("g"))
    val prefixes = shKept
      .join(gramDf, Seq("g"))
      .withColumn("__r", row_number().over(byRarity))
      .filter(col("__r") <=
        col("n_sh") - floor(lit(threshold) * col("n_sh")) + 1)
      .select(col("id"), col("g"), col("n_sh"), col("__r"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Candidate-volume budget: the self-join below emits exactly
    // Σ_g C(prefixDf(g), 2) rows, and in a duplicate-dense corpus that
    // grows linearly with the corpus but can exceed a single box's
    // shuffle disk long before the verify stage runs (measured at the
    // 100× rehearsal: ~1.7 B candidate rows — disk-full in the
    // candidate DISTINCT, with the plan otherwise healthy). Same
    // honest-degradation design as the count path's `maxPairBudget`:
    // plan the exact workload from the PREFIX-occurrence df histogram
    // (the prefixes cache is already hot; the collect is bounded by
    // √(2·|prefix rows|)), cut the highest-prefix-df grams first, and
    // surface the cut via the "jaccard_prefix_budget" observation.
    // Recall bound shifts accordingly: a pair is missed only when
    // EVERY prefix gram it shares sits above the cut; surviving pairs
    // still verify against FULL gram sets, so reported jaccard values
    // remain exact.
    val prefixesKept =
      if (maxPairBudget == Long.MaxValue) prefixes
      else {
        val hist = prefixes.groupBy(col("g")).agg(count(lit(1)).as("__pdf"))
          .groupBy(col("__pdf")).agg(count(lit(1)).as("__n"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        val plan = planPairBudget(hist, maxPairBudget)
        val droppedPairsLong =
          if (plan.droppedPairs > BigInt(Long.MaxValue)) Long.MaxValue
          else plan.droppedPairs.toLong
        prefixes
          .withColumn("__pdf",
            count(lit(1)).over(Window.partitionBy(col("g"))))
          .observe(s"jaccard_prefix_budget_${ObsId.next()}",
            sum(when(col("__pdf") > plan.cutoff, 1L).otherwise(0L))
              .as("dropped_prefix_rows"),
            max(col("__pdf")).as("max_prefix_df"),
            max(lit(plan.cutoff)).as("df_cutoff"),
            max(lit(droppedPairsLong)).as("dropped_pairs"))
          .filter(col("__pdf") <= plan.cutoff)
          .drop("__pdf")
      }
    // position filter: at the FIRST gram a truly-similar pair shares,
    // overlap ≤ min(suffix lengths incl. the gram) must still clear the
    // t/(1+t)·(|Sx|+|Sy|) intersection bound — rows for later shared
    // grams may fail it, but the first-gram row survives, so the pair
    // does too (distinct below).
    val minOverlap = (lit(threshold) / (lit(1.0) + lit(threshold))) *
      (col("x.n_sh") + col("y.n_sh")) - lit(eps)
    val cand = prefixesKept.as("x")
      .join(prefixesKept.as("y"),
        col("x.g") === col("y.g") && col("x.id") < col("y.id") &&
          col("y.n_sh") * lit(threshold) <= col("x.n_sh") + lit(eps) &&
          col("x.n_sh") * lit(threshold) <= col("y.n_sh") + lit(eps) &&
          (least(col("x.n_sh") - col("x.__r"), col("y.n_sh") - col("y.__r"))
            + 1 >= minOverlap))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.n_sh").as("n_a"), col("y.n_sh").as("n_b"))
      .distinct()
    // Verify pass: per-pair ARRAY INTERSECT over hashed gram sets, not
    // a gram-exploded re-join. The exploded form (cand ⋈ sh on id_a,
    // then ⋈ sh on (id_b, g)) shuffles candidates × |S| string-keyed
    // rows — measured at the 100× rehearsal as the registry's one
    // disk-filling stage (~10⁹ rows × ~50 B: duplicate-dense corpora
    // make candidates plentiful even at t=0.8, and each candidate paid
    // its FULL gram set through two exchanges). Here each doc's gram
    // set ships once per candidate pair as one bounded array of 64-bit
    // hashes (8 B/gram vs an exploded row per gram), and n_common is
    // computed row-locally. Hashing keeps exactness for all practical
    // purposes: a within-pair xxhash64 collision (~|S|²/2⁶⁴ ≈ 10⁻¹⁵)
    // is the only approximation, and it UNDERcounts the intersection.
    // Arrays are per-document bounded (the gram set of one doc), never
    // per-gram funnels — a multi-MB document costs its own pairs more,
    // nothing else.
    // SHUFFLE_HASH, not sort-merge, for both array joins: SMJ would
    // SORT rows carrying the ~KB gram-set arrays (measured as
    // SPILL_OUT_OF_MEMORY at the 100× rehearsal — 32 concurrent sorts
    // of fat rows), while a shuffled hash join builds its table from
    // the gramSets side only (corpus/numPartitions rows per task,
    // ~10 MB here) and STREAMS the fat pair rows through unsorted.
    // The gram-set arrays ARE docsG's row-local __gs column — the
    // collect_list aggregate (and its id exchange) is gone.
    val gramSets = docsG.select(col("id"), col("__gs").as("__gh"))
      .hint("shuffle_hash")
    val common = cand
      .join(gramSets.select(col("id").as("id_a"), col("__gh").as("__ga")),
        Seq("id_a"))
      .join(gramSets.select(col("id").as("id_b"), col("__gh").as("__gb")),
        Seq("id_b"))
      .withColumn("n_common",
        size(array_intersect(col("__ga"), col("__gb"))).cast("long"))
      .select(col("id_a"), col("id_b"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"))
    (common.filter(col("jaccard") >= threshold),
      () => { docsG.unpersist(); prefixes.unpersist(); () })
  }

  /** EXACT n-gram Jaccard similarity join for the LOW-threshold regime:
    * enumerate gram co-occurrences once and COUNT them — the
    * enumeration IS the verification. Same results as
    * [[ngramJaccardPairs]] / [[ngramJaccardPrefixPairs]] (recall 1.0),
    * different cost model:
    *
    *  - prefix filtering keeps `|S| − floor(t·|S|) + 1` grams per
    *    document — at t=0.3 that is ~73% of every document, so the
    *    candidate join prunes almost nothing, and the verify pass then
    *    RE-joins every candidate against all its grams: candidates ×
    *    avg|S| rows. Measured at the sf1 rehearsal (50k short docs in
    *    dense near-dup clusters, t=0.3): 622 s and a disk-filling
    *    shuffle spill — the verify re-join is the whole bill.
    *  - this path pays the co-occurrence enumeration exactly once:
    *    Σ_g (df_g choose 2) join rows flow straight into one
    *    map-side-combinable count per (id_a, id_b). No second pass, no
    *    re-join. Same sf1 workload: the full 138 M-row enumeration is
    *    one shuffle of two-long-key rows.
    *
    * Cost is output-sensitive (pairs sharing ≥1 gram), NOT quadratic in
    * documents — but it IS quadratic in per-gram document frequency, so
    * the same `maxGramDocs` mega-bucket guard applies (broadcast
    * anti-join BEFORE the g-shuffle, same shape and observation as the
    * prefix path). Cap semantics differ by construction: here a dropped
    * gram is excluded from `n_common` (denominators stay true — sizes
    * are computed pre-cap), so a pair whose similarity rides ONLY on
    * over-cap boilerplate grams falls below threshold — the same
    * division of labor ([[SpanDedup]] owns boilerplate) as the prefix
    * path's recall bound, stated for counting instead of candidates.
    *
    * Regime by threshold: this path below t ≈ 0.6,
    * [[ngramJaccardPrefixPairs]] above. Prefix length is `|S|(1−t)+1`,
    * so the prefix candidate join shrinks ~(1−t)² while its verify
    * re-join adds candidates × avg|S| rows; that pays only once
    * prefixes are small (measured: 622 s prefix vs one-pass count on
    * the sf1 rehearsal at t=0.3). Under a `maxGramDocs` cap the two
    * degrade differently: the prefix path verifies against FULL gram
    * sets, this path excludes over-cap grams from `n_common`.
    *
    * `maxPairBudget` bounds the ENUMERATION ITSELF: the co-occurrence
    * join emits exactly Σ_g df_g·(df_g−1)/2 rows, so a corpus of many
    * mid-df grams (boilerplate-heavy crawls: df ≈ 100 everywhere —
    * `maxGramDocs` never bites) can write an unbounded shuffle until
    * the disk dies, with a perfectly healthy-looking plan. The budget
    * is enforced by the same honest-degradation stance as `maxBucket`/
    * `maxCluster`: compute the exact per-df workload from the gram-df
    * histogram (one aggregate; the collect is bounded — k distinct df
    * values satisfy k(k+1)/2 ≤ |sh|, so k ≤ √(2|sh|): ~1.4 M rows even
    * at 10¹² shingles), then drop the HIGHEST-df grams first (they
    * carry the least Jaccard information per enumeration row — the
    * `maxGramDocs` rationale, applied adaptively) until the planned
    * enumeration fits. Cap semantics are identical to `maxGramDocs`
    * (dropped grams are excluded from `n_common`, denominators stay
    * true); the cut is observable via the "jaccard_pair_budget"
    * observation (dropped rows, df cutoff, planned dropped pair mass).
    */
  def ngramJaccardCountPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      maxGramDocs: Int = Int.MaxValue,
      maxPairBudget: Long = Long.MaxValue,
      targetPairsPerSalt: Long = 4000000L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    require(maxGramDocs > 0, "maxGramDocs must be positive")
    require(maxPairBudget > 0, "maxPairBudget must be positive")
    require(targetPairsPerSalt > 0, "targetPairsPerSalt must be positive")
    val eps = 1e-9 // same one-ulp slack as the prefix path: only ADMITS
    // Hashed gram keys: the count path never needs gram TEXT — g is an
    // opaque equi-join/df key — so the whole pipeline (df aggregates,
    // the g-self-join and its sort) moves 8-byte longs instead of
    // n-token strings (the hashed-set approximation contract of
    // [[verifiedJaccard]]).
    // The per-doc DISTINCT hash array is ROW-LOCAL (native
    // WordNgramHash64 + codegen'd array_distinct in the scan task), so
    // the shingleRows posexplode + window-lead doc-keyed token
    // exchange AND the id-window that used to attach the true set
    // size are both gone: n_sh = size of the distinct array, computed
    // before the explode.
    val gramHashes = graft.functions.GraftExtensions.word_ngram_hash64(
      tokens(col(textCol)), n, 0, XxHash64Family.tag)
    val sized = df
      .select(col(idCol).as("id"), array_distinct(gramHashes).as("__gs"))
      .filter(size(col("__gs")) > 0)
      .select(col("id"), size(col("__gs")).cast("long").as("n_sh"),
        explode(col("__gs")).as("g"))
    val kept =
      if (maxGramDocs == Int.MaxValue && maxPairBudget == Long.MaxValue) sized
      else if (maxPairBudget == Long.MaxValue) {
        // Pigeonhole-bounded hot list (≤ |sh| / maxGramDocs grams), same
        // broadcast anti-join as the prefix path: over-cap occurrence
        // rows never ride the g-exchange.
        val gramDf = sized.groupBy(col("g")).agg(count(lit(1)).as("__df"))
          .observe(s"jaccard_count_grams_${ObsId.next()}",
            sum(when(col("__df") > maxGramDocs, 1L).otherwise(0L))
              .as("dropped_grams"),
            max(col("__df")).as("max_gram_docs"))
        sized.join(
          broadcast(gramDf.filter(col("__df") > maxGramDocs).select(col("g"))),
          Seq("g"), "left_anti")
      } else {
        // Budget path: one eager histogram aggregate (this op is a
        // planner+executor) → driver cutoff → a g-window
        // filter on the SAME key as the self-join, so the df filter adds
        // no exchange beyond the one the join needs anyway. The hot list
        // is unbounded here (a budget-derived cutoff can be small —
        // |sh|/cutoff grams over it), so the broadcast anti-join shape
        // of the maxGramDocs path would not be safe.
        val hist = sized.groupBy(col("g")).agg(count(lit(1)).as("__df"))
          .groupBy(col("__df")).agg(count(lit(1)).as("__n"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        val plan = planPairBudget(hist, maxPairBudget, maxGramDocs)
        val droppedPairsLong =
          if (plan.droppedPairs > BigInt(Long.MaxValue)) Long.MaxValue
          else plan.droppedPairs.toLong
        sized
          .withColumn("__gdf",
            count(lit(1)).over(Window.partitionBy(col("g"))))
          .observe(s"jaccard_pair_budget_${ObsId.next()}",
            sum(when(col("__gdf") > plan.cutoff, 1L).otherwise(0L))
              .as("dropped_gram_rows"),
            max(col("__gdf")).as("max_gram_docs"),
            max(lit(plan.cutoff)).as("df_cutoff"),
            max(lit(droppedPairsLong)).as("dropped_pairs"))
          .filter(col("__gdf") <= plan.cutoff)
          .drop("__gdf")
      }
    // SUB-GRAM SALTING for the enumeration join. A gram's co-occurrence
    // output is df·(df−1)/2 rows from ONE join key, and join-key skew is
    // invisible to AQE (the skew detector sizes the join's INPUT
    // partitions — a df=25 k gram is ~25 k input rows but 312 M output
    // rows, all enumerated by the single task that owns the key while
    // the rest of the cluster idles; 100×-measured as ~70% of this op's
    // wall time). One side is salted by hash(id) mod B_g, the other is
    // replicated to all B_g salts, with B_g ∝ df² so every (g, salt)
    // cell enumerates ~targetPairsPerSalt rows regardless of skew.
    // Low-df grams keep B_g = 1 — zero replication on the long tail.
    // Pair semantics are untouched: each (a, b) meets on exactly one
    // salt (a's), every gram contributes exactly once.
    val withGdf = kept.withColumn("__gdf",
      count(lit(1)).over(Window.partitionBy(col("g"))))
    val bg = least(greatest(
        ceil(pow(least(col("__gdf"), lit(2000000L)).cast("double"), 2.0)
          / lit(targetPairsPerSalt.toDouble)), lit(1.0)),
        lit(8192.0)).cast("int")
    val x = withGdf
      .withColumn("__salt", pmod(xxhash64(col("id")), bg.cast("long")).cast("int"))
      .drop("__gdf")
    val y = withGdf
      .withColumn("__salt", explode(sequence(lit(0), bg - lit(1))))
      .drop("__gdf")
    x.as("x")
      .join(y.as("y"),
        col("x.g") === col("y.g") && col("x.__salt") === col("y.__salt") &&
          col("x.id") < col("y.id") &&
          col("y.n_sh") * lit(threshold) <= col("x.n_sh") + lit(eps) &&
          col("x.n_sh") * lit(threshold) <= col("y.n_sh") + lit(eps))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.n_sh").as("n_a"), col("y.n_sh").as("n_b"))
      .agg(count(lit(1)).as("n_common"))
      .select(col("id_a"), col("id_b"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** A chosen enumeration budget cut for [[ngramJaccardCountPairs]]:
    * grams with document frequency ≤ `cutoff` are kept; `keptPairs` /
    * `droppedPairs` are the EXACT co-occurrence rows the cut admits /
    * removes (Σ df·(df−1)/2 per side); `droppedGrams` counts distinct
    * grams cut. BigInt because the un-budgeted workload is the quantity
    * that overflows — that's the point of planning it.
    */
  final case class PairBudgetPlan(cutoff: Long, keptPairs: BigInt,
      droppedPairs: BigInt, droppedGrams: Long)

  /** Pick the largest df cutoff whose total co-occurrence enumeration
    * fits `maxPairBudget`, from a (df → #grams) histogram. Admission is
    * ascending in df (drop the highest-df grams first — they cost
    * df²/2 rows each and carry the least Jaccard signal); levels above
    * `maxGramDocs` are never admitted. Monotone: a single cutoff value,
    * never a partial level, so the cut is deterministic and replayable.
    * df=1 grams cost nothing and are always kept (cutoff ≥ 1).
    */
  def planPairBudget(hist: Seq[(Long, Long)], maxPairBudget: Long,
      maxGramDocs: Int = Int.MaxValue): PairBudgetPlan = {
    require(maxPairBudget > 0, "maxPairBudget must be positive")
    var left = BigInt(maxPairBudget)
    var cutoff = 1L
    var kept = BigInt(0)
    var dropped = BigInt(0)
    var droppedGrams = 0L
    var admitting = true
    hist.sortBy(_._1).foreach { case (df, nGrams) =>
      val cost = BigInt(df) * BigInt(df - 1) / 2 * BigInt(nGrams)
      if (admitting && df <= maxGramDocs && cost <= left) {
        left -= cost; kept += cost; cutoff = math.max(cutoff, df)
      } else if (df > 1) {
        admitting = false // monotone cut: everything above is out
        dropped += cost; droppedGrams += nGrams
      }
    }
    PairBudgetPlan(cutoff, kept, dropped, droppedGrams)
  }

  /** Exact Jaccard for given (id_a, id_b) pairs from shingle rows:
    * per-pair ARRAY INTERSECT over hashed gram sets, |union| = n_a +
    * n_b − |intersection|.
    *
    * Same verify-stage engineering as [[ngramJaccardPrefixPairsManaged]]
    * and for the same 100×-measured reason: the old gram-exploded form
    * (pairs ⋈ sh on id_a, then ⋈ sh on (id_b, g)) shuffles pairs × |S|
    * string-keyed rows — LSH at a low threshold admits tens of millions
    * of candidates, so that re-join alone filled the rehearsal disk.
    * One bounded hash-array per doc ships per candidate pair instead
    * (8 B/gram), n_common is row-local, and both joins are SHUFFLE_HASH
    * so no sort ever buffers the fat array rows. A within-pair
    * xxhash64 collision (~|S|²/2⁶⁴ ≈ 10⁻¹⁵) is the only approximation
    * and can only UNDERcount the intersection.
    */
  private def verifiedJaccard(pairs: DataFrame, sh: DataFrame): DataFrame = {
    val gramSets = sh.groupBy(col("id"))
      .agg(count(lit(1)).as("n_sh"),
        collect_list(xxhash64(col("g"))).as("__gh"))
      .hint("shuffle_hash")
    pairs
      .join(gramSets.select(col("id").as("id_a"), col("n_sh").as("n_a"),
        col("__gh").as("__ga")), Seq("id_a"))
      .join(gramSets.select(col("id").as("id_b"), col("n_sh").as("n_b"),
        col("__gh").as("__gb")), Seq("id_b"))
      .withColumn("n_common",
        size(array_intersect(col("__ga"), col("__gb"))).cast("long"))
      .select(col("id_a"), col("id_b"),
        (col("n_common").cast("double") /
         (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"))
  }

  /** Connected components over near-dup pairs: every document of a
    * near-dup cluster gets the cluster's smallest member id as its
    * `component` (then "keep id == component" is the canonical-doc
    * rule).
    *
    * Two regimes, selected by measured edge count — the same adaptive
    * shape as broadcast-vs-shuffle join selection:
    *  - at or below `driverEdgeLimit` edges, the graph is
    *    broadcast-sized: a driver union-find answers in one collect
    *    (verified near-dup PAIRS are a tiny fraction of any corpus;
    *    iterative Spark sweeps would pay ~10 job launches for
    *    microseconds of work);
    *  - above it, distributed min-label propagation with pointer
    *    jumping (label-through-label), one groupBy(min) per sweep,
    *    O(log diameter) sweeps, lineage truncated per sweep via
    *    localCheckpoint (iterative plans otherwise nest exponentially
    *    and analysis itself OOMs).
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIters: Int = 20,
      driverEdgeLimit: Long = 1000000L): DataFrame = {
    val spark = pairs.sparkSession
    // Ids keep their NATURAL type — numeric and string ids both order
    // correctly under Spark min() and the driver comparator below;
    // silently casting (e.g. UUID strings → null longs) would lose
    // every cluster. Other id types are rejected loudly.
    val idType = pairs.schema(idA).dataType
    require(idType == pairs.schema(idB).dataType,
      s"pair columns disagree on type: $idType vs ${pairs.schema(idB).dataType}")
    val cmp: (Any, Any) => Int = idType match {
      // Integral ids compare as longs — a double compare would collapse
      // distinct ids differing only above 2^53.
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType =>
        (a, b) => java.lang.Long.compare(
          a.asInstanceOf[Number].longValue(), b.asInstanceOf[Number].longValue())
      // Decimal ids keep full precision — DECIMAL(38,0) ids from JDBC/
      // parquet exceed a double's 53-bit mantissa just like longs do.
      case _: org.apache.spark.sql.types.DecimalType =>
        (a, b) => a.asInstanceOf[java.math.BigDecimal]
          .compareTo(b.asInstanceOf[java.math.BigDecimal])
      // Fractional ids are rejected loudly rather than silently compared
      // as doubles: a Float/Double "document id" is pathological, and a
      // lossy comparator that collapses near-equal ids would merge
      // unrelated clusters without any visible error.
      case org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType =>
        throw new IllegalArgumentException(
          s"connectedComponents does not support fractional id type $idType: " +
            "cast ids to an integral, decimal, or string type first")
      case org.apache.spark.sql.types.StringType =>
        (a, b) => a.asInstanceOf[String].compareTo(b.asInstanceOf[String])
      case other => throw new IllegalArgumentException(
        s"connectedComponents supports numeric or string ids, got $other")
    }
    // The symmetric edge set references `pairs` TWICE (once per union
    // branch), and Spark evaluates each branch's lineage independently
    // — an expensive pair source (the quadratic exact-cosine twin at
    // the sf10 rehearsal: ~320 s per evaluation) would run twice.
    // Persist the one-sided pairs first; they are released as soon as
    // `edges` is materialized by the count below.
    val oneSided = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edges = oneSided
      .union(oneSided.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Gate/collect/sweep failures must unpersist `edges` — no handle
    // escapes this method, so nothing else ever could (the
    // Binning.labeledPartition guard). Guards are NARROW try/catches
    // around each action rather than one block: a whole-body wrap
    // catching Throwable would also swallow the driver branch's
    // non-local return (scala.runtime.NonLocalReturnControl).
    val edgeCount =
      try edges.count()
      catch { case e: Throwable => oneSided.unpersist(); edges.unpersist(); throw e }
    oneSided.unpersist()
    if (edgeCount <= driverEdgeLimit) {
      // Broadcast-sized graph: classic union-find with path compression,
      // then relabel every node by its component's minimum id.
      import scala.collection.mutable
      val parent = mutable.HashMap.empty[Any, Any]
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      val collected =
        try {
          edges.collect().map(r => (r.get(0), r.get(1)))
            .filter { case (a, b) => cmp(a, b) < 0 }
        } catch { case e: Throwable => edges.unpersist(); throw e }
      collected.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          if (cmp(ra, rb) <= 0) parent(rb) = ra else parent(ra) = rb
        }
      }
      val nodes = collected.flatMap { case (a, b) => Seq(a, b) }.distinct
      val minOfRoot = mutable.HashMap.empty[Any, Any]
      nodes.foreach { n =>
        val r = find(n)
        minOfRoot(r) = minOfRoot.get(r).filter(m => cmp(m, n) <= 0).getOrElse(n)
      }
      edges.unpersist()
      val rows = nodes.toSeq.map(n =>
        org.apache.spark.sql.Row(n, minOfRoot(find(n))))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("component", idType)))
      return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
    }
    // Distributed regime: CONTRACT-THEN-SOLVE. Each contraction round
    // hash-partitions the current edge set by src, runs a per-partition
    // union-find, and replaces the partition's edges with an equivalent
    // spanning STAR (node -> partition-local min of its component) —
    // connectivity over the full node universe is preserved exactly
    // (every endpoint reappears as a star src), while the edge count
    // drops toward the node count. A few rounds reduce even a dense
    // pair graph (the sf10 rehearsal: 22 M symmetric edge rows over
    // 200 k nodes) to driver-collectable size in 1 shuffle + 1 count
    // per round, versus the former min-label-propagation loop's ~6
    // sweeps x (3 joins + localCheckpoint + convergence count) each.
    // If contraction stalls above `driverEdgeLimit` (node count alone
    // exceeds it, or `driverEdgeLimit` is forced to 0), the classic
    // sweep loop runs on the CONTRACTED graph, where star diameter
    // makes it converge in O(1) sweeps.
    val spark2 = spark
    import org.apache.spark.sql.{Row => SRow}
    val rowSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("src", idType),
      org.apache.spark.sql.types.StructField("dst", idType)))
    def contractStars(e: DataFrame): DataFrame = {
      val contracted = e.repartition(col("src")).rdd.mapPartitions { it =>
        import scala.collection.mutable
        val parent = mutable.HashMap.empty[Any, Any]
        val nodes = mutable.LinkedHashSet.empty[Any]
        def find(x: Any): Any = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { r =>
          val (a, b) = (r.get(0), r.get(1))
          nodes += a; nodes += b
          val (ra, rb) = (find(a), find(b))
          // union-by-min keeps each set's root == its minimum id, so
          // find() below yields the partition-local min label directly
          if (ra != rb) { if (cmp(ra, rb) <= 0) parent(rb) = ra else parent(ra) = rb }
        }
        nodes.iterator.map(n => SRow(n, find(n)))
      }
      spark2.createDataFrame(contracted, rowSchema)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    // The classic min-label propagation + pointer-jumping sweep, kept
    // as the no-driver-solve fallback. Each sweep is eagerly
    // localCheckpoint'ed: iterative plans otherwise nest the whole
    // previous plan into the next (lineage grows exponentially —
    // analysis alone OOMs after ~10 sweeps). On a real cluster this
    // would be a reliable checkpoint dir instead of executor-local
    // blocks.
    def sweepSolve(oneDir: DataFrame): DataFrame = {
      val sym = oneDir
        .union(oneDir.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        var labels = sym.select(col("src").as("id"), col("src").as("component"))
          .union(sym.select(col("dst").as("id"), col("dst").as("component")))
          .groupBy(col("id")).agg(min(col("component")).as("component"))
          .localCheckpoint(true)
        var converged = false
        var iter = 0
        while (!converged && iter < maxIters) {
          val viaNeighbors = sym
            .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
            .select(col("src").as("id"), col("component"))
          val viaJump = labels.select(col("id"), col("component").as("__via"))
            .join(labels.select(col("id").as("__via"), col("component")), Seq("__via"))
            .select(col("id"), col("component"))
          val next = labels.union(viaNeighbors).union(viaJump)
            .groupBy(col("id")).agg(min(col("component")).as("component"))
            .localCheckpoint(true)
          val changed = next.join(labels.withColumnRenamed("component", "__old"), Seq("id"))
            .filter(col("component") =!= col("__old")).limit(1).count()
          labels = next
          converged = changed == 0
          iter += 1
        }
        sym.unpersist()
        labels
      } catch { case e: Throwable => sym.unpersist(); throw e }
    }
    try {
      var cur = edges
      var curCnt = edgeCount
      var ownsCur = false // `edges` is unpersisted by the shared finally-style handlers
      var round = 0
      var shrinking = true
      while (curCnt > driverEdgeLimit && shrinking && round < 8) {
        val next = contractStars(cur)
        val nextCnt =
          try next.count()
          catch { case e: Throwable =>
            next.unpersist(); if (ownsCur) cur.unpersist(); throw e }
        if (ownsCur) cur.unpersist() else edges.unpersist()
        // require a meaningful shrink: star edges of an already-sparse
        // graph can match or exceed its edge count, at which point more
        // rounds only add jobs
        shrinking = nextCnt < (curCnt * 7) / 10
        cur = next; curCnt = nextCnt; ownsCur = true; round += 1
      }
      if (curCnt <= driverEdgeLimit) {
        // Solve the contracted graph on the driver. Unlike the
        // broadcast-sized fast path above, every edge endpoint counts
        // as a node (matching the sweep regime's label universe this
        // path replaces — star self-edges keep their node alive).
        import scala.collection.mutable
        val parent = mutable.HashMap.empty[Any, Any]
        def find(x: Any): Any = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        val collected =
          try cur.collect().map(r => (r.get(0), r.get(1)))
          catch { case e: Throwable => cur.unpersist(); throw e }
        cur.unpersist()
        val nodes = mutable.LinkedHashSet.empty[Any]
        collected.foreach { case (a, b) =>
          nodes += a; nodes += b
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (cmp(ra, rb) <= 0) parent(rb) = ra else parent(ra) = rb }
        }
        val rows = nodes.iterator.map(n => SRow(n, find(n))).toSeq
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", idType),
          org.apache.spark.sql.types.StructField("component", idType)))
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows, math.max(1, rows.size / 500000)),
          schema)
      } else {
        // contraction plateaued above the driver limit — sweep the
        // (smaller) contracted graph; stars converge in O(1) sweeps
        val out =
          try sweepSolve(cur)
          catch { case e: Throwable => if (ownsCur) cur.unpersist(); throw e }
        if (ownsCur) cur.unpersist()
        out
      }
    } catch { case e: Throwable =>
      // `edges` may already be unpersisted by the round-1 handoff above;
      // a second unpersist is a no-op, never an error
      edges.unpersist(); throw e
    }
  }

  /** End-to-end near-duplicate REMOVAL: the glue from any pair source
    * ([[minhashLshPairs]], [[Similarity.embeddingNearDupExact]],
    * simhash buckets, …) to the deduplicated corpus. Each transitive
    * duplicate GROUP (connected component of the pair graph) keeps
    * exactly its smallest id; rows in no pair survive untouched.
    *
    * Scale shape: the component labeling works on the pair graph only
    * (orders of magnitude smaller than the corpus — see
    * [[connectedComponents]]'s adaptive regimes); the corpus itself is
    * touched by ONE narrow anti-join on ids. Bodies never ride any
    * shuffle.
    */
  def removeNearDuplicates(corpus: DataFrame, idCol: String, pairs: DataFrame,
      idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val losers = connectedComponents(pairs, idA, idB)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("__dup_id"))
    corpus.join(losers, corpus(idCol) === col("__dup_id"), "left_anti")
  }

  /** As [[removeNearDuplicates]], but each duplicate cluster keeps its
    * BEST document by `scoreCol` (max score, ties by smallest id)
    * instead of its smallest id — the representative-selection policy
    * of quality-aware pipelines (keep the longest / highest-quality
    * member, drop the rest). Rows in no pair survive untouched; null
    * scores sort last.
    *
    * Scale shape: components label the pair graph only; the corpus
    * contributes (id, score) pairs to a component-keyed argmax window
    * whose input is duplicate-cluster members ONLY (a semi-join-sized
    * slice), then one narrow anti-join removes the losers. Bodies
    * never ride any shuffle.
    */
  def keepBestOfCluster(corpus: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame, idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val comp = connectedComponents(pairs, idA, idB)
    val members = corpus
      .select(col(idCol).as("id"), col(scoreCol).as("__score"))
      .join(comp, Seq("id"))
    val byComp = Window.partitionBy(col("component"))
      .orderBy(col("__score").desc_nulls_last, col("id"))
    val losers = members
      .withColumn("__rk", row_number().over(byComp))
      .filter(col("__rk") =!= 1)
      .select(col("id").as("__dup_id"))
    corpus.join(losers, corpus(idCol) === col("__dup_id"), "left_anti")
  }

  /** Benchmark decontamination (the eval-leakage guard every training
    * pipeline needs): drop every corpus document that shares ANY word
    * n-gram with the reference (benchmark/eval) set.
    *
    * Scale shape: reference n-grams are distinct'd (benchmark-sized —
    * orders of magnitude smaller than the corpus, typically broadcast),
    * a LEFT SEMI join marks contaminated doc ids, a LEFT ANTI join
    * removes them — corpus text rides NO shuffle at all: grams are
    * born ROW-LOCAL as 64-bit hashed keys (native WordNgramHash64 +
    * codegen'd array_distinct in the scan task — the shingleRows
    * posexplode + window-lead pass shuffled every corpus token before
    * a single gram existed), and the semi-join moves 8-byte longs.
    * Hashed keys carry [[verifiedJaccard]]'s hashed-set approximation
    * contract: a cross-set 64-bit collision (~10⁻¹⁹ per gram pair) can flag a
    * clean document — acceptable for a guard whose false-positive cost
    * is one dropped document. Gram distinctness is per input ROW (the
    * corpus contract: one row per document) — semi-join semantics make
    * duplicate gram rows harmless anyway.
    */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
      reference: DataFrame, refIdCol: String, refTextCol: String,
      n: Int): DataFrame = {
    def grams(c: Column) = explode(array_distinct(
      graft.functions.GraftExtensions.word_ngram_hash64(
        tokens(c), n, 0, XxHash64Family.tag)))
    val corpusShingles = corpus
      .select(col(idCol).as("id"), grams(col(textCol)).as("g"))
    val refShingles = reference.select(grams(col(refTextCol)).as("g")).distinct()
    val contaminated = corpusShingles
      .join(refShingles, Seq("g"), "left_semi")
      .select(col("id")).distinct()
    corpus.join(contaminated.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /** Graded contamination: for each corpus document, how many of its
    * distinct word n-grams appear anywhere in the reference (eval) set
    * — the GPT-3/PaLM-style overlap measure that [[decontaminate]]'s
    * binary any-gram rule coarsens. The caller thresholds
    * hit_grams/n_grams per its own tolerance.
    *
    * Scale shape: one gram-keyed join (distinct reference grams on the
    * build side — eval suites are small, AQE broadcasts them) and one
    * doc-keyed count aggregate; document bodies never ride a shuffle,
    * and neither do tokens — grams are born ROW-LOCAL as 64-bit hashed
    * keys (native WordNgramHash64 + codegen'd array_distinct; the
    * shingleRows window-lead pass shuffled every corpus token). Hashed
    * keys carry [[verifiedJaccard]]'s hashed-set approximation contract
    * (a cross-set collision inflates one doc's hit count by 1). Gram
    * distinctness is per input ROW — the one-row-per-document corpus
    * contract every caller here satisfies. Documents shorter than `n`
    * tokens have no grams and are absent from the output (same domain
    * rule as [[decontaminate]], which cannot flag them either).
    *
    * STREAMING-READY by construction now: the row-local gram
    * expression is stateless, the gram join is stream-static against
    * the (always static) reference, and the per-doc count is a
    * streaming aggregate — one code path for both modes.
    */
  def contaminationScore(corpus: DataFrame, idCol: String, textCol: String,
      reference: DataFrame, refIdCol: String, refTextCol: String,
      n: Int): DataFrame = {
    require(!reference.isStreaming, "the reference (benchmark) set must be static")
    def grams(c: Column) = explode(array_distinct(
      graft.functions.GraftExtensions.word_ngram_hash64(
        tokens(c), n, 0, XxHash64Family.tag)))
    val corpusShingles = corpus
      .select(col(idCol).as("id"), grams(col(textCol)).as("g"))
    val refShingles = reference.select(grams(col(refTextCol)).as("g"))
      .distinct().withColumn("__hit", lit(1))
    corpusShingles
      .join(refShingles, Seq("g"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"), count(col("__hit")).as("hit_grams"))
      .select(col("id").as(idCol), col("n_grams"), col("hit_grams"))
  }

  /** Paragraph-level exact dedup (the Dolma/CCNet shape): the corpus is
    * exploded into (doc, position, paragraph) rows; of all occurrences
    * of an identical paragraph, only the GLOBALLY FIRST (smallest
    * (doc id, position)) survives; each document is reassembled from
    * its surviving paragraphs in original order (empty string when
    * every paragraph was removed).
    *
    * Scale shape: one shuffle keyed by the paragraph DIGEST
    * (map-side-combined min aggregate — a boilerplate paragraph ships
    * one row per input partition, never a per-occurrence funnel), one
    * keyed by doc id (reassembly); no driver-side state.
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n\n"): DataFrame = {
    val paras = df
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "para")))
    // First occurrence via a digest-keyed AGGREGATE, not a window: a
    // window partitioned by the paragraph would funnel every
    // occurrence of a corpus-wide boilerplate paragraph (this op's
    // primary target) — with full bodies as the shuffle key — into one
    // unsplittable straggler task. min(struct(id, pos, para)) picks
    // the same smallest-(id, pos) winner but MAP-SIDE COMBINES: the
    // hot digest ships one row per input partition, 16-byte key, and
    // the body rides inside the min struct. (md5 collisions are the
    // same risk every digest-keyed dedup here accepts.)
    val kept = paras
      .groupBy(md5(col("para")).as("__fp"))
      .agg(min(struct(col("id"), col("pos"), col("para"))).as("__first"))
      .select(col("__first.id").as("id"), col("__first.pos").as("pos"),
        col("__first.para").as("para"))
    val reassembled = kept
      .groupBy(col("id"))
      .agg(concat_ws(sep,
        transform(array_sort(collect_list(struct(col("pos"), col("para")))),
          s => s.getField("para"))).as("text"))
    // Documents whose every paragraph was removed still exist, with
    // empty text.
    df.select(col(idCol).as("id")).distinct()
      .join(reassembled, Seq("id"), "left")
      .select(col("id"), coalesce(col("text"), lit("")).as("text"))
  }

  /** IN-document repeated-line collapse — the MassiveText / RefinedWeb
    * "remove duplicated lines within a document" cleaning rule
    * (boilerplate such as cookie banners, nav text and share prompts
    * repeats WITHIN a page long before it repeats across pages, and
    * line-level repetition inflates LM likelihood): every line keeps
    * only its FIRST occurrence inside its own document; survivors
    * rejoin in original order. The cross-document sibling is
    * [[paragraphDedup]].
    *
    * Scale shape: entirely ROW-LOCAL column algebra (split → indexed
    * higher-order filter → array_join) — zero shuffles, zero state,
    * and therefore streaming-identical by construction (apply to a
    * streaming DataFrame as-is). Per-row cost is O(L²) line
    * comparisons (L = lines per doc — the running-seen-set needs
    * mutable state SQL doesn't have); for web documents (L ~ 10²)
    * that is noise next to the TWO doc-keyed body shuffles the
    * explode → first-occurrence → re-aggregate formulation pays.
    *
    * Null text stays null (the row survives); empty text is one empty
    * line and survives unchanged; a run of blank lines collapses to
    * one blank line (duplicate "" lines — the rule applies to them
    * like any other line). `sep` is a LITERAL separator, not a regex.
    */
  def dedupLinesWithinDoc(df: DataFrame, textCol: String,
      sep: String = "\n"): DataFrame = {
    // ONE native O(L) expression (hash-set first-occurrence filter).
    // The HOF spelling below is interpreted and quadratic-with-copies
    // (element i materializes and scans a fresh i-element prefix
    // array) — measured as text_dedup_lines' whole bench cost and its
    // superlinear sf1→sf10 ratio. Equality pinned in OpsSpec.
    import org.apache.spark.sql.GraftColumnBridge
    df.withColumn(textCol, GraftColumnBridge.column(
      graft.functions.DedupLinesInDoc(
        GraftColumnBridge.expression(col(textCol)), sep)))
  }

  /** The HOF spelling of [[dedupLinesWithinDoc]] — retained as the
    * executable specification the native expression is pinned against
    * (OpsSpec equality property); not a production path.
    */
  private[graft] def dedupLinesWithinDocHof(df: DataFrame, textCol: String,
      sep: String = "\n"): DataFrame = {
    val lines = split(col(textCol), java.util.regex.Pattern.quote(sep), -1)
    val kept = filter(lines, (x, i) =>
      array_position(slice(lines, lit(1), i), x) === 0)
    df.withColumn(textCol, array_join(kept, sep))
  }

  /** EXACT-SUBSTRING dedup with KEEP-FIRST semantics (the Lee et al.
    * "Deduplicating Training Data Makes Language Models Better" rule,
    * position-level): every k-token window that occurs MORE THAN ONCE
    * in the corpus keeps only its globally first occurrence — smallest
    * (id, position) — and every token covered by a non-first
    * duplicated window is REMOVED from its document. A duplicated run
    * of length ≥ k is thereby stripped from all but the first document
    * carrying it (mirrored articles, quoted passages), while runs
    * shorter than k never match a window and survive.
    *
    * Sibling, NOT a twin, of [[SpanDedup.audit]]: SpanDedup is span
    * EXCISION — it cuts every occurrence of a cross-document duplicated
    * gram from every document (the boilerplate-removal stance, where
    * the span itself is unwanted); this op is span DEDUP — exactly one
    * copy of the duplicated content survives in the corpus (the
    * training-data stance, where the content is wanted once). The
    * execution shapes differ to match: SpanDedup rides doc-keyed
    * window leads and a semi-join against the tiny post-threshold dup
    * list; keep-first needs each occurrence ranked against the global
    * first, so the gram-keyed exchange here carries every occurrence
    * once and comes back as a bounded per-doc position list.
    *
    * Granularity caveat (the position-level approximation): keep-first
    * is decided PER WINDOW, not per maximal span, so when two long
    * duplicated runs overlap in different ways across documents the
    * preserved copy of each window is its own first occurrence — a
    * document can keep a prefix of a run whose suffix was first seen
    * elsewhere. Same stance as suffix-array implementations that cut
    * at 50-token boundaries: the removed set is exact, the kept copy's
    * location is a policy choice.
    *
    * Scale shape (one body-sized gram exchange, everything else
    * bounded):
    *  1. positioned gram keys are ROW-LOCAL array lambdas over the
    *     token array (no window/lead shuffle);
    *  2. the first-occurrence mark is one groupBy(gram) min-aggregate
    *     (map-side combinable) plus an equi-join back on the gram key —
    *     a hot boilerplate gram fans 1:df linearly, never
    *     quadratically;
    *  3. coverage returns to the document as ONE collect_list of
    *     marked positions (bounded by the doc's own gram count), and
    *     token filtering is a row-local indexed lambda — O(n·m) per
    *     document, the [[dedupLinesWithinDoc]] trade.
    *
    * `family` picks the gram key hash: xxhash64 (default; 64-bit
    * collisions ~10⁻¹⁹ per gram pair can only OVER-remove — same
    * contract as [[verifiedJaccard]]'s hashed sets) or [[Md5Family]] for
    * SQL-replayable gates. Null-text rows are excluded (the [[exact]]
    * rule); kept_text is whitespace-normalized (tokens re-joined with
    * single spaces). Returns (id, kept_text, n_toks, n_removed).
    */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
      k: Int, family: HashFamily = XxHash64Family): DataFrame = {
    require(k >= 2 && k <= 64, "substring window k out of range")
    val docs = tokenizedDocs(df, idCol, textCol)
    // TWO consumers read the occurrence rows (the firsts aggregate and
    // the probe side of its join back) and their subtrees differ, so
    // exchange reuse cannot share them — unpersisted, the scan +
    // tokenize + gram-hash pipeline runs twice. Persist the (id, p, gh)
    // rows; MEMORY_AND_DISK spills rather than OOMs at cluster scale
    // (the minhashLshPairs pattern).
    val occ = positionedGramOcc(docs, k, family)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    coverAndRewrite(docs, nonFirstOccurrences(occ), k)
  }

  /** (id, __tk) token-array side of the substring family (null text
    * excluded — the [[exact]] rule).
    */
  private def tokenizedDocs(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("__tk"))

  /** Positioned gram-key occurrences (id, p, gh) — row-local array
    * lambdas, no window/lead shuffle; documents shorter than k emit
    * nothing.
    */
  private def positionedGramOcc(docs: DataFrame, k: Int,
      family: HashFamily): DataFrame = {
    // ONE native expression per row (see
    // [[graft.functions.WordNgramHash64]]): the transform(sequence(…),
    // i -> hash(concat_ws(" ", slice(…)))) spelling was interpreted
    // and copied a k-token slice array per position, plus the md5
    // families' hex→conv string parse per gram. Hash values are
    // byte-identical (pinned in OpsSpec), so artifacts built before
    // the swap still match.
    import org.apache.spark.sql.GraftColumnBridge
    val grams = GraftColumnBridge.column(graft.functions.WordNgramHash64(
      GraftColumnBridge.expression(col("__tk")), k, 0, family.tag))
    docs.select(col("id"), posexplode(grams).as(Seq("p", "gh")))
  }

  /** Occurrences that are NOT their gram's global first: min over the
    * (id, p) struct (lexicographic — Catalyst struct ordering). A
    * unique gram's only occurrence IS the min, so df > 1 needs no
    * separate count. Returns (id, p).
    */
  private def nonFirstOccurrences(occ: DataFrame): DataFrame = {
    val firsts = occ.groupBy(col("gh"))
      .agg(min(struct(col("id"), col("p"))).as("__first"))
    occ.join(firsts, "gh")
      .filter(struct(col("id"), col("p")) =!= col("__first"))
      .select(col("id"), col("p"))
  }

  /** Shared rewrite tail: marked (id, p) window starts → one bounded
    * per-doc position list → row-local indexed token filter. Returns
    * (id, kept_text, n_toks, n_removed).
    */
  private def coverAndRewrite(docs: DataFrame, marked: DataFrame,
      k: Int): DataFrame = {
    val markedPerDoc = marked.groupBy(col("id"))
      .agg(collect_list(col("p")).as("__mp"))
    val mp = coalesce(col("__mp"), array().cast("array<int>"))
    val kept = filter(col("__tk"), (_, q) =>
      !exists(mp, p => p.between(q - lit(k - 1), q)))
    docs.join(markedPerDoc, Seq("id"), "left")
      .select(col("id"),
        concat_ws(" ", kept).as("kept_text"),
        size(col("__tk")).cast("long").as("n_toks"),
        (size(col("__tk")) - size(kept)).cast("long").as("n_removed"))
  }

  /** Corpus k-gram-key ARTIFACT for [[substringDedupIncremental]]:
    * the distinct gram keys of the already-ingested corpus, with the
    * build parameters travelling as constant columns (free under
    * parquet RLE — the [[minhashArtifact]] convention) so a match run
    * can verify compatibility instead of silently matching nothing.
    * One row per distinct gram key: (gh, k, hash_family).
    */
  def substringArtifact(corpus: DataFrame, idCol: String, textCol: String,
      k: Int, family: HashFamily = XxHash64Family): DataFrame = {
    require(k >= 2 && k <= 64, "substring window k out of range")
    positionedGramOcc(tokenizedDocs(corpus, idCol, textCol), k, family)
      .select(col("gh")).distinct()
      .withColumn("k", lit(k))
      .withColumn("hash_family", lit(family.tag))
  }

  /** Incremental [[substringDedup]] — the continuous-crawl shape: a
    * new shard is cleaned (a) against the whole ingested corpus via
    * its [[substringArtifact]] WITHOUT rescanning corpus text, and
    * (b) within itself with the keep-first rule. A shard window is
    * removed when its gram key is in the artifact (the corpus already
    * carries that content — the corpus always wins) or when an earlier
    * shard occurrence exists. Equivalent to batch [[substringDedup]]
    * over corpus-then-shard whenever every corpus id orders before
    * every shard id (spec-pinned).
    *
    * Scale shape: the artifact join is a semi-join on 8-byte gram keys
    * (shard-side occurrences × distinct corpus grams — never corpus
    * text); everything else is the batch op's bounded pipeline.
    *
    * @note pass a MATERIALIZED artifact (loaded from storage /
    *       persisted): the parameter check is an eager distinct-collect
    *       over the artifact's constant columns, so an unmaterialized
    *       artifact plan would execute twice — the
    *       [[incrementalNearDupMatches]] contract.
    */
  def substringDedupIncremental(shard: DataFrame, idCol: String, textCol: String,
      artifact: DataFrame, k: Int,
      family: HashFamily = XxHash64Family): DataFrame = {
    require(k >= 2 && k <= 64, "substring window k out of range")
    // distinct() rather than head(1): an artifact accidentally built as
    // a UNION of mixed-(k, family) builds would pass a first-row check
    // and then silently never collide on the other build's rows — the
    // constant-column convention the artifact pays for exists exactly
    // so this aggregate stays one row. Still an eager action: pass a
    // MATERIALIZED artifact (the class contract above).
    //
    // ZERO rows is a legitimate state, not a union bug: substringArtifact
    // over an empty corpus — or one whose docs are all shorter than the
    // k-token window — emits nothing, and the right semantics are
    // "corpus matches nothing" (the semi-join below already yields that);
    // only within-shard keep-first dedup applies.
    val params = artifact.select(col("k"), col("hash_family")).distinct().collect()
    require(params.length <= 1,
      s"substring artifact carries ${params.length} distinct (k, hash_family) " +
        "parameter rows — it was built as a union of incompatible builds; " +
        "grams from different parameterizations never collide")
    params.foreach { r =>
      require(r.getInt(0) == k && r.getString(1) == family.tag,
        s"substring artifact was built with (k=${r.getInt(0)}, " +
          s"family=${r.getString(1)}) but match was called with " +
          s"(k=$k, family=${family.tag}) — different hash families never collide")
    }
    val docs = tokenizedDocs(shard, idCol, textCol)
    // THREE consumers (the artifact semi-join and both sides of the
    // within-shard first-occurrence pass) — persist the narrow
    // occurrence rows, as in [[substringDedup]].
    val occ = positionedGramOcc(docs, k, family)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpusHit = occ.join(artifact.select(col("gh")), Seq("gh"), "left_semi")
      .select(col("id"), col("p"))
    val marked = corpusHit.unionByName(nonFirstOccurrences(occ)).distinct()
    coverAndRewrite(docs, marked, k)
  }

  /** 64-bit SimHash over the token multiset, appended as column `out`.
    * Bit j of the result is set iff the sum over tokens of ±1 (sign from
    * bit j of the token's xxhash64) is positive. Pure column algebra
    * (higher-order functions + bit ops) — distributed, no UDF.
    */
  def withSimhash(df: DataFrame, textCol: String, out: String = "simhash",
      family: HashFamily = XxHash64Family): DataFrame = {
    // ONE native codegen'd expression (tokenize + hash + ±1 sums + bit
    // pack in a local long[64]): the HOF spelling below never enters
    // whole-stage codegen and allocates two 64-element arrays plus a
    // hash struct per token occurrence — measured as the whole cost of
    // the dedup_simhash bench row (sf0.1: 3.9 s → see
    // OPTIMIZATION_r11.md). Bit-identical by OpsSpec's cross-form
    // equality property; the HOF twin stays as the executable spec.
    import org.apache.spark.sql.GraftColumnBridge
    df.withColumn(out, GraftColumnBridge.column(
      graft.functions.SimhashText(
        GraftColumnBridge.expression(col(textCol)), family.tag)))
  }

  /** The higher-order-function spelling of [[withSimhash]] — retained
    * as the executable specification the native expression is pinned
    * against (OpsSpec equality property); not a production path.
    */
  private[graft] def withSimhashHof(df: DataFrame, textCol: String,
      out: String = "simhash",
      family: HashFamily = XxHash64Family): DataFrame = {
    val t = s"__simhash_toks"
    // Each token is hashed ONCE (inner transform to a hash struct);
    // the per-bit lambda only reads struct fields — hashing inside it
    // would cost 64 hashes per token occurrence.
    df.withColumn(t, tokens(col(textCol)))
      .withColumn(out, expr(
        s"""aggregate(
           |  zip_with(
           |    aggregate(
           |      transform($t, tok -> ${family.tokenHashesSql("tok")}),
           |      array_repeat(0L, 64),
           |      (acc, th) -> zip_with(acc,
           |        transform(sequence(0, 63),
           |          j -> ${family.bitSignSql("th", "j")}),
           |        (a, b) -> a + b)),
           |    sequence(0, 63),
           |    (v, j) -> IF(v > 0, shiftleft(1L, j), 0L)),
           |  0L, (a, b) -> a | b)""".stripMargin))
      .drop(t)
  }

  /** Banded MinHash signature ARTIFACT for a corpus — compute once at
    * ingest, store, and dedupe every future shard against it without
    * ever rescanning corpus text ([[incrementalNearDupMatches]]).
    * One row per (doc, band): (id, sig, band_id, band_hash, n,
    * num_hashes, bands) — the build parameters travel WITH the
    * artifact (constant columns, free under parquet RLE) so a match
    * run can verify it was built compatibly instead of silently
    * matching nothing.
    *
    * Buckets larger than `maxBucket` are dropped at BUILD time (with
    * the same observable metric as [[minhashLshPairs]]): a degenerate
    * band hash would otherwise fan every future shard join out by the
    * mega-bucket's size.
    */
  def minhashArtifact(corpus: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 32, bands: Int = 8,
      maxBucket: Int = 4096, family: HashFamily = XxHash64Family): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val sig = minhashSignaturesLocal(corpus, idCol, textCol, n, numHashes, family)
    val banded = sig.select(col("id"), col("sig"),
      bandHashes(col("sig"), bands, rows, family))
    capBuckets(banded, maxBucket, "dedup_artifact_buckets")
      .withColumn("n", lit(n))
      .withColumn("num_hashes", lit(numHashes))
      .withColumn("bands", lit(bands))
      .withColumn("hash_family", lit(family.tag))
  }

  /** The LSH banding every MinHash path shares: one (band_id,
    * band_hash) row per band, band b hashing signature components
    * [b·rows, (b+1)·rows). An artifact and a shard match must band
    * identically, or the match silently finds nothing.
    */
  private def bandHashes(sig: Column, bands: Int, rows: Int,
      family: HashFamily): Column =
    posexplode(transform(sequence(lit(0), lit(bands - 1)),
      b => family.hashLongArray(b, slice(sig, b * lit(rows) + lit(1), lit(rows)))))
      .as(Seq("band_id", "band_hash"))

  /** `banded` without the (band_id, band_hash) buckets of more than
    * `maxBucket` rows; the dropped count and the largest bucket are
    * observed under `obsPrefix`.
    */
  private def capBuckets(banded: DataFrame, maxBucket: Int,
      obsPrefix: String): DataFrame = {
    val sizes = banded.groupBy(col("band_id"), col("band_hash"))
      .agg(count(lit(1)).as("__bsz"))
      .observe(s"${obsPrefix}_${ObsId.next()}",
        sum(when(col("__bsz") > maxBucket, 1L).otherwise(0L)).as("dropped_buckets"),
        max(col("__bsz")).as("max_bucket"))
    banded.join(sizes.filter(col("__bsz") <= maxBucket),
      Seq("band_id", "band_hash"), "left_semi")
  }

  /** Incremental NEAR-dup: match a new shard against a corpus
    * [[minhashArtifact]] with the same n/numHashes/bands — enforced
    * against the parameters stored in the artifact (one-row lookup; a
    * mismatch would otherwise compare different hash families and
    * silently admit every near-duplicate).
    *
    * Candidates come only from shared band buckets (shard × corpus,
    * never corpus × corpus), and are scored by MINHASH AGREEMENT — the
    * fraction of equal signature components, an unbiased estimator of
    * Jaccard with std ≈ √(J(1−J)/numHashes) — so corpus TEXT is never
    * needed, only the artifact. The per-pair array comparison is
    * interpreted (not codegen); it runs on collision-bounded candidate
    * pairs only, never on the corpus.
    *
    * Shard-side band buckets beyond `maxShardBucket` are dropped (with
    * an observable metric), mirroring the artifact's build-time cap:
    * a boilerplate-heavy shard would otherwise fan the join out by
    * shardBucket × corpusBucket. Exact duplicates inside a dropped
    * bucket are still caught by [[incremental]] upstream.
    *
    * Returns (shard_id, corpus_id, est_jaccard ≥ threshold); drop the
    * matched shard docs with an anti-join on shard_id (the corpus
    * always wins — it is already ingested).
    */
  def incrementalNearDupMatches(shard: DataFrame, idCol: String, textCol: String,
      artifact: DataFrame, n: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxShardBucket: Int = 4096,
      family: HashFamily = XxHash64Family): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // NOTE: the parameter check below is an eager action — pass a
    // MATERIALIZED artifact (loaded from storage, persisted, or
    // checkpointed); an
    // unmaterialized artifact plan would execute twice (once here, once
    // in the join below). The steady-state deploy loads the artifact
    // from parquet anyway. Artifacts written before the hash_family
    // column existed could only have been built with xxhash64 — read
    // them as such instead of failing analysis on the missing column.
    val famCol =
      if (artifact.columns.contains("hash_family")) col("hash_family")
      else lit(XxHash64Family.tag)
    // distinct() rather than head(1): a mixed-parameter union artifact
    // must fail loudly, not pass on its first row (see
    // substringDedupIncremental for the full rationale). ZERO parameter
    // rows — an artifact built over an empty corpus, or one with no doc
    // long enough to shingle — is a legitimate "corpus matches nothing"
    // state, not a build error: the band-bucket join below naturally
    // yields no matches against an empty artifact.
    val params = artifact
      .select(col("n"), col("num_hashes"), col("bands"), famCol.as("hash_family"))
      .distinct().collect()
    require(params.length <= 1,
      s"minhash artifact carries ${params.length} distinct (n, numHashes, bands, " +
        "hash_family) parameter rows — it was built as a union of incompatible " +
        "builds; signatures from different parameterizations never collide")
    params.foreach { r =>
      require(r.getInt(0) == n && r.getInt(1) == numHashes && r.getInt(2) == bands &&
          r.getString(3) == family.tag,
        s"artifact was built with (n=${r.getInt(0)}, numHashes=${r.getInt(1)}, " +
          s"bands=${r.getInt(2)}, family=${r.getString(3)}) but match was called " +
          s"with (n=$n, numHashes=$numHashes, bands=$bands, family=${family.tag}) " +
          "— different hash families never collide")
    }
    val rows = numHashes / bands
    val sig = minhashSignaturesLocal(shard, idCol, textCol, n, numHashes, family)
    val banded = sig.select(col("id").as("shard_id"), col("sig").as("__ssig"),
      bandHashes(col("sig"), bands, rows, family))
    val capped = capBuckets(banded, maxShardBucket, "dedup_shard_buckets")
    val agree = aggregate(
      zip_with(col("__ssig"), col("__csig"), (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / numHashes
    capped.join(
        artifact.select(col("id").as("corpus_id"), col("sig").as("__csig"),
          col("band_id"), col("band_hash")),
        Seq("band_id", "band_hash"))
      .select(col("shard_id"), col("corpus_id"), col("__ssig"), col("__csig"))
      .distinct()
      .select(col("shard_id"), col("corpus_id"),
        round(agree, 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Incremental exact dedup: the continuous-crawl shape, where a new
    * shard must be deduped (a) within itself and (b) against the whole
    * existing corpus, WITHOUT re-deduping the corpus.
    *
    * Returns the shard's surviving (idCol, fp) rows: first-wins
    * (min id) within the shard, then anti-joined against the corpus's
    * distinct digests.
    *
    * Scale shape: both shuffles carry 16-byte digests (+ one id on the
    * shard side), never bodies; the corpus side reduces to distinct
    * digests with map-side partial aggregation before the anti-join.
    * The anti-join keys are digests — uniformly distributed by
    * construction, so no skew handling is needed. For a corpus whose
    * digest set is maintained as an artifact (the steady-state deploy),
    * pass that digest table directly and the corpus scan disappears;
    * [[BloomJoin]] can additionally pre-prune the shard when the
    * corpus digest table is too big to shuffle comfortably.
    */
  def incremental(shard: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    // Null text is NOT comparable content: grouping it would collapse
    // every extraction failure in the shard into one "duplicate" group
    // (silently dropping all but one), while the anti-join (null never
    // equals null) would not match corpus nulls anyway. Null-text rows
    // pass through untouched with a null fp.
    val withFp = shard.select(col(idCol), md5(col(textCol)).as("fp"))
    val nullText = withFp.filter(col("fp").isNull)
    val shardKeep = withFp.filter(col("fp").isNotNull)
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as(idCol))
    val corpusFps = corpus.select(md5(col(textCol)).as("fp"))
      .filter(col("fp").isNotNull).distinct()
    shardKeep.join(corpusFps, Seq("fp"), "left_anti")
      .select(col(idCol), col("fp"))
      .unionByName(nullText)
  }
}
