package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftExtensions.{lower_root => lowerRoot}

/** Okapi BM25 relevance scoring of a document corpus against a fixed
  * query-term set — the retrieval/quality-ranking primitive of a
  * training-data pipeline (cf. CCNet/RefinedWeb-style quality buckets
  * and retrieval-based data selection).
  *
  * Built for the 100 TB shape:
  *  - ONE tokenize-explode pass; per-document term frequencies for the
  *    (few, literal) query terms and the document length come out of a
  *    single map-side-combinable aggregation keyed by document — the
  *    per-term tf columns are `count(when(term === t))` pivots, so no
  *    (doc, term) shuffle key and no per-term join;
  *  - corpus statistics (N, avgdl, per-term document frequencies) are
  *    one tiny scalar aggregate, broadcast back via a 1-row cross
  *    join — never a shuffle;
  *  - score arithmetic is fixed-order column algebra (term order =
  *    input order), so results are bit-deterministic and reproducible
  *    against a sequential-engine oracle.
  *
  * Integer sums (lengths, counts) stay exact in doubles below 2^53, so
  * `avgdl` is partition-order-independent; only the final score mixes
  * non-associative double math, in a fixed expression tree.
  */
object TextRank {

  /** Per-document BM25 score for `queryTerms`; documents matching no
    * term are dropped. Tokenization: lowercase, split on runs of
    * non-alphanumerics, empty tokens discarded.
    *
    * @param k1 term-frequency saturation (Robertson's default 1.2)
    * @param b  length normalization strength (default 0.75)
    */
  def bm25(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    require(queryTerms.distinct == queryTerms, "duplicate query terms")
    // tokens come from split on [^a-z0-9]+, so a query term containing
    // ANY character outside that alphabet (uppercase, "covid-19",
    // "don't") can never equal a token and would silently empty the
    // result — reject the whole alphabet violation, not just case
    require(queryTerms.forall(_.matches("[a-z0-9]+")),
      s"query terms must be non-empty [a-z0-9]+ (the tokenizer's " +
        s"alphabet), got: ${queryTerms.mkString(", ")}")
    val safe = queryTerms.map(t => t -> s"__tf_${t.replaceAll("[^a-z0-9]", "_")}")
    require(safe.map(_._2).distinct.size == safe.size,
      s"query terms collide after name sanitization: ${queryTerms.mkString(", ")}")

    val toks = docs.select(col(idCol),
        explode(split(lowerRoot(col(textCol)), "[^a-z0-9]+")).as("__term"))
      .filter(col("__term") =!= "")

    val docTf = toks.groupBy(col(idCol)).agg(
      count(lit(1)).as("__dl"),
      safe.map { case (t, c) => count(when(col("__term") === t, 1)).as(c) }: _*)

    val stats = docTf.agg(
      count(lit(1)).as("__n"),
      (avg(col("__dl")).as("__avgdl") +:
        safe.map { case (t, c) =>
          count(when(col(c) > 0, 1)).as(s"__df_${c.stripPrefix("__tf_")}")
        }): _*)

    def contrib(tf: Column, df: Column): Column = {
      val idf = log((col("__n") - df + 0.5) / (df + 0.5) + 1)
      val norm = tf + (lit(k1) * (lit(1 - b) + lit(b) * col("__dl") / col("__avgdl")))
      when(tf > 0, idf * (tf * lit(k1 + 1)) / norm).otherwise(lit(0.0))
    }
    val score = safe.map { case (_, c) =>
      contrib(col(c), col(s"__df_${c.stripPrefix("__tf_")}"))
    }.reduce(_ + _)

    docTf.crossJoin(broadcast(stats))
      .filter(safe.map { case (_, c) => col(c) > 0 }.reduce(_ || _))
      .select(col(idCol), score.as("bm25"))
  }

  /** Overlapping fixed-size chunking — the ingestion primitive for
    * retrieval indexes and context-window-bounded training examples.
    * Chunk starts advance by `size - overlap`; the final chunk may be
    * shorter (it never pads), and empty documents produce no chunks.
    * Pure row-local column algebra (sequence + explode + substring):
    * no shuffle, scales with input splits.
    *
    * Starts within the last `overlap` characters are not emitted: a
    * chunk starting there covers <= `overlap` characters, all already
    * inside the previous chunk — a strict suffix-subset that would
    * duplicate content in the retrieval index (~1 in size/step
    * document lengths hit this). The single-chunk case (len <=
    * overlap, only start 0) is kept.
    */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
      size: Int, overlap: Int): DataFrame = {
    require(size > 0, "size must be positive")
    require(overlap >= 0 && overlap < size, "overlap must be in [0, size)")
    val step = size - overlap
    docs
      .filter(length(col(textCol)) > 0)
      .select(col(idCol), col(textCol),
        explode(sequence(lit(0),
          greatest(length(col(textCol)) - 1 - overlap, lit(0)),
          lit(step))).as("__start"))
      .select(col(idCol),
        (col("__start") / step).cast("long").as("chunk_idx"),
        col(textCol).substr(col("__start") + 1, lit(size)).as("chunk"))
  }

  /** Unigram language-model quality score (the CCNet-style move:
    * rank documents by how probable a reference LM finds them; here
    * the LM is the corpus's own unigram distribution). Score = mean
    * per-token natural-log probability — higher (less negative) =
    * more typical text; template junk and OOV-heavy noise sink.
    *
    * The vocabulary (term → count) is a corpus-level aggregate small
    * enough to broadcast for typical corpora; when it isn't, pass
    * `maxVocab`: the broadcast keeps only the top-`maxVocab` terms by
    * count (ties to the lexicographically least term) and every other
    * token scores with an OOV count floor of 1 — the cap degrades
    * scores for the rare tail instead of failing at the broadcast.
    * The scoring join is a BroadcastHashJoin — tokens never shuffle,
    * each document's log-sum accumulates map-side in token order,
    * deterministically. Default is uncapped (exact).
    */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String,
      maxVocab: Int = Int.MaxValue): DataFrame = {
    // The token stream feeds three DIFFERENTLY-KEYED consumers (vocab
    // by term, total scalar, scoring join by id) — exchange reuse does
    // not cover them, so without the persist the scan+split+explode
    // pipeline runs three times per action (the trigramCounts
    // pattern; cache reclaimed by the context cleaner with the plan).
    val toks = docs.select(col(idCol),
        explode(split(lowerRoot(col(textCol)), "[^a-z0-9]+")).as("__term"))
      .filter(col("__term") =!= "")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocabAll = toks.groupBy(col("__term")).agg(count(lit(1)).as("__cnt"))
    // top-K via sort+limit: TakeOrderedAndProject — per-partition heaps
    // merged driver-side, K rows only (K <= broadcast size by intent).
    val vocab =
      if (maxVocab == Int.MaxValue) vocabAll
      else vocabAll.orderBy(col("__cnt").desc, col("__term")).limit(maxVocab)
    val total = toks.agg(count(lit(1)).as("__total"))
    toks
      .join(broadcast(vocab), Seq("__term"), "left")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg((sum(log(coalesce(col("__cnt"), lit(1L)) / col("__total")))
        / count(lit(1))).as("mean_logprob"))
  }

  /** Bigram language-model quality score with add-one smoothing — one
    * Markov order up from [[unigramLogProb]] (the CCNet recipe uses a
    * 5-gram KenLM; the plumbing is identical, the order is a knob).
    * Score = mean over a document's adjacent token pairs of
    * `ln((c(w1 w2) + 1) / (c(w1) + V))` under the corpus's own counts.
    * Template junk repeats the same few transitions (high score but
    * caught by the repetition signals); incoherent token soup hits
    * unseen transitions and sinks.
    *
    * Scale shape: the BIGRAM count table is data-derived and can be
    * vocab²-sized — it is NEVER broadcast; scoring joins it by the
    * bigram key, and that shuffle carries PRE-AGGREGATED
    * (doc, bigram, n) rows, not raw occurrences: a document repeating
    * "of the" 500 times contributes one row of weight 500, so hot
    * stopword transitions are bounded by distinct-docs-per-bigram.
    * NOTE the residual join skew (every doc contains "of the" once) is
    * NOT covered by AQE's reactive skew split: `OptimizeSkewedJoin`
    * only rewrites `SMJ(Sort(shuffle), Sort(shuffle))`, and here the
    * count side's final HashAggregate sits between its Sort and its
    * shuffle stage — splitting the fat probe partition would have to
    * re-run that aggregate per slice, so the rule never matches
    * (executable proof in `VolumeStressSpec`). At corpus scale pass
    * `hotKeys > 0`; it is the real mitigation, not a belt-and-braces
    * alternative. The per-doc score is the n-weighted mean, identical
    * to the per-occurrence mean. The unigram vocabulary stays a broadcast;
    * `maxVocab` caps it top-K by count, and a capped-out w1's missing
    * denominator count floors at max(1, c(w1 w2)) so the smoothed
    * ratio stays < 1 — capped-tail transitions DEGRADE, they can never
    * score as more-probable-than-certain; default uncapped. Adjacency
    * is posexplode + window lead, not interpreted array lambdas.
    *
    * `hotKeys > 0` routes the (doc, bigram) ⋈ (bigram, count) join
    * through [[SkewJoin.hotKeyJoin]]: the `hotKeys` most frequent
    * bigrams (the stopword transitions — natural hot keys at corpus
    * scale) join via a broadcast of their count rows while the long
    * tail takes the ordinary shuffle, so no partition holds "of the".
    * This is the ONLY skew mitigation available here (see the note
    * above — AQE cannot split this join); it costs one extra
    * evaluation of the doc-bigram aggregate (the recon pass) and one
    * of the occurrence pipeline, so it pays off only when the hot
    * keys genuinely straggle. Default 0 = plain join.
    */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String,
      maxVocab: Int = Int.MaxValue, hotKeys: Int = 0): DataFrame = {
    // Tokens and bigrams are born ROW-LOCAL (native tokenize + n-gram
    // in the scan task): the posexplode + window-lead spelling paid a
    // doc-keyed exchange + sort of EVERY corpus token to build bigram
    // adjacency. The token-array frame is persisted for the three
    // differently-keyed consumers (per-doc bigrams, corpus bigrams,
    // unigram counts; cache reclaimed by the context cleaner). Alnum
    // tokens can't contain spaces, so the "w1 w2" gram string IS the
    // (w1, w2) key — joins key on it directly and __w1 re-derives for
    // the unigram lookup.
    //
    // TWO rewrites of this three-aggregate shape were MEASURED SLOWER
    // this round and rejected (OPTIMIZATION_r12.md, guide §1):
    //  (a) folding unigrams into one doc-keyed gram aggregate —
    //      per-(doc, term) rows defeat the map-side collapse the
    //      term-keyed unigram aggregate gets (text_bigram_lm
    //      1.05 → 1.92 s sf0.1);
    //  (b) deriving the corpus bigram table as docBi.groupBy(sum) —
    //      the oracle's own algebra, but it stacks a second full-volume
    //      (doc, gram)-keyed exchange under the count table's broadcast
    //      and the expected runtime exchange reuse did not pay for it
    //      (1.62 → 4.43 s at sf1). The occurrence-keyed aggregates
    //      below each collapse map-side straight off the cached arrays;
    //      three cheap passes beat two expensive ones.
    val tkc = array_remove(
      split(lowerRoot(col(textCol)), "[^a-z0-9]+"), "")
    val base = docs.select(col(idCol), tkc.as("__tk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val occ = base.select(col(idCol),
      explode(graft.functions.GraftExtensions.word_ngrams(col("__tk"), 2)).as("__g"))
    val docBi = occ.groupBy(col(idCol), col("__g")).agg(count(lit(1)).as("__n"))
    val uniAll = base.select(explode(col("__tk")).as("__term"))
      .groupBy(col("__term")).agg(count(lit(1)).as("__c1"))
    val uni =
      if (maxVocab == Int.MaxValue) uniAll
      else uniAll.orderBy(col("__c1").desc, col("__term")).limit(maxVocab)
    val vocabSize = uni.agg(count(lit(1)).as("__v"))
    // Corpus-wide bigram counts straight off the occurrence stream
    // (map-side combined).
    val bi = occ.groupBy(col("__g")).agg(count(lit(1)).as("__c2"))
    val scored =
      if (hotKeys > 0) SkewJoin.hotKeyJoin(docBi, bi, Seq("__g"), hotKeys)
      else docBi.join(bi, Seq("__g"))
    scored
      .withColumn("__w1", substring_index(col("__g"), " ", 1))
      .join(broadcast(uni.withColumnRenamed("__term", "__w1")), Seq("__w1"), "left")
      .crossJoin(broadcast(vocabSize))
      .groupBy(col(idCol))
      // __c1 is null only when w1 was capped out of the broadcast; the
      // true c(w1) >= c(w1 w2), so floor the denominator at __c2 — a
      // bare floor of 1 makes (c2+1)/(1+V) exceed 1 whenever a
      // capped-out word's bigram count tops the vocabulary size
      // (plausible at corpus scale), i.e. a positive "log-probability".
      .agg((sum(col("__n") * log((col("__c2") + 1).cast("double")
          / (greatest(coalesce(col("__c1"), lit(1L)), col("__c2")) + col("__v"))))
        / sum(col("__n"))).as("mean_logprob"),
        sum(col("__n")).as("n_bigrams"))
  }

  /** Gopher-style within-document repetition signals, the standard
    * pretraining quality filters for template/boilerplate-generated
    * text:
    *
    *  - `top_bigram_frac`: characters covered by the most frequent
    *    word 2-gram (`count * len(bigram) / len(text)`); winner ties
    *    break to the lexicographically greatest bigram — expressed as
    *    a `row_number` ordering (not `max_by`) so a sequential oracle
    *    engine reproduces the same winner;
    *  - `dup_token_frac`: fraction of tokens whose token occurs more
    *    than once in the document.
    *
    * All shuffles key by document (bigram counting, token histogram) —
    * per-doc work is bounded by document length, embarrassingly
    * parallel across 100 TB of documents. TRUE whitespace tokenization
    * (any `\s+` run splits, empty tokens dropped): a literal-space
    * split would treat "cat\nthe" as one token and count empty tokens
    * between double spaces, corrupting both signals on any multi-line
    * document. Docs with >= 1 token but < 2 tokens have no bigram and
    * report `top_bigram_frac` 0.0 (they are NOT dropped); docs with no
    * tokens at all produce no row.
    */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // ONE row-local native pass (see
    // [[graft.functions.RepetitionSignals]]): per-document signals
    // need no doc-keyed token exchange, no window lead, no count
    // aggregates and no row_number winner pass — values (incl. the
    // ties-to-greatest-bigram winner and the no-token absent-row rule)
    // are pinned against the dataframe spelling in OpsSpec.
    docs.select(col(idCol),
        graft.functions.GraftExtensions.repetition_signals(col(textCol)).as("__rs"))
      .filter(col("__rs").isNotNull)
      .select(col(idCol),
        col("__rs.top_bigram_frac").as("top_bigram_frac"),
        col("__rs.dup_token_frac").as("dup_token_frac"))

  /** The dataframe spelling of [[repetitionSignals]] — retained as the
    * executable specification the native expression is pinned against
    * (OpsSpec equality property); not a production path.
    */
  private[graft] def repetitionSignalsDf(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = docs.select(col(idCol), length(col(textCol)).as("__chars"),
        posexplode(split(col(textCol), "\\s+")).as(Seq("__pos", "__tok")))
      .filter(col("__tok") =!= "")

    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val bigrams = toks
      .withColumn("__next", lead(col("__tok"), 1).over(byDoc))
      .filter(col("__next").isNotNull)
      .select(col(idCol), col("__chars"),
        concat(col("__tok"), lit(" "), col("__next")).as("__bigram"))
    val counts = bigrams.groupBy(col(idCol), col("__chars"), col("__bigram"))
      .agg(count(lit(1)).as("__cnt"))
    val winner = counts
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(col("__cnt").desc, col("__bigram").desc)))
      .filter(col("__rn") === 1)
      .select(col(idCol),
        (col("__cnt") * length(col("__bigram")).cast("double") / col("__chars"))
          .as("top_bigram_frac"))

    val dup = toks.groupBy(col(idCol), col("__tok")).agg(count(lit(1)).as("__cnt"))
      .groupBy(col(idCol))
      .agg((sum(when(col("__cnt") > 1, col("__cnt")).otherwise(0)).cast("double") /
        sum(col("__cnt"))).as("dup_token_frac"))

    // LEFT from dup: a single-token doc has a duplicate fraction but
    // no bigram — an inner join would silently drop it.
    dup.join(winner, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"),
        col("dup_token_frac"))
  }

  /** Stupid-backoff trigram LM score (Brants et al. 2007, "Large
    * Language Models in Machine Translation"): the web-scale smoothing
    * that replaces Kneser–Ney's normalized discounts with a fixed
    * backoff factor, chosen because it needs only raw count tables —
    * exactly the aggregate shapes a distributed engine produces
    * cheaply. Score per trigram position:
    *
    *   S(w3|w1 w2) = c(w1 w2 w3) / c(w1 w2)            if seen,
    *               = α · c(w2 w3) / c(w2)              else if seen,
    *               = α² · c(w3) / N                    else
    *                 (OOV count floor 1, as [[unigramLogProb]]),
    *
    * and the document score is the occurrence-weighted mean ln S.
    * Counts are fit on `fit` and scored on `docs` — SEPARATE inputs,
    * because a corpus scored by its own counts never backs off (every
    * trigram is its own evidence); the standard use is scoring fresh
    * data against a reference corpus (the CCNet recipe).
    *
    * Scale shape, mirroring [[bigramLogProb]]: the score side
    * collapses to (doc, trigram, n) before anything shuffles; the
    * trigram/bigram count tables are data-derived and join by their
    * gram keys (never broadcast); the two unigram lookups and N ride
    * one broadcast each — `maxVocab` caps BOTH top-K by count (the
    * [[bigramLogProb]] denominator-floor contract: a capped-out w2
    * denominator floors at max(1, c(w2 w3)), keeping every backoff
    * ratio <= 1) for fit vocabularies too large to broadcast; default
    * uncapped. Docs with
    * fewer than 3 tokens produce no trigram and are absent from the
    * output.
    *
    * The aggregate-fed join skew note on [[bigramLogProb]] applies to
    * all THREE count joins (trigram, context bigram, backoff bigram) —
    * AQE cannot split any of them. `hotKeys > 0` routes each through
    * [[SkewJoin.splitJoin]]: the doc-trigram frame is persisted once,
    * ONE recon aggregate per key projection finds the hot tuples
    * (stopword runs like "of the x"), and each join broadcasts its hot
    * slice while the tail shuffles — no chained re-evaluation, no
    * partition holds a dominant gram. The cache is reclaimed by the
    * context cleaner with the plan, as in `Binning`.
    */
  def trigramStupidBackoff(fit: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, alpha: Double = 0.4, hotKeys: Int = 0,
      maxVocab: Int = Int.MaxValue): DataFrame =
    scoreTrigrams(trigramCounts(fit, idCol, textCol), docs, idCol, textCol,
      alpha, hotKeys, maxVocab)

  /** The count tables behind [[trigramStupidBackoff]] — the reference
    * LM as data. Fit once on the reference corpus, persist as tables,
    * and score fresh data via [[scoreTrigrams]] without refitting.
    */
  final case class TrigramCounts(tri: DataFrame, big: DataFrame,
      uni: DataFrame, total: DataFrame)

  /** The alnum token array of a text column, row-local (the
    * `[^a-z0-9]+` split rule; array_remove drops the empty fragments
    * the split leaves at separators — codegen'd, no filter lambda).
    */
  private def alnumTokens(textCol: String): Column =
    array_remove(split(lowerRoot(col(textCol)), "[^a-z0-9]+"), "")

  /** Split a "w1 w2 …" gram string back into its token columns —
    * exact, because alnum tokens cannot contain the space joiner.
    */
  private def gramPart(g: Column, i: Int): Column =
    split(g, " ").getItem(i)

  /** Fit [[TrigramCounts]] on a corpus: tokens and grams are born
    * ROW-LOCAL (native tokenize + n-gram in the scan task — the
    * posexplode + window-lead pass shuffled every fit-corpus token
    * doc-keyed before a single gram existed). Adjacency is PER
    * DOCUMENT by construction (grams never span the row's token
    * array). Gram keys travel as the "w1 w2 w3" text (byte-identical
    * to the concat the window form produced) and split back into the
    * count tables' token columns AFTER each aggregate — one split per
    * DISTINCT gram, not per occurrence.
    */
  def trigramCounts(fit: DataFrame, idCol: String, textCol: String): TrigramCounts = {
    // ONE gram stream, ONE aggregate: each row's tri-, bi-, and
    // uni-gram multisets travel as a single exploded column, and the
    // gram TEXT recovers the order exactly (alnum tokens cannot
    // contain the space joiner — a trigram carries two spaces, a
    // bigram one, a unigram none). This replaces three differently-
    // keyed aggregates over three re-reads of a persisted token-array
    // frame with one gram-keyed aggregate, and what is persisted for
    // the four consumers is the DISTINCT-gram count table — orders of
    // magnitude smaller than every document's token array. The corpus
    // token total is the unigram-count sum, so the fourth pass over
    // the cache disappears too. Per-gram multiplicities are integers
    // and identical by construction, so all four tables are byte-
    // identical to the separate-aggregate spelling. Fitting a
    // reference corpus whose distinct grams won't even spill?
    // Materialize the count tables to parquet once and reload — the
    // artifact pattern (cf. minhashArtifact), which is the CCNet
    // deployment shape anyway.
    import graft.functions.GraftExtensions.word_ngrams
    val grams = fit.select(alnumTokens(textCol).as("__tk"))
      .select(explode(concat(word_ngrams(col("__tk"), 3),
        word_ngrams(col("__tk"), 2), col("__tk"))).as("__g"))
      .groupBy(col("__g")).agg(count(lit(1)).as("__c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // gram order = token count of the gram text (exact: see above)
    val order = size(split(col("__g"), " "))
    val tri = grams.filter(order === 3)
      .select(gramPart(col("__g"), 0).as("__w1"), gramPart(col("__g"), 1).as("__w2"),
        gramPart(col("__g"), 2).as("__w3"), col("__c").as("__c3"))
    val big = grams.filter(order === 2)
      .select(gramPart(col("__g"), 0).as("__w1"), gramPart(col("__g"), 1).as("__w2"),
        col("__c").as("__c12"))
    val uni = grams.filter(order === 1)
      .select(col("__g").as("__w"), col("__c").as("__cu"))
    // Σ unigram counts = corpus token total; an empty corpus is 0
    // (the count() convention), not null.
    val total = uni.agg(
      coalesce(sum(col("__cu")), lit(0L)).cast("long").as("__n"))
    TrigramCounts(tri, big, uni, total)
  }

  /** Score a batch corpus against fitted [[TrigramCounts]] — the
    * execution half of [[trigramStupidBackoff]] (see there for the
    * scoring algebra and the skew notes).
    */
  def scoreTrigrams(counts: TrigramCounts, docs: DataFrame, idCol: String,
      textCol: String, alpha: Double = 0.4, hotKeys: Int = 0,
      maxVocab: Int = Int.MaxValue): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    // Row-local grams (see [[trigramCounts]]); the (doc, gram) count
    // collapses occurrences before any join, then splits the gram text
    // back into the join's token keys — per DISTINCT (doc, gram), not
    // per occurrence.
    val docTriRaw = docs.select(col(idCol),
        explode(graft.functions.GraftExtensions.word_ngrams(
          alnumTokens(textCol), 3)).as("__g"))
      .groupBy(col(idCol), col("__g")).agg(count(lit(1)).as("__n3"))
      .select(col(idCol), gramPart(col("__g"), 0).as("__w1"),
        gramPart(col("__g"), 1).as("__w2"), gramPart(col("__g"), 2).as("__w3"),
        col("__n3"))
    val docTri =
      if (hotKeys > 0)
        docTriRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else docTriRaw
    // one recon per key projection, all off the same cached frame;
    // splitJoin is result-identical for any hot list, so projecting
    // hot TUPLES per join (not one shared list) costs nothing extra
    // beyond the three cheap aggregates.
    def cj(l: DataFrame, r: DataFrame, ks: Seq[String]): DataFrame =
      if (hotKeys > 0)
        SkewJoin.splitJoin(l, r, ks, SkewJoin.reconHotKeys(docTri, ks, hotKeys), "left")
      else l.join(r, ks, "left")

    backoffScored(docTri, counts, alpha, cj, maxVocab)
      .groupBy(col(idCol))
      .agg((sum(col("__n3") * col("__s")) / sum(col("__n3"))).as("mean_logprob"),
        sum(col("__n3")).as("n_trigrams"))
  }

  /** The backoff chain of [[scoreTrigrams]]: count joins (through
    * `countJoin`, plain or hot-key routed) + the `__s` score column
    * over a (…, __w1, __w2, __w3) gram frame.
    */
  private def backoffScored(grams: DataFrame, counts: TrigramCounts,
      alpha: Double,
      countJoin: (DataFrame, DataFrame, Seq[String]) => DataFrame,
      maxVocab: Int = Int.MaxValue): DataFrame = {
    val TrigramCounts(tri, big, uni0, total) = counts
    // The unigram table rides TWO broadcasts (w2 denominator, w3
    // numerator); a web-scale fit vocabulary would OOM them. maxVocab
    // keeps the top-K terms by count (ties to the lexicographically
    // least — TakeOrderedAndProject, K rows driver-side). Capped-out
    // terms degrade: the w3 NUMERATOR floors at 1 (the unigramLogProb
    // contract — scores sink), the w2 DENOMINATOR floors at
    // max(1, c23) so no backoff ratio can exceed 1. The rare tail's
    // scores soften, the broadcast stays bounded.
    val uni =
      if (maxVocab == Int.MaxValue) uni0
      else uni0.orderBy(col("__cu").desc, col("__w")).limit(maxVocab)
    val lnA = math.log(alpha)
    countJoin(countJoin(countJoin(grams,
        tri, Seq("__w1", "__w2", "__w3")),
        big, Seq("__w1", "__w2")),
        big.select(col("__w1").as("__w2"), col("__w2").as("__w3"),
          col("__c12").as("__c23")), Seq("__w2", "__w3"))
      .join(broadcast(uni.select(col("__w").as("__w2"), col("__cu").as("__c2"))),
        Seq("__w2"), "left")
      .join(broadcast(uni.select(col("__w").as("__w3"), col("__cu").as("__c3u"))),
        Seq("__w3"), "left")
      .crossJoin(broadcast(total))
      // __c2 can only be null when w2 was capped out of the broadcast
      // (a seen bigram implies a seen unigram). The floor must keep
      // the ratio <= 1: in consistent count tables c(w2 w3) <= c(w2),
      // so the unknown denominator is AT LEAST the numerator —
      // greatest(floor, c23) caps the branch at ln(1) + ln(alpha). A
      // bare floor of 1 would put the floor in the DENOMINATOR and
      // score capped-out transitions with log(c23) > 0, ranking junk
      // full of capped-tail transitions as impossibly probable text.
      .withColumn("__s",
        when(col("__c3").isNotNull,
          log(col("__c3").cast("double") / col("__c12")))
        .when(col("__c23").isNotNull,
          log(col("__c23").cast("double") /
              greatest(coalesce(col("__c2"), lit(1L)), col("__c23")))
            + lit(lnA))
        .otherwise(
          log(coalesce(col("__c3u"), lit(1L)).cast("double") / col("__n"))
            + lit(2 * lnA)))
  }
}
