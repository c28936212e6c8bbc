package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Volume-scale behavior of this round's new operators — each test is
  * a miniature of the failure mode that matters at 100 TB, run at a
  * size where it is already observable on local[*].
  */
class VolumeStressSpec extends SparkSpec {
  import spark.implicits._

  test("bloom pruning at 1M facts cuts the joined row count by ~selectivity") {
    // 1M facts, dim keeps 1% of the key space: >95% of fact rows must
    // die in the scan-local prune, never reaching the join shuffle.
    val fact = spark.range(0, 1000000).select(col("id").as("k"))
    val dim = spark.range(0, 1000000, 100).select(col("id").as("dk")) // 10k keys
    val pruned = BloomJoin.pruneLarge(fact, "k", dim, "dk", expectedItems = 10000)
    val n = pruned.count()
    assert(n >= 10000L, "all true matches must survive")
    assert(n <= 30000L, s"prune must remove ~99% of facts, kept $n")
  }

  test("semanticDedup caps a degenerate mega-cluster instead of exploding") {
    // 50k identical-direction vectors in ONE cluster: quadratic pair
    // expansion would be 1.25 billion pairs. The cap must skip the
    // cluster (keeping all rows) and finish fast.
    val rows = spark.range(0, 50000)
      .select(col("id"), array(lit(1f), lit(1f), lit(0.5f)).as("vec"))
    val out = Similarity.semanticDedup(rows, "id", "vec",
      Similarity.signBitSketch(col("vec"), 2), threshold = 0.9,
      maxCluster = 1000)
    assert(out.count() == 50000L, "oversized cluster must pass through unjudged")
  }

  test("vocab build at 1M synthetic tokens stays a count-then-cut plan") {
    // 100k docs × 10 tokens: one guaranteed-dominant token plus ~97
    // uniform tail tokens; top-50 vocab must rank exactly.
    val docs = spark.range(0, 100000).select(col("id"),
      concat_ws(" ", (lit("w_top") +: (1 until 10).map(i =>
        concat(lit("w"), pmod(col("id") + lit(i * 37), lit(97))))): _*).as("text"))
    val v = Vocab.build(docs, "text", vocabSize = 50)
    assert(v.count() == 50L)
    assert(v.filter(col("token_id") === 1)
      .as[(String, Long, Long)].first() == (("w_top", 100000L, 1L)))
  }

  test("removeNearDuplicates on a 200k-row corpus with a 2k-pair graph " +
    "only anti-joins ids") {
    val corpus = spark.range(0, 200000).select(col("id"), lit("body").as("b"))
    val pairs = spark.range(0, 2000)
      .select(col("id").as("id_a"), (col("id") + 100000).as("id_b"))
    val out = Dedup.removeNearDuplicates(corpus, "id", pairs)
    assert(out.count() == 198000L) // 2000 losers (the id_b side)
  }

  test("embedding LSH caps a degenerate mega-bucket instead of expanding all pairs") {
    // 50k near-identical-direction vectors share every sketch bucket:
    // uncapped, the in-bucket self-join is 1.25 BILLION pairs. The cap
    // must drop the mega-buckets and finish quickly with zero pairs
    // (exact/semantic dedup own identical regions).
    val rows = spark.range(0, 50000)
      .select(col("id"), array(lit(1.0f), lit(0.5f), lit(-0.25f), lit(0.75f)).as("vec"))
    val out = Similarity.embeddingNearDupBucketed(rows, "id", "vec",
      threshold = 0.5, Similarity.coordinateSketches(bits = 4, tables = 1),
      maxBucket = 1000)
    assert(out.count() == 0L, "mega-bucket must be dropped, not expanded")
  }

  test("incremental near-dup: a degenerate identical-text shard is capped, not exploded") {
    // 20k identical shard docs share every band bucket with each other
    // AND the matching corpus doc: uncapped, that is 20k × corpus
    // candidates through the interpreted scorer. The shard-side cap
    // must drop the mega-buckets and finish quickly with no matches
    // (exact dedup upstream owns identical text).
    val corpus = spark.range(0, 200)
      .select(col("id"), concat(lit("corpus doc words here number "), col("id")).as("text"))
      .union(Seq((9999L, "the degenerate boilerplate page text body")).toDF("id", "text"))
    val art = Dedup.minhashArtifact(corpus, "id", "text")
    val shard = spark.range(100000, 120000)
      .select(col("id"), lit("the degenerate boilerplate page text body").as("text"))
    val m = Dedup.incrementalNearDupMatches(shard, "id", "text", art,
      threshold = 0.5, maxShardBucket = 100)
    assert(m.count() == 0L, "mega-buckets must be dropped, not expanded")
  }

  test("global index over 1M rows: contiguous, no cross-partition collisions") {
    // The failure mode is offset bookkeeping: any pid/count mismatch
    // shows up as duplicate or missing ids. min/max/distinct prove
    // the full 1..N range with no collisions, without collecting 1M
    // rows to the driver.
    val df = spark.range(0, 1000000)
      .select(pmod(col("id") * 2654435761L, lit(1000003L)).as("k"), col("id").as("v"))
    val idx = GlobalIndex.withGlobalIndex(df, Seq(col("k"), col("v")), "idx",
      partitions = Some(32))
    val stats = idx.agg(
      count(lit(1)), min(col("idx")), max(col("idx")), count_distinct(col("idx")))
      .as[(Long, Long, Long, Long)].first()
    assert(stats == ((1000000L, 1L, 1000000L, 1000000L)))
    // spot-check the ordering contract at the extremes
    val firstRow = idx.filter(col("idx") === 1L).select("k", "v")
      .as[(Long, Long)].first()
    val minRow = df.orderBy(col("k"), col("v")).select("k", "v")
      .as[(Long, Long)].first()
    assert(firstRow == minRow)
  }

  test("funnel at 1M events: exact stage populations, no per-key sequence state") {
    // 250k users × 4 events; every user views, half click afterwards,
    // a quarter later purchase — the stage populations are exact.
    val users = spark.range(0, 250000)
    val events = users.select(col("id").as("u"), lit("view").as("t"), col("id").as("ts"))
      .union(users.filter(col("id") % 2 === 0)
        .select(col("id"), lit("click"), col("id") + 1000000))
      .union(users.filter(col("id") % 4 === 0)
        .select(col("id"), lit("purchase"), col("id") + 2000000))
    val depths = Funnel.funnel(events, "u", "t", "ts", Seq("view", "click", "purchase"))
      .groupBy("depth").count().as[(Long, Long)].collect().toMap
    assert(depths == Map(1L -> 125000L, 2L -> 62500L, 3L -> 62500L))
  }

  /** Max shuffle-read records of any single task while `body` runs —
    * the direct observable for "one window task swallowed the hot key".
    * The listener bus is async, so the value is polled to stability.
    */
  private def maxTaskShuffleRead(body: => Unit): Long = {
    val max = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null)
          max.getAndUpdate(x => math.max(x, m.shuffleReadMetrics.recordsRead))
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var last = -1L; var stable = 0; var i = 0
      while (stable < 3 && i < 100) {
        Thread.sleep(100)
        val cur = max.get
        if (cur == last) stable += 1 else { stable = 0; last = cur }
        i += 1
      }
      max.get
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("hot-key as-of at 1M rows: salted slices bound the window task; result identical") {
    // ONE key holds a million left rows: the plain single-shuffle merge
    // plan funnels them into ONE window task (exactly the 100 TB
    // straggler), while the salted variant's time slices must spread
    // the same key over many bounded tasks — with the identical result.
    val left = spark.range(0, 1000000).select(lit(1L).as("k"), col("id").as("t"))
    val right = spark.range(0, 10000)
      .select(lit(1L).as("k"), (col("id") * 100).as("rt"), (col("id") * 7).as("rv"))
    def checksum(df: org.apache.spark.sql.DataFrame): (Long, Long) =
      df.agg(count(lit(1)),
          sum(pmod(xxhash64(col("k"), col("t"), col("rv")), lit(1000000007L))))
        .as[(Long, Long)].first()
    // 32 shuffle partitions so the 100 slices can actually spread (the
    // shared spec session runs at 4, which would cap the spread at 4),
    // and AQE's small-partition coalescing off for the MEASUREMENT:
    // these test rows are bytes-tiny, so AQE legitimately re-merges
    // them below its 64MB advisory size — at real scale a hot key's
    // slices are each task-sized and stay split.
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevCoalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      var plain: (Long, Long) = null
      val plainMax = maxTaskShuffleRead {
        plain = checksum(TemporalJoin.asofBackward(
          left, right, Seq("k"), "t", "rt", Seq("rv")))
      }
      var salted: (Long, Long) = null
      val saltedMax = maxTaskShuffleRead {
        salted = checksum(TemporalJoin.asofBackwardSalted(
          left, right, Seq("k"), "t", "rt", Seq("rv"), sliceSeconds = 10000))
      }
      assert(salted == plain, "salting must not change a single match")
      assert(plain._1 == 1000000L)
      assert(plainMax >= 500000L,
        s"expected the plain plan's hot-key window task to read ~1M rows, saw $plainMax")
      // Slice-bounded: ~1M/32 per window task (+ the carry join's
      // second read and hash imbalance) — an order of magnitude under
      // the plain plan's single hot task, and scaling with partitions.
      assert(saltedMax <= 150000L,
        s"salted per-task row count must stay slice-bounded, saw $saltedMax")
      assert(saltedMax * 4 <= plainMax,
        s"salted max task ($saltedMax) should be far below the plain hot task ($plainMax)")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
    }
  }

  test("token budget at 1M rows in ONE group: exact cut, window sees only the crossing slice") {
    // The naive plan funnels the whole group through one cumulative-sum
    // window task (1M rows). The sliced plan must keep every task at
    // ~1/256 of the group: full slices pass with no window at all, and
    // the single crossing slice's window task reads ~4k rows.
    val docs = spark.range(0, 1000000)
      .select(col("id"), lit("g").as("src"), lit(10L).as("toks"))
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevCoalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val (out, cleanup) = TokenBudget.sampleManaged(
        docs, "id", "src", "toks", Map("g" -> 5000000L))
      var n = -1L
      val maxTask = maxTaskShuffleRead { n = out.count() }
      cleanup()
      // kept iff tokens BEFORE the row < budget: exactly 500k rows of 10.
      assert(n == 500000L, s"exact budget cut, got $n")
      // One slice is ~3.9k rows; the histogram aggregate and the
      // crossing-slice window are the only shuffles. Far below the 1M
      // a whole-group window task would read.
      assert(maxTask <= 100000L,
        s"window must see only the crossing slice, max task read $maxTask")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
    }
  }

  test("model-based quality filter at 1M docs: broadcast scoring, exact logits") {
    // 1M docs × 6 tokens against a broadcast weight table — the per-doc
    // shuffle carries one long each; logits are exact integers.
    val docs = spark.range(0, 1000000).select(col("id"),
      concat(lit("the quick word"),
        when(col("id") % 2 === 0, lit(" lorem lorem")).otherwise(lit(" and and"))).as("text"))
    val scored = QualityModel.scoreLinear(docs, "id", "text",
      Map("the" -> 400L, "and" -> 300L, "lorem" -> -800L), milliBias = -700L)
    val byLogit = scored.groupBy("milli_logit").count().as[(Long, Long)].collect().toMap
    // even ids: -700 + 400 - 1600 = -1900; odd: -700 + 400 + 600 = 300
    assert(byLogit == Map(-1900L -> 500000L, 300L -> 500000L))
    assert(scored.filter(col("kept")).count() == 500000L)
  }

  test("bigram LM with a dominant transition: scoring shuffle carries doc-collapsed counts") {
    // 20k docs, each repeating the same hot transition 50 times: raw
    // occurrences put ~1M rows of ONE (w1,w2) key through the scoring
    // join's hot task; the per-doc pre-aggregation must collapse them
    // to one row per document (~20k) so no task reads occurrence-scale
    // rows.
    val docs = spark.range(0, 20000).select(col("id"),
      concat(lit(("of the " * 50).trim), lit(" tail"), pmod(col("id"), lit(1000))).as("text"))
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevCoalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      var rows: Array[(Long, Long)] = null
      val maxTask = maxTaskShuffleRead {
        rows = TextRank.bigramLogProb(docs, "id", "text")
          .select(col("id"), col("n_bigrams")).as[(Long, Long)].collect()
      }
      assert(rows.length == 20000)
      // 101 tokens per doc -> 100 adjacent pairs each.
      assert(rows.forall(_._2 == 100L), "every doc scores all 100 transitions")
      // The occurrence-level formulation reads ~1M rows (20k docs × 50
      // repeats) in the hot join task; doc-collapsed stays well under.
      assert(maxTask <= 300000L,
        s"hot-transition task must stay doc-bounded, read $maxTask")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
    }
  }

  test("span dedup at 100k docs with a corpus-wide boilerplate run stays joinful, not quadratic") {
    // Every doc carries the SAME 4-token boilerplate run between unique
    // prose: the shared grams are maximally hot keys (100k docs each).
    // The plan must stay semi-join + window (no pair expansion — a
    // per-occurrence pairing of the hot gram would be 10^10 rows) and
    // cut exactly the boilerplate from every document.
    val docs = spark.range(0, 100000).select(col("id"),
      concat(lit("u"), col("id"), lit(" v"), col("id"),
        lit(" all rights reserved legal"), lit(" w"), col("id")).as("text"))
    val plan = SpanDedup.audit(docs, "id", "text", n = 4, minDocs = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"), plan.take(500))
    val out = SpanDedup.audit(docs, "id", "text", n = 4, minDocs = 2)
      .select(col("id"), col("n_tokens"), col("dup_tokens"), col("clean_text"))
      .as[(Long, Long, Long, String)].collect()
    assert(out.length == 100000)
    // 7 tokens per doc; "all rights reserved legal" is the only
    // cross-doc duplicated run — u/v/w prose must survive everywhere.
    assert(out.forall(r => r._2 == 7L && r._3 == 4L &&
      r._4 == s"u${r._1} v${r._1} w${r._1}"), out.take(3).mkString(", "))
  }

  test("prefix jaccard at 50k docs: a corpus-wide boilerplate tail stays out " +
      "of rare-gram-filled prefixes; the cap guards the boilerplate-heavy regime") {
    // 12 unique body tokens + a 6-token boilerplate tail per doc
    // (18 tokens → 16 grams: 12 touch a unique token, 4 are pure
    // boilerplate shared by ALL 50k docs). At t = 0.5 the prefix is
    // 16 − 8 + 1 = 9 grams ≤ the 12 rare ones, so no hot gram enters
    // any prefix and the candidate join sees only the planted twin —
    // all-pairs on the shared grams would be ~1.25B enumerations.
    // (Boilerplate-only overlap is 4/(32−4) ≈ 0.14 < 0.5, so the
    // planted pair is also the TRUE answer.)
    def corpus(ids: org.apache.spark.sql.DataFrame) = ids.select(col("id"),
      concat(
        Seq("a", "b", "c", "d", "e", "f", "g", "h", "i", "j", "k").map(p =>
          concat(lit(p), col("id"), lit(" "))) :+
        concat(lit("l"), col("id")) :+
        lit(" all rights reserved legal terms apply"): _*).as("text"))
    val docs = corpus(spark.range(0, 50000).toDF("id"))
      .union(corpus(Seq(100007L).toDF("id"))
        .select(col("id"), regexp_replace(col("text"), "100007", "7").as("text")))
    val (pairs, release) = Dedup.ngramJaccardPrefixPairsManaged(
      docs, "id", "text", n = 3, threshold = 0.5)
    val out = pairs.select("id_a", "id_b").as[(Long, Long)].collect()
    release()
    assert(out.toSeq == Seq((7L, 100007L)), out.take(5).mkString(", "))

    // Boilerplate-DOMINATED docs (prefix overflows into hot grams):
    // the maxGramDocs cap drops those grams from candidate generation
    // instead of enumerating a 50k-doc bucket quadratically. The twin
    // pair still surfaces via its rare grams.
    val short = spark.range(0, 50000).select(col("id"),
      concat(lit("u"), col("id"),
        lit(" all rights reserved legal terms apply")).as("text"))
      .union(Seq((100007L, "u7 all rights reserved legal terms apply"))
        .toDF("id", "text"))
    val (capped, release2) = Dedup.ngramJaccardPrefixPairsManaged(
      short, "id", "text", n = 3, threshold = 0.5, maxGramDocs = 1000)
    val outCapped = capped.select("id_a", "id_b").as[(Long, Long)].collect()
    release2()
    assert(outCapped.toSeq == Seq((7L, 100007L)), outCapped.take(5).mkString(", "))
  }

  test("prefix jaccard cap at 100k docs: the boilerplate gram's rows never " +
      "pin one task (anti-joined out before any shuffle)") {
    // Every doc shares a 4×-hot boilerplate run (each hot gram occurs
    // in ALL 100k docs). Under the old per-gram window the df pass
    // funneled each hot gram's 100k rows into ONE task even though the
    // cap then discarded the gram; the aggregate + broadcast-anti-join
    // shape must keep every task's shuffle read at ~|rows|/partitions.
    val docs = spark.range(0, 100000).select(col("id"),
      concat(lit("u"), col("id"),
        lit(" all rights reserved legal terms apply")).as("text"))
      .union(Seq((100007L, "u7 all rights reserved legal terms apply"))
        .toDF("id", "text"))
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevCoalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      var out: Array[(Long, Long)] = null
      val (pairs, release) = Dedup.ngramJaccardPrefixPairsManaged(
        docs, "id", "text", n = 3, threshold = 0.5, maxGramDocs = 1000)
      val maxTask = maxTaskShuffleRead {
        out = pairs.select("id_a", "id_b").as[(Long, Long)].collect()
      }
      release()
      assert(out.toSeq == Seq((7L, 100007L)), out.take(5).mkString(", "))
      // 5 grams/doc, 4 hot (dropped pre-shuffle), 1 unique: ~100k kept
      // gram rows spread over 32 partitions ≈ 3k/task; the old window
      // plan read 100k rows of ONE hot gram in a single task.
      assert(maxTask <= 50000L,
        s"hot-gram rows must not funnel into one task, max task read $maxTask")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
    }
  }

  test("count-path jaccard cap at 50k docs: boilerplate grams are dropped " +
      "before any shuffle; the twin pair surfaces through its rare gram") {
    // Every doc shares the same 4 hot boilerplate grams. UNCAPPED, the
    // co-occurrence enumeration would be 4 × C(50k, 2) ≈ 5B join rows —
    // the count path's mega-bucket regime. With the cap, the hot grams
    // are anti-joined out pre-shuffle, so only the planted twin's
    // unique first gram ("u7 all rights" — docs 7 and 100007) pairs
    // up. Count-path cap SEMANTICS (unlike the prefix path, which
    // re-verifies with full gram sets): dropped grams leave n_common,
    // denominators stay true pre-cap sizes, so the twin scores
    // 1/(5+5−1) ≈ 0.111 — the threshold must sit below that, and
    // boilerplate-only pairs (0 counted common grams) can never
    // appear at any positive threshold.
    val docs = spark.range(0, 50000).select(col("id"),
      concat(lit("u"), col("id"),
        lit(" all rights reserved legal terms apply")).as("text"))
      .union(Seq((100007L, "u7 all rights reserved legal terms apply"))
        .toDF("id", "text"))
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevCoalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      var out: Array[(Long, Long)] = null
      val pairs = Dedup.ngramJaccardCountPairs(
        docs, "id", "text", n = 3, threshold = 0.1, maxGramDocs = 1000)
      val maxTask = maxTaskShuffleRead {
        out = pairs.select("id_a", "id_b").as[(Long, Long)].collect()
      }
      assert(out.toSeq == Seq((7L, 100007L)), out.take(5).mkString(", "))
      // ~100k kept gram rows over 32 partitions ≈ 3k/task; a hot gram
      // riding the g-exchange would put 50k+ rows in one task.
      assert(maxTask <= 50000L,
        s"hot-gram rows must not funnel into one task, max task read $maxTask")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
    }
  }

  test("bigram LM under ONE dominant transition: AQE can NOT split the " +
      "aggregate-fed scoring join; hotKeyJoin broadcasts it — same scores") {
    // 150k docs all containing the same hot transition once: after
    // doc-collapsing, the scoring join still holds 150k rows of ONE
    // (w1, w2) key — real residual join skew. This test pins BOTH
    // halves of bigramLogProb's scaladoc claim as executable facts:
    //
    //  1. AQE's reactive skew split does NOT cover this join, even
    //     with thresholds lowered so the hot partition (~850KB vs
    //     ~55KB median) is far past the skew trigger.
    //     OptimizeSkewedJoin only matches SMJ(Sort(shuffleStage),
    //     Sort(shuffleStage)); the bigram-count side's final
    //     HashAggregate sits between its Sort and its shuffle stage,
    //     so the rule never fires and one task swallows every row of
    //     the hot key. If a Spark upgrade ever makes AQE handle this
    //     shape, this test fails loudly and the scaladoc + this spec
    //     flip to assert the split.
    //  2. hotKeys routing is the real mitigation: the hot rows join
    //     via broadcast, no single task reads a hot-key-sized
    //     partition, and not one score changes.
    val docs = spark.range(0, 150000).select(col("id"),
      concat(lit("of the tail"), pmod(col("id"), lit(997))).as("text"))
    // Collect from the DataFrame ITSELF (not a .select on top of it):
    // the plan assertions below read df.queryExecution.executedPlan,
    // and only an action on the same QueryExecution finalizes its
    // AdaptiveSparkPlan (a derived select would execute a sibling plan
    // and leave this one isFinalPlan=false).
    def scores(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
      df.collect().map { r =>
        r.getLong(r.fieldIndex("id")) ->
          ((r.getDouble(r.fieldIndex("mean_logprob")) * 1000).toLong,
            r.getLong(r.fieldIndex("n_bigrams")))
      }.toMap
    val keep = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      // the bigram table must NOT auto-broadcast, or there is no
      // shuffle join left at this tiny scale
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

      val plain = TextRank.bigramLogProb(docs, "id", "text")
      var plainScores: Map[Long, (Long, Long)] = null
      val plainMax = maxTaskShuffleRead { plainScores = scores(plain) }
      val finalPlan = plain.queryExecution.executedPlan.toString
      assert(finalPlan.contains("isFinalPlan=true"))
      assert(!finalPlan.contains("skewed="),
        "AQE unexpectedly skew-split the aggregate-fed join — a Spark " +
          s"upgrade changed OptimizeSkewedJoin's reach; update the " +
          s"scaladoc and flip this assertion:\n${finalPlan.take(2000)}")
      // the negative proof in task terms: one task read every hot-key
      // row (150k of them, plus that partition's share of the tail)
      assert(plainMax >= 150000L,
        s"expected one straggler task to swallow the hot key; max=$plainMax")

      val routed = TextRank.bigramLogProb(docs, "id", "text", hotKeys = 8)
      var routedScores: Map[Long, (Long, Long)] = null
      val routedMax = maxTaskShuffleRead { routedScores = scores(routed) }
      val routedPlan = routed.queryExecution.executedPlan.toString
      assert(routedPlan.contains("BroadcastHashJoin"),
        s"hotKeyJoin must broadcast the hot bigram rows:\n${routedPlan.take(2000)}")
      assert(routedMax < 150000L,
        s"hot route must not funnel the hot key through one task; max=$routedMax")
      assert(routedScores == plainScores,
        "hot-key routing must not change a single score")
      assert(plainScores.size == 150000 && plainScores.values.forall(_._2 == 2L))
    } finally keep.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("trigram backoff under ONE dominant trigram: hot route keeps every " +
      "count join off the straggler task — same scores") {
    // 120k score docs all containing "of the end" once (fit corpus
    // supplies the counts): the three aggregate-fed count joins each
    // hold 120k rows of ONE gram key, and per the bigram test above
    // AQE cannot split any of them. The hotKeys route must bound the
    // max task while changing nothing.
    val fit = spark.range(0, 2000).select(col("id"),
      concat(lit("of the end tail"), pmod(col("id"), lit(97))).as("text"))
    val docs = spark.range(0, 120000).select(col("id"),
      concat(lit("of the end tail"), pmod(col("id"), lit(997))).as("text"))
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevCoalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    val prevBcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // the count tables must not auto-broadcast at this tiny scale or
      // there is no shuffle join left to measure
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def run(hk: Int): (Map[Long, Long], Long) = {
        var rows: Map[Long, Long] = null
        val mx = maxTaskShuffleRead {
          rows = TextRank.trigramStupidBackoff(fit, docs, "id", "text", hotKeys = hk)
            .select(col("id"), (col("mean_logprob") * 10000).cast("long"))
            .as[(Long, Long)].collect().toMap
        }
        (rows, mx)
      }
      val (plainRows, plainMax) = run(0)
      val (hotRows, hotMax) = run(8)
      assert(plainRows.size == 120000 && hotRows == plainRows,
        "hot routing must not change a single score")
      // plain: one task swallows the 120k-row hot key; hot: bounded
      assert(plainMax >= 120000L, s"expected the plain straggler, max=$plainMax")
      assert(hotMax < 60000L,
        s"hot route must spread the dominant gram, max=$hotMax")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBcast)
    }
  }

  test("labeledPartition at 1M rows in ONE group: exact weighted shares, " +
      "no task ever holds the group") {
    // the worst case for any window/ntile formulation — a single
    // corpus-sized group would serialize into one sort task. The
    // histogram-located boundary path must keep every task
    // bucket-sized while the shares stay exact.
    val df = spark.range(0, 1000000)
      .select(lit("g").as("grp"), col("id"), col("id").as("v"))
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevCoalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      var shares: Map[String, Long] = null
      val maxTask = maxTaskShuffleRead {
        shares = Binning.labeledPartition(df, "grp", "v", Seq("id"),
            Seq(("tail", 1), ("middle", 1), ("head", 2)))
          .groupBy("bucket").count()
          .as[(String, Long)].collect().toMap
      }
      // boundaries: the 250000th and 500000th values (249999, 499999)
      assert(shares == Map("tail" -> 250000L, "middle" -> 250000L, "head" -> 500000L),
        s"got $shares")
      // the boundary location ranks only located-bucket slices
      // (~1M/1024 rows each), never the whole group in one task
      assert(maxTask < 100000L,
        s"histogram path must keep tasks bucket-sized, max read $maxTask")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
    }
  }

  test("corpus mixing at 1M docs lands within 1% of the target composition") {
    val docs = spark.range(0, 1000000)
      .select(col("id"), concat(lit("src"), pmod(col("id"), lit(4))).as("src"))
    val out = Mixture.mixCorpora(docs, "id", "src",
      Map("src0" -> 3.5, "src1" -> 0.25, "src2" -> 1.0), defaultWeight = 0.0)
    val bySrc = out.groupBy("src").count().as[(String, Long)].collect().toMap
    assert(bySrc.keySet == Set("src0", "src1", "src2"))
    assert(math.abs(bySrc("src0") - 875000L) < 8750, bySrc.toString) // 3.5 × 250k
    assert(math.abs(bySrc("src1") - 62500L) < 2500, bySrc.toString)  // 0.25 × 250k
    assert(bySrc("src2") == 250000L)                                 // exact copy
  }
}
