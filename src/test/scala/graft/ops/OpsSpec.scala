package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantics of the training-data-pipeline operators: near-dup recall,
  * simhash locality, LSH vs brute-force agreement, salted-join equality,
  * multimodal decode determinism.
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private def hex(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private val base =
    "the quick brown fox jumps over the lazy dog again and again every day"
  private val docs = Seq(
    (1L, base),
    (2L, base + " tonight"),                               // near-dup of 1
    (3L, base.replace("quick", "slow")),                   // near-dup of 1
    (4L, "completely different content about spark query engines and shuffles"),
    (5L, "yet another unrelated string of words with no overlap at all whatsoever"),
    (6L, base)                                             // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val out = Dedup.exact(docs, "doc_id", "text").collect()
    assert(out.length == 5) // 6 docs, one exact pair
    val dupGroup = out.find(_.getLong(2) == 2L).get
    assert(dupGroup.getLong(1) == 1L) // keeper = min id
  }

  test("incremental dedup: first-wins within the shard, corpus collisions dropped") {
    val corpus = Seq((100L, "already in corpus"), (101L, "also old")).toDF("doc_id", "text")
    val shard = Seq(
      (1L, "brand new"),
      (2L, "brand new"),          // in-shard dup of 1
      (3L, "already in corpus"),  // collides with the corpus
      (4L, "another new one")
    ).toDF("doc_id", "text")
    val out = Dedup.incremental(shard, corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(1L, 4L))
  }

  test("incremental dedup with an empty corpus degrades to in-shard exact dedup") {
    val shard = Seq((2L, "x"), (1L, "x"), (3L, "y")).toDF("doc_id", "text")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = Dedup.incremental(shard, empty, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(1L, 3L))
  }

  test("incremental near-dup: shard docs matching the corpus artifact are flagged") {
    val long = (1 to 60).map(i => s"tok$i").mkString(" ")
    val corpus = Seq((100L, long), (101L, "something else entirely here now")).toDF("doc_id", "text")
    val art = Dedup.minhashArtifact(corpus, "doc_id", "text")
    val shard = Seq(
      (1L, long),                                   // exact copy → agreement 1.0
      (2L, long.replace("tok60", "changed")),       // near-dup → high agreement
      (3L, "completely unrelated words appear in this one okay")
    ).toDF("doc_id", "text")
    val m = Dedup.incrementalNearDupMatches(shard, "doc_id", "text", art,
      threshold = 0.5)
      .select("shard_id", "corpus_id", "est_jaccard")
      .as[(Long, Long, Double)].collect()
    val byShard = m.groupBy(_._1)
    assert(byShard(1L).exists(r => r._2 == 100L && r._3 == 1.0))
    assert(byShard(2L).exists(r => r._2 == 100L && r._3 >= 0.5))
    assert(!byShard.contains(3L))
    // removal = anti-join on shard_id; survivors keep their text
    val kept = shard.join(
      Dedup.incrementalNearDupMatches(shard, "doc_id", "text", art, threshold = 0.5)
        .select(col("shard_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L))
  }

  test("incremental near-dup rejects an artifact built with different parameters") {
    // Different hash families never collide — a silent zero-match run
    // would admit every near-duplicate; the stored build params make
    // the mismatch an eager error instead.
    val corpus = Seq((100L, "some corpus document text here")).toDF("doc_id", "text")
    val art = Dedup.minhashArtifact(corpus, "doc_id", "text", numHashes = 64, bands = 8)
    val shard = Seq((1L, "some corpus document text here")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.incrementalNearDupMatches(shard, "doc_id", "text", art) // defaults: 32/8
    }
    // matching params pass
    val ok = Dedup.incrementalNearDupMatches(shard, "doc_id", "text", art,
      numHashes = 64, bands = 8)
    assert(ok.count() == 1)
    // a DIFFERENT HASH FAMILY with equal shape parameters is also a
    // mismatch (md5-built artifact vs xxhash64 probe)
    val artMd5 = Dedup.minhashArtifact(corpus, "doc_id", "text", family = Md5Family)
    intercept[IllegalArgumentException] {
      Dedup.incrementalNearDupMatches(shard, "doc_id", "text", artMd5)
    }
    // a LEGACY artifact (persisted before the hash_family column
    // existed) reads as xxhash64 instead of failing analysis
    val legacy = art.drop("hash_family")
    val okLegacy = Dedup.incrementalNearDupMatches(shard, "doc_id", "text", legacy,
      numHashes = 64, bands = 8)
    assert(okLegacy.count() == 1)
  }

  test("incremental near-dup: an EMPTY artifact matches nothing (empty corpus " +
      "is a routine state, not a union bug)") {
    // An artifact built over an empty corpus — or one whose docs are
    // all too short to shingle — carries ZERO parameter rows. That is
    // "the corpus matches nothing", not an incompatible-union error:
    // the scheduled-pipeline first run starts exactly here.
    val tooShort = Seq((100L, "ab")).toDF("doc_id", "text") // 1 token < n=3
    val art = Dedup.minhashArtifact(tooShort, "doc_id", "text")
    assert(art.count() == 0)
    val shard = Seq((1L, "some shard document text here okay then")).toDF("doc_id", "text")
    assert(Dedup.incrementalNearDupMatches(shard, "doc_id", "text", art).count() == 0)
  }

  test("substringDedupIncremental: an EMPTY artifact strips nothing corpus-side " +
      "(in-shard keep-first still applies)") {
    val corpus = Seq((100L, "short")).toDF("doc_id", "text") // 1 token < k=6
    val art = Dedup.substringArtifact(corpus, "doc_id", "text", k = 6)
    assert(art.count() == 0)
    val shard = Seq(
      (10L, "fresh shard run only here five six seven eight nine ten"),
      (11L, "fresh shard run only here five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val out = Dedup.substringDedupIncremental(shard, "doc_id", "text", art, k = 6)
      .orderBy("id").collect().toSeq
    assert(out.map(_.getLong(0)) == Seq(10L, 11L))
    // 10 keeps everything; 11 loses everything to in-shard keep-first
    assert(out(0).getLong(3) == 0L && out(1).getString(1) == "")
  }

  test("coordinateSketches fails rows whose vectors are shorter than tables*bits") {
    val vecs = Seq((1L, Array(0.5f, -0.5f, 0.1f, 0.2f))).toDF("vec_id", "embedding")
    // 1 table × 4 bits fits dim 4
    assert(Similarity.embeddingNearDupBucketed(vecs, "vec_id", "embedding",
      threshold = 0.9, Similarity.coordinateSketches(4, 1)).count() == 0)
    // 2 tables × 4 bits needs dim 8 → loud per-row failure, not silent
    // all-zero buckets (which would degenerate the join to all-pairs)
    val e = intercept[Exception] {
      Similarity.embeddingNearDupBucketed(vecs, "vec_id", "embedding",
        threshold = 0.9, Similarity.coordinateSketches(4, 2)).count()
    }
    assert(e.getMessage != null)
  }

  test("incremental dedup: null-text rows are not comparable — all pass through") {
    // Extraction failures must not dedupe against each other (losing
    // N-1 documents per batch) nor against corpus nulls.
    val shard = Seq((1L, Some("x")), (2L, None: Option[String]), (3L, None))
      .toDF("doc_id", "text")
    val corpus = Seq((100L, None: Option[String])).toDF("doc_id", "text")
    val out = Dedup.incremental(shard, corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(1L, 2L, 3L))
  }

  test("minhash LSH finds the near-dup pairs exact Jaccard confirms") {
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 3, numHashes = 32, bands = 16, threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.contains((1L, 6L)) && exact.contains((1L, 2L)))
    // 16 bands × 2 rows: collision probability at j≥0.3 is high; the
    // exact duplicate MUST collide in every band.
    assert(lsh.contains((1L, 6L)))
    assert(lsh.subsetOf(exact)) // verification step guarantees precision
  }

  test("simhash: near-dups land within small hamming distance") {
    val hashed = Dedup.withSimhash(docs, "text")
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    assert(hashed(1L) == hashed(6L)) // identical text → identical simhash
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val nearDist = hamming(hashed(1L), hashed(2L))
    val farDist = hamming(hashed(1L), hashed(4L))
    assert(nearDist < farDist)
  }

  test("simhash: native expression equals the HOF spelling for every family") {
    // The native SimhashText expression is pinned bit-for-bit against
    // the higher-order-function spelling it replaced — on adversarial
    // texts: null, empty, whitespace-only, every \s separator class,
    // leading/trailing runs, multi-byte UTF-8, a long doc.
    val texts = Seq(
      (1L, null: String), (2L, ""), (3L, "   \t\n"), (4L, "one"),
      (5L, "a b\tc\nde\ff\rg"), (6L, "  leading and trailing  "),
      (7L, "naïve café über résumé 日本語 emoji 😀 mix"),
      (8L, Seq.tabulate(500)(i => s"tok$i word${i % 17}").mkString(" ")))
      .toDF("doc_id", "text")
    Seq(XxHash64Family, Md5Family, Md5Mix32Family).foreach { fam =>
      val native = Dedup.withSimhash(texts, "text", family = fam)
        .select("doc_id", "simhash").as[(Long, Option[Long])].collect().toMap
      val hof = Dedup.withSimhashHof(texts, "text", family = fam)
        .select("doc_id", "simhash").as[(Long, Option[Long])].collect().toMap
      assert(native == hof, s"family ${fam.tag}")
      assert(native(1L).isEmpty) // null text → null simhash
      assert(native(2L).contains(0L)) // zero tokens → 0
    }
  }

  test("line dedup: native expression equals the HOF spelling on adversarial docs") {
    val texts = Seq(
      (1L, null: String), (2L, ""), (3L, "only line"),
      (4L, "a\nb\na\nc\nb"), (5L, "\n\na\n\n"), (6L, "a\na\na"),
      (7L, "x\n"), (8L, "\nx"), (9L, "naïve\n日本語\nnaïve\n😀"),
      (10L, Seq.tabulate(300)(i => s"line${i % 40}").mkString("\n")))
      .toDF("doc_id", "text")
    val native = Dedup.dedupLinesWithinDoc(texts, "text")
      .select("doc_id", "text").as[(Long, Option[String])].collect().toMap
    val hof = Dedup.dedupLinesWithinDocHof(texts, "text")
      .select("doc_id", "text").as[(Long, Option[String])].collect().toMap
    assert(native == hof)
    assert(native(4L).contains("a\nb\nc")) // first occurrence wins
    assert(native(5L).contains("\na"))     // first empty line survives once
    assert(native(1L).isEmpty)             // null text stays null
  }

  test("ws_tokens equals the regex-split + filter spelling on adversarial texts") {
    val texts = Seq(
      (1L, null: String), (2L, ""), (3L, " \t\n\f\r "), (4L, "one"),
      (5L, "a b\tc\nde\ff\rg"), (6L, "  lead mid  trail "),
      (7L, "naïve 日本語 😀"), (8L, "x y"))  // NBSP is NOT \s — one token
      .toDF("doc_id", "text")
    val native = texts.select(col("doc_id"), Dedup.tokens(col("text")).as("t"))
      .as[(Long, Option[Seq[String]])].collect().toMap
    val hof = texts.select(col("doc_id"), Dedup.tokensHof(col("text")).as("t"))
      .as[(Long, Option[Seq[String]])].collect().toMap
    assert(native == hof)
    assert(native(8L).contains(Seq("x y")))
  }

  test("word_ngram_hash64 equals the transform/slice/hashString spelling per family") {
    import org.apache.spark.sql.GraftColumnBridge
    val texts = Seq(
      (1L, null: String), (2L, ""), (3L, "a b"), (4L, "a b c"),
      (5L, "w1 w2 w3 w4 w5 w6 w7 naïve 日本語"),
      (6L, Seq.tabulate(80)(i => s"t${i % 13}").mkString(" ")))
      .toDF("doc_id", "text")
    Seq(XxHash64Family, Md5Family, Md5Mix32Family).foreach { fam =>
      Seq(2, 3, 8).foreach { k =>
        val tk = Dedup.tokens(col("text"))
        val native = texts.select(col("doc_id"),
          GraftColumnBridge.column(graft.functions.WordNgramHash64(
            GraftColumnBridge.expression(tk), k, 0, fam.tag)).as("g"))
          .as[(Long, Option[Seq[Long]])].collect().toMap
        // The when(size >= k, …) spelling maps a NULL token array to
        // the otherwise-branch's empty array; the native expression
        // null-propagates (call sites either filter null text first —
        // substringDedup — or treat empty and null identically — span
        // audit). Pin equality on the non-null contract and the null
        // convention separately.
        val hof = texts.select(col("doc_id"),
          when(tk.isNull, lit(null).cast("array<bigint>"))
            .when(size(tk) >= k,
              transform(sequence(lit(0), size(tk) - k),
                i => fam.hashString(0, concat_ws(" ", slice(tk, i + lit(1), lit(k))))))
            .otherwise(array().cast("array<bigint>")).as("g"))
          .as[(Long, Option[Seq[Long]])].collect().toMap
        assert(native == hof, s"family ${fam.tag}, k=$k")
        assert(native(1L).isEmpty, "null text -> null gram array")
      }
    }
  }

  test("word_ngrams equals the concat_ws transform/slice spelling") {
    val texts = Seq(
      (1L, null: String), (2L, ""), (3L, "a"), (4L, "a b c"),
      (5L, "w1 w2 w3 w4 naïve 日本語 😀"), (6L, "dup dup dup"))
      .toDF("doc_id", "text")
    Seq(1, 2, 3).foreach { k =>
      val tk = Dedup.tokens(col("text"))
      val native = texts.select(col("doc_id"),
        graft.functions.GraftExtensions.word_ngrams(tk, k).as("g"))
        .as[(Long, Option[Seq[String]])].collect().toMap
      val hof = texts.select(col("doc_id"),
        when(tk.isNull, lit(null).cast("array<string>"))
          .when(size(tk) >= k,
            transform(sequence(lit(0), size(tk) - k),
              i => concat_ws(" ", slice(tk, i + lit(1), lit(k)))))
          .otherwise(array().cast("array<string>")).as("g"))
        .as[(Long, Option[Seq[String]])].collect().toMap
      assert(native == hof, s"k=$k")
      assert(native(1L).isEmpty, "null text -> null gram array")
    }
  }

  test("winnow fingerprints equal the window-algebra spelling over positioned grams") {
    val texts = Seq(
      (1L, null: String), (2L, ""), (3L, "a b c"), // n=4: too short, no grams
      (4L, "a b c d"),                             // one gram < w: global min
      (5L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12"),
      (6L, Seq.tabulate(60)(i => s"t${i % 7}").mkString(" ")),
      (7L, "x y z w x y z w x y z w"))
      .toDF("doc_id", "text")
    Seq((4, 4), (2, 3), (3, 1)).foreach { case (n, w) =>
      val native = Winnow.fingerprints(texts, "doc_id", "text", n, w)
        .as[(Long, String)].collect().toSet
      // the pre-r11 window-algebra spelling, inlined as the spec
      val grams = SpanDedup.positionedGrams(texts, "doc_id", "text", n)
        .filter(col("__gh").isNotNull)
      val ahead = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("__pos"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, w - 1)
      val byId = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      val spec = grams
        .withColumn("__wmin", min(col("__gh")).over(ahead))
        .withColumn("__wcnt", count(lit(1)).over(ahead))
        .withColumn("__tot", count(lit(1)).over(byId))
        .withColumn("__gmin", min(col("__gh")).over(byId))
        .filter(col("__wcnt") === w || col("__tot") < w)
        .select(col("doc_id"),
          when(col("__tot") < w, col("__gmin"))
            .otherwise(col("__wmin")).as("fingerprint"))
        .distinct()
        .as[(Long, String)].collect().toSet
      assert(native == spec, s"n=$n, w=$w")
    }
  }

  test("repetition signals equal the dataframe spelling incl. winner ties and absent rows") {
    val texts = Seq(
      (1L, null: String), (2L, ""), (3L, " \t "),   // no tokens -> no row
      (4L, "one"),                                   // no bigram -> frac 0.0
      (5L, "a b a b a b c"),
      (6L, "z y z y x x"),                           // bigram tie -> greatest wins
      (7L, "naïve 日本語 naïve 日本語 😀"),
      (8L, Seq.tabulate(50)(i => s"t${i % 3}").mkString(" ")))
      .toDF("doc_id", "text")
    val native = TextRank.repetitionSignals(texts, "doc_id", "text")
      .as[(Long, Double, Double)].collect().toSet
    val spec = TextRank.repetitionSignalsDf(texts, "doc_id", "text")
      .as[(Long, Double, Double)].collect().toSet
    assert(native == spec)
    assert(!native.exists(_._1 <= 3L), "token-less docs produce no row")
  }

  test("minhash_sig equals the shingleRows + min-aggregate signatures per family") {
    val texts = Seq(
      (1L, null: String), (2L, ""), (3L, "a b"), (4L, "a b c"),
      (5L, "w1 w2 w3 w4 w5 w6 w7 naïve 日本語"),
      (6L, Seq.tabulate(120)(i => s"t${i % 13}").mkString(" ")),
      (7L, "dup dup dup dup dup"))
      .toDF("doc_id", "text")
    Seq(XxHash64Family, Md5Family, Md5Mix32Family).foreach { fam =>
      Seq((3, 32), (2, 16), (1, 8)).foreach { case (k, nh) =>
        val agg = Dedup.minhashSignatures(
          Dedup.shingleRows(texts, "doc_id", "text", k), nh, fam)
          .as[(Long, Seq[Long])].collect().toMap
        val local = Dedup.minhashSignaturesLocal(texts, "doc_id", "text", k, nh, fam)
          .as[(Long, Seq[Long])].collect().toMap
        assert(local == agg, s"family ${fam.tag}, n=$k, numHashes=$nh")
        assert(!local.contains(1L) && !local.contains(2L),
          "null/too-short docs yield no signature row in either form")
      }
    }
  }

  test("word_ngram_md5 equals md5 of the space-joined gram text") {
    val texts = Seq((1L, "a b c d"), (2L, "x"), (3L, null: String),
      (4L, "naïve 日本語 😀 tail"))
      .toDF("doc_id", "text")
    val tk = Dedup.tokens(col("text"))
    val native = texts.select(col("doc_id"),
      graft.functions.GraftExtensions.word_ngram_md5(tk, 3).as("g"))
      .as[(Long, Option[Seq[String]])].collect().toMap
    val hof = texts.select(col("doc_id"),
      when(tk.isNull, lit(null).cast("array<string>"))
        .when(size(tk) >= 3,
          transform(sequence(lit(0), size(tk) - 3),
            i => md5(concat_ws(" ", slice(tk, i + lit(1), lit(3))))))
        .otherwise(array().cast("array<string>")).as("g"))
      .as[(Long, Option[Seq[String]])].collect().toMap
    assert(native == hof)
    assert(native(3L).isEmpty, "null text -> null gram array")
  }

  test("LSH top-k returns a subset of brute-force candidates with correct scores") {
    val vecs = (0 until 50).map { i =>
      val v = (0 until 8).map(d => math.sin(i * 0.7 + d).toFloat).toArray
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" < 2)
    val brute = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val buckets = SignLsh.perTable(dim = 8, bits = 2, tables = 4)
    val lsh = Similarity.bucketedTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, buckets)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(brute.size == 10) // k per query
    assert(lsh.nonEmpty)
    // cosine scores LSH reports must equal brute-force scores for the
    // same pairs (the bucketing only prunes candidates)
    val bruteScores = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 49)
      .select("query_id", "neighbor_id", "cos_sim").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    Similarity.bucketedTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, buckets)
      .select("query_id", "neighbor_id", "cos_sim").as[(Long, Long, Double)]
      .collect().foreach { case (q, n, s) =>
        assert(math.abs(bruteScores((q, n)) - s) < 1e-12)
      }
  }

  test("LSH mega-bucket cap: pathological single-value corpus completes and reports the drop") {
    // 500 identical documents: every band hash collides into ONE bucket
    // of 500 members — uncapped pair expansion would be 124,750 pairs
    // per band. With maxBucket=50 the bucket is dropped, visibly.
    val degenerate = (0 until 500).map(i => (i.toLong, "same text every single time"))
      .toDF("doc_id", "text")
    var observed: Map[String, Any] = Map.empty
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = {
        qe.observedMetrics.collectFirst {
          case (name, row) if name.startsWith("dedup_lsh_buckets") => row
        }.foreach { row =>
          observed = Map("dropped" -> row.getAs[Long]("dropped_buckets"),
            "max" -> row.getAs[Int]("max_bucket"))
        }
      }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // AQE's empty-relation propagation would prune the pruned-to-empty
    // candidate subtree INCLUDING its CollectMetrics node — disable it
    // here so the observation is deliverable for the assertion (on a
    // non-degenerate corpus the metric flows fine with AQE on).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val pairs = Dedup.minhashLshPairs(degenerate, "doc_id", "text",
        n = 3, numHashes = 32, bands = 8, threshold = 0.5, maxBucket = 50)
      assert(pairs.count() == 0) // mega-bucket dropped, no quadratic blowup
      // observation delivery is async on the listener bus
      val deadline = System.currentTimeMillis() + 10000
      while (observed.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(observed.get("dropped").exists(_.asInstanceOf[Long] >= 1L),
        s"expected dropped_buckets >= 1, observed $observed")
      assert(observed.get("max").exists(_.asInstanceOf[Int] == 500))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.listenerManager.unregister(listener)
    }
  }

  test("multi-table LSH OR-amplification reaches recall >= 0.9 vs brute force") {
    val vecs = (0 until 200).map { i =>
      val v = (0 until 16).map(d => math.sin(i * 0.37 + d * 1.13).toFloat).toArray
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" < 5)
    val brute = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.bucketedTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5,
      SignLsh.perTable(dim = 16, bits = 8, tables = 6))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.9, s"multi-table LSH recall $recall < 0.9")
  }

  test("IVF ingest artifact (cell-partitioned parquet) probes to identical scores") {
    val vecs = (0 until 60).map { i =>
      val v = (0 until 8).map(d => math.cos(i * 0.37 + d * 1.3).toFloat).toArray
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" < 3)
    val centroids = Similarity.ivfCentroids(vecs, "vec_id", "embedding", nlist = 8)
    val path = java.nio.file.Files.createTempDirectory("ivf_spec_").resolve("c").toString
    val assigned = Similarity.ivfIngest(vecs, "vec_id", "embedding", centroids, path)
    val viaIngest = Similarity.ivfProbe(assigned, centroids,
      queries, "vec_id", "embedding", k = 5, nprobe = 3)
      .select("query_id", "neighbor_id", "cos_sim").as[(Long, Long, Double)]
      .collect().sortBy(r => (r._1, r._2))
    // the same cell assignment made inline, without the parquet artifact
    val inlineAssigned = vecs.select($"vec_id".as("neighbor_id"),
        $"embedding".cast("array<double>").as("__v"))
      .withColumn("__nv", Similarity.norm($"__v"))
      .withColumn("__cell", Similarity.nearestCells($"__v", centroids, 1).getItem(0))
    val inline = Similarity.ivfProbe(inlineAssigned, centroids,
      queries, "vec_id", "embedding", k = 5, nprobe = 3)
      .select("query_id", "neighbor_id", "cos_sim").as[(Long, Long, Double)]
      .collect().sortBy(r => (r._1, r._2))
    assert(viaIngest.nonEmpty)
    assert(viaIngest.toSeq == inline.toSeq)
    // the read-back corpus is genuinely partitioned by cell
    assert(assigned.columns.contains("__cell"))
  }

  test("embedding near-dup: LSH finds >= 0.9 of exact pairs on a perturbed-copy corpus") {
    // 40 base vectors, each with 2 noisy copies (cosine ~0.99) — real
    // near-dup structure, unlike the near-orthogonal random testdata.
    val rnd = new scala.util.Random(7)
    val base = (0 until 40).map(_ => Array.fill(16)(rnd.nextGaussian().toFloat))
    val vecs = base.zipWithIndex.flatMap { case (v, i) =>
      (0 until 3).map { c =>
        val noisy = v.map(x => x + (if (c == 0) 0f else 0.05f * rnd.nextGaussian().toFloat))
        ((i * 3 + c).toLong, noisy)
      }
    }.toDF("vec_id", "embedding")
    val exact = Similarity.embeddingNearDupExact(vecs, "vec_id", "embedding", 0.95)
      .select("id_a", "id_b", "cos_sim").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(exact.nonEmpty)
    val lsh = Similarity.embeddingNearDupBucketedArray(vecs, "vec_id", "embedding",
      0.95, SignLsh.array(dim = 16, bits = 12, tables = 6))
      .select("id_a", "id_b", "cos_sim").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val recall = (exact.keySet intersect lsh.keySet).size.toDouble / exact.size
    assert(recall >= 0.9, s"near-dup LSH recall $recall < 0.9 (${exact.size} exact pairs)")
    // scores for found pairs are exact, not approximate
    lsh.foreach { case (pair, s) =>
      exact.get(pair).foreach(es => assert(math.abs(es - s) < 1e-12))
    }
  }

  test("IVF centroid k-means refinement keeps probe correctness and cell count") {
    val vecs = (0 until 90).map { i =>
      val v = (0 until 8).map(d => math.cos(i * 0.41 + d * 0.9).toFloat).toArray
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" < 3)
    val refined = Similarity.ivfCentroids(vecs, "vec_id", "embedding",
      nlist = 8, refineSweeps = 2)
    assert(refined.length == 8 && refined.forall(_.length == 8))
    val brute = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 89)
      .select("query_id", "neighbor_id", "cos_sim").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    val path = java.nio.file.Files.createTempDirectory("ivf_kmeans_").resolve("c").toString
    val ingested = Similarity.ivfIngest(vecs, "vec_id", "embedding", refined, path)
    val probed = Similarity.ivfProbe(ingested, refined,
      queries, "vec_id", "embedding", k = 5, nprobe = 3)
      .select("query_id", "neighbor_id", "cos_sim").as[(Long, Long, Double)]
      .collect()
    assert(probed.nonEmpty)
    probed.foreach { case (q, n, s) => assert(math.abs(brute((q, n)) - s) < 1e-12) }
  }

  test("IVF probe partition-prunes the cell-partitioned corpus scan") {
    val vecs = (0 until 120).map { i =>
      val v = (0 until 8).map(d => math.sin(i * 0.29 + d).toFloat).toArray
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" < 2)
    val centroids = Similarity.ivfCentroids(vecs, "vec_id", "embedding", nlist = 8)
    val path = java.nio.file.Files.createTempDirectory("ivf_prune_").resolve("c").toString
    val assigned = Similarity.ivfIngest(vecs, "vec_id", "embedding", centroids, path)
    val probe = Similarity.ivfProbe(assigned, centroids,
      queries, "vec_id", "embedding", k = 5, nprobe = 2)
    val plan = probe.queryExecution.executedPlan.toString
    // The parquet scan must carry a PartitionFilters entry on __cell —
    // a probe that scans all cells is the round-1 anti-pattern.
    assert(plan.contains("PartitionFilters: [__cell"),
      s"expected a __cell partition filter in:\n$plan")
  }

  test("NFC normalization unifies composed and decomposed accents; ASCII passes through") {
    val composed = "café"            // é as one codepoint
    val decomposed = "café"         // e + combining acute
    val df = Seq((1L, composed), (2L, decomposed), (3L, "plain ascii"))
      .toDF("id", "t")
      .select($"id", graft.functions.GraftExtensions.nfc_normalize($"t").as("n"))
    val out = df.as[(Long, String)].collect().toMap
    assert(out(1L) == out(2L))            // normalize to the same bytes
    assert(out(1L) == composed)           // NFC = composed form
    assert(out(3L) == "plain ascii")      // ASCII fast path identity
  }

  test("decontamination drops exactly the docs sharing an n-gram with the reference") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps"),       // contains ref 4-gram
      (2L, "totally clean document here now"),
      (3L, "another spotless training text")
    ).toDF("doc_id", "text")
    val benchmark = Seq(
      (100L, "benchmark says the quick brown fox runs")
    ).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(corpus, "doc_id", "text",
      benchmark, "doc_id", "text", n = 4)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L)) // doc 1 shares "the quick brown fox"
  }

  test("paragraph dedup keeps the globally-first occurrence and reassembles in order") {
    val boiler = "subscribe to our newsletter"
    val docs = Seq(
      (1L, s"unique one\n\n$boiler\n\nunique two"),
      (2L, s"$boiler\n\nfresh content"),          // boiler already seen in doc 1
      (3L, s"$boiler"),                           // ONLY boiler → empty after dedup
      (4L, "fresh content\n\nfresh content")      // in-doc duplicate: first kept
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(out(1L) == s"unique one\n\n$boiler\n\nunique two") // first occurrence keeps it
    assert(out(2L) == "fresh content") // boiler removed, own content kept
    assert(out(3L) == "")              // consisted entirely of boiler
    // "fresh content" first occurred in doc 2, so BOTH of doc 4's
    // copies (cross-doc + in-doc duplicate) are removed
    assert(out(4L) == "")
  }

  test("in-document line dedup keeps first occurrences in order, per doc only") {
    val docs = Seq(
      (1L, "alpha\nshare this\nbeta\nshare this\nalpha\ngamma"),
      (2L, "share this\nshare this"),  // only dup lines → collapses to one
      (3L, "alpha\nbeta"),             // doc 1's lines do NOT affect doc 3
      (4L, ""),                        // empty text survives unchanged
      (5L, "a\n\n\nb")                 // blank-line run collapses to one blank
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLinesWithinDoc(docs, "text")
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "alpha\nshare this\nbeta\ngamma")
    assert(out(2L) == "share this")
    assert(out(3L) == "alpha\nbeta")
    assert(out(4L) == "")
    assert(out(5L) == "a\n\nb")
  }

  test("in-document line dedup: null text stays null; plan is shuffle-free") {
    val docs = Seq((1L, Option("x\nx")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val out = Dedup.dedupLinesWithinDoc(docs, "text")
    val got = out.as[(Long, Option[String])].collect().toMap
    assert(got(1L) == Some("x"))
    assert(got(2L) == None)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected shuffle-free plan:\n$plan")
  }

  test("connected components labels every near-dup cluster by its min id") {
    // Components: {1,2,3} (chain), {10,11}, singleton edges absent.
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L)
    // driver union-find regime (edges below the gate)
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc == expected)
    // distributed label-propagation regime (gate forced to zero)
    val ccDist = Dedup.connectedComponents(pairs, driverEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(ccDist == expected)
    // longer chain exercises multi-sweep pointer-jumping convergence
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc2 = Dedup.connectedComponents(chain, driverEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(cc2.values.toSet == Set(1L) && cc2.size == 12)
    // contract-then-solve regime: 22 symmetric edges exceed the gate,
    // one star-contraction round reduces below it, driver solves the
    // contracted graph — all 12 nodes must survive with the chain min
    val cc3 = Dedup.connectedComponents(chain, driverEdgeLimit = 15L)
      .as[(Long, Long)].collect().toMap
    assert(cc3.values.toSet == Set(1L) && cc3.size == 12)
    // and a multi-component graph through the same regime keeps
    // components separate (no cross-partition label bleed)
    val multi = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)) ++
      Seq((20L, 21L), (21L, 22L), (22L, 23L))).toDF("id_a", "id_b")
    val cc4 = Dedup.connectedComponents(multi, driverEdgeLimit = 9L)
      .as[(Long, Long)].collect().toMap
    assert(cc4 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
  }

  test("connected components keeps Long ids distinct above 2^53") {
    // 2^53 and 2^53+1 collapse to the same double: a doubleValue()
    // comparator judges them equal, drops the (a < b) edge, and the
    // cluster silently vanishes. Long compare must keep it.
    val big = 9007199254740992L // 2^53
    val pairs = Seq((big, big + 1), (10L, big)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert(cc == Map(10L -> 10L, big -> 10L, (big + 1) -> 10L))
  }

  test("connected components keeps Decimal ids distinct above 2^53") {
    val big = new java.math.BigDecimal("9007199254740992") // 2^53
    val pairs = Seq(
      (big, big.add(java.math.BigDecimal.ONE)),
      (java.math.BigDecimal.TEN, big)).toDF("id_a", "id_b")
      .select(col("id_a").cast("decimal(38,0)").as("id_a"),
        col("id_b").cast("decimal(38,0)").as("id_b"))
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getDecimal(0).toBigInteger.longValueExact() ->
        r.getDecimal(1).toBigInteger.longValueExact()).toMap
    val b = 9007199254740992L
    assert(cc == Map(10L -> 10L, b -> 10L, (b + 1) -> 10L))
  }

  test("hash sampling is deterministic, fraction-accurate, and splits are disjoint") {
    val df = (0 until 5000).map(i => (i.toLong, s"doc$i")).toDF("doc_id", "text")
    val a = Sampling.hashSample(df, "doc_id", 0.2).select("doc_id").as[Long].collect().toSet
    val b = Sampling.hashSample(df, "doc_id", 0.2).select("doc_id").as[Long].collect().toSet
    assert(a == b) // re-run stable
    assert(math.abs(a.size / 5000.0 - 0.2) < 0.03, s"fraction ${a.size / 5000.0}")
    val Seq(train, dev, test) = Sampling.hashSplit(df, "doc_id", Seq(0.8, 0.1, 0.1))
      .map(_.select("doc_id").as[Long].collect().toSet)
    assert(train.size + dev.size + test.size == 5000) // disjoint, exhaustive
    assert((train intersect dev).isEmpty && (dev intersect test).isEmpty &&
      (train intersect test).isEmpty)
    assert(math.abs(train.size / 5000.0 - 0.8) < 0.03)
    // smaller fraction is a SUBSET of the larger (split-point stability)
    val small = Sampling.hashSample(df, "doc_id", 0.1).select("doc_id").as[Long].collect().toSet
    assert(small.subsetOf(a))
    // float accumulation (10 × 0.1 sums to 0.999…) must not orphan rows
    val tenFold = Sampling.hashSplit(df, "doc_id", Seq.fill(10)(0.1))
      .map(_.count()).sum
    assert(tenFold == 5000L, s"10-fold split covered $tenFold of 5000 rows")
  }

  test("weightedHashSample: weight-proportional keep, integer draw, edge weights") {
    val df = (0 until 6000).map { i =>
      (i.toLong, if (i % 3 == 0) 500000L else 2000000L)
    }.toDF("doc_id", "w")
    val unit = 2000000L
    val kept = Sampling.weightedHashSample(df, "doc_id", "w", unit)
      .select("doc_id").as[Long].collect().toSet
    // w = unit rows (2/3 of corpus) keep with P=1 — ALL of them
    assert((0 until 6000).filter(_ % 3 != 0).forall(i => kept.contains(i.toLong)))
    // w = unit/4 rows keep at ~25%
    val quarter = kept.count(_ % 3 == 0) / 2000.0
    assert(math.abs(quarter - 0.25) < 0.04, s"got $quarter")
    // deterministic re-run
    assert(Sampling.weightedHashSample(df, "doc_id", "w", unit)
      .select("doc_id").as[Long].collect().toSet == kept)
    // over-unit weights clamp to P=1, zero/null weights drop
    val edges = Seq((1L, Some(99999999L)), (2L, Some(0L)),
      (3L, Option.empty[Long]), (4L, Some(-7L)))
      .toDF("doc_id", "w")
    assert(Sampling.weightedHashSample(edges, "doc_id", "w", unit)
      .select("doc_id").as[Long].collect().toSeq == Seq(1L))
    assertThrows[IllegalArgumentException](
      Sampling.weightedHashSample(df, "doc_id", "w", 0L))
    assertThrows[IllegalArgumentException](
      Sampling.weightedHashSample(df, "doc_id", "w", (1L << 30) + 1))
  }

  test("stratified sampling: per-stratum fractions, keep-all strata lose nothing") {
    val df = (0 until 6000).map(i =>
      (i.toLong, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "zz"))
      .toDF("doc_id", "lang")
    val out = Sampling.stratifiedSample(df, "doc_id", "lang",
        fractions = Map("en" -> 0.3, "de" -> 1.0), defaultFraction = 0.0)
      .select("doc_id", "lang").as[(Long, String)].collect()
    val byLang = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byLang.getOrElse("zz", 0) === 0, "default fraction 0 drops unlisted strata")
    assert(byLang("de") === 2000, "fraction 1.0 keeps every row, no hex-cap loss")
    assert(math.abs(byLang("en") / 2000.0 - 0.3) < 0.04)
    // the en sample is the same rows hashSample(0.3) keeps — one predicate family
    val plain = Sampling.hashSample(df.filter($"lang" === "en"), "doc_id", 0.3)
      .select("doc_id").as[Long].collect().toSet
    assert(out.filter(_._2 == "en").map(_._1).toSet === plain)
  }

  test("weighted sampling: deterministic, matches driver-side A-ES recomputation, top-k plan") {
    val df = (0 until 3000).map(i => (i.toLong, 1L + i % 100)).toDF("doc_id", "w")
    val picked = Sampling.weightedTopK(df, "doc_id", "w", 200)
    val ids = picked.select("doc_id").as[Long].collect().toSet
    assert(ids.size === 200)
    // driver-side reference: same u, same rank, k smallest
    val ref = (0 until 3000).map { i =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      val u = (java.lang.Long.parseLong(hex, 16) + 1) / 4294967296.0
      (-math.log(u) / (1L + i % 100), i.toLong)
    }.sorted.take(200).map(_._2).toSet
    assert(ids === ref)
    // re-run + repartition stable
    val again = Sampling.weightedTopK(df.repartition(7), "doc_id", "w", 200)
      .select("doc_id").as[Long].collect().toSet
    assert(again === ids)
    // heavier rows win more often: mean weight of winners > population mean
    val meanW = picked.agg(avg($"w")).as[Double].head()
    assert(meanW > 50.5 + 5, s"length bias missing: $meanW")
    // selection is a top-k, not a global sort
    val plan = picked.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("connected components supports string ids (UUID-style) without silent loss") {
    val pairs = Seq(("doc-b", "doc-c"), ("doc-a", "doc-b"), ("x", "y")).toDF("id_a", "id_b")
    val expected = Map("doc-a" -> "doc-a", "doc-b" -> "doc-a", "doc-c" -> "doc-a",
      "x" -> "x", "y" -> "x")
    assert(Dedup.connectedComponents(pairs)
      .as[(String, String)].collect().toMap == expected)
    assert(Dedup.connectedComponents(pairs, driverEdgeLimit = 0L)
      .as[(String, String)].collect().toMap == expected)
  }

  test("connected components rejects fractional id types loudly") {
    val pairs = Seq((1.0, 2.0), (2.0, 3.0)).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(pairs)
    }
    assert(e.getMessage.contains("fractional"), e.getMessage)
    val pairsF = Seq((1.0f, 2.0f)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(pairsF)
    }
  }

  test("vec_dot: a null array element nulls the product (no fabricated score)") {
    val df = Seq(
      (1L, Seq[java.lang.Double](1.0, null, 2.0)),
      (2L, Seq[java.lang.Double](1.0, 2.0, 3.0))
    ).toDF("id", "v").selectExpr("id", "cast(v as array<double>) as v")
    val out = df.select($"id",
      graft.functions.GraftExtensions.vec_dot($"v", $"v").as("d"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(1L).isEmpty)          // null element → null dot
    assert(out(2L).contains(14.0))   // 1+4+9
  }

  test("salted join equals plain join") {
    val left = (1 to 1000).map(i => (if (i % 10 == 0) 1L else i.toLong, i)).toDF("k", "v")
    val right = Seq((1L, "hot"), (2L, "a"), (3L, "b")).toDF("k2", "name")
    val plain = left.join(right, left("k") === right("k2")).select("k", "v", "name")
    val salted = SkewJoin.saltedJoin(left, right, "k", "k2", saltBuckets = 8)
      .select("k", "v", "name")
    assert(salted.count() == plain.count())
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
  }

  test("hot-key join equals plain join (inner and left, null keys ride the cold path)") {
    val left = (1 to 2000).map { i =>
      val k: java.lang.Long =
        if (i % 3 == 0) 7L else if (i % 7 == 0) null else i.toLong
      (k, i)
    }.toDF("k", "v")
    val right = (1 to 500).map(i => (i.toLong, s"r$i")).toDF("k", "name")
    for (jt <- Seq("inner", "left")) {
      val plain = left.join(right, Seq("k"), jt)
      val hot = SkewJoin.hotKeyJoin(left, right, Seq("k"), hotKeys = 4, joinType = jt)
      assert(hot.count() == plain.count(), s"count under $jt")
      assert(hot.except(plain).isEmpty && plain.except(hot).isEmpty, s"rows under $jt")
    }
    // the hot branch must actually broadcast
    val planStr = SkewJoin.hotKeyJoin(left, right, Seq("k"), hotKeys = 4)
      .queryExecution.executedPlan.toString
    assert(planStr.contains("BroadcastHashJoin"), planStr.take(500))
  }

  test("bigram LM hot-key path scores identically to the plain join") {
    val docs = (0 until 60).map { i =>
      (i.toLong, ("of the end " * (i % 5 + 1)) + s"unique$i tail$i")
    }.toDF("doc_id", "text")
    val plain = TextRank.bigramLogProb(docs, "doc_id", "text")
      .select(col("doc_id"), round(col("mean_logprob"), 9).as("p"), col("n_bigrams"))
    val hot = TextRank.bigramLogProb(docs, "doc_id", "text", hotKeys = 4)
      .select(col("doc_id"), round(col("mean_logprob"), 9).as("p"), col("n_bigrams"))
    assert(hot.except(plain).isEmpty && plain.except(hot).isEmpty)
  }

  test("rrf fusion: hand-computed nano scores, pool cut, side counts") {
    // side A ranks: d1, d2, d3; side B ranks: d2, d4 (pooled to 2)
    val a = Seq((1L, 9.0), (2L, 8.0), (3L, 7.0)).toDF("id", "score")
    val b = Seq((2L, 0.9), (4L, 0.8), (5L, 0.1)).toDF("id", "score")
    val out = Fusion.rrfFuse(Seq(a, b), "id", "score", k = 4, poolSize = 2, k0 = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val c = (r: Int) => 1000000000L / (60 + r)
    // pool=2 cuts d3 (side A) and d5 (side B)
    assert(out.toSeq == Seq(
      (2L, c(2) + c(1), 2L, 1L), // both sides
      (1L, c(1), 1L, 1L),
      (4L, c(2), 1L, 2L)))
  }

  test("rrf fusion excludes null-scored candidates from the pool and ranks") {
    // an unscored row inside an underfilled pool would receive a rank
    // and a real contribution, out-ranking genuinely scored candidates
    val a = Seq((1L, java.lang.Double.valueOf(9.0)),
      (2L, null.asInstanceOf[java.lang.Double])).toDF("id", "score")
    val b = Seq((3L, java.lang.Double.valueOf(0.5)),
      (2L, null.asInstanceOf[java.lang.Double])).toDF("id", "score")
    val out = Fusion.rrfFuse(Seq(a, b), "id", "score", k = 5, poolSize = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 1L), (3L, 1L))) // d2 never appears
  }

  test("count-min estimate verifies the sketch's stored geometry and family") {
    val docs = Seq((1L, "a b a")).toDF("doc_id", "text")
    val stream = CountMin.ngramStream(docs, "doc_id", "text", n = 1)
    val sk = CountMin.sketch(stream, "g", depth = 4, width = 1024)
    // mismatched width: the probe would miss the real cells and report
    // 0 for a hot term — must fail loudly instead
    val e = intercept[Exception](
      CountMin.estimate(sk, stream.distinct(), "g", depth = 4, width = 2048).collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("mismatched probe")), msgs(e).mkString(" | "))
    // a pre-metadata artifact (bare cells) still estimates — back-compat
    val bare = sk.select("cm_row", "cm_col", "cm_cnt")
    val est = CountMin.estimate(bare, stream.distinct(), "g", depth = 4, width = 1024)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est == Map("a" -> 2L, "b" -> 1L))
  }

  test("count-min weighted sketch equals the occurrence-stream sketch cell-for-cell") {
    // sketchWeighted over (term, count) must be byte-identical to
    // sketch over the stream those counts summarize — the equivalence
    // the text_ngram_topk shared-aggregate rewrite rests on. Both
    // families (cheap xxhash64, portable md5) and repeated terms
    // across docs are covered.
    val docs = Seq((1L, "a b a b c"), (2L, "b c c a"), (3L, "")).toDF("doc_id", "text")
    val stream = CountMin.ngramStream(docs, "doc_id", "text", n = 2)
    val counts = stream.groupBy(col("g")).agg(count(lit(1)).as("w"))
    for (fam <- Seq(XxHash64Family: HashFamily, Md5Family: HashFamily)) {
      val full = CountMin.sketch(stream, "g", depth = 4, width = 32, fam)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      val wtd = CountMin.sketchWeighted(counts, "g", "w", depth = 4, width = 32, fam)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(wtd == full, s"family ${fam.tag}")
    }
  }

  test("rrf fusion breaks score ties by id deterministically") {
    val a = Seq((10L, 5.0), (2L, 5.0), (7L, 5.0)).toDF("id", "score")
    val b = Seq((7L, 1.0), (2L, 1.0)).toDF("id", "score")
    val ranks = Fusion.rrfFuse(Seq(a, b), "id", "score", k = 5, poolSize = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // equal scores rank by ascending id within each side
    assert(ranks == Map(2L -> 1L, 7L -> 2L, 10L -> 3L))
  }

  test("contamination score counts distinct reference-gram hits per doc") {
    val corpus = Seq(
      (1L, "a b c d"),        // grams: "a b c", "b c d"
      (2L, "x y z"),          // gram: "x y z"
      (3L, "a b"),            // too short: absent from output
      (4L, "a b c a b c d")   // distinct grams incl. both ref hits
    ).toDF("doc_id", "text")
    val ref = Seq((9L, "a b c d e")).toDF("doc_id", "text") // ref grams: abc, bcd, cde
    val out = Dedup.contaminationScore(corpus, "doc_id", "text", ref, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 4 grams: "a b c","b c a","c a b","a b c"(dup),"b c d" → 4 distinct, 2 hits
    assert(out == Map(
      1L -> ((2L, 2L)),
      2L -> ((1L, 0L)),
      4L -> ((4L, 2L))))
  }

  test("count-min estimates never undercount and are exact at collision-free width") {
    val docs = Seq((1L, "a a a b b c"), (2L, "a b c d")).toDF("doc_id", "text")
    val stream = CountMin.ngramStream(docs, "doc_id", "text", n = 1)
    val exact = stream.groupBy("g").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val wide = CountMin.estimate(
      CountMin.sketch(stream, "g", depth = 3, width = 4096),
      stream.distinct(), "g", depth = 3, width = 4096)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wide == exact) // no collisions at width 4096
    val narrow = CountMin.estimate(
      CountMin.sketch(stream, "g", depth = 2, width = 2),
      stream.distinct(), "g", depth = 2, width = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (g, n) => assert(narrow(g) >= n, s"undercount for $g") }
  }

  test("ngram stream is the occurrence multiset; topK ties break by gram") {
    val docs = Seq((1L, "x y x y"), (2L, "x y z")).toDF("doc_id", "text")
    // bigram occurrences: "x y"×3, "y x"×1, "y z"×1
    val grams = CountMin.ngramStream(docs, "doc_id", "text", n = 2)
    assert(grams.as[String].collect().sorted.toSeq ==
      Seq("x y", "x y", "x y", "y x", "y z"))
    val top = grams.groupBy("g").count().orderBy(col("count").desc, col("g"))
      .limit(2).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(top.toSeq == Seq(("x y", 3L), ("y x", 1L)))
  }

  test("prefix-filtered jaccard join equals the quadratic join exactly") {
    // near-dup families + singletons + shared boilerplate tail (a hot
    // gram that must not explode the prefix join)
    val docs = ((0 until 30).map { i =>
      (i.toLong, s"alpha beta gamma delta epsilon doc$i common tail boilerplate")
    } ++ Seq(
      (100L, "alpha beta gamma delta epsilon zeta common tail boilerplate"),
      (101L, "totally different words here nothing shared at all"),
      (102L, "totally different words here nothing shared at most"))).toDF("doc_id", "text")
    for (t <- Seq(0.2, 0.5, 0.8)) {
      val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = t)
      val pref = Dedup.ngramJaccardPrefixPairs(docs, "doc_id", "text", n = 3, threshold = t)
      assert(pref.count() == exact.count(), s"count at t=$t")
      assert(pref.except(exact).isEmpty && exact.except(pref).isEmpty, s"rows at t=$t")
    }
  }

  test("count-based jaccard join equals the quadratic join exactly") {
    // Same corpus as the prefix test: near-dup families + singletons +
    // a shared boilerplate tail. The count path must be result-invisible
    // too — enumeration-as-verification, recall 1.0.
    val docs = ((0 until 30).map { i =>
      (i.toLong, s"alpha beta gamma delta epsilon doc$i common tail boilerplate")
    } ++ Seq(
      (100L, "alpha beta gamma delta epsilon zeta common tail boilerplate"),
      (101L, "totally different words here nothing shared at all"),
      (102L, "totally different words here nothing shared at most"))).toDF("doc_id", "text")
    for (t <- Seq(0.2, 0.5, 0.8)) {
      val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = t)
      val cnt = Dedup.ngramJaccardCountPairs(docs, "doc_id", "text", n = 3, threshold = t)
      assert(cnt.count() == exact.count(), s"count at t=$t")
      assert(cnt.except(exact).isEmpty && exact.except(cnt).isEmpty, s"rows at t=$t")
      // targetPairsPerSalt=1 forces the skew grid (B_g > 1 for every
      // df>1 gram: salted side + replicated side) — pairs must be
      // IDENTICAL, each meeting on exactly one salt.
      val salted = Dedup.ngramJaccardCountPairs(docs, "doc_id", "text", n = 3,
        threshold = t, targetPairsPerSalt = 1L)
      assert(salted.except(cnt).isEmpty && cnt.except(salted).isEmpty,
        s"salted grid at t=$t")
      assert(salted.count() == cnt.count(), s"salted count at t=$t")
    }
  }

  test("count-based jaccard: the shingle pipeline runs ONCE in the shuffle-join " +
      "regime (AQE reuses the gram exchange for the self-join's other side)") {
    // The self-join's two inputs are the same scan→explode→distinct→
    // size-window pipeline; at corpus scale recomputing it would double
    // the whole pre-join cost. AQE's runtime stage cache must serve the
    // second gram exchange from the first (only the FINAL adaptive plan
    // shows this — the initial plan always prints two subtrees).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val docs = (0 until 100)
        .map(i => (i.toLong, s"w$i x$i y z common tail")).toDF("doc_id", "text")
      val df = Dedup.ngramJaccardCountPairs(docs, "doc_id", "text", 3, 0.3)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.linesIterator.next().contains("isFinalPlan=true"))
      assert("(?i)reused".r.findAllIn(plan).nonEmpty,
        "expected a ReusedQueryStage/ReusedExchange for the self-join side")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("count-based jaccard: over-cap grams are excluded from the common count") {
    // Two docs share ONLY the boilerplate gram "x y" which also appears
    // in 8 other docs; with the cap below its df the pair must vanish,
    // and denominators must stay TRUE set sizes (pre-cap).
    val docs = (Seq(
      (1L, "x y p q r"), (2L, "x y s t u")) ++
      (10 until 18).map(i => (i.toLong, s"x y only$i here now"))).toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardCountPairs(docs, "doc_id", "text",
      n = 2, threshold = 0.1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((1L, 2L)))
    val capped = Dedup.ngramJaccardCountPairs(docs, "doc_id", "text",
      n = 2, threshold = 0.1, maxGramDocs = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!capped.contains((1L, 2L))) // similarity rode only the hot gram
  }

  test("planPairBudget: highest-df grams cut first, monotone, exact accounting") {
    // 100 grams at df=2 (100 pairs), 10 at df=5 (100 pairs), 1 at df=100
    // (4950 pairs); df=1 mass is free.
    val hist = Seq((1L, 1000L), (2L, 100L), (5L, 10L), (100L, 1L))
    val all = Dedup.planPairBudget(hist, Long.MaxValue)
    assert(all.cutoff >= 100L && all.droppedPairs == 0 && all.droppedGrams == 0)
    assert(all.keptPairs == BigInt(100 + 100 + 4950))
    // budget admits df=2 and df=5 levels but not the df=100 gram
    val mid = Dedup.planPairBudget(hist, 300L)
    assert(mid.cutoff == 5L)
    assert(mid.keptPairs == BigInt(200) && mid.droppedPairs == BigInt(4950))
    assert(mid.droppedGrams == 1L)
    // a level that does not fit ENTIRELY is dropped entirely (monotone),
    // and so is everything above it even if it would fit alone
    val tight = Dedup.planPairBudget(hist, 150L)
    assert(tight.cutoff == 2L && tight.keptPairs == BigInt(100))
    assert(tight.droppedPairs == BigInt(100 + 4950) && tight.droppedGrams == 11L)
    // even df=2 unaffordable → only df=1 grams survive (zero pairs) —
    // honest degradation, never a crash
    val none = Dedup.planPairBudget(hist, 50L)
    assert(none.cutoff == 1L && none.keptPairs == 0)
    // maxGramDocs composes: levels above it never admitted even in-budget
    val gd = Dedup.planPairBudget(hist, Long.MaxValue, maxGramDocs = 5)
    assert(gd.cutoff == 5L && gd.droppedPairs == BigInt(4950))
    // workloads beyond Long range must not overflow the planner
    val huge = Dedup.planPairBudget(Seq((3000000000L, 10L)), 1000L)
    assert(huge.cutoff == 1L && huge.droppedPairs > BigInt(Long.MaxValue))
  }

  test("prefix jaccard: maxPairBudget cuts highest-prefix-df grams, " +
      "result-invisible when the workload fits, surviving values exact") {
    // 12 docs share the hot tail "x y z w" (its grams carry huge
    // prefix-df); docs 20,21 share a rare pair-specific body.
    val docs = ((0 until 12).map(i => (i.toLong, s"only$i here x y z w")) ++ Seq(
      (20L, "rare shared body one two three"),
      (21L, "rare shared body one two four"))).toDF("doc_id", "text")
    val roomy = Dedup.ngramJaccardPrefixPairs(docs, "doc_id", "text",
      n = 2, threshold = 0.6, maxPairBudget = 1000000L)
    val uncapped = Dedup.ngramJaccardPrefixPairs(docs, "doc_id", "text",
      n = 2, threshold = 0.6)
    assert(roomy.except(uncapped).isEmpty && uncapped.except(roomy).isEmpty)
    // budget below the hot grams' pair mass: pairs riding ONLY hot
    // prefix grams vanish; the rare pair survives with its TRUE value
    val tight = Dedup.ngramJaccardPrefixPairs(docs, "doc_id", "text",
      n = 2, threshold = 0.6, maxPairBudget = 10L)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .as[(Long, Long, Double)].collect()
    val tightPairs = tight.map(t => (t._1, t._2)).toSet
    assert(tightPairs.contains((20L, 21L)))
    assert(!tightPairs.exists { case (a, b) => a < 12 && b < 12 })
    val j = tight.find(t => t._1 == 20L && t._2 == 21L).get._3
    assert(math.abs(j - 4.0 / 6.0) < 1e-9, s"true jaccard preserved, got $j")
  }

  test("count-based jaccard: maxPairBudget drops highest-df grams first " +
      "and is result-invisible when the workload fits") {
    // Boilerplate gram "x y" in 10 docs (45 enumeration pairs); rare
    // gram pairs cost 1 each. Docs 1,2 share ONLY boilerplate; docs
    // 20,21 share a rare tail.
    val docs = (Seq(
      (1L, "x y p q r"), (2L, "x y s t u"),
      (20L, "rare tail here one"), (21L, "rare tail here two")) ++
      (10 until 18).map(i => (i.toLong, s"x y only$i here now"))).toDF("doc_id", "text")
    val roomy = Dedup.ngramJaccardCountPairs(docs, "doc_id", "text",
      n = 2, threshold = 0.1, maxPairBudget = 1000000L)
    val uncapped = Dedup.ngramJaccardCountPairs(docs, "doc_id", "text",
      n = 2, threshold = 0.1)
    assert(roomy.except(uncapped).isEmpty && uncapped.except(roomy).isEmpty)
    // budget below the boilerplate gram's cost: the (1,2) pair (rides
    // only "x y") vanishes; the rare-tail pair (20,21) survives.
    val tight = Dedup.ngramJaccardCountPairs(docs, "doc_id", "text",
      n = 2, threshold = 0.1, maxPairBudget = 30L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!tight.contains((1L, 2L)))
    assert(tight.contains((20L, 21L)))
  }

  test("leakage-safe split keeps every near-dup component in one split") {
    val docs = (0 until 400).map(i => (i.toLong, s"doc body $i")).toDF("doc_id", "text")
    // chain components: (0,1,2), (3,4,5), ... via pair rows
    val pairs = (0 until 399 by 3).flatMap(i =>
      Seq((i.toLong, i + 1L), (i + 1L, i + 2L))).toDF("id_a", "id_b")
    val Seq(train, eval_) =
      Sampling.leakageSafeSplit(docs, "doc_id", pairs, Seq(0.8, 0.2))
    val t = train.select("doc_id").as[Long].collect().toSet
    val e = eval_.select("doc_id").as[Long].collect().toSet
    assert((t & e).isEmpty && (t ++ e).size == 400) // disjoint, exhaustive
    // no component straddles the boundary
    (0 until 399 by 3).foreach { i =>
      val comp = Set(i.toLong, i + 1L, i + 2L)
      assert(comp.subsetOf(t) || comp.subsetOf(e), s"component at $i straddles")
    }
    assert(t.size > 200 && e.size > 20) // both splits materially populated
  }

  test("keep-best-of-cluster keeps the argmax by score, ties by id, nulls last") {
    val corpus = Seq(
      (1L, Some(10L)), (2L, Some(30L)), (3L, Some(30L)), // cluster A: 2 wins tie vs 3
      (4L, None), (5L, Some(1L)),                        // cluster B: 5 wins (null last)
      (6L, Some(99L))                                    // singleton survives
    ).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val kept = Dedup.keepBestOfCluster(corpus, "doc_id", "score", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 5L, 6L))
  }

  test("frame sampling slices every k-th complete frame; short payloads vanish") {
    val p1 = (0 until 20).map(_.toByte).toArray // 2 complete 8-byte frames
    val p2 = Array[Byte](1, 2, 3)               // shorter than one frame
    val df = Seq((1L, p1), (2L, p2)).toDF("id", "payload")
    val out = Multimodal.frameSample(df, "id", "payload", frameBytes = 8, every = 1)
      .orderBy("id", "frame_idx")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getAs[Array[Byte]](3).toSeq))
    assert(out.toSeq == Seq(
      (1L, 0, 0L, (0 until 8).map(_.toByte)),
      (1L, 1, 8L, (8 until 16).map(_.toByte))))
    // maxFrames caps the per-row sample count (frames past it drop)
    val capped = Multimodal.frameSample(df, "id", "payload",
      frameBytes = 4, every = 1, maxFrames = 2)
    assert(capped.filter(col("id") === 1).count() == 2) // of 5 complete frames
  }

  test("resize plan: cap longest side, integer floor, no upscale, -1 passthrough") {
    // PNG 640×480 (scales 2:1 at maxDim 320 → 320×240); GIF 100×50
    // (under cap → unchanged); garbage (undecodable → -1)
    val png = hex("89504E470D0A1A0A 0000000D 49484452 00000280 000001E0 0806000000 00000000")
    val gif = hex("474946383961 6400 3200 F70000 AABB")
    val bad = hex("00112233445566778899")
    val df = Seq((1L, png), (2L, gif), (3L, bad)).toDF("id", "payload")
    val out = Multimodal.resizePlan(df, "id", "payload", maxDim = 320)
      .collect().map(r => r.getLong(0) -> ((r.getInt(4), r.getInt(5)))).toMap
    assert(out == Map(1L -> ((320, 240)), 2L -> ((100, 50)), 3L -> ((-1, -1))))
  }

  test("wav sniff walks chunks, honors odd-size padding, rejects malformed") {
    // canonical: RIFF/WAVE, fmt (PCM stereo 44100 16-bit), data 8 bytes → 2 frames
    val wav = hex("52494646 24000000 57415645" +
      "666D7420 10000000 0100 0200 44AC0000 10B10200 0400 1000" +
      "64617461 08000000 0011223344556677")
    assert(Multimodal.sniffWav(wav) == ("wav", 44100, 2, 16, 2L))
    // an ODD-size LIST chunk (3 bytes + pad) before fmt: the walk must
    // skip 3+1 bytes, not 3
    val padded = hex("52494646 24000000 57415645" +
      "4C495354 03000000 AABBCC 00" +
      "666D7420 10000000 0100 0100 401F0000 803E0000 0200 1000" +
      "64617461 06000000 001122334455")
    assert(Multimodal.sniffWav(padded) == ("wav", 8000, 1, 16, 3L))
    // malformed: wrong magic, truncated fmt, missing data
    assert(Multimodal.sniffWav(hex("52494646 24000000 57415646"))._1 == "unknown")
    assert(Multimodal.sniffWav(hex("52494646 24000000 57415645 666D7420 10000000 0100"))._1 == "unknown")
    assert(Multimodal.sniffWav(hex("52494646 24000000 57415645" +
      "666D7420 10000000 0100 0200 44AC0000 10B10200 0400 1000"))._1 == "unknown")
    assert(Multimodal.sniffWav(null)._1 == "unknown")
    // adversarial chunk sizes: 0xFFFFFFF8 (-8 as int — would stall the
    // walk in place) and 0x7FFFFFFF (would overflow an int cursor);
    // both must terminate with "unknown", not hang or throw
    assert(Multimodal.sniffWav(hex("52494646 24000000 57415645" +
      "4A554E4B F8FFFFFF 00112233"))._1 == "unknown")
    assert(Multimodal.sniffWav(hex("52494646 24000000 57415645" +
      "4A554E4B FFFFFF7F 00112233"))._1 == "unknown")
    // a data chunk extending past the buffer is TRUSTED (header-prefix
    // sniffing stores only the first N bytes; the image decoders trust
    // header-claimed dims the same way): 0xFF bytes / blockAlign 2
    assert(Multimodal.sniffWav(hex("52494646 24000000 57415645" +
      "666D7420 10000000 0100 0100 401F0000 803E0000 0200 1000" +
      "64617461 FF000000 0011")) == ("wav", 8000, 1, 16, 127L))
  }

  test("pcmStats: hand-computed PCM16/PCM8 stats; malformed and truncated payloads") {
    // PCM16 mono, 4 samples: +1 (0100), -1 (FFFF), +32767 (FF7F),
    // -32768 (0080) → peak 32768, energy 1+1+32767²+32768² =
    // 2147418115, clipped 2 (both rails), crossings 3 (+,-,+,-).
    val pcm16 = hex("52494646 28000000 57415645" +
      "666D7420 10000000 0100 0100 401F0000 803E0000 0200 1000" +
      "64617461 08000000 0100 FFFF FF7F 0080")
    // PCM8 mono, 3 samples: 0x80→0, 0xFF→127, 0x00→-128 → peak 128,
    // energy 0+16129+16384=32513, clipped 2, crossings 1 (0 counts
    // as non-negative, so only 127→-128 flips).
    val pcm8 = hex("52494646 23000000 57415645" +
      "666D7420 10000000 0100 0100 401F0000 401F0000 0100 0800" +
      "64617461 03000000 80FF00 00")
    // data chunk DECLARES 8 bytes but only 2 are present: stats over
    // the one sample actually readable (+1), never past the buffer.
    val truncated = hex("52494646 28000000 57415645" +
      "666D7420 10000000 0100 0100 401F0000 803E0000 0200 1000" +
      "64617461 08000000 0100")
    // float WAV (fmtTag 3) and garbage: both "unknown"
    val floatWav = hex("52494646 28000000 57415645" +
      "666D7420 10000000 0300 0100 401F0000 00FA0000 0400 2000" +
      "64617461 04000000 00000000")
    val df = Seq((1L, pcm16), (2L, pcm8), (3L, truncated),
      (4L, floatWav), (5L, hex("DEADBEEF"))).toDF("id", "payload")
    val out = Multimodal.pcmStats(df, "id", "payload")
      .collect().map(s => s.id -> s).toMap
    assert(out(1L) == Multimodal.AudioStats(1L, "wav", 4, 32768, 2147418115L, 2, 3))
    assert(out(2L) == Multimodal.AudioStats(2L, "wav", 3, 128, 32513L, 2, 1))
    assert(out(3L) == Multimodal.AudioStats(3L, "wav", 1, 1, 1L, 0, 0))
    assert(out(4L).format == "unknown" && out(4L).n_samples == -1)
    assert(out(5L).format == "unknown")
  }

  test("multimodal sniff parses golden PNG/GIF/BMP/JPEG headers") {
    // PNG 640×480: signature + IHDR with BE32 dims.
    assert(Multimodal.sniff(hex(
      "89504E470D0A1A0A 0000000D 49484452 00000280 000001E0 0806000000 00000000"))
      == ("png", 640, 480))
    // GIF89a 320×200: LE16 logical screen descriptor.
    assert(Multimodal.sniff(hex("474946383961 4001 C800 F70000 AABB"))
      == ("gif", 320, 200))
    // BMP BITMAPINFOHEADER 100×50 (LE32 signed; negative height = top-down).
    assert(Multimodal.sniff(hex(
      "424D 46000000 00000000 36000000 28000000 64000000 32000000 0100 1800"))
      == ("bmp", 100, 50))
    assert(Multimodal.sniff(hex(
      "424D 46000000 00000000 36000000 28000000 64000000 CEFFFFFF 0100 1800"))
      == ("bmp", 100, 50)) // height -50 → 50
    // JPEG 17×23 behind APP0 + a COM segment the walk must skip.
    assert(Multimodal.sniff(hex(
      "FFD8 FFE00010 4A46494600 0101 00 0001 0001 0000" +
        "FFFE0005 414243" + // COM, len 5 (3 payload bytes)
        "FFC0000B 08 0017 0011 01 011100 FFD9"))
      == ("jpeg", 17, 23))
    // Adversarial: truncated PNG, SOS before SOF, empty, null, garbage.
    assert(Multimodal.sniff(hex("89504E470D0A1A0A 0000"))._1 == "unknown")
    assert(Multimodal.sniff(hex("FFD8 FFDA0002"))._1 == "unknown")
    assert(Multimodal.sniff(Array.emptyByteArray)._1 == "unknown")
    assert(Multimodal.sniff(null)._1 == "unknown")
    assert(Multimodal.sniff("not an image at all".getBytes)._1 == "unknown")
  }

  test("multimodal decodeImageMeta is a distributed parse of the payload column") {
    val png = Array[Int](0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R', 0, 0, 0, 7, 0, 0, 0, 9,
      8, 6, 0, 0, 0, 0, 0, 0, 0).map(_.toByte)
    val df = Seq((1L, png), (2L, "junk".getBytes), (3L, null.asInstanceOf[Array[Byte]]))
      .toDF("doc_id", "payload")
    val out = Multimodal.decodeImageMeta(df, "doc_id", "payload")
      .collect().sortBy(_.id)
    assert(out(0) == Multimodal.ImageMeta(1L, png.length, "png", 7, 9))
    assert(out(1).format == "unknown" && out(1).n_bytes == 4)
    assert(out(2) == Multimodal.ImageMeta(3L, 0, "unknown", -1, -1))
  }

  test("multimodal decoders FILTER null-id rows instead of failing the job") {
    // a null id under the tuple encoder's primitive Long would throw
    // AssertNotNull and kill the whole job on one bad row — the decode
    // stance is filter-don't-fail; null payloads still decode "unknown"
    val df = Seq((java.lang.Long.valueOf(1L), "x".getBytes),
        (null.asInstanceOf[java.lang.Long], "y".getBytes))
      .toDF("doc_id", "payload")
    assert(Multimodal.decodeImageMeta(df, "doc_id", "payload").collect()
      .map(_.id).toSeq == Seq(1L))
    assert(Multimodal.decodeAudioMeta(df, "doc_id", "payload").collect()
      .map(_.id).toSeq == Seq(1L))
    assert(Multimodal.frameSampleMp4(df, "doc_id", "payload",
      fallbackFrameBytes = 1).select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("bmp: a height of Int.MinValue survives math.abs — classify unparseable") {
    // DIB height bytes 00 00 00 80 (LE) = Int.MinValue; abs() returns
    // it UNCHANGED in two's complement, so without the guard the sniff
    // would report ("bmp", 100, -2147483648) as a successful parse
    assert(Multimodal.sniff(hex(
      "424D 46000000 00000000 36000000 28000000 64000000 00000080 0100 1800"))
      == ("unknown", -1, -1))
    // zero width is equally nonsense
    assert(Multimodal.sniff(hex(
      "424D 46000000 00000000 36000000 28000000 00000000 32000000 0100 1800"))
      == ("unknown", -1, -1))
  }

  test("IVF top-k: probed-cell scores equal brute-force scores; recall reasonable") {
    val vecs = (0 until 60).map { i =>
      val v = (0 until 8).map(d => math.cos(i * 0.37 + d * 1.3).toFloat).toArray
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" < 3)
    val brute = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 59)
      .select("query_id", "neighbor_id", "cos_sim").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    val centroids = Similarity.ivfCentroids(vecs, "vec_id", "embedding", nlist = 8)
    val path = java.nio.file.Files.createTempDirectory("ivf_spec_").resolve("c").toString
    val assigned = Similarity.ivfIngest(vecs, "vec_id", "embedding", centroids, path)
    val ivf = Similarity.ivfProbe(assigned, centroids,
      queries, "vec_id", "embedding", k = 5, nprobe = 3)
      .select("query_id", "neighbor_id", "cos_sim").as[(Long, Long, Double)]
      .collect()
    assert(ivf.nonEmpty)
    ivf.foreach { case (q, n, s) => assert(math.abs(brute((q, n)) - s) < 1e-12) }
    // every query returns at most k rows, all from probed cells
    ivf.groupBy(_._1).foreach { case (_, rows) => assert(rows.length <= 5) }
  }

  test("trigram stupid backoff: every branch of the chain, hand-computed") {
    // fit corpus (one doc): tokens a b c a b d
    //   trigrams: (a,b,c) (b,c,a) (c,a,b) (a,b,d)
    //   bigrams:  ab=2, bc=1, ca=1, bd=1;  unigrams: a=2 b=2 c=1 d=1; N=6
    val fit = Seq((100L, "a b c a b d")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a b c"), // seen trigram:        ln(c3/c12) = ln(1/2)
      (2L, "c a b"), // seen trigram:        ln(1/1) = 0
      (3L, "x b c"), // backoff to bigram:   ln(c23/c2) + lnA = ln(1/2) + lnA
      (4L, "a b x"), // OOV next token:      ln(1/6) + 2 lnA (floor 1)
      (5L, "b d a"), // backoff to unigram:  (b,d,a) unseen, (d,a) unseen,
                     //                      a seen: ln(2/6) + 2 lnA
      (6L, "a b")    // < 3 tokens: absent from output
    ).toDF("doc_id", "text")
    val out = TextRank.trigramStupidBackoff(fit, docs, "doc_id", "text")
      .as[(Long, Double, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val lnA = math.log(0.4)
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-12
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(close(out(1L)._1, math.log(0.5)) && out(1L)._2 == 1L)
    assert(close(out(2L)._1, 0.0))
    assert(close(out(3L)._1, math.log(0.5) + lnA))
    assert(close(out(4L)._1, math.log(1.0 / 6) + 2 * lnA))
    assert(close(out(5L)._1, math.log(2.0 / 6) + 2 * lnA))
  }

  test("trigram backoff hot-key path scores identically to the plain joins") {
    val fit = (0 until 30).map { i =>
      (1000L + i, ("of the end " * (i % 3 + 1)) + s"fitword$i common run")
    }.toDF("doc_id", "text")
    val docs = (0 until 40).map { i =>
      (i.toLong, ("of the end " * (i % 5 + 1)) + s"unique$i tail$i")
    }.toDF("doc_id", "text")
    def shape(hk: Int) =
      TextRank.trigramStupidBackoff(fit, docs, "doc_id", "text", hotKeys = hk)
        .select(col("doc_id"), round(col("mean_logprob"), 9).as("p"), col("n_trigrams"))
    val plain = shape(0)
    val hot = shape(4)
    assert(hot.except(plain).isEmpty && plain.except(hot).isEmpty)
    assert(plain.count() == 40)
    // The hot route must broadcast the TRIGRAM count join specifically —
    // a BroadcastHashJoin keyed by all three gram columns. The uni
    // broadcasts and auto-broadcast tiny-table joins would satisfy a
    // bare contains("BroadcastHashJoin") even with routing broken, so
    // disable auto-broadcast for the plan read.
    val prevBcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val planStr = shape(4).queryExecution.executedPlan.toString
      val triBroadcast = planStr.split("\n").exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("__w1")
          && l.contains("__w2") && l.contains("__w3"))
      assert(triBroadcast,
        s"expected the hot trigram slice on a 3-key broadcast join:\n${planStr.take(1500)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBcast)
  }

  test("trigram stupid backoff never backs off when scored on its own fit") {
    val docs = Seq((1L, "a b c d"), (2L, "b c d a")).toDF("doc_id", "text")
    val out = TextRank.trigramStupidBackoff(docs, docs, "doc_id", "text")
    // every trigram is its own evidence: scores are pure ln(c3/c12),
    // all > 2*lnA + anything the backoff chain could produce here
    assert(out.count() == 2)
    assert(out.agg(min(col("mean_logprob"))).as[Double].first() > math.log(0.4))
  }

  test("labeledPartition: weighted shares, boundary ties to the lower bucket") {
    // one group, 10 rows valued 1..10, weights 2/3/5 → boundaries at
    // the 2nd and 5th values: tail={1,2}, middle={3,4,5}, head={6..10}
    val df = (1 to 10).map(i => ("g", i.toLong, i.toLong)).toDF("grp", "id", "v")
    val out = Binning.labeledPartition(df, "grp", "v", Seq("id"),
        Seq(("tail", 2), ("middle", 3), ("head", 5)))
      .select("v", "bucket").as[(Long, String)].collect().toMap
    assert((1L to 2L).forall(out(_) == "tail"))
    assert((3L to 5L).forall(out(_) == "middle"))
    assert((6L to 10L).forall(out(_) == "head"))

    // all-equal values: everything ties onto every boundary → one bucket
    val flat = (1 to 8).map(i => ("g", i.toLong, 7L)).toDF("grp", "id", "v")
    val fout = Binning.labeledPartition(flat, "grp", "v", Seq("id"),
        Seq(("lo", 1), ("hi", 1)))
      .select("bucket").as[String].collect()
    assert(fout.forall(_ == "lo"))

    // null value → null label; per-group boundaries are independent
    val mixed = Seq(("a", 1L, Some(1L)), ("a", 2L, Some(2L)),
      ("a", 3L, None), ("b", 4L, Some(100L)), ("b", 5L, Some(200L)))
      .toDF("grp", "id", "v")
    val mout = Binning.labeledPartition(mixed, "grp", "v", Seq("id"),
        Seq(("lo", 1), ("hi", 1)))
      .select("id", "bucket").as[(Long, Option[String])].collect().toMap
    assert(mout(1L).contains("lo") && mout(2L).contains("hi"))
    assert(mout(3L).isEmpty)
    assert(mout(4L).contains("lo") && mout(5L).contains("hi"))
  }

  test("recallAtK: hand-computed hits, missed queries surface as recall 0") {
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 12L), (1L, 99L), (1L, 10L))
      .toDF("query_id", "neighbor_id") // dup hit counted once; 99 is noise
    val out = Similarity.recallAtK(approx, exact, "query_id", "neighbor_id")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 3L, 2L, 0.6667)))
    assert(out(2L) == ((2L, 2L, 0L, 0.0)), "missed query must appear with recall 0")
  }

  test("compressionRatio: the codec signal orders template < prose < noise") {
    val rng = new scala.util.Random(42)
    val noise = (0 until 2000).map(_ => (rng.nextInt(26) + 'a').toChar).mkString
    val docs = Seq(
      (1L, "the cat sat on the mat " * 80),        // template: crushes
      (2L, (0 until 40).map(i => s"Sentence $i of the corpus describes " +
        s"a slightly different meadow with ${i * 7 % 13} oak trees and " +
        s"a ${if (i % 2 == 0) "narrow" else "winding"} stream.").mkString(" ")),
      (3L, noise),                                  // near-incompressible
      (4L, null.asInstanceOf[String]),
      (5L, "")
    ).toDF("doc_id", "text")
    val out = QualityModel.compressionRatio(docs, "doc_id", "text")
      .as[(Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L)._4.get < 0.1, s"template must crush: ${out(1L)}")
    assert(out(3L)._4.get > 0.5, s"noise must resist: ${out(3L)}")
    assert(out(1L)._4.get < out(2L)._4.get && out(2L)._4.get < out(3L)._4.get)
    assert(out(4L) == ((4L, 0L, 0L, None)) && out(5L) == ((5L, 0L, 0L, None)))
    // deterministic: fixed codec parameters, identical reruns
    val again = QualityModel.compressionRatio(docs, "doc_id", "text")
      .as[(Long, Long, Long, Option[Double])].collect().map(r => r._1 -> r).toMap
    assert(again == out)
  }

  test("compressionRatio rejects a non-integral id column loudly") {
    val docs = Seq(("u-1", "text")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      QualityModel.compressionRatio(docs, "doc_id", "text")
    }
    assert(e.getMessage.contains("integral"), e.getMessage)
  }

  test("assignLabels: a partially-null bounds row nulls the label") {
    // hand-merged bounds: group "a" fully fit, group "b" has __lp0 set
    // but __lp1 null — counting only the non-null boundary would
    // silently assign a LOWER bucket; the contract is a null label
    val parts = Seq(("lo", 1), ("mid", 1), ("hi", 1))
    val bounds = Seq(("a", Some(10L), Some(20L)), ("b", Some(10L), None))
      .toDF("grp", "__lp0", "__lp1")
    val df = Seq(("a", 1L, 25L), ("b", 2L, 25L), ("b", 3L, 5L))
      .toDF("grp", "id", "v")
    val out = Binning.assignLabels(df, bounds, "grp", "v", parts)
      .select("id", "bucket").as[(Long, Option[String])].collect().toMap
    assert(out(1L).contains("hi"))
    assert(out(2L).isEmpty, "partial-null bounds must null the label, not downgrade")
    assert(out(3L).isEmpty)
  }

  test("labeledPartition unpersists its cache when validation fails") {
    val df = Seq(("g", 1L, 1L)).toDF("grp", "id", "v")
    intercept[IllegalArgumentException] {
      Binning.labeledPartition(df, "grp", "v", Seq("id"),
        Seq(("dup", 1), ("dup", 1))) // duplicate labels → boundsOf requires
    }
    // the persist registers in the CacheManager immediately (no job
    // needs to run); a failed call must deregister it — no handle was
    // returned, so nothing else ever could
    assert(spark.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .isEmpty,
      "a failed call must not leave the input cache pinned")
  }

  test("trigram maxVocab caps the unigram broadcasts with the OOV floor") {
    // fit corpus: "the" dominates; "zebra" (count 2) is tail — capped
    // out of top-3 by the lexicographic tie-break vs cat/dog
    val fit = Seq((1L, "the cat the dog the cow zebra yak the cat the dog zebra"))
      .toDF("doc_id", "text")
    // score docs that force the bigram-backoff branch (c23 seen, c3 not)
    // and the unigram branch for a capped-out tail word
    val docs = Seq((10L, "cat the dog x"), (11L, "x y zebra")).toDF("doc_id", "text")
    val exact = TextRank.trigramStupidBackoff(fit, docs, "doc_id", "text")
      .as[(Long, Double, Long)].collect().map(r => r._1 -> r._2).toMap
    val capped = TextRank.trigramStupidBackoff(fit, docs, "doc_id", "text",
        maxVocab = 3) // keeps the 3 most frequent terms only
      .as[(Long, Double, Long)].collect().map(r => r._1 -> r._2).toMap
    // every score stays finite AND <= 0: stupid-backoff S is a ratio
    // of consistent counts clamped <= 1 per branch, so ln S can never
    // go positive even when a w2 denominator is capped out (the
    // greatest(floor, c23) clamp)
    assert(capped.values.forall(v => !v.isNaN && !v.isInfinite && v <= 0.0))
    assert(exact.keySet == capped.keySet)
    // doc 10 touches only in-vocab words (+ x, OOV under BOTH): identical
    assert(capped(10L) == exact(10L))
    // doc 11 backs off to zebra's unigram count — 2 uncapped, floor 1
    // capped, so the capped score is strictly more negative: the tail
    // DEGRADES, it is never dropped
    assert(capped(11L) < exact(11L))
  }

  test("signedProject: md5-parity signs, width guard, linearity") {
    // hand-check against projSign directly (inDims=2, outDims=1, norm=1)
    val s0 = VectorAgg.projSign("rp", 0, 0)
    val s1 = VectorAgg.projSign("rp", 0, 1)
    val one = Seq((1L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val out = VectorAgg.signedProject(one, "vec_id", "embedding", 2, 1)
      .select("value").as[Double].first()
    assert(math.abs(out - (s0 * 1.0 + s1 * 2.0)) < 1e-12)

    // a vector of the wrong width yields null values, never a misprojection
    val bad = Seq((1L, Seq(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
    val badOut = VectorAgg.signedProject(bad, "vec_id", "embedding", 2, 1)
      .select("value").as[Option[Double]].collect()
    assert(badOut.toSeq == Seq(None))

    // linearity on integer-valued vectors (exact in doubles)
    val a = Seq(3.0f, -1.0f, 4.0f, 1.0f)
    val b = Seq(2.0f, 7.0f, -5.0f, 3.0f)
    val ab = a.zip(b).map { case (x, y) => x + y }
    val df = Seq((1L, a), (2L, b), (3L, ab)).toDF("vec_id", "embedding")
    val proj = VectorAgg.signedProject(df, "vec_id", "embedding", 4, 2)
      .as[(Long, Int, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(proj(3L).zip(proj(1L).zip(proj(2L))).forall {
      case (sum, (x, y)) => math.abs(sum - (x + y)) < 1e-12
    })
    // and the signs are genuinely mixed across the 8 cells (not all +1)
    val signs = for (k <- 0 until 2; d <- 0 until 4) yield VectorAgg.projSign("rp", k, d)
    assert(signs.toSet == Set(1.0, -1.0))
  }

  test("substringDedup strips non-first duplicated k-token runs") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),              // first carrier of the run
      (2L, "x y a b c d e f g h i j z"),        // run duplicated mid-doc
      (3L, "p q r s t u v"),                    // 7 tokens < k: untouched
      (4L, "solo  words   with    spaces")      // normalization only
    ).toDF("doc_id", "text")
    val out = Dedup.substringDedup(docs, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1 is every window's first occurrence — fully kept
    assert(out(1L) == (("a b c d e f g h i j", 10L, 0L)))
    // doc 2 loses exactly the 10 duplicated tokens, keeps its unique rim
    assert(out(2L) == (("x y z", 13L, 10L)))
    assert(out(3L) == (("p q r s t u v", 7L, 0L)))
    assert(out(4L) == (("solo words with spaces", 4L, 0L)))
  }

  test("substringDedup removes within-doc repetition and excludes null text") {
    val docs = Seq(
      (1L, Some("m n o p q r s t m n o p q r s t")), // 8-token run twice
      (2L, None),
      (3L, Some(""))
    ).toDF("doc_id", "text")
    val out = Dedup.substringDedup(docs, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // the second copy of the run is covered by its duplicated window
    assert(out(1L) == (("m n o p q r s t", 16L, 8L)))
    assert(!out.contains(2L)) // null text excluded (the exact() rule)
    assert(out(3L) == (("", 0L, 0L)))
  }

  test("substringDedupIncremental == batch when corpus ids order first") {
    val corpus = Seq(
      (1L, "common licence header tokens one two three four tail alpha"),
      (2L, "unrelated corpus prose with its own words entirely")
    ).toDF("doc_id", "text")
    val shard = Seq(
      (10L, "front matter common licence header tokens one two three four tail rest"),
      (11L, "fresh shard run only here five six seven eight nine ten"),
      (12L, "fresh shard run only here five six seven eight nine ten") // dup of 11 within shard
    ).toDF("doc_id", "text")
    val art = Dedup.substringArtifact(corpus, "doc_id", "text", k = 6)
      .persist()
    val inc = Dedup.substringDedupIncremental(shard, "doc_id", "text", art, k = 6)
      .orderBy("id").collect().toSeq
    // batch over corpus-then-shard, restricted to shard ids
    val batch = Dedup.substringDedup(corpus.unionByName(shard),
        "doc_id", "text", k = 6)
      .filter(col("id") >= 10L).orderBy("id").collect().toSeq
    art.unpersist()
    assert(inc == batch)
    val m = inc.map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3)))).toMap
    // corpus-carried run stripped from doc 10, unique rim kept
    assert(m(10L)._1.startsWith("front matter") && m(10L)._2 > 0)
    // within-shard keep-first: 11 keeps, 12 loses everything
    assert(m(11L)._2 == 0L && m(12L)._1 == "")
    // parameter mismatch fails loudly, never silently matches nothing
    intercept[IllegalArgumentException] {
      Dedup.substringDedupIncremental(shard, "doc_id", "text",
        Dedup.substringArtifact(corpus, "doc_id", "text", k = 6), k = 7)
    }
  }

  test("substringDedup is hash-family invariant on collision-free corpora") {
    val docs = Seq(
      (1L, "one two three four five six seven eight nine"),
      (2L, "zero one two three four five six seven eight nine ten"),
      (3L, "ten nine eight seven six five four three two one")
    ).toDF("doc_id", "text")
    val a = Dedup.substringDedup(docs, "doc_id", "text", k = 4)
      .orderBy("id").collect().toSeq
    val b = Dedup.substringDedup(docs, "doc_id", "text", k = 4,
      family = Md5Family)
      .orderBy("id").collect().toSeq
    assert(a == b)
    // and the duplicated interior run really moved: doc 2 keeps only its
    // unique rim around doc 1's span, doc 3 (reversed) is untouched
    val m = a.map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) == "one two three four five six seven eight nine")
    assert(m(2L) == "zero ten")
    assert(m(3L) == "ten nine eight seven six five four three two one")
  }

  test("substringDedup at the published k=50 over long documents") {
    // Lee et al. (2022) run exact-substring dedup at 50-token windows;
    // the gate uses a small k for oracle tractability, so the window
    // math (p .. p+k-1 coverage), the per-doc marked-position list at
    // its largest realistic size, and the k-boundary edges are pinned
    // HERE at the published parameterization.
    def w(prefix: String, n: Int): Seq[String] =
      (0 until n).map(i => s"$prefix$i")
    val run = w("r", 120)     // the shared 120-token run (> 2k)
    val selfRun = w("s", 120) // docD's OWN run (disjoint from `run`)
    val runHead49 = run.take(49) // one token short of a window
    val docA = w("a", 30) ++ run ++ w("z", 30)         // first carrier
    val docB = w("b", 40) ++ run ++ w("y", 40)         // full run dup
    val docC = w("c", 25) ++ runHead49 ++ w("x", 25)   // sub-window overlap
    val docD = selfRun ++ selfRun ++ selfRun           // 3 copies in ONE doc
    val docs = Seq(
      (1L, docA.mkString(" ")), (2L, docB.mkString(" ")),
      (3L, docC.mkString(" ")), (4L, docD.mkString(" "))
    ).toDF("doc_id", "text")
    val out = Dedup.substringDedup(docs, "doc_id", "text", k = 50)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1 holds every run window's first occurrence — fully kept
    assert(out(1L) == ((docA.mkString(" "), 180L, 0L)))
    // doc 2: duplicated windows start at positions 40..110 (71 marks);
    // their union covers exactly the 120 run tokens — both rims survive
    assert(out(2L) == (((w("b", 40) ++ w("y", 40)).mkString(" "), 200L, 120L)))
    // doc 3: 49 shared tokens never form a 50-window — untouched
    assert(out(3L) == ((docC.mkString(" "), 99L, 0L)))
    // doc 4: its own run is period-120 cyclic, so window p equals
    // window p' iff p ≡ p' (mod 120); first occurrences are p=0..119,
    // every p in 120..310 is marked (191 marks — the largest per-doc
    // marked-position list in the suite) → tokens 120..359 covered →
    // exactly the first copy survives.
    assert(out(4L) == ((selfRun.mkString(" "), 360L, 240L)))
  }
}
