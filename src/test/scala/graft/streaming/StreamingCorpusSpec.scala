package graft.streaming

import graft.SparkSpec
import graft.ops.{CorpusPrep, Redact}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The corpus-prep FILTER surface under Structured Streaming: language
  * guess, quality bounds, and PII redaction are stateless row-local
  * expressions, so the same Columns drive a streaming ingest unchanged.
  * Each case runs batch ops on a `MemoryStream` and compares the
  * streamed result with the batch run.
  */
class StreamingCorpusSpec extends SparkSpec {
  import spark.implicits._

  test("streaming language+quality filter + redaction equals the batch run") {
    val rows = Seq(
      (1L, "the quick fox and the dog run of a hill"),
      (2L, "der hund und die katze das haus"),
      (3L, "the mail and of a bob@x.co ok"),
      (4L, "the a of and")) // stuffed: ratio 1.0
    val t = col("text")
    def shape(df: org.apache.spark.sql.DataFrame) = {
      val toks = split(trim(t), "\\s+")
      val nTok = size(toks)
      val stopRatio = size(filter(toks,
        x => x.isin(CorpusPrep.enMarkers: _*))).cast("double") / nTok
      df.filter(CorpusPrep.langGuess(t) === "en")
        .filter(nTok >= 5 && stopRatio <= 0.6)
        .select(col("id"), Redact.redact(t).as("clean"))
    }

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    mem.addData(rows: _*)
    val q = shape(mem.toDF().toDF("id", "text"))
      .writeStream.format("memory").queryName("corpus_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("corpus_stream")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val batch = shape(rows.toDF("id", "text"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(streamed == batch)
    assert(streamed.map(_._1) == Seq(1L, 3L))
    assert(streamed(1)._2 == "the mail and of a <EMAIL> ok")
  }

  test("streaming corpus mixing equals the batch mix (stateless epoch fan-out)") {
    val rows = (1 to 60).map(i => (i.toLong, s"src${i % 3}"))
    def shape(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Mixture.mixCorpora(df, "id", "source",
        Map("src0" -> 2.5, "src1" -> 1.0), defaultWeight = 0.5)

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    mem.addData(rows: _*)
    val q = shape(mem.toDF().toDF("id", "source"))
      .writeStream.format("memory").queryName("mix_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("mix_stream")
      .as[(Long, String, Long)].collect().toSeq.sorted
    val batch = shape(rows.toDF("id", "source"))
      .as[(Long, String, Long)].collect().toSeq.sorted
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stream-static enrichment: a broadcast dimension joins each micro-batch") {
    // The standard streaming-ingest enrichment shape: the static side
    // re-resolves per micro-batch, broadcast — no stream state at all.
    val dim = Seq(("src0", "web"), ("src1", "books")).toDF("src", "domain")
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.join(broadcast(dim), Seq("src"), "left")
        .select(col("id"), coalesce(col("domain"), lit("unknown")).as("domain"))

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val rows = Seq((1L, "src0"), (2L, "src1"), (3L, "srcX"))
    mem.addData(rows: _*)
    val q = shape(mem.toDF().toDF("id", "src"))
      .writeStream.format("memory").queryName("enrich_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("enrich_stream")
      .as[(Long, String)].collect().toSeq.sorted
    assert(streamed == Seq((1L, "web"), (2L, "books"), (3L, "unknown")))
    assert(streamed == shape(rows.toDF("id", "src"))
      .as[(Long, String)].collect().toSeq.sorted)
  }

  test("streaming incremental dedup: each micro-batch dedupes against the corpus so far") {
    // The continuous-crawl deploy shape: foreachBatch runs
    // Dedup.incremental(shard=micro-batch, corpus=everything kept so
    // far) and appends only the survivors — within-batch first-wins,
    // cross-batch and cross-seed exact collisions dropped.
    val dir = java.nio.file.Files.createTempDirectory("graft_incr").toString
    val corpusPath = s"$dir/corpus"
    Seq((100L, "seed text")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(corpusPath)

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val corpus = spark.read.parquet(corpusPath)
        val keep = graft.ops.Dedup.incremental(batch, corpus, "doc_id", "text")
        batch.join(keep.select("doc_id"), "doc_id")
          .write.mode("append").parquet(corpusPath)
        ()
      }
      .start()
    mem.addData((1L, "new a"), (2L, "new a"), (3L, "seed text"))
    q.processAllAvailable() // batch 1: 2 dups of 1, 3 collides with seed
    mem.addData((4L, "new a"), (5L, "fresh"))
    q.processAllAvailable() // batch 2: 4 collides with batch-1 survivor
    q.stop()

    val corpus = spark.read.parquet(corpusPath)
      .as[(Long, String)].collect().toSeq.sorted
    assert(corpus == Seq((1L, "new a"), (5L, "fresh"), (100L, "seed text")))
  }

  test("streaming Gopher + C4 filters equal the batch run (stateless rule batteries)") {
    val gt = graft.ops.GopherRules.Thresholds(minWords = 3, maxWords = 50, minStopwords = 1)
    val rows = Seq(
      (1L, "The cat sat here quietly.\nAnd the dog kept watch all night."),
      (2L, "the cat sat"),                   // C4: no 2 surviving lines
      (3L, "word soup junk noise"),          // Gopher: no stopword
      (4L, "Enable javascript to continue.\nAnd the cookie banner stays on top."))
    def shape(df: org.apache.spark.sql.DataFrame) = {
      val g = graft.ops.GopherRules.filterQuality(df, "text", gt)
      graft.ops.C4Rules.clean(g, "text",
        graft.ops.C4Rules.Rules(minKeptLines = 2))
    }

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    mem.addData(rows: _*)
    val q = shape(mem.toDF().toDF("id", "text"))
      .writeStream.format("memory").queryName("rules_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("rules_stream")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val batch = shape(rows.toDF("id", "text"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(streamed == batch)
    assert(streamed.map(_._1) == Seq(1L))
    assert(streamed.head._2 ==
      "The cat sat here quietly.\nAnd the dog kept watch all night.")
  }

  test("streaming in-doc line dedup + URL quality filter equal the batch run (row-local)") {
    val cfg = graft.ops.Urls.UrlQualityConfig(maxPathDepth = 2)
    val rows = Seq(
      (1L, "https://a.com/x", "keep\nshare\nkeep\nbody"),
      (2L, "https://a.com/x/y/z", "too deep"),          // depth 3 → dropped
      (3L, "https://casino7.com/x", "blocked word"),    // host carries it
      (4L, "https://b.org/y", "only\nonly\nonly"))
    def shape(df: org.apache.spark.sql.DataFrame) = {
      val scored = graft.ops.Urls.urlQualitySignals(df, "url", cfg)
        .filter(col("url_keep"))
      graft.ops.Dedup.dedupLinesWithinDoc(scored, "text")
        .select(col("id"), col("text"))
    }

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    mem.addData(rows: _*)
    val q = shape(mem.toDF().toDF("id", "url", "text"))
      .writeStream.format("memory").queryName("webintake_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("webintake_stream")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val batch = shape(rows.toDF("id", "url", "text"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(streamed == batch)
    assert(streamed == Seq(
      1L -> "keep\nshare\nbody",
      4L -> "only"))
  }

  test("streaming contamination score: micro-batches score against a static benchmark") {
    // the continuous-ingest decontamination shape: the reference (eval
    // benchmark) set is STATIC, the corpus streams; the gram join is a
    // stream-static join and the per-doc count is a streaming agg
    val ref = Seq((9L, "a b c d e")).toDF("doc_id", "text")
    val batch1 = Seq((1L, "a b c d"), (2L, "x y z"))
    val batch2 = Seq((4L, "a b c a b c d"))
    def shape(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Dedup.contaminationScore(df, "doc_id", "text", ref, "doc_id", "text", n = 3)

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = shape(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("contam_stream")
      .outputMode("complete").start()
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("contam_stream")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val batch = shape((batch1 ++ batch2).toDF("doc_id", "text"))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(streamed == batch)
    assert(streamed == Seq((1L, 2L, 2L), (2L, 1L, 0L), (4L, 4L, 2L)))
  }

  test("streaming count-min sketch accumulates across micro-batches to the batch sketch") {
    // the CMS cell grid is the canonical BOUNDED streaming state:
    // ≤ depth×width cells however many distinct terms flow through —
    // complete-mode aggregation never grows past the grid
    val batch1 = Seq((1L, "a b a"), (2L, "b c"))
    val batch2 = Seq((3L, "a d d"))
    def shape(df: org.apache.spark.sql.DataFrame) =
      graft.ops.CountMin.sketch(
        graft.ops.CountMin.ngramStream(df, "id", "text", n = 1),
        "g", depth = 2, width = 16)

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = shape(mem.toDF().toDF("id", "text"))
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete").start()
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()

    // project the cell columns: the artifact also carries its build
    // metadata (cm_depth/cm_width/cm_family) since the probe-mismatch
    // guard landed
    val streamed = spark.table("cms_stream")
      .select("cm_row", "cm_col", "cm_cnt")
      .as[(Int, Long, Long)].collect().sorted.toSeq
    val batch = shape((batch1 ++ batch2).toDF("id", "text"))
      .select("cm_row", "cm_col", "cm_cnt")
      .as[(Int, Long, Long)].collect().sorted.toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming compression ratio equals the batch codec signal") {
    // mapPartitions with a per-partition Deflater is stateless row
    // compute — legal on a stream and bit-identical to the batch run
    val rows = Seq((1L, "aaa " * 200), (2L, "mixed entropy text right here"),
      (3L, null.asInstanceOf[String]), (4L, ""))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = graft.ops.QualityModel.compressionRatio(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("deflate_stream")
      .outputMode("append").start()
    mem.addData(rows.take(2): _*)
    q.processAllAvailable()
    mem.addData(rows.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Option[Double])].collect().sortBy(_._1).toSeq
    val streamed = canon(spark.table("deflate_stream"))
    val batch = canon(graft.ops.QualityModel.compressionRatio(
      rows.toDF("doc_id", "text"), "doc_id", "text"))
    assert(streamed == batch && streamed.size == 4)
  }

  test("streaming CCNet labeling: boundaries fit offline label a stream " +
      "identically to the batch assignment") {
    // the CCNet deployment shape: head/middle/tail cuts are fit once on
    // a reference corpus, then fresh documents are labeled ON INGEST via
    // the stateless assignLabels (stream-static broadcast join +
    // row-local expression). The cuts are the 25%/50% discrete
    // percentiles of en = 1..12 and de = 10, 20, …, 60.
    val parts = Seq(("tail", 1), ("middle", 1), ("head", 2))
    val bounds = Seq(("en", 3.0, 6.0), ("de", 20.0, 30.0))
      .toDF("lang", "__lp0", "__lp1")

    val fresh = Seq(
      ("en", 201L, 2.0),   // <= q1=3 → tail
      ("en", 202L, 6.0),   // <= q2=6 → middle
      ("en", 203L, 6.5),   // > q2 → head
      ("de", 204L, 25.0),  // de cuts are 20/30 → middle
      ("fr", 205L, 1.0),   // group absent from bounds → null label
      ("en", 206L, 100.0)) // far past every cut → head
    def shape(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Binning.assignLabels(df, bounds, "lang", "lm", parts)

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Double)]
    val q = shape(mem.toDF().toDF("lang", "doc_id", "lm"))
      .writeStream.format("memory").queryName("ccnet_stream")
      .outputMode("append").start()
    mem.addData(fresh.take(3): _*)
    q.processAllAvailable()
    mem.addData(fresh.drop(3): _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("ccnet_stream")
      .select("doc_id", "bucket").as[(Long, Option[String])]
      .collect().sortBy(_._1).toSeq
    val batch = shape(fresh.toDF("lang", "doc_id", "lm"))
      .select("doc_id", "bucket").as[(Long, Option[String])]
      .collect().sortBy(_._1).toSeq
    assert(streamed == batch)
    assert(streamed == Seq(
      201L -> Some("tail"), 202L -> Some("middle"), 203L -> Some("head"),
      204L -> Some("middle"), 205L -> None, 206L -> Some("head")))
  }

  test("streaming rank-weighted intake against the offline PageRank artifact " +
      "equals batch") {
    // The intake tail of pipeline_rank_sample as a stream: centrality
    // is fit OFFLINE (batch PageRank over the static link graph,
    // exactly once), then the document stream joins it (stream-static
    // broadcast) and keeps rank-proportionally via the stateless
    // integer cross-multiplication draw. Completes the crawl-intake streaming
    // story: extract → rank artifact → rank-weighted keep.
    val edges = Seq(
      ("a.com", "b.com"), ("c.com", "b.com"),
      ("a.com", "c.com"), ("d.com", "a.com")).toDF("src", "dst")
    val rank = graft.ops.LinkGraph.pageRankInt(edges, iters = 2)
      .withColumnRenamed("id", "domain").cache()
    val docs = (0 until 40).map { i =>
      val dom = Seq("a.com", "b.com", "c.com", "d.com")(i % 4)
      (i.toLong, s"http://www.$dom/p/$i")
    }
    def shape(df: org.apache.spark.sql.DataFrame) = {
      val withDom = df.select(col("doc_id"),
        graft.ops.Urls.registrableDomainOfUrl(col("url")).as("domain"))
      graft.ops.Sampling.weightedHashSample(
          withDom.join(broadcast(rank), Seq("domain")),
          "doc_id", "rank", unit = 2000000L)
        .select(col("doc_id"), col("domain"), col("rank"))
    }

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = shape(mem.toDF().toDF("doc_id", "url"))
      .writeStream.format("memory").queryName("rank_intake_stream")
      .outputMode("append").start()
    mem.addData(docs.take(17): _*)
    q.processAllAvailable()
    mem.addData(docs.drop(17): _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("rank_intake_stream")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    val batch = shape(docs.toDF("doc_id", "url"))
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty, "the rank-weighted draw must keep documents")
    // the keep is rank-PROPORTIONAL: every surviving doc carries its
    // domain's artifact rank, and high-rank b.com docs survive
    assert(streamed.exists(_._2 == "b.com"))
  }

  test("streaming crawl-to-training-corpus capstone equals the batch gate " +
      "(incremental minhash + substring artifacts, continuous-crawl shape)") {
    // The pipeline_pretrain_corpus stage composition as a Structured
    // Streaming flow: a static corpus is ingested offline (building the
    // minhash + substring artifacts), then micro-batch shards arrive and
    // each runs intake → Gopher quality → near-dup removal
    // (incrementalNearDupMatches vs the artifact PLUS in-shard
    // minhashLshPairs keep-min-id) → substringDedupIncremental vs the
    // gram artifact → manifest append; packing runs once at publish
    // time. The final frame must equal PipelineOps.pretrainFromSeeded
    // over the union — THE SAME code the batch gate query runs.
    //
    // Equivalence preconditions (each the documented contract of the
    // incremental op it exercises): ids strictly increase across
    // batches (corpus < shard1 < shard2), the minhash artifact
    // accumulates ALL quality survivors — batch kills every id_b of
    // every pair over the PRE-dedup frame, so a killed doc still kills
    // later arrivals — while the substring artifact accumulates only
    // dedup SURVIVORS (batch substring runs on `kept`).
    import graft.queries.PipelineOps
    import graft.ops.Dedup
    val dir = java.nio.file.Files.createTempDirectory("graft_capstone").toString
    val mArtP = s"$dir/minhash_artifact"
    val sArtP = s"$dir/substring_artifact"
    val manP = s"$dir/manifest"

    // every stage gets real prey in the STREAM phase: 12≈2 (vs-artifact
    // near-dup), 14≈13 (in-shard near-dup), 21≈11 (vs-UPDATED-artifact,
    // across micro-batches), 22 embeds corpus doc 3's 8-token window W
    // (vs-artifact substring), 24 embeds 23's first 8 tokens (in-shard
    // substring), 4 and 15 die in quality
    val W = "winter spring summer autumn harvest sowing plowing resting"
    val A = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"
    val B = "red orange yellow green blue indigo violet crimson amber teal navy coral olive maroon silver gold"
    val D = "apple banana cherry damson elder fig grape honeydew kiwi lemon mango nectar papaya quince raspberry tangerine"
    val E = "wolf bear lynx otter badger marten stoat weasel ferret mink fisher sable ermine polecat raccoon coati"
    val G = "piano violin cello flute oboe clarinet bassoon trumpet trombone tuba horn harp drum organ lute zither"
    val corpus = Seq((1L, A), (2L, B),
      (3L, "one two three four five six seven eight " + W),
      (4L, "too short"))
    val shard1 = Seq((11L, D), (12L, B + " extra tail"), (13L, E),
      (14L, E + " extra tail"), (15L, "tiny doc"))
    val shard2 = Seq((21L, D + " extra tail"),
      (22L, "north south east west upward downward forward backward " + W),
      (23L, G),
      (24L, "circle square triangle pentagon hexagon heptagon octagon nonagon " +
        "piano violin cello flute oboe clarinet bassoon trumpet"))

    def minhashKills(q: org.apache.spark.sql.DataFrame) =
      Dedup.minhashLshPairs(q, "doc_id", "clean",
          n = PipelineOps.pretrainShingleN,
          numHashes = PipelineOps.pretrainNumHashes,
          bands = PipelineOps.pretrainBands,
          threshold = PipelineOps.pretrainThreshold,
          family = PipelineOps.pretrainMinhashFamily)
        .select(col("id_b").as("doc_id")).distinct()

    // ---- offline corpus phase (batch, once): quality → in-corpus
    // dedup → artifacts + manifest seed
    val qC = PipelineOps.pretrainQuality(corpus.toDF("doc_id", "text"))
    val keptC = qC.join(minhashKills(qC), Seq("doc_id"), "left_anti")
    val subC = Dedup.substringDedup(keptC, "doc_id", "clean",
      k = PipelineOps.pretrainK, family = PipelineOps.pretrainSubstringFamily)
    PipelineOps.pretrainManifest(subC).write.mode("overwrite").parquet(manP)
    Dedup.minhashArtifact(qC, "doc_id", "clean",
        n = PipelineOps.pretrainShingleN,
        numHashes = PipelineOps.pretrainNumHashes,
        bands = PipelineOps.pretrainBands,
        family = PipelineOps.pretrainMinhashFamily)
      .write.mode("overwrite").parquet(mArtP)
    Dedup.substringArtifact(keptC, "doc_id", "clean",
        k = PipelineOps.pretrainK, family = PipelineOps.pretrainSubstringFamily)
      .write.mode("overwrite").parquet(sArtP)

    // ---- the stream: each micro-batch dedupes against everything
    // ingested so far via the artifacts, never rescanning corpus text
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val qS = PipelineOps.pretrainQuality(batch)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val mArt = spark.read.parquet(mArtP)
        val crossKill = Dedup.incrementalNearDupMatches(qS, "doc_id", "clean",
            mArt, n = PipelineOps.pretrainShingleN,
            numHashes = PipelineOps.pretrainNumHashes,
            bands = PipelineOps.pretrainBands,
            threshold = PipelineOps.pretrainThreshold,
            family = PipelineOps.pretrainMinhashFamily)
          .select(col("shard_id").as("doc_id")).distinct()
        val keptS = qS
          .join(crossKill.unionByName(minhashKills(qS)).distinct(),
            Seq("doc_id"), "left_anti")
        // artifact updates FIRST, so the next batch sees this one
        Dedup.minhashArtifact(qS, "doc_id", "clean",
            n = PipelineOps.pretrainShingleN,
            numHashes = PipelineOps.pretrainNumHashes,
            bands = PipelineOps.pretrainBands,
            family = PipelineOps.pretrainMinhashFamily)
          .write.mode("append").parquet(mArtP)
        val sArt = spark.read.parquet(sArtP)
        val subS = Dedup.substringDedupIncremental(keptS, "doc_id", "clean",
          sArt, k = PipelineOps.pretrainK,
          family = PipelineOps.pretrainSubstringFamily)
        Dedup.substringArtifact(keptS, "doc_id", "clean",
            k = PipelineOps.pretrainK,
            family = PipelineOps.pretrainSubstringFamily)
          .write.mode("append").parquet(sArtP)
        PipelineOps.pretrainManifest(subS).write.mode("append").parquet(manP)
        qS.unpersist()
        ()
      }
      .start()
    mem.addData(shard1: _*)
    q.processAllAvailable()
    mem.addData(shard2: _*)
    q.processAllAvailable()
    q.stop()

    // ---- publish-time packing over the accumulated manifest vs the
    // batch gate stages over the union, via the SAME shared code
    val streamed = PipelineOps.pretrainPack(spark.read.parquet(manP))
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    val batch = PipelineOps.pretrainFromSeeded(
        (corpus ++ shard1 ++ shard2).toDF("doc_id", "text"))
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(streamed == batch)
    // survivor set pinned: 4/15 quality-dropped; 12 killed vs artifact;
    // 14 killed in-shard; 21 killed vs the shard-1-UPDATED artifact
    assert(streamed.map(_._1) == Seq(1L, 2L, 3L, 11L, 13L, 22L, 23L, 24L))
    val byId = streamed.map(r => r._1 -> r._4).toMap
    // substring strips observable in n_toks: 22 lost corpus doc 3's
    // window W, 24 lost doc 23's first 8 tokens; 23 untouched
    assert(byId(22L) < 18L && byId(23L) >= 16L && byId(24L) < 18L)
  }

  test("streaming crawl intake equals the batch pipeline (WARC -> HTTP -> HTML -> mojibake)") {
    import java.nio.charset.{Charset, StandardCharsets}
    import graft.ops.{Html, Mojibake, Warc}
    val cp1252 = Charset.forName("windows-1252")
    def moji(s: String) = new String(s.getBytes(StandardCharsets.UTF_8), cp1252)
    def respRec(uri: String, html: String): Array[Byte] = {
      val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html)
        .getBytes(StandardCharsets.UTF_8)
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
        s"Content-Type: application/http\r\nContent-Length: ${http.length}\r\n\r\n")
        .getBytes(StandardCharsets.UTF_8) ++ http ++
        "\r\n\r\n".getBytes(StandardCharsets.UTF_8)
    }
    // shard 1: one clean page; shard 2: two records, one mojibake'd
    val rows = Seq(
      (1L, respRec("http://s/1", "<p>clean page</p>")),
      (2L, respRec("http://s/2", s"<p>${moji("café papers")}</p>") ++
        respRec("http://s/3", "<script>x<1</script><p>second</p>")))

    def shape(df: org.apache.spark.sql.DataFrame) =
      Warc.httpResponses(df, "id", "blob").toDF()
        .filter(col("http_status") === 200)
        .select(col("target_uri"), Mojibake.fixMojibake(
          Html.extractText(col("body").cast("string"))).as("clean"))

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Byte])]
    mem.addData(rows.head)
    val q = shape(mem.toDF().toDF("id", "blob"))
      .writeStream.format("memory").queryName("warc_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    mem.addData(rows(1))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("warc_stream")
      .as[(String, String)].collect().sortBy(_._1).toSeq
    val batch = shape(rows.toDF("id", "blob"))
      .as[(String, String)].collect().sortBy(_._1).toSeq
    assert(streamed == batch)
    assert(streamed == Seq(
      ("http://s/1", "clean page"),
      ("http://s/2", "café papers"),
      ("http://s/3", "second")))
  }
}
