package graft.queries

import graft.SparkSpec
import graft.ops.{Sampling, SignLsh, Similarity}
import org.apache.spark.sql.functions._

/** Plan-shape assertions for the round-2 operators — CI-checked, not
  * hoped for (same stance as PlanSpec).
  */
class NewPlanSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(n: Int) = (0 until n).map { i =>
    (i.toLong, (0 until 8).map(d => math.sin(i * 0.3 + d).toFloat).toArray)
  }.toDF("vec_id", "embedding")

  // AQE wraps plans until stages materialize; these shape assertions
  // read the statically-compiled plan (PlanSpec precedent).
  private def withoutAqe[A](body: => A): A = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("embedding near-dup LSH: banding and candidate dedup move ids, never vectors") {
    withoutAqe {
      val lsh = Similarity.embeddingNearDupBucketedArray(vecs(300), "vec_id", "embedding",
        0.9, SignLsh.array(dim = 8, bits = 8, tables = 4))
      val plan = lsh.queryExecution.executedPlan
      val physical = plan.toString
      // no aggregate may buffer array payloads (a first()/min()-over-
      // arrays SortAggregate means vectors are riding a shuffle)
      assert(!physical.contains("SortAggregate"), physical)
      assert(!physical.contains("first(__v"),
        s"vector payloads must not pass through the dedup shuffle:\n$physical")
      // every exchange before the final scoring joins carries only the
      // narrow banding/pair columns — the vector column appears in NO
      // hash-partitioned exchange on the bucket keys
      val badExchange = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.toString.contains("__bk") &&
              e.output.exists(_.name.startsWith("__v")) => e
      }
      assert(badExchange.isEmpty,
        s"vectors must not ride the (table, bucket) exchange:\n$physical")
    }
  }

  test("hash sampling is a pure pushable filter (no shuffle, no UDF)") {
    val df = vecs(100).select(col("vec_id").as("doc_id"))
    val plan = Sampling.hashSample(df, "doc_id", 0.5).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sampling must not shuffle:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("SQLUDF"))
  }

  test("corpus mixing never shuffles the corpus (weights broadcast, explode + filter)") {
    val docs = (1 to 50).map(i => (i.toLong, s"src${i % 3}")).toDF("doc_id", "source")
    val plan = graft.ops.Mixture.mixCorpora(docs, "doc_id", "source",
      Map("src0" -> 2.5, "src1" -> 0.4), defaultWeight = 0.2)
      .queryExecution.executedPlan.toString
    // The weights table rides ONE BroadcastExchange (driver-sized by
    // contract); the corpus itself must never hit a shuffle exchange.
    assert(!plan.contains("ShuffleExchange") && !plan.contains("hashpartitioning") &&
      !plan.contains("rangepartitioning"), s"mixing must not shuffle the corpus:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan) // the weights lookup
    assert(plan.contains("Generate"), plan) // the epoch fan-out
    assert(!plan.contains("BatchEvalPython") && !plan.contains("SQLUDF"))
  }

  test("global index plan: one range exchange, no single-partition window") {
    withoutAqe {
      val df = (1 to 500).map(i => (i * 37 % 500, i.toLong)).toDF("k", "v")
      val out = graft.ops.GlobalIndex.withGlobalIndex(
        df, Seq(col("k"), col("v")), "idx", partitions = Some(4))
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("rangepartitioning"), plan)
      assert(!plan.contains("Window"),
        s"global index must not fall back to a global window:\n$plan")
      assert(!plan.contains("SinglePartition"),
        s"no stage may collapse to one partition:\n$plan")
    }
  }

  test("bigram LM plan: scoring join streams doc-collapsed counts, vocab broadcasts") {
    withoutAqe {
      val docs = (0 until 50).map(i => (i.toLong, s"the quick fox $i jumps")).toDF("id", "text")
      val plan = graft.ops.TextRank.bigramLogProb(docs, "id", "text")
        .queryExecution.executedPlan.toString
      // The gram scoring join must consume the per-doc aggregate — a
      // HashAggregate keyed by (id, gram) — not raw occurrence rows:
      // that collapse is what bounds a hot stopword transition at
      // 100 TB (the residual join skew is NOT AQE-coverable — see the
      // VolumeStressSpec proof — and routes through hotKeys instead).
      // Since r11 the gram key is the row-local "w1 w2" text (__g);
      // the pre-r11 spelling was the (__w1, __w2) column pair.
      val aggKeyed = plan.split("\n").exists(l =>
        l.contains("HashAggregate") && l.contains("keys=") && l.contains("id")
          && (l.contains("__g") || (l.contains("__w1") && l.contains("__w2"))))
      assert(aggKeyed, s"expected a (id, gram)-keyed aggregate below the join:\n$plan")
      // unigram vocabulary rides a broadcast, never the big shuffle
      assert(plan.contains("BroadcastHashJoin"), plan)
    }
  }

  test("trigram backoff plan: doc-collapsed counts feed the joins; unigrams broadcast") {
    withoutAqe {
      val fit = (0 until 30).map(i => (100L + i, s"the quick fox $i jumps")).toDF("id", "text")
      val docs = (0 until 50).map(i => (i.toLong, s"the quick fox $i runs")).toDF("id", "text")
      val plan = graft.ops.TextRank.trigramStupidBackoff(fit, docs, "id", "text")
        .queryExecution.executedPlan.toString
      // same collapse discipline as the bigram LM, one order up: the
      // count joins consume a (id, __w1, __w2, __w3)-keyed aggregate
      val aggKeyed = plan.split("\n").exists(l =>
        l.contains("HashAggregate") && l.contains("__w3") && l.contains("keys=")
          && l.contains("id"))
      assert(aggKeyed, s"expected a (id, __w1..__w3)-keyed aggregate below the joins:\n$plan")
      // both unigram lookups and N ride broadcasts
      assert(plan.contains("BroadcastHashJoin"), plan)
      assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    }
  }

  test("ccnet assignment plan: a broadcast join plus row-local labeling, " +
      "no shuffle over the scored corpus") {
    withoutAqe {
      val parts = Seq(("tail", 1), ("middle", 1), ("head", 2))
      // one fitted row per group: the (parts.size - 1) boundary values
      val bounds = Seq(("l0", 10.0, 20.0), ("l1", 11.0, 21.0))
        .toDF("lang", "__lp0", "__lp1")
      val fresh = (50 to 90).map(i => (s"l${i % 2}", i.toLong, i.toDouble))
        .toDF("lang", "doc_id", "lm")
      val labeled = graft.ops.Binning.assignLabels(fresh, bounds, "lang", "lm", parts)
      val plan = labeled.queryExecution.executedPlan
      assert(plan.toString.contains("BroadcastHashJoin"), plan.toString)
      // the corpus side must not shuffle: labeling is ingest-shaped
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        s"assignment must not exchange the scored corpus:\n${plan.toString}")
    }
  }

  test("signed projection plan: zero exchanges, matrix baked as literals") {
    withoutAqe {
      val proj = graft.ops.VectorAgg.signedProject(vecs(100), "vec_id", "embedding",
        inDims = 8, outDims = 4)
      val plan = proj.queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty, s"projection must be row-local:\n${plan.toString}")
      // the sign matrix lives in the expression tree, not a join input
      assert(!plan.toString.contains("Join"), plan.toString)
    }
  }

  test("url curation plans: normalize is row-local; dedup shuffles digests, never URL text") {
    withoutAqe {
      val docs = (0 until 200).map(i => (i.toLong,
        s"HTTP://WWW.Site${i % 9}.com:80/p/${i % 9}/?utm_source=x&id=${i % 9}"))
        .toDF("doc_id", "url")
      // normalization: zero exchanges, pure codegen'd column algebra
      val norm = docs.select(graft.ops.Urls.normalizeUrl(col("url")))
      assert(norm.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty, norm.queryExecution.executedPlan.toString)
      // dedup: the canonical-keyed exchange carries only (digest, id)
      // — URL text never rides it (the keepBestOfCluster anti-join shape)
      val dedup = graft.ops.Urls.dedupByUrl(docs, "doc_id", "url")
      val badExchange = dedup.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.toString.contains("__url_canon") &&
              e.output.exists(_.name == "url") => e
      }
      assert(badExchange.isEmpty,
        s"url text must not ride the canonical-digest shuffle:\n" +
          dedup.queryExecution.executedPlan.toString)
      // and the semantics survive the plan shape: 9 canonical groups
      assert(dedup.count() == 9)
    }
  }

  test("skew-salted join plan: salt widens the shuffle key; replicas broadcast") {
    withoutAqe {
      val left = spark.range(0, 1000).select(lit(1L).as("k"), col("id").as("v"))
      val right = Seq((1L, "x")).toDF("rk", "rv")
      val plan = graft.ops.SkewJoin.saltedJoin(left, right, "k", "rk", saltBuckets = 8)
        .queryExecution.executedPlan.toString
      // the physical join key must include the salt column — that IS
      // the mechanism that spreads one hot key over 8 partitions
      assert(plan.contains("__salt"), plan)
      assert(plan.contains("BroadcastHashJoin") || plan.contains("hashpartitioning"),
        plan)
    }
  }

  test("hot/cold join plan: the hot-tuple predicate reaches the parquet scan") {
    // single-column keys: the literal OR-of-equalities must appear as
    // PushedFilters on BOTH branches (hot equalities, cold negations) —
    // the design reason for a literal predicate over a join-based split
    val dir = java.nio.file.Files.createTempDirectory("graft_hk_").toString
    try {
      (0 until 2000).map(i => (i.toLong % 7, i))
        .toDF("k", "v").write.mode("overwrite").parquet(dir)
      val left = spark.read.parquet(dir)
      val right = left.groupBy("k").count()
      val plan = graft.ops.SkewJoin.hotKeyJoin(left, right, Seq("k"), hotKeys = 3)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [Or(") ||
        plan.contains("PushedFilters: [EqualNullSafe"), plan.take(2000))
      assert(plan.contains("Not(EqualNullSafe"), plan.take(2000))
      assert(plan.contains("BroadcastHashJoin"), plan.take(500))
    } finally {
      graft.queries.DedupOps.deleteRecursivelyOnExit(java.nio.file.Paths.get(dir))
    }
  }

  test("rrf fusion nano-units are exact at 3+ sides regardless of union order") {
    // the motivation for integer contributions: a float 1/(k0+r) sum is
    // association-order-sensitive at 3+ sides; longs are exact
    val a = Seq((1L, 3.0), (2L, 2.0)).toDF("id", "score")
    val b = Seq((2L, 9.0), (3L, 8.0)).toDF("id", "score")
    val c = Seq((2L, 0.5), (1L, 0.4)).toDF("id", "score")
    // doc 2 ranks: 2nd on side a, 1st on b, 1st on c
    val want = (1000000000L / 62) + (1000000000L / 61) + (1000000000L / 61)
    val outs = (1 to 3).map { _ =>
      graft.ops.Fusion.rrfFuse(Seq(a, b, c), "id", "score", k = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(outs.forall(_ == outs.head), "fusion must be run-stable")
    assert(outs.head(2L) == want, s"exact nano sum, got ${outs.head(2L)}")
  }

  test("domain cap plan: map-side group-limit prune; blocklist plan: broadcast anti-join, no corpus shuffle") {
    withoutAqe {
      val docs = (0 until 400).map(i => (i.toLong,
        if (i % 10 == 0) "garbage" else s"http://site${i % 5}.com/p/$i"))
        .toDF("doc_id", "url")
      val capped = graft.ops.Urls.capPerDomain(docs, "doc_id", "url", cap = 3)
      val capPlan = capped.queryExecution.executedPlan.toString
      // rank<=cap must compile to the WindowGroupLimit prune (losers
      // die map-side, before the shuffle write) — not a full window
      assert(capPlan.contains("WindowGroupLimit"), capPlan)
      // semantics ride along: 5 domains x 3 + 40 no-domain rows
      assert(capped.count() == 55)

      val blocked = Seq("site1.com", "site3.com").toDF("domain")
      val kept = graft.ops.Urls.filterBlockedDomains(docs, "url", blocked)
      val plan = kept.queryExecution.executedPlan
      assert(plan.toString.contains("BroadcastHashJoin"), plan.toString)
      assert(plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty, s"the corpus must not shuffle for a blocklist:\n$plan")
      // 2 of 5 domains blocked, 80 rows each; no-domain rows all kept
      assert(kept.count() == 400 - 160)
    }
  }

  test("html extraction and mojibake repair are row-local codegen'd projections") {
    withoutAqe {
      val docs = (0 until 50).map(i => (i.toLong,
        s"<p>doc $i cafÃ©</p>")).toDF("doc_id", "raw")
      val out = docs.select(
        graft.ops.Mojibake.fixMojibake(
          graft.ops.Html.extractText(col("raw"))).as("clean"))
      val plan = out.queryExecution.executedPlan
      assert(plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty, s"text repair must not shuffle:\n$plan")
      val codegen = out.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
      assert(codegen.contains("WholeStageCodegen"), codegen.take(1000))
      assert(!plan.toString.contains("BatchEvalPython") &&
        !plan.toString.contains("SQLUDF"), plan.toString)
      // and the composition actually repairs through the extraction
      assert(out.collect().forall(_.getString(0).endsWith("café")))
    }
  }

  test("wide-expression registry queries execute with codegen fallback disabled") {
    // Regression pin for the two janino-64KB fallbacks found in round 8:
    // ann_random_project's unrolled 64x8 sign matrix (now sign-row array
    // literals through the native vec_dot loop) and url_blocklist's
    // domain chain inlined into the anti-join key (now projected first,
    // where subexpression elimination applies). With fallback disabled a
    // recurrence fails the job instead of silently running interpreted.
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      Seq("ann_random_project", "url_blocklist", "pipeline_warc_intake",
        "url_host_graph", "url_domain_rank")
        .foreach { n =>
          graft.queries.Catalog.queries(n)(spark, "/root/testdata/sf0.001")
            .write.mode("overwrite").format("noop").save()
        }
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("planned-size LSH sketches compile at any (bits, tables) shape") {
    // Regression pin for the round-9 janino-64KB fallback: the unrolled
    // per-plane vec_dot bucket projection grew linearly with the
    // planSignBits shape and silently ran interpreted from the 10×
    // rehearsal upward (~200+ planes). The native LshSignBuckets
    // expression is constant-code-size; with fallback disabled a
    // recurrence fails the job instead of silently degrading. 8×30 =
    // 240 planes — past the shape that used to break.
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val out = graft.ops.Similarity.embeddingNearDupBucketedArray(
        vecs(300), "vec_id", "embedding", threshold = 0.4,
        SignLsh.array(dim = 8, bits = 8, tables = 30))
      out.write.mode("overwrite").format("noop").save()
      // and the same shape through the top-k path (element_at over the
      // shared sketch subtree — CSE must keep it one evaluation)
      graft.ops.Similarity.bucketedTopK(
        vecs(300), "vec_id", "embedding",
        vecs(300).filter($"vec_id" < 2), "vec_id", "embedding",
        k = 3, SignLsh.perTable(dim = 8, bits = 8, tables = 30))
        .write.mode("overwrite").format("noop").save()
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("native vec_dot keeps brute-force scoring inside WholeStageCodegen") {
    val df = vecs(200)
    val q = df.filter($"vec_id" < 2)
    withoutAqe {
      val brute = Similarity.bruteForceTopK(df, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 5)
      val codegen = brute.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
      assert(codegen.contains("WholeStageCodegen"), codegen.take(2000))
      assert(codegen.contains("vec_dot"), codegen.take(2000))
      // and the generated source actually inlines the primitive loop
      assert(codegen.contains("numElements"), codegen.take(2000))
    }
  }
}
