package graft
import graft.collect.PhenopacketJson.quote
import org.apache.spark.sql.SparkSession
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(Session.envCores)

    // VACUITY TRAP: a bench row that measures a NO-OP must say so in
    // the SAME file. The fixed-shape embedding-LSH gate is the measured
    // case — at 10× rehearsal data its 4096 bucket cap drops 100% of
    // buckets, the query returns an empty frame in ~2 s, and the bare
    // number reads as "fast at scale" when it means "did nothing".
    // Every capped operator already declares its drop totals via
    // .observe (dropped_buckets / n_buckets); this listener watches any
    // observation carrying BOTH fields and, when a timed pass dropped
    // every bucket it had, records the query in the artifact's
    // "vacuous" map next to its time. Bus delivery is asynchronous, so
    // entries are tagged with the query being timed and drained only
    // after a quiescence poll between queries.
    val vacuousQ =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    // Queries whose FINAL adaptive plan collapsed to an EmptyRelation.
    // AQE's empty-relation propagation drops the pruned subtree — and
    // with it the CollectMetricsExec — from the final plan exactly when
    // the cap discarded every bucket, so qe.observedMetrics comes back
    // EMPTY in the one case the trap exists for (measured at sf10: the
    // metrics stage RAN — that is how AQE learned the frame was empty —
    // but its node is unreachable from the final tree, so the standard
    // traversal finds nothing). These names get one untimed diagnostic
    // replay with the propagation rule excluded to recover the
    // observation; the timed rows keep production AQE behavior.
    val emptyFinalQ =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var currentQuery: String = " warmup"
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        qe.observedMetrics.foreach { case (obsName, row) =>
          val f = row.schema.fieldNames
          val di = f.indexOf("dropped_buckets")
          val ni = f.indexOf("n_buckets")
          if (di >= 0 && ni >= 0 && !row.isNullAt(di) && !row.isNullAt(ni)) {
            val d = row.getLong(di)
            val n = row.getLong(ni)
            if (n > 0 && d >= n)
              vacuousQ.add((currentQuery, s"$obsName: dropped $d/$n buckets — " +
                "the timed result is an empty frame; this row measures no " +
                "pairing work at this scale"))
          }
        }
        if (qe.executedPlan.toString.contains("EmptyRelation"))
          emptyFinalQ.add(currentQuery)
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    })

    /** Drains vacuity entries tagged for `name` after the listener bus
      * goes quiet (poll until the queue stops growing, ≤3 s): metric
      * delivery may trail the action by a scheduler tick, and an entry
      * attributed to the WRONG row would be worse than none. Warmup-
      * tagged strays are dropped.
      */
    def drainVacuous(name: String): Seq[String] = {
      val deadline = System.nanoTime() + 3L * 1000 * 1000 * 1000
      var lastSize = -1
      while (System.nanoTime() < deadline && vacuousQ.size != lastSize) {
        lastSize = vacuousQ.size
        Thread.sleep(150)
      }
      val out = scala.collection.mutable.Buffer[String]()
      val it = vacuousQ.iterator()
      while (it.hasNext) {
        val (q, msg) = it.next()
        if (q == name) { out += msg; it.remove() }
        else if (q == " warmup") it.remove()
      }
      out.toSeq.distinct
    }

    /** One query execution with cause capture. Returns Right(seconds) or
      * Left(class+message) — a crashed query must carry WHY into the
      * artifact, never an innocuous-looking time or a bare null.
      *
      * The action is a `noop`-sink write, NOT count(): count() lets
      * Catalyst prune every output column, and for entries whose last
      * operator is a left join back to the input (the rewritten-text
      * dedup family) the join's aggregate side has unique keys, so the
      * optimizer eliminates the JOIN TOO and the "benchmark" times a
      * bare scan (measured: dedup_substring_keepfirst "ran" in 0.6 s at
      * sf10 while its real pipeline takes ~40 s). The noop sink
      * evaluates every output row and column end-to-end and writes
      * nothing — work can't hide behind pruning.
      */
    def runOne(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Either[String, Double] = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        Right((System.nanoTime() - t0) / 1e9)
      }
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse("").take(300)
        Left(s"${e.getClass.getName}: $msg")
      }
    }

    // SPARK_GRAFT_BENCH_ONLY: comma-separated name substrings to
    // restrict the suite — the isolation knob for attributing a
    // multi-hour scale run's failure to one query in a fresh JVM.
    val onlySubs = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .filter(_.nonEmpty)
    val queries = SparkEntry.queries
      .filter { case (n, _) => onlySubs.forall(_.exists(n.contains)) }

    // Untimed warmup pass over every query: JIT, whole-stage-codegen
    // compilation, file-index and shuffle-service caches. The timed
    // pass then measures steady-state execution, not session startup.
    // The stderr marker BEFORE each query is the post-mortem trail: a
    // fatal that kills the JVM mid-warmup (task OOM → uncaught-handler
    // shutdown) leaves the culprit's name as the log's last marker —
    // without it an 80-minute scale run dies anonymously.
    // Per-query GC applies to the WARMUP too: without it, a heavy
    // query's dead shuffle blocks sit on disk until the next periodic
    // GC tick, and the very next warmup query inherits a nearly-full
    // disk (measured: a query failed on no-space SECONDS after its
    // predecessor's abort, from the predecessor's leftovers).
    queries.foreach { case (name, fn) =>
      if (!spark.sparkContext.isStopped) {
        System.err.println(s"[bench] warmup $name")
        runOne(fn) match {
          case Left(e) => System.err.println(s"[bench] warmup $name FAILED: $e")
          case Right(_) => ()
        }
        // Drop this query's cached frames before the next warmup query:
        // without it ~20 persist-bearing queries' caches accumulate over
        // the sweep and squeeze execution memory (see the timed-pass
        // clear below for the timing-honesty half of this).
        spark.catalog.clearCache()
        System.gc()
      }
    }

    // Each query is timed as the MEDIAN of `passes` runs (default 3):
    // a single contention burst on a shared box then pollutes at most
    // one pass, not the committed artifact. Failure semantics stay
    // per-pass — the median is taken over successful passes only, and
    // a query is "failed" only when every pass failed (its recorded
    // error is the last pass's cause).
    //
    // If the SparkContext dies mid-suite, the remaining queries are
    // NOT run and NOT recorded as their own failures: one dead session
    // must read as ONE line ("session died at query X because Y"),
    // never as 100+ identical meaningless cascade rows.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt.max(1)
    val vacuousRows = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var diedAt: Option[(String, String)] = None
    val results = queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      if (diedAt.nonEmpty) None
      else if (spark.sparkContext.isStopped) {
        diedAt = Some((name, "SparkContext stopped before this query"))
        None
      } else {
        System.err.println(s"[bench] timing $name")
        currentQuery = name
        // CACHE HONESTY: a `.persist()` inside a query function registers
        // its plan in Spark's CacheManager, which holds it until an
        // explicit unpersist/clearCache — NOT until plan GC. Without this
        // clear, (a) the untimed warmup pre-populates every persist, so
        // the timed passes measure the WARM cost of persist-bearing
        // queries (k-consumers→1-compute wins read inflated), and (b)
        // ~20 cached frames accumulate across the suite and squeeze
        // execution memory for every later query. Clearing BEFORE each
        // timed pass (outside the timed region) makes every pass one
        // cold end-to-end execution from parquet, including the pass's
        // own in-execution reuse — the honest quantity.
        val runs = (1 to passes).map { _ =>
          spark.catalog.clearCache()
          runOne(fn)
        }
        var vac = drainVacuous(name)
        if (vac.isEmpty && emptyFinalQ.remove(name)) {
          // The final plan was empty-propagated, so any cap observation
          // was pruned before it could surface — replay once, untimed,
          // with the propagation rule off to let the metrics through.
          System.err.println(
            s"[bench] empty final plan for $name — diagnostic replay")
          spark.conf.set("spark.sql.adaptive.optimizer.excludedRules",
            "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation")
          try runOne(fn)
          finally spark.conf
            .unset("spark.sql.adaptive.optimizer.excludedRules")
          vac = drainVacuous(name)
        }
        vac.foreach { msg =>
          System.err.println(s"[bench] VACUOUS $name: $msg")
          vacuousRows(name) = msg
        }
        // Dead shuffle dependencies become unreachable as soon as the
        // query's DataFrames go out of scope; an explicit GC here lets
        // ContextCleaner delete their block files BEFORE the next
        // query allocates its own — disk usage stays bounded by the
        // largest single query, not the suite's sum.
        System.gc()
        if (spark.sparkContext.isStopped && runs.forall(_.isLeft)) {
          diedAt = Some((name, runs.last.left.getOrElse("unknown")))
          None
        } else {
          val times = runs.collect { case Right(t) => t }.sorted
          val err = runs.collect { case Left(e) => e }.lastOption
          Some((name, times.lift(times.length / 2), err))
        }
      }
    }

    val qs = results.map { case (k, v, _) =>
      "\"" + k + "\":" + v.map(_.toString).getOrElse("null")
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, None, Some(e)) =>
      s""""$k":${quote(e)}"""
    }.mkString("{", ",", "}")
    val vac = vacuousRows
      .map { case (k, msg) => s""""$k":${quote(msg)}""" }
      .mkString("{", ",", "}")
    val died = diedAt
      .map { case (n, e) => s""","session_died_at":"$n","session_death_cause":${quote(e)}""" }
      .getOrElse("")
    val failed = results.collect { case (k, None, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.flatMap(_._2).sum
    // "failed"/"value" (the total) go LAST on the line: the driver
    // archives only the final 2000 chars of stdout, so trailing keys
    // survive truncation even when the per-query map outgrows it.
    val line = s"""{"metric":"total","unit":"sec","sf":"$sfDir","queries":$qs,"errors":$errs,"vacuous":$vac$died,"failed":$failed,"value":$total}"""
    println(line)
    // The stdout tail loses the head of the per-query map once it
    // outgrows 2000 chars, so the COMPLETE line is also written to a
    // committed repo file — the durable evidence the truncated
    // artifact can't carry.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: java.io.IOException => () } // read-only CWD: stdout still has the line
    if (!spark.sparkContext.isStopped) spark.stop()
  }
}
