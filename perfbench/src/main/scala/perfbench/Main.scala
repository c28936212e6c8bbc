package perfbench

import graft.SparkEntry
import graft.clean.Preprocessor
import graft.collect.{Assembler, AssemblerConfig, Facts}
import graft.config.{ConfigLoader, ConfigRunner}
import graft.extract.{CsvSource, CsvSourceConfig, ExcelSheetConfig, ExcelSource}
import graft.load.FileSystemLoader
import graft.ontology.HgvsResolver
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: set up a session, run one workload,
  * check its outputs, and print one JSON object on the last line of
  * stdout (`perfbench/run.py` adds the catalog's DuckDB oracle verdict).
  *
  * `--trace 0` times the workload through the program's entry points
  * (`ConfigRunner.run`, `SparkEntry.queries`) with tracing off and
  * reports the end-to-end metrics. `--trace 1` repeats the timing, then
  * runs the same calls wrapped in spans (see [[Trace]]) and reports the
  * per-layer metrics.
  */
object Main {

  /** Cohort size. One ETL run costs ~25 s warm and ~45 s in a fresh JVM
    * on 4 cores, nearly all of it per-plan overhead (planning, codegen,
    * job scheduling) rather than per-row work, so the size is set by the
    * run budget, not by what the engine can hold.
    */
  val Patients = 500

  /** The hot slice of the query catalog: queries whose wall time is
    * mostly idle cores (job latency) and the exact near-dup pair source.
    * `pipeline_pretrain_corpus` would take over half of a pass, more than
    * the run budget leaves.
    */
  val CatalogQueries: Seq[String] = Seq(
    "ann_recall_eval", "ann_ivf_topk", "dedup_incremental_neardup",
    "dedup_components", "dedup_embedding_exact")

  val Strategies: Seq[String] = Seq("alias_map", "default_mapping", "ontology_normaliser",
    "date_to_age", "age_to_iso8601", "multi_hpo_col_expansion", "hpo_disease_splitter")

  /** Every per-layer metric, in report order, with its unit. */
  val PerLayer: Seq[(String, String)] =
    Seq("gen_s" -> "s", "config.s" -> "s",
      "extract.csv_s" -> "s", "extract.transpose_s" -> "s", "extract.xlsx_s" -> "s",
      "extract.jobs" -> "count", "clean.s" -> "s", "clean.jobs" -> "count") ++
      Strategies.map(s => s"strategy.$s.s" -> "s") ++
      Seq("strategy.jobs" -> "count", "collect.facts" -> "count", "collect.shuffle_bytes" -> "B",
        "collect.facts_s" -> "s", "collect.assemble_s" -> "s", "load.s" -> "s", "load.sink_s" -> "s",
        "load.files" -> "count", "load.bytes" -> "B", "spark.jobs" -> "count",
        "spark.tasks" -> "count", "spark.task_s" -> "s", "spark.gc_s" -> "s",
        "spark.spill_bytes" -> "B", "spark.core_util" -> "ratio", "spark.input_reread" -> "ratio") ++
      CatalogQueries.flatMap(q => Seq(s"catalog.$q.s" -> "s", s"catalog.$q.jobs" -> "count")) ++
      Seq("catalog.plan_s" -> "s", "catalog.core_util" -> "ratio", "trace.overhead" -> "ratio")

  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "run_s" -> "s",
    "throughput_per_s" -> "1/s", "driver_heap_mb" -> "MB")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      repo: Path, work: Path, data: Path, cores: Int)

  /** Every argument is required; `perfbench/run.py` passes them all. */
  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def path(k: String): Path = Paths.get(arg(k)).toAbsolutePath.normalize
    Args(arg("workload"), arg("seed").toLong, arg("seconds").toInt, arg("trace") == "1",
      path("repo"), path("work"), path("data"), arg("cores").toInt)
  }

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def note(msg: String): Unit = System.err.println(f"[perfbench] ${
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.1f s: $msg")

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  private def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap the driver still holds after an operation: used heap right
    * after a full collection, the largest over the run's operations. A
    * collection lets Spark's ContextCleaner release the blocks of dead
    * broadcasts and shuffles, which a later collection frees; the cleaner
    * works asynchronously and has been seen to need over a second to
    * release 128 MB. So the heap is collected once a second until three
    * readings in a row agree within 1 MB, at most eight times.
    */
  final class RetainedHeap {
    private var peak = 0L
    def sample(): Unit = {
      def collect(): Long = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
      var last = collect()
      var (rounds, agreeing) = (1, 0)
      while (rounds < 8 && agreeing < 2) {
        Thread.sleep(1000)
        val used = collect()
        agreeing = if (math.abs(used - last) < 1048576) agreeing + 1 else 0
        last = used
        rounds += 1
      }
      peak = math.max(peak, last)
    }
    def mb: Double = peak / 1048576.0
  }

  final class Outcome {
    var attempted = 0L
    var failed = 0L
    val problems = mutable.ArrayBuffer.empty[String]
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    def fail(msg: String): Unit = { problems += msg; System.err.println(s"[perfbench] FAIL $msg") }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a.cores)
    val setup = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val o = new Outcome
    val heap = new RetainedHeap
    try {
      a.workload match {
        case "etl_deep" => etl(spark, a, o, heap)
        case "catalog_hot" => catalog(spark, a, o, heap)
        case other => o.fail(s"unknown workload '$other'")
      }
    } catch {
      case e: Throwable =>
        o.failed += 1; o.attempted = math.max(o.attempted, 1)
        o.fail(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(500)}")
        e.printStackTrace()
    }
    o.metrics("setup_s") = setup
    o.metrics("driver_heap_mb") = heap.mb
    val wanted = if (a.trace) PerLayer else EndToEnd
    val ms = wanted.map { case (k, unit) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(o.metrics.getOrElse(k, 0.0))}, \"unit\": ${Json.str(unit)}}"
    }.mkString("{", ", ", "}")
    val problems = o.problems.map(Json.str).mkString("[", ", ", "]")
    println(s"""{"correct": ${o.problems.isEmpty}, "attempted": ${math.max(o.attempted, 1)}, """ +
      s""""failed": ${o.failed}, "metrics": $ms, "problems": $problems}""")
    spark.stop()
    note("session stopped")
  }

  // ================================================================== ETL

  private def etl(spark: SparkSession, a: Args, o: Outcome, heap: RetainedHeap): Unit = {
    // The reference goldens cost a cold ConfigRunner pass (~40 s on 4
    // cores), more than a timed run's budget: they gate the traced run,
    // before its timing, and the digest gates every timed iteration.
    if (a.trace) {
      val golden = Checks.goldens(spark, a.repo, a.work)
      if (golden.nonEmpty) { o.fail(s"reference goldens differ: ${golden.take(5).mkString("; ")}"); return }
      note("reference goldens checked")
    }

    val dir = a.work.resolve(s"${a.workload}-input")
    val outDir = a.work.resolve(s"${a.workload}-out")
    deleteTree(dir)
    val (gen, genS) = secs(Cohort.generate(Patients, dir, outDir, a.seed))
    o.metrics("gen_s") = genS
    if (Cohort.fingerprint(Patients, dir, outDir, a.seed) != gen.fingerprint)
      o.fail("generator is not deterministic: the same seed gave different files")
    if (Cohort.fingerprint(Patients, dir, outDir, a.seed + 1) == gen.fingerprint)
      o.fail("generator ignores the seed: another seed gave the same files")
    val config = gen.config.toString
    note("cohort generated")

    var lastGood: Map[String, String] = Map.empty
    /** One operation: empty the output (untimed), run, check (untimed). */
    def iteration(run: => Unit): Double = {
      deleteTree(outDir)
      System.gc()
      o.attempted += 1
      val (_, t) = secs(run)
      heap.sample()
      val chk = Checks.packets(outDir, gen.digest)
      if (chk.packets != gen.patients || !chk.ok) {
        o.failed += 1
        o.fail(s"${a.workload}: ${chk.packets} packets for ${gen.patients} patients; ${chk.problems.mkString("; ")}")
      } else lastGood = chk.normalized
      t
    }

    // the first run is in the fresh session; later ones follow while the
    // budget lasts
    def timed(): Double = {
      val etlS = median(repeat(a.seconds, 1)(iteration(ConfigRunner.run(spark, config))))
      note("timed runs done")
      o.metrics("run_s") = etlS
      o.metrics("throughput_per_s") = gen.patients / etlS
      etlS
    }

    if (!a.trace) timed()
    else {
      // the traced span pass runs first and the untraced timed run after
      // it, so that warm caches favour the reference, not the trace
      deleteTree(outDir)
      System.gc()
      val t = new Trace(spark.sparkContext, s"${a.workload}-${a.seed}")
      spark.sparkContext.addSparkListener(t.listener)
      spark.listenerManager.register(t.qeListener)
      val probe = try spanPass(spark, t, config)
      finally {
        spark.sparkContext.removeSparkListener(t.listener)
        spark.listenerManager.unregister(t.qeListener)
      }
      val chk = Checks.packets(outDir, gen.digest)
      if (!chk.ok || chk.packets != gen.patients)
        o.fail(s"span pass packets fail the digest: ${chk.problems.mkString("; ")}")
      val layers = layerMetrics(t, a, gen, chk)
      layers.foreach { case (k, v) => o.metrics(k) = v }
      note("span pass done")
      val (factsS, totalS) = probe.run()
      o.metrics("collect.facts_s") = factsS
      o.metrics("collect.assemble_s") = totalS - factsS
      o.metrics("load.sink_s") = o.metrics("load.s") - totalS
      val etlS = timed()
      if (chk.normalized != lastGood)
        o.fail("span pass packets differ from the timed run's packets")
      o.metrics("trace.overhead") = o.metrics.remove("trace.wall_s").get / etlS - 1
      t.writeJson(a.work.resolve(s"trace-${a.workload}-${a.seed}.json"), o.metrics.toMap)
      // the digest already fails a timed run whose strategy did nothing;
      // the explicit guard re-reads the span pass's tables, so it runs here
      Checks.vacuousStrategies(probe.steps).foreach(v => o.fail(s"vacuous strategy $v"))
      note("strategy vacuity checked")
    }
  }

  /** Runs `body` until `budget` seconds have passed and at least `min`
    * times; returns every result.
    */
  private def repeat[T](budget: Double, min: Int)(body: => T): Seq[T] = {
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[T]
    while (out.size < min || (System.nanoTime() - t0) / 1e9 < budget) out += body
    out.toSeq
  }

  /** `ConfigRunner.run` + `Pipeline.transform`, call by call, each call
    * in a span named after the layer that owns it.
    */
  private def spanPass(spark: SparkSession, t: Trace, config: String): Probe =
    t.span("run", "etl") {
      val cfg = t.span("config", "ConfigLoader.load")(ConfigLoader.load(config))
      val library = t.span("config", "ConfigRunner.buildLibrary")(ConfigRunner.buildLibrary(cfg))
      val hgvs = t.span("config", "HgvsResolver.load")(
        cfg.hgvsCache.map(HgvsResolver.load).getOrElse(HgvsResolver.empty))
      val csvs = cfg.csvSources.map { s =>
        s.ordinal -> Seq(t.span("extract", if (s.patientsAreRows) "extract.csv" else "extract.transpose")(
          CsvSource.extract(spark, CsvSourceConfig(
            s.source, s.tableContext, s.separator, s.hasHeaders, s.patientsAreRows))))
      }
      val excels = cfg.excelSources.map { e =>
        e.ordinal -> t.span("extract", "extract.xlsx")(ExcelSource.extract(spark, e.source,
          e.sheets.map(sh => ExcelSheetConfig(sh.sheetName, sh.tableContext, sh.hasHeaders, sh.patientsAreRows))))
      }
      val tables = (csvs ++ excels).sortBy(_._1).flatMap(_._2)
      val strategies = cfg.strategies.map(s => s.name.trim.toLowerCase -> ConfigRunner.strategyFor(s, library))
      val resolver = t.span("config", "ConfigRunner.buildResolver")(ConfigRunner.buildResolver(cfg, library))
      val asm = AssemblerConfig(cohort = cfg.metaData.cohortName,
        created = java.time.Instant.now().toString.replaceAll("\\.\\d+Z$", "Z"),
        createdBy = cfg.metaData.createdBy, submittedBy = cfg.metaData.submittedBy.getOrElse(""))
      val pre = tables.map(tb => t.span("clean", "Preprocessor.process")(Preprocessor.process(tb)))
      val steps = mutable.ArrayBuffer.empty[Checks.StrategyStep]
      val transformed = strategies.zipWithIndex.foldLeft(pre) { case (ts, ((name, s), i)) =>
        t.span("strategy", s"strategy.$name") {
          val valid = s.isValid(ts)
          val out = if (valid) s.transform(ts) else ts
          steps += Checks.StrategyStep(s"$name#$i", valid, ts, out)
          out
        }
      }
      val facts = t.span("collect", "Facts.extractAll")(Facts.extractAll(transformed))
      val packets = t.span("collect", "Assembler.assemble")(
        Assembler.assemble(facts, library, asm, hgvs, resolver))
      val out = cfg.loader.get
      t.span("load", "FileSystemLoader.load")(
        FileSystemLoader.load(packets, out.outputDir, out.createDir))
      Probe(facts, packets, steps.toSeq)
    }

  /** The span pass's lazy fact and packet plans, forced again untraced,
    * and its strategy calls.
    */
  final case class Probe(facts: org.apache.spark.sql.Dataset[graft.collect.Fact],
      packets: org.apache.spark.sql.Dataset[graft.collect.Phenopacket], steps: Seq[Checks.StrategyStep]) {
    /** Noop writes of `Facts.extractAll` and then `Assembler.assemble`;
      * returns (facts seconds, facts + assemble seconds).
      */
    def run(): (Double, Double) = {
      System.gc()
      val (_, factsS) = secs(noop(facts.toDF()))
      System.gc()
      val (_, totalS) = secs(noop(packets.toDF()))
      (factsS, totalS)
    }
  }

  private def layerMetrics(t: Trace, a: Args, gen: Cohort.Generated,
      chk: Checks.PacketCheck): Map[String, Double] = {
    val root = t.spans.head
    def named(p: String => Boolean) = t.spans.filter(s => p(s.name))
    def layer(l: String) = t.spans.filter(_.layer == l)
    def dur(ss: Iterable[Span]) = ss.map(_.durNs).sum / 1e9
    val sink = t.spans.find(_.name == "FileSystemLoader.load").get
    val (facts, shuffleBytes) = t.sinkSplit(sink)
    val all = t.total(Seq(root))
    val m = mutable.LinkedHashMap[String, Double](
      "config.s" -> dur(layer("config")),
      "extract.csv_s" -> dur(named(_ == "extract.csv")),
      "extract.transpose_s" -> dur(named(_ == "extract.transpose")),
      "extract.xlsx_s" -> dur(named(_ == "extract.xlsx")),
      "extract.jobs" -> t.total(layer("extract")).jobs.toDouble,
      "clean.s" -> dur(layer("clean")),
      "clean.jobs" -> t.total(layer("clean")).jobs.toDouble,
      "strategy.jobs" -> t.total(layer("strategy")).jobs.toDouble,
      "collect.facts" -> facts.toDouble,
      "collect.shuffle_bytes" -> shuffleBytes.toDouble,
      "load.s" -> sink.durNs / 1e9,
      "load.files" -> chk.packets.toDouble,
      "load.bytes" -> chk.bytes.toDouble,
      "spark.jobs" -> all.jobs.toDouble,
      "spark.tasks" -> all.tasks.toDouble,
      "spark.task_s" -> all.taskNs / 1e9,
      "spark.gc_s" -> all.gcMs / 1e3,
      "spark.spill_bytes" -> all.spillBytes.toDouble,
      "spark.core_util" -> all.taskNs / (root.durNs.toDouble * a.cores),
      "spark.input_reread" -> all.inputBytes.toDouble / gen.sparkInputBytes,
      "trace.wall_s" -> root.durNs / 1e9)
    Strategies.foreach(s => m(s"strategy.$s.s") = dur(named(_ == s"strategy.$s")))
    m.toMap
  }

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  // ================================================================== catalog

  private def catalog(spark: SparkSession, a: Args, o: Outcome, heap: RetainedHeap): Unit = {
    val data = a.data.toString
    val missing = CatalogQueries.filterNot(SparkEntry.queries.contains)
    if (missing.nonEmpty) { o.fail(s"catalog queries no longer exist: ${missing.mkString(", ")}"); return }
    // the tables are fixed, so the seed varies the order of the queries
    val order = new scala.util.Random(a.seed).shuffle(CatalogQueries)
    val fns = SparkEntry.queries

    // vacuity trap, as in graft.Bench: an observation that dropped every
    // bucket means the query timed an empty frame. Adaptive execution
    // prunes the observing node exactly when every bucket was dropped, so
    // a query whose final plan holds an EmptyRelation is replayed once,
    // untimed, with that propagation off.
    val vacuous = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val emptyFinal = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var current = ""
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = {
        qe.observedMetrics.values.foreach { row =>
          val names = row.schema.fieldNames
          val (di, ni) = (names.indexOf("dropped_buckets"), names.indexOf("n_buckets"))
          if (di >= 0 && ni >= 0 && !row.isNullAt(di) && !row.isNullAt(ni) &&
              row.getLong(ni) > 0 && row.getLong(di) >= row.getLong(ni)) vacuous.add(current)
        }
        if (qe.executedPlan.toString.contains("EmptyRelation")) emptyFinal.add(current)
      }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    })

    val runs = mutable.LinkedHashMap(order.map(_ -> 0): _*)
    val out = a.work.resolve("catalog-out")
    deleteTree(out)
    /** One query execution into `sink`, after clearing the cache outside
      * the timing.
      */
    def runQuery(q: String, t: Option[Trace], sink: DataFrame => Unit = noop): Double = {
      spark.catalog.clearCache()
      current = q
      o.attempted += 1
      runs(q) += 1
      def exec(): Unit = sink(fns(q)(spark, data))
      try {
        val (_, s) = secs(t match {
          case Some(tr) => tr.span("catalog", q)(exec())
          case None => exec()
        })
        org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
        s
      } catch {
        case e: Exception =>
          o.failed += 1
          o.fail(s"$q: ${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}")
          Double.NaN
      }
    }
    def pass(t: Option[Trace] = None): Double = order.map(q => runQuery(q, t)).sum

    // a pass runs each query once into the noop sink; the first is in the
    // fresh session. The heap is sampled with the last query's cache
    // cleared, since the seed decides which query runs last.
    val passes = repeat(a.seconds, 1) {
      val t = pass()
      spark.catalog.clearCache()
      heap.sample()
      t
    }
    o.metrics("run_s") = median(passes)
    o.metrics("throughput_per_s") = order.size / median(passes)
    note("timed passes done")

    // untimed: each query's result, for the oracle compare in run.py
    order.foreach(q => runQuery(q, None, _.write.mode("overwrite").parquet(out.resolve(q).toString)))
    note("results written")

    if (a.trace) {
      System.gc()
      val t = new Trace(spark.sparkContext, s"catalog_hot-${a.seed}")
      spark.sparkContext.addSparkListener(t.listener)
      spark.listenerManager.register(t.qeListener)
      val traced = order.map(q => q -> runQuery(q, Some(t)))
      spark.sparkContext.removeSparkListener(t.listener)
      spark.listenerManager.unregister(t.qeListener)
      // the untraced reference runs after the traced pass, so that warm
      // caches favour the reference, not the trace
      System.gc()
      val reference = pass()
      traced.foreach { case (q, secs) =>
        o.metrics(s"catalog.$q.s") = secs
        o.metrics(s"catalog.$q.jobs") = t.of(t.spans.find(_.name == q).get).jobs.toDouble
      }
      val all = t.total(t.spans)
      o.metrics("catalog.plan_s") = all.planMs / 1e3
      o.metrics("catalog.core_util") = all.taskNs / (t.spans.map(_.durNs).sum.toDouble * a.cores)
      o.metrics("spark.jobs") = all.jobs.toDouble
      o.metrics("spark.tasks") = all.tasks.toDouble
      o.metrics("spark.task_s") = all.taskNs / 1e9
      o.metrics("spark.gc_s") = all.gcMs / 1e3
      o.metrics("spark.spill_bytes") = all.spillBytes.toDouble
      o.metrics("spark.core_util") = o.metrics("catalog.core_util")
      o.metrics("trace.overhead") = traced.map(_._2).sum / reference - 1
      t.writeJson(a.work.resolve(s"trace-catalog_hot-${a.seed}.json"), o.metrics.toMap)
    }

    org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
    emptyFinal.asScala.toSeq.filterNot(vacuous.contains).sorted.foreach { q =>
      System.err.println(s"[perfbench] empty final plan for $q: diagnostic replay")
      spark.conf.set("spark.sql.adaptive.optimizer.excludedRules",
        "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation")
      try runQuery(q, None)
      finally spark.conf.unset("spark.sql.adaptive.optimizer.excludedRules")
    }
    vacuous.asScala.toSeq.sorted.foreach(q => o.fail(s"$q dropped every bucket: the timed result is an empty frame"))

    note("vacuity replays done")
    // vacuity: every query returned rows and has an oracle (run.py compares)
    val oracle = SparkEntry.oracleSql
    order.foreach { q =>
      if (!Files.exists(out.resolve(q)) || spark.read.parquet(out.resolve(q).toString).count() == 0)
        o.fail(s"$q returned no rows")
      if (!oracle.contains(q)) o.fail(s"$q has no oracle SQL")
    }
    Files.writeString(out.resolve("oracle_sql.json"),
      order.flatMap(q => oracle.get(q).map(s => s"${Json.str(q)}: ${Json.str(s)}"))
        .mkString("{", ",\n", "}\n"))
    Files.writeString(out.resolve("passes.json"),
      order.map(q => s"${Json.str(q)}: ${runs(q)}").mkString("{", ", ", "}\n"))
    note("checks done")
  }
}
