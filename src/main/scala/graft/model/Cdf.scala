package graft.model

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.util.concurrent.{Callable, ExecutionException, Executors}
import scala.util.{Failure, Try}

/** ContextualizedDataFrame: a Spark DataFrame plus its semantic table
  * context (reference
  * `phenoxtract/src/extract/contextualized_data_frame.rs:29-32`).
  *
  * The context is a driver-side metadata sidecar, deliberately NOT
  * column-level `Metadata`: identifiers can be regexes/multi-column and
  * strategies mutate contexts mid-pipeline (SURVEY.md §1.4).
  */
final case class Cdf(context: TableContext, df: DataFrame) {

  /** Physical columns bound to each series context, in series order. */
  def bindings: Seq[(String, SeriesContext)] = context.bindings(df.columns.toSeq)

  /** Columns whose data context has the given kind. */
  def columnsOfKind(kind: ContextKind): Seq[String] =
    bindings.collect { case (c, sc) if sc.dataContext.kind == kind => c }

  /** Columns matching a data-context predicate. */
  def columnsWhere(p: SeriesContext => Boolean): Seq[String] =
    bindings.collect { case (c, sc) if p(sc) => c }

  /** The unique SubjectId column (validator guarantees exactly one). */
  def subjectIdColumn: String = columnsOfKind(ContextKind.KSubjectId).head

  /** Within a building block, the 0-or-1 column with one of the given
    * data-context kinds; error on >1 (reference
    * `contextualized_data_frame.rs:166-282`).
    */
  def singleLinkedColumn(blockId: Option[String], kinds: Set[ContextKind]): Option[String] = {
    val hits = bindings.collect {
      case (c, sc) if sc.buildingBlockId == blockId && kinds.contains(sc.dataContext.kind) => c
    }
    if (hits.size > 1)
      throw new IllegalStateException(
        s"expected at most one column with contexts $kinds in block $blockId of " +
          s"'${context.name}', found ${hits.mkString(", ")}")
    hits.headOption
  }

  /** The same table with its lineage cut: the frame is computed once
    * now and later plans read the stored rows instead of re-planning
    * and re-compiling the whole lineage from the file scan. Called at
    * stage boundaries only (end of `Preprocessor.process`, tables a
    * `Strategy.transform` rewrote), where every eager check and the
    * final load would otherwise re-run the same prefix.
    *
    * Trade-off: a local checkpoint (the `ops/Dedup.scala` idiom) keeps
    * its blocks on the executors at MEMORY_AND_DISK and is NOT
    * recomputed if an executor is lost — the job fails instead. Its
    * blocks are freed by the ContextCleaner once the frame is
    * unreachable, so there is no release call.
    */
  def materialized: Cdf = copy(df = df.localCheckpoint(eager = true))
}

object Cdf {

  /** `xs.map(f)` with the calls run concurrently: the ETL's one
    * concurrency primitive, used by the per-table loops that start
    * Spark jobs (extract, preprocess, the strategies' per-table checks
    * and lineage cuts). Each table's work is a few small jobs whose
    * wall time is mostly planning, codegen and job latency, so running
    * the tables side by side fills the other `local[N]` cores.
    *
    *   - Results come back in input order.
    *   - Every call finishes before this returns or throws; if any
    *     failed, the failure of the FIRST failing element in input
    *     order is rethrown, so errors match a serial `map`.
    *   - The pool (`min(xs.size, availableProcessors)` threads) is made
    *     per call and its threads are created by the calling thread, so
    *     they inherit its Spark local properties (job group, scheduler
    *     pool, tracing tags) and its active session. Never call it
    *     from inside `f`.
    */
  def parMap[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.size <= 1) xs.map(f) // nothing to overlap; a zero-thread pool is illegal
    else {
      val pool = Executors.newFixedThreadPool(
        math.min(xs.size, Runtime.getRuntime.availableProcessors))
      try {
        val calls = xs.map(x => pool.submit(new Callable[B] { def call(): B = f(x) }))
        val outcomes = calls.map(c => Try(c.get())) // waits for every call
        outcomes.collectFirst { case Failure(e: ExecutionException) => throw e.getCause }
        outcomes.map(_.get)
      } finally pool.shutdownNow()
    }

  /** Construction-time validation (reference
    * `validation/contextualised_dataframe_validation.rs:9-90`,
    * `validation/table_context_validation.rs:45-64`):
    *   1. exactly one SubjectId column per table;
    *   2. no nulls in the SubjectId column;
    *   3. at most one SeriesContext per physical column;
    *   4. no dangling SeriesContexts (every context resolves to >=1
    *      column) — `Multi`/`Rx` identifiers may legally resolve to 0.
    */
  def validated(context: TableContext, df: DataFrame): Cdf = {
    val cols = df.columns.toSeq
    val bound = context.bindings(cols)

    val subjectCols = bound.collect {
      case (c, sc) if sc.dataContext.kind == ContextKind.KSubjectId => c
    }
    require(subjectCols.size == 1,
      s"table '${context.name}' must have exactly one SubjectId column, " +
        s"found ${subjectCols.size} (${subjectCols.mkString(", ")})")

    val dupCols = bound.groupBy(_._1).filter(_._2.size > 1).keys
    require(dupCols.isEmpty,
      s"table '${context.name}': multiple SeriesContexts bind column(s) ${dupCols.mkString(", ")}")

    context.seriesContexts.foreach {
      case SeriesContext(id @ Identifier.Single(n), _, _, _, _, _) =>
        require(id.resolve(cols).nonEmpty,
          s"table '${context.name}': SeriesContext identifies missing column '$n'")
      case _ => () // regex / multi may resolve to zero columns
    }

    val nullSubjects = df.filter(col(subjectCols.head).isNull).limit(1).count()
    require(nullSubjects == 0,
      s"table '${context.name}': SubjectId column '${subjectCols.head}' contains nulls")

    Cdf(context, df)
  }
}
