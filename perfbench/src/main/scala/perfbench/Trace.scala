package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spark-side counts attributed to one span. */
final class SpanStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var planMs = 0L
  def add(o: SpanStats): SpanStats = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskNs += o.taskNs; gcMs += o.gcMs
    shuffleBytes += o.shuffleBytes; shuffleRecords += o.shuffleRecords
    spillBytes += o.spillBytes; inputBytes += o.inputBytes; planMs += o.planMs
    this
  }
}

/** One traced call: name, layer, start, end, the span that caused it,
  * and the run it belongs to.
  */
final case class Span(id: Int, name: String, layer: String, parent: Int, run: String,
    startNs: Long, var endNs: Long = 0L) {
  def durNs: Long = endNs - startNs
}

/** Per-stage record kept so that, after a span ends, its shuffle-map
  * stages can be told apart from its result stage.
  */
final case class StageRec(span: Int, var shuffleBytes: Long = 0L,
    var shuffleRecords: Long = 0L, var completed: Long = 0L)

/** Records spans in memory and attributes Spark work to them.
  *
  * The active span rides a Spark local property, so every job started
  * inside it carries the span id; the listener maps jobs → stages →
  * tasks back to the span. Catalyst phase times come from a
  * `QueryExecutionListener`, attributed to the span active when the
  * listener bus delivered them — the recorder drains the bus at each
  * span end, so nothing posted inside a span is read outside it.
  */
final class Trace(sc: SparkContext, val run: String) {
  val Prop = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  val stats = new ConcurrentHashMap[Int, SpanStats]()
  val stageRecs = new ConcurrentHashMap[Int, StageRec]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private var stack: List[Int] = Nil
  @volatile private var active: Int = -1
  private var completions = 0L

  private def statsOf(span: Int): SpanStats = stats.computeIfAbsent(span, _ => new SpanStats)

  val listener: SparkListener = new SparkListener {
    private def spanOf(p: java.util.Properties): Int =
      Option(p).flatMap(x => Option(x.getProperty(Prop))).map(_.toInt).getOrElse(-1)
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      statsOf(s).jobs += 1
      e.stageInfos.foreach(st => stageSpan.putIfAbsent(st.stageId, s))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = spanOf(e.properties) match { case -1 => stageSpan.getOrDefault(e.stageInfo.stageId, -1); case x => x }
      stageSpan.put(e.stageInfo.stageId, s)
      stageRecs.put(e.stageInfo.stageId, StageRec(s))
      statsOf(s).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.getOrDefault(e.stageId, -1)
      val st = statsOf(s)
      st.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        val ns = m.executorRunTime * 1000000L
        st.taskNs += ns
        st.gcMs += m.jvmGCTime
        st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        st.inputBytes += m.inputMetrics.bytesRead
        Option(stageRecs.get(e.stageId)).foreach { r =>
          r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          r.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      completions += 1
      Option(stageRecs.get(e.stageInfo.stageId)).foreach(_.completed = completions)
    }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      statsOf(active).planMs += qe.tracker.phases.values.map(_.durationMs).sum
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def span[T](layer: String, name: String)(body: => T): T = {
    val parent = stack.headOption.getOrElse(-1)
    val s = Span(spans.size, name, layer, parent, run, System.nanoTime())
    spans += s
    stack = s.id :: stack
    active = s.id
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      org.apache.spark.perfbench.ListenerBusDrain(sc)
      stack = stack.tail
      active = parent
      sc.setLocalProperty(Prop, if (parent < 0) null else parent.toString)
    }
  }

  def of(s: Span): SpanStats = Option(stats.get(s.id)).getOrElse(new SpanStats)

  /** Span duration minus the part of it its child spans cover. */
  def selfNs(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L; var cursor = s.startNs
    kids.foreach { case (a, b) =>
      val from = math.max(a, cursor)
      if (b > from) { covered += b - from; cursor = b }
    }
    s.durNs - covered
  }

  /** Totals over a set of spans, including their descendants' work. */
  def total(ss: Iterable[Span]): SpanStats = {
    val ids = mutable.HashSet.empty[Int] ++ ss.map(_.id)
    var grew = true
    while (grew) {
      val more = spans.filter(s => s.parent >= 0 && ids(s.parent) && !ids(s.id)).map(_.id)
      grew = more.nonEmpty; ids ++= more
    }
    ids.foldLeft(new SpanStats)((acc, id) => Option(stats.get(id)).map(acc.add).getOrElse(acc))
  }

  /** Splits a span's stages at its last shuffle. For the sink span the
    * last shuffle-map stage to complete is the fact shuffle of the
    * `groupByKey` (adaptive execution runs it as its own job, so the
    * result stage's parent ids do not name it). Returns (fact records,
    * fact bytes).
    */
  def sinkSplit(s: Span): (Long, Long) =
    stageRecs.asScala.values.filter(r => r.span == s.id && r.shuffleBytes > 0).toSeq
      .sortBy(_.completed).lastOption.map(f => (f.shuffleRecords, f.shuffleBytes)).getOrElse((0L, 0L))

  def writeJson(path: Path, extra: Map[String, Double]): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val sb = new StringBuilder("{\n  \"run\": " + Json.str(run) + ",\n  \"spans\": [\n")
    spans.zipWithIndex.foreach { case (s, i) =>
      val st = of(s)
      sb.append(s"""    {"id": ${s.id}, "name": ${Json.str(s.name)}, "layer": ${Json.str(s.layer)}, """ +
        s""""parent": ${s.parent}, "run": ${Json.str(s.run)}, "start_s": ${(s.startNs - t0) / 1e9}, """ +
        s""""end_s": ${(s.endNs - t0) / 1e9}, "self_s": ${selfNs(s) / 1e9}, "jobs": ${st.jobs}, """ +
        s""""stages": ${st.stages}, "tasks": ${st.tasks}, "task_s": ${st.taskNs / 1e9}, """ +
        s""""gc_s": ${st.gcMs / 1e3}, "shuffle_bytes": ${st.shuffleBytes}, "spill_bytes": ${st.spillBytes}, """ +
        s""""input_bytes": ${st.inputBytes}, "plan_s": ${st.planMs / 1e3}}""")
      sb.append(if (i < spans.size - 1) ",\n" else "\n")
    }
    sb.append("  ],\n  \"stages\": [\n")
    val recs = stageRecs.asScala.toSeq.sortBy(_._1)
    recs.zipWithIndex.foreach { case ((id, r), i) =>
      sb.append(s"""    {"id": $id, "span": ${r.span}, """ +
        s""""shuffle_bytes": ${r.shuffleBytes}, "shuffle_records": ${r.shuffleRecords}, """ +
        s""""completed": ${r.completed}}""")
      sb.append(if (i < recs.size - 1) ",\n" else "\n")
    }
    sb.append("  ],\n  \"metrics\": ").append(Json.obj(extra)).append("\n}\n")
    Files.createDirectories(path.getParent)
    Files.write(path, sb.toString.getBytes(UTF_8))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(m: Iterable[(String, Double)]): String =
    m.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")
}
