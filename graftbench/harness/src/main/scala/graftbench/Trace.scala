package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. `op` groups the spans of
  * one benchmark operation; `parent` is the enclosing span (-1 for a root).
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task-level counters summed over every task whose job ran inside a span. */
final class ExecAgg {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
}

/** A file scan seen in an executed plan: where it read, what format, how
  * many rows it produced and how many bytes its files hold.
  */
final case class ScanRec(atMs: Long, csv: Boolean, roots: Seq[String],
                         rows: Long, fileBytes: Long)

/** Spans recorded from the harness around public entry points, plus the
  * Spark listeners that attribute engine counters to them. Listeners are
  * installed only by [[install]], which only the traced run calls; an
  * untraced run carries a Tracer whose `span` is a plain call.
  */
final class Tracer(spark: SparkSession) {
  val SpanKey = "graftbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  val exec = mutable.Map.empty[Int, ExecAgg]
  val planningMs = mutable.ArrayBuffer.empty[(Long, Long)] // (atMs, ms)
  val scans = mutable.ArrayBuffer.empty[ScanRec]
  @volatile var enabled = false
  private var installed = false
  private var nextId = 0
  private var stack = List.empty[Int]
  var op = -1

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val sc = spark.sparkContext
      val saved = sc.getLocalProperty(SpanKey)
      stack = id :: stack
      sc.setLocalProperty(SpanKey, id.toString)
      val (s0, m0) = (System.nanoTime(), System.currentTimeMillis())
      try f
      finally {
        val (s1, m1) = (System.nanoTime(), System.currentTimeMillis())
        stack = stack.tail
        sc.setLocalProperty(SpanKey, saved)
        spans.synchronized(spans += Span(id, name, parent, op, s0, s1, m0, m1))
      }
    }

  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)

  private def agg(span: Int): ExecAgg = exec.synchronized(exec.getOrElseUpdate(span, new ExecAgg))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (enabled) spanOf(e.properties).foreach { s =>
        e.stageIds.foreach(stageSpan.put(_, s))
        val a = agg(s)
        a.synchronized(a.jobs += 1)
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (enabled) spanOf(e.properties).foreach(stageSpan.put(e.stageInfo.stageId, _))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (enabled && m != null && stageSpan.containsKey(e.stageId)) {
        val a = agg(stageSpan.get(e.stageId))
        a.synchronized {
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.gcMs += m.jvmGCTime
          a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.diskBytesSpilled
          a.inputBytes += m.inputMetrics.bytesRead
          a.inputRecords += m.inputMetrics.recordsRead
        }
      }
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) {
        val now = System.currentTimeMillis()
        val phases = qe.tracker.phases
        val at = phases.get("planning").map(_.endTimeMs)
          .getOrElse(now - durationNs / 1000000L)
        val ms = Seq("analysis", "optimization", "planning")
          .flatMap(phases.get).map(_.durationMs).sum
        planningMs.synchronized(planningMs += (at -> ms))
        val found = Plans.collectWithSubqueries(qe.executedPlan) {
          case s: FileSourceScanExec =>
            ScanRec(at, s.relation.fileFormat.isInstanceOf[CSVFileFormat],
              s.relation.location.rootPaths.map(_.toUri.getPath),
              s.metrics.get("numOutputRows").map(_.value).getOrElse(0L),
              s.metrics.get("filesSize").map(_.value).getOrElse(0L))
        }
        scans.synchronized(scans ++= found)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    installed = true
  }

  /** Wait until the asynchronous listener buses have delivered every event
    * of the work done so far (tasks of finished jobs, query executions).
    */
  def drain(): Unit = if (installed) {
    def size = (scans.synchronized(scans.size), planningMs.synchronized(planningMs.size),
      exec.synchronized(exec.values.map(a => a.synchronized(a.tasks)).sum))
    var last = size
    var quiet = 0
    val deadline = System.nanoTime() + 5000000000L
    while (quiet < 4 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val now = size
      if (now == last) quiet += 1 else { quiet = 0; last = now }
    }
  }

  /** The innermost span open at epoch millisecond `ms`. */
  def spanAt(ms: Long): Option[Span] =
    spans.filter(s => s.startMs <= ms && ms <= s.endMs)
      .sortBy(s => s.endNs - s.startNs).headOption

  /** Self time: a span's duration minus the time its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  /** Every span id in the subtree rooted at `root`. */
  def subtree(root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Set[Int] =
      Set(id) ++ kids.getOrElse(id, Nil).flatMap(k => go(k.id))
    go(root)
  }

  def execOf(ids: Set[Int]): ExecAgg = {
    val out = new ExecAgg
    exec.synchronized(ids.flatMap(exec.get)).foreach { a =>
      out.jobs += a.jobs; out.tasks += a.tasks; out.runMs += a.runMs
      out.gcMs += a.gcMs; out.shuffleWriteBytes += a.shuffleWriteBytes
      out.spillBytes += a.spillBytes; out.inputBytes += a.inputBytes
      out.inputRecords += a.inputRecords
    }
    out
  }

  /** Spans as JSON-ready maps, for the trace file written at the end. */
  def spanRecords: Seq[Map[String, Any]] = spans.toSeq.sortBy(_.id).map(s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
      "self_seconds" -> selfSeconds(s)))
}
