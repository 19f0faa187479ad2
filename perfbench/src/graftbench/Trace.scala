package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Clock shared by every record of one pass: milliseconds since the pass
  * began, and a mapping from wall-clock epoch milliseconds (Spark reports
  * trigger times that way). */
final class RunClock {
  private val nano0 = System.nanoTime()
  val epoch0: Long = System.currentTimeMillis()
  def now(): Double = (System.nanoTime() - nano0) / 1e6
  def fromEpoch(epochMs: Long): Double = (epochMs - epoch0).toDouble
}

/** One span: a timed call at a layer boundary. `parent` is the span
  * that caused it (0 = root); `run` names the file it served. */
final case class Span(id: Long, name: String, start: Double, end: Double,
    parent: Long, run: String, attrs: Map[String, Any])

/** Span recorder. Disabled, `span` is a plain call; enabled, it keeps a
  * per-thread span stack (nesting gives parents) and tags the calling
  * thread's Spark jobs with the open span, so listener-side job spans
  * find their parent. Spans stay in memory until the run writes them. */
final class Tracer(val on: Boolean, val clock: RunClock, sc: SparkContext) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }
  val SpanProp = "graftbench.span"
  val RunProp = "graftbench.run"

  def all: Seq[Span] = spans.asScala.toSeq

  def add(name: String, start: Double, end: Double, parent: Long, run: String,
      attrs: Map[String, Any] = Map.empty): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), name, start, end, parent, run, attrs))

  def span[T](name: String, run: String = null)(body: => T): T =
    if (!on) body
    else {
      val outer = stack.get
      val id = ids.incrementAndGet()
      val r = Option(run).orElse(outer.headOption.map(_._2)).orNull
      val saved = (sc.getLocalProperty(SpanProp), sc.getLocalProperty(RunProp))
      sc.setLocalProperty(SpanProp, id.toString); sc.setLocalProperty(RunProp, r)
      stack.set((id, r) :: outer)
      val t0 = clock.now()
      try body
      finally {
        spans.add(Span(id, name, t0, clock.now(), outer.headOption.map(_._1).getOrElse(0L), r, Map.empty))
        stack.set(outer)
        sc.setLocalProperty(SpanProp, saved._1); sc.setLocalProperty(RunProp, saved._2)
      }
    }
}

/** Spark-side probes for a traced run, all registered from outside the
  * program: job spans with their task totals (SparkListener), Catalyst
  * phase times and scan row counts (QueryExecutionListener), and
  * micro-batch progress (StreamingQueryListener). */
final class SparkProbes(tr: Tracer) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private final class JobAcc(val start: Double, val parent: Long, val run: String,
      val site: String) {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var shuffleWrite = 0L
    var fetchWaitMs = 0L; var spill = 0L; var recordsRead = 0L; var bytesRead = 0L
    var stages = 0
  }
  private val jobs = mutable.Map.empty[Int, JobAcc]
  private val stageJob = mutable.Map.empty[Int, Int]
  val catalyst: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  val counts: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  val progress = new ConcurrentLinkedQueue[Map[String, Any]]()

  private val execSite = mutable.Map.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    // what the execution does, from its plan: inside a streaming batch
    // the description and call site name the query, not the operation
    case s: SparkListenerSQLExecutionStart => synchronized {
      val plan = s.physicalPlanDescription
      execSite(s.executionId) =
        if (plan.contains("InsertIntoHadoopFsRelationCommand")) "write"
        else if (plan.contains("min(ts")) "first_ts"
        else if (plan.contains("CollectLimit") || plan.contains("TakeOrderedAndProject")) "collect"
        else "other"
    }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val acc = new JobAcc(tr.clock.now(), prop(tr.SpanProp).map(_.toLong).getOrElse(0L),
      prop(tr.RunProp).orNull,
      // the kind of SQL execution that ran the job
      prop("spark.sql.execution.id")
        .flatMap(id => execSite.get(id.toLong)).getOrElse("?"))
    acc.stages = e.stageIds.size
    jobs(e.jobId) = acc
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); acc <- jobs.get(jid); m <- Option(e.taskMetrics)) {
      acc.tasks += 1
      acc.runMs += m.executorRunTime
      acc.cpuNs += m.executorCpuTime
      acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      acc.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      acc.recordsRead += m.inputMetrics.recordsRead
      acc.bytesRead += m.inputMetrics.bytesRead
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { a =>
      tr.add("exec.job", a.start, tr.clock.now(), a.parent, a.run, Map(
        "site" -> a.site, "stages" -> a.stages, "tasks" -> a.tasks,
        "task_run_ms" -> a.runMs, "task_cpu_ms" -> a.cpuNs / 1e6,
        "shuffle_write_bytes" -> a.shuffleWrite, "shuffle_fetch_wait_ms" -> a.fetchWaitMs,
        "spill_bytes" -> a.spill, "records_read" -> a.recordsRead,
        "bytes_read" -> a.bytesRead))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      qe.tracker.phases.foreach { case (phase, s) =>
        catalyst(phase) += (s.endTimeMs - s.startTimeMs).toDouble
      }
      collect(qe.executedPlan) { case s: BatchScanExec => s }.foreach { s =>
        if (s.scan.getClass.getName.contains("udbf"))
          s.metrics.get("numOutputRows").foreach(m => counts("udbf_scan_rows") += m.value)
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = tr.clock.fromEpoch(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val state = p.stateOperators.headOption
      progress.add(Map(
        "query" -> Option(p.name).getOrElse(""), "batch" -> p.batchId, "start" -> start,
        "input_rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_rows" -> state.map(_.numRowsTotal).getOrElse(0L),
        "state_bytes" -> state.map(_.memoryUsedBytes).getOrElse(0L)))
    }
  }
}
