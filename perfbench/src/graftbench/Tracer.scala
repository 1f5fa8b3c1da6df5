package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer totals of one traced span (an op, or one decomposed call). */
final class SpanTotals {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskRunMs = 0L; var taskCpuNs = 0L; var gcMs = 0L; var peakMemBytes = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L; var spill = 0L
  var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L
  var scanRows = 0L; var scanBytes = 0L; var scanMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Wall time covered by at least one job (overlapping jobs count once). */
  def jobUnionMs: Long = {
    var total = 0L; var curS = -1L; var curE = -1L
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
  def catalystMs: Long = analysisMs + optimizationMs + planningMs
}

/** Spark's public listener interfaces, registered from outside the program.
  * Jobs, stages and tasks are attributed to a span through the local
  * property the harness sets around each call; query executions (whose
  * callbacks carry no job properties) are attributed by the start time of
  * their first phase, which falls inside one op's span (and the spans
  * nested in it) because the benchmark is a single closed-loop client. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val spans = new ConcurrentHashMap[String, SpanTotals]()
  private val jobSpan = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val windows = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val executions = mutable.ArrayBuffer.empty[(Long, SpanTotals => Unit)]

  def totals(span: String): SpanTotals = spans.computeIfAbsent(span, _ => new SpanTotals)

  /** A nested span `op3.commit` also counts toward `op3`. */
  private def withParents(span: String): Seq[SpanTotals] =
    span.split('.').inits.filter(_.nonEmpty).map(p => totals(p.mkString("."))).toSeq

  /** Runs `body` as span `name`: jobs it starts carry the span id. */
  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, name)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      synchronized(windows += ((name, t0, t1)))
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  private var registered = false

  /** Starts listening (no-op while listening). */
  def register(): Unit = if (!registered) {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    registered = true
  }

  /** Delivers every event posted so far, then stops listening, so untraced
    * ops run without listener cost (no-op while not listening). */
  def pause(): Unit = if (registered) {
    org.apache.spark.graftbench.BusDrain(spark.sparkContext)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
    registered = false
  }

  /** Stops listening and files every query execution under its spans. */
  def finish(): Unit = {
    pause()
    synchronized {
      executions.foreach { case (t, add) =>
        windows.filter { case (_, s, e) => t >= s && t <= e }
          .foreach { case (name, _, _) => add(totals(name)) }
      }
      executions.clear()
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val name = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).orNull
    if (name != null) {
      jobSpan.put(e.jobId, name)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(stageSpan.put(_, name))
      withParents(name).foreach(t => t.synchronized(t.jobs += 1))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { name =>
      val s = jobStart.remove(e.jobId)
      withParents(name).foreach(t => t.synchronized(t.jobIntervals += ((s, e.time))))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { name =>
      withParents(name).foreach(t => t.synchronized(t.stages += 1))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { name =>
      val m = e.taskMetrics
      withParents(name).foreach(t => t.synchronized {
        t.tasks += 1
        if (m != null) {
          t.taskRunMs += m.executorRunTime
          t.taskCpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          t.peakMemBytes = math.max(t.peakMemBytes, m.peakExecutionMemory)
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      })
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val (a, o, p) = (ms("analysis"), ms("optimization"), ms("planning"))
    val start = phases.values.map(_.startTimeMs).foldLeft(Long.MaxValue)(math.min)
    val scans = PlanWalk.collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
    def metric(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    val rows = scans.map(metric(_, "numOutputRows")).sum
    val bytes = scans.map(metric(_, "filesSize")).sum
    val scanMs = scans.map(metric(_, "scanTime")).sum
    if (start != Long.MaxValue) synchronized {
      executions += ((start, (t: SpanTotals) => t.synchronized {
        t.analysisMs += a; t.optimizationMs += o; t.planningMs += p
        t.scanRows += rows; t.scanBytes += bytes; t.scanMs += scanMs
      }))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  val SpanKey = "graftbench.span"
  private object PlanWalk extends AdaptiveSparkPlanHelper
}
