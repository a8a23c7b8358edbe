package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a call the benchmark makes into one layer. `parent`
  * is the enclosing span's id (-1 for an op's root span); `op` is the op
  * the span belongs to. Counters are the layer's counts, taken at the
  * span's boundary. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, startMs: Long) {
  var endNs: Long = 0L
  var endMs: Long = 0L
  val counters: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  var qe: Option[QueryExecution] = None
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/** Where an op's spans go. The untraced path runs bodies bare; the traced
  * path records a span per call and tags the Spark jobs the call starts
  * with the span's job group, so task metrics land on the span. */
sealed trait Tracer {
  def traced: Boolean
  def span[T](name: String)(body: => T): T
  def count(key: String, v: Double): Unit
  def query(qe: QueryExecution): Unit
}

object NoTrace extends Tracer {
  def traced = false
  def span[T](name: String)(body: => T): T = body
  def count(key: String, v: Double): Unit = ()
  def query(qe: QueryExecution): Unit = ()
}

/** Spans stay in memory until the run ends. */
final class SpanTracer(sc: SparkContext) extends Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var op: Int = -1

  def traced = true

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), op,
      System.nanoTime, System.currentTimeMillis)
    spans += s
    stack = s :: stack
    sc.setJobGroup(s"span-${s.id}", name)
    try body
    finally {
      s.endNs = System.nanoTime
      s.endMs = System.currentTimeMillis
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  def count(key: String, v: Double): Unit = stack.head.counters(key) += v
  def query(qe: QueryExecution): Unit = stack.head.qe = Some(qe)

  /** Self time: the span's duration minus the part its children cover. */
  def selfNs(s: Span): Long = {
    val kids = spans.iterator.filter(_.parent == s.id)
      .map(k => (k.startNs, k.endNs)).toSeq.sortBy(_._1)
    var covered = 0L
    var reach = s.startNs
    kids.foreach { case (a, b) =>
      val lo = math.max(a, reach)
      if (b > lo) { covered += b - lo; reach = b }
    }
    s.durNs - covered
  }
}

/** One finished task: its job group, run interval and metrics. */
final case class TaskRec(group: String, launchMs: Long, finishMs: Long, failed: Boolean,
                         runMs: Double, cpuMs: Double, schedDelayMs: Double,
                         shuffleWrite: Long, spill: Long, inputBytes: Long, peakExecMem: Long)

/** SparkListener that keeps every job start and task end of the run.
  * Tasks are tied to spans by job group; jobs a streaming query starts
  * carry the query's own group and are tied by time instead. */
final class TaskListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  @volatile var jobsStarted = 0L
  @volatile var jobsEnded = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    jobs.add((g, e.time))
    jobsStarted += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    val m = e.taskMetrics
    val ok = m != null
    tasks.add(TaskRec(stageGroup.getOrDefault(e.stageId, ""), info.launchTime, info.finishTime,
      info.failed || info.killed,
      if (ok) m.executorRunTime.toDouble else 0.0,
      if (ok) m.executorCpuTime / 1e6 else 0.0,
      if (ok) math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime).toDouble else 0.0,
      if (ok) m.shuffleWriteMetrics.bytesWritten else 0L,
      if (ok) m.memoryBytesSpilled + m.diskBytesSpilled else 0L,
      if (ok) m.inputMetrics.bytesRead else 0L,
      if (ok) m.peakExecutionMemory else 0L))
  }

  /** Wait until every started job's events have been delivered. */
  def drain(timeoutMs: Long = 20000): Unit = {
    val end = System.currentTimeMillis + timeoutMs
    while (jobsEnded < jobsStarted && System.currentTimeMillis < end) Thread.sleep(20)
    Thread.sleep(100)
  }

  /** Milliseconds of [fromMs, toMs] during which no task ran. */
  def idleMs(fromMs: Long, toMs: Long): Long = {
    val iv = tasks.asScala.filter(t => t.finishMs > fromMs && t.launchMs < toMs)
      .map(t => (math.max(t.launchMs, fromMs), math.min(t.finishMs, toMs))).toSeq.sortBy(_._1)
    var covered = 0L
    var reach = fromMs
    iv.foreach { case (a, b) =>
      val lo = math.max(a, reach)
      if (b > lo) { covered += b - lo; reach = b }
    }
    (toMs - fromMs) - covered
  }
}

/** Planning phases, execution time and scan shape of every finished query,
  * keyed by its QueryExecution (identity). */
final class QueryListener extends QueryExecutionListener {
  final case class Rec(phasesMs: Map[String, Double], execMs: Double,
                       scannedRows: Long, cacheScans: Int, scans: Int)
  val recs = new ConcurrentHashMap[QueryExecution, Rec]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
    val leaves = PlanWalk.leaves(qe.executedPlan)
    val scans = leaves.filter(_.metrics.contains("numOutputRows"))
    recs.put(qe, Rec(phases, durationNs / 1e6,
      scans.map(_.metrics("numOutputRows").value).sum,
      scans.count(_.isInstanceOf[InMemoryTableScanExec]), scans.size))
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def await(qes: Seq[QueryExecution], timeoutMs: Long = 20000): Unit = {
    val end = System.currentTimeMillis + timeoutMs
    while (!qes.forall(recs.containsKey) && System.currentTimeMillis < end) Thread.sleep(20)
  }
}

object PlanWalk extends AdaptiveSparkPlanHelper {
  def leaves(p: SparkPlan): Seq[SparkPlan] = collectLeaves(p)
  def smjCount(p: SparkPlan): Int = collect(p) { case j: SortMergeJoinExec => j }.size
}

/** Trigger timings of every streaming micro-batch, and each query run's
  * start time. */
final class StreamListener extends StreamingQueryListener {
  val started = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Map[String, Long])]()
  @volatile var terminated = 0L

  private def epochMs(iso: String) = java.time.Instant.parse(iso).toEpochMilli

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    started.add(epochMs(e.timestamp))

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add((epochMs(e.progress.timestamp),
      e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))

  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    terminated += 1

  def await(runs: Long, timeoutMs: Long = 20000): Unit = {
    val end = System.currentTimeMillis + timeoutMs
    while (terminated < runs && System.currentTimeMillis < end) Thread.sleep(20)
  }
}
