package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One traced interval. Times are nanoseconds since the tracer started.
  * `op` is shared by every span of one op; `parent` is -1 for an op. */
final case class Span(id: Long, op: Long, parent: Long, name: String,
                      kind: String, start: Long, end: Long,
                      attrs: Map[String, Any])

/** Client-side span recorder plus the two Spark listeners that hang jobs
  * and query plans under the spans that caused them.
  *
  * Spans nest on the single client thread. The innermost open span id is
  * set as the `perfbench.span` local property, so every job submitted
  * inside it, from any thread that inherits the client's properties,
  * names its parent. Jobs and plans arrive on the listener bus, keep
  * wall-clock stamps, and are turned into spans when the run ends.
  * Nothing is written out until then. A disabled tracer runs the body
  * and records nothing. */
final class Tracer(val enabled: Boolean) {
  private val nano0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  private var nextId = 0L
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[(Long, Long)] = Nil // (span id, op id)
  @volatile private var sc: org.apache.spark.SparkContext = _

  def now(): Long = System.nanoTime() - nano0
  private def fromEpochMs(ms: Long): Long = (ms - epochMs0) * 1000000L

  def span[T](name: String, kind: String, attrs: Map[String, Any] = Map.empty)
             (body: => T): T = {
    if (!enabled) return body
    nextId += 1
    val id = nextId
    val (parent, op) = stack match {
      case (p, o) :: _ => (p, o)
      case Nil => (-1L, id)
    }
    stack = (id, op) :: stack
    val prev = if (sc != null) sc.getLocalProperty(Tracer.Prop) else null
    if (sc != null) sc.setLocalProperty(Tracer.Prop, id.toString)
    val t0 = now()
    try body
    finally {
      spans += Span(id, op, parent, name, kind, t0, now(), attrs)
      stack = stack.tail
      if (sc != null) sc.setLocalProperty(Tracer.Prop, prev)
    }
  }

  /** Record an interval measured elsewhere under the innermost open span;
    * its name is its kind. */
  def record(kind: String, start: Long, end: Long): Unit = if (enabled) {
    nextId += 1
    val (parent, op) = stack.headOption.getOrElse((-1L, nextId))
    spans += Span(nextId, op, parent, kind, kind, start, end, Map.empty)
  }

  private var jobs: JobListener = _
  private var plans: PlanListener = _

  def attach(spark: org.apache.spark.sql.SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    jobs = new JobListener
    plans = new PlanListener
    sc.addSparkListener(jobs)
    spark.listenerManager.register(plans)
  }

  /** Wait for the listener bus, detach, and return every span: the
    * client spans, one per Spark job, one per planned query. */
  def finish(spark: org.apache.spark.sql.SparkSession): Seq[Span] = {
    if (!enabled) return Nil
    Tracer.drainBus(sc)
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
    val byId = spans.map(s => s.id -> s).toMap
    def opOf(parent: Long): Long = byId.get(parent).map(_.op).getOrElse(-1L)
    val jobSpans = jobs.done.asScala.toSeq.sortBy(_.jobId).map { j =>
      nextId += 1
      Span(nextId, opOf(j.parent), j.parent, s"job ${j.jobId}", "job",
        fromEpochMs(j.startMs), fromEpochMs(j.endMs),
        Map("stages" -> j.stages, "tasks" -> j.tasks, "cpu_ns" -> j.cpuNs,
          "run_ms" -> j.runMs, "gc_ms" -> j.gcMs, "shuffle_read" -> j.shuffleRead,
          "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill,
          "bytes_written" -> j.bytesWritten, "records_read" -> j.recordsRead,
          "ok" -> j.ok))
    }
    val planSpans = plans.done.asScala.toSeq.sortBy(_._2).map {
      case (func, start, end, phases) =>
        nextId += 1
        Span(nextId, -1L, -1L, func, "plan", fromEpochMs(start), fromEpochMs(end),
          phases)
    }
    spans.toSeq ++ jobSpans ++ planSpans
  }
}

object Tracer {
  val Prop = "perfbench.span"

  /** Block until the async listener bus has delivered every event.
    * `listenerBus` is private[spark] in source but public in bytecode. */
  def drainBus(sc: org.apache.spark.SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
      .invoke(bus, java.lang.Long.valueOf(30000L)): Unit
  }
}

private final class JobRec(val jobId: Int, val parent: Long, val startMs: Long) {
  var endMs: Long = startMs
  var ok = true
  var stages, tasks = 0
  var cpuNs, runMs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  var bytesWritten, recordsRead = 0L
}

/** Per-job totals of the scheduler and executor counters. */
private final class JobListener extends SparkListener {
  private val open = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  val done = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .map(_.toLong).getOrElse(-1L)
    val j = new JobRec(e.jobId, parent, e.time)
    open.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.synchronized(j.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (j != null && m != null) j.synchronized {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.runMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.bytesWritten += m.outputMetrics.bytesWritten
      j.recordsRead += m.inputMetrics.recordsRead
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
      done.add(j): Unit
    }
}

/** Catalyst phase times (analysis, optimization, planning) of every query
  * the session executes, from `QueryExecution.tracker`. */
private final class PlanListener extends QueryExecutionListener {
  val done = new java.util.concurrent.ConcurrentLinkedQueue[
    (String, Long, Long, Map[String, Any])]()

  private def add(func: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) {
      val start = phases.values.map(_.startTimeMs).min
      val end = phases.values.map(_.endTimeMs).max
      done.add((func, start, end,
        phases.map { case (k, v) => s"${k}_ms" -> (v.durationMs: Any) })): Unit
    }
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    add(func, qe)
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    add(func, qe)
}
