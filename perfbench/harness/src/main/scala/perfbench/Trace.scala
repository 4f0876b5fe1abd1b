package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: name, start, end and the span it ran under
  * (0 = none). Recorded from the benchmark's side of each call. */
final case class Span(id: Long, parent: Long, name: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. When off, `apply` is the body and nothing else,
  * so untraced runs pay no tracing cost. */
final class Spans(val on: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val current = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  def apply[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, name, t0, System.nanoTime()))
        current.set(parent)
      }
    }

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  /** Spans as JSON lines, start/end in microseconds from the first span. */
  def write(path: String): Unit = {
    val ss = all
    val t0 = ss.headOption.map(_.startNs).getOrElse(0L)
    val lines = ss.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${graft.types.Json.str(s.name)},""" +
        s""""start_us":${(s.startNs - t0) / 1000},"end_us":${(s.endNs - t0) / 1000}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}

/** Totals of the Spark and Catalyst layers, read from Spark's public
  * listener events. Only the listener-bus thread writes; readers call
  * [[Layers.quiesce]] first. */
final class Counters {
  var jobs, stages, stagesSkipped, tasks = 0L
  var taskRunMs, taskCpuNs, taskGcMs, schedDelayMs = 0L
  var shuffleReadB, shuffleWriteB, spillB, inputB, inputRows = 0L
  var analysisMs, optimizationMs, planningMs, executions = 0L
  /** Wall time of the measured window, and the part of it with a job
    * running; filled by [[Layers.windowed]]. */
  var wallMs, busyTotalMs = 0L
  /** (start ms, end ms) of every finished job, for busy/gap time. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  def copy(): Counters = {
    val c = new Counters
    c.jobs = jobs; c.stages = stages; c.stagesSkipped = stagesSkipped
    c.tasks = tasks; c.taskRunMs = taskRunMs; c.taskCpuNs = taskCpuNs
    c.taskGcMs = taskGcMs; c.schedDelayMs = schedDelayMs
    c.shuffleReadB = shuffleReadB; c.shuffleWriteB = shuffleWriteB
    c.spillB = spillB; c.inputB = inputB; c.inputRows = inputRows
    c.analysisMs = analysisMs; c.optimizationMs = optimizationMs
    c.planningMs = planningMs; c.executions = executions
    c.wallMs = wallMs; c.busyTotalMs = busyTotalMs
    c.jobSpans ++= jobSpans
    c
  }

  /** Wall time covered by at least one running job, within [from, to] ms. */
  def busyMs(from: Long, to: Long): Long = {
    val iv = jobSpans.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Attaches a SparkListener and a QueryExecutionListener while tracing.
  * Spark's `QueryPlanningTracker` gives the Catalyst phase times of every
  * query execution; task metrics give the executor side. */
final class Layers(spark: SparkSession) {
  @volatile private var c = new Counters
  private val jobStarts = mutable.Map.empty[Int, (Long, Seq[Int])]
  private val submitted = mutable.Set.empty[Int]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      c.jobs += 1
      jobStarts(e.jobId) = (e.time, e.stageIds)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      submitted += e.stageInfo.stageId
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      c.stages += 1
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStarts.remove(e.jobId).foreach { case (t0, stageIds) =>
        c.jobSpans += ((t0, e.time))
        c.stagesSkipped += stageIds.count(id => !submitted(id))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.taskGcMs += m.jvmGCTime
        c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputB += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
        // scheduler delay as Spark's UI defines it
        c.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          e.taskInfo.gettingResultTime)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(name: String) = p.get(name).map(_.durationMs).getOrElse(0L)
      c.analysisMs += ms("analysis")
      c.optimizationMs += ms("optimization")
      c.planningMs += ms("planning")
      c.executions += 1
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    quiesce()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Waits until every event posted so far has reached the listeners. */
  def quiesce(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** A consistent copy of the totals so far. */
  def snapshot(): Counters = { quiesce(); c.copy() }
}

object Layers {
  /** What happened between two snapshots. */
  def delta(a: Counters, b: Counters): Counters = {
    val d = new Counters
    d.jobs = b.jobs - a.jobs; d.stages = b.stages - a.stages
    d.stagesSkipped = b.stagesSkipped - a.stagesSkipped; d.tasks = b.tasks - a.tasks
    d.taskRunMs = b.taskRunMs - a.taskRunMs; d.taskCpuNs = b.taskCpuNs - a.taskCpuNs
    d.taskGcMs = b.taskGcMs - a.taskGcMs; d.schedDelayMs = b.schedDelayMs - a.schedDelayMs
    d.shuffleReadB = b.shuffleReadB - a.shuffleReadB
    d.shuffleWriteB = b.shuffleWriteB - a.shuffleWriteB
    d.spillB = b.spillB - a.spillB; d.inputB = b.inputB - a.inputB
    d.inputRows = b.inputRows - a.inputRows
    d.analysisMs = b.analysisMs - a.analysisMs
    d.optimizationMs = b.optimizationMs - a.optimizationMs
    d.planningMs = b.planningMs - a.planningMs; d.executions = b.executions - a.executions
    d.jobSpans ++= b.jobSpans.drop(a.jobSpans.size)
    d
  }

  /** `d`, measured over the wall window [t0, t1] ms, with the window's
    * length and its job-busy part filled in. */
  def windowed(d: Counters, t0: Long, t1: Long): Counters = {
    val w = d.copy()
    w.wallMs = t1 - t0
    w.busyTotalMs = d.busyMs(t0, t1)
    w
  }

  private val MB = 1048576.0

  /** Per-layer metrics, each per unit of work (`units` passes or rounds). */
  def metrics(c: Counters, units: Double, cores: Int): Seq[(String, Double)] = Seq(
    "catalyst.analysis_s" -> c.analysisMs / 1e3 / units,
    "catalyst.optimization_s" -> c.optimizationMs / 1e3 / units,
    "catalyst.planning_s" -> c.planningMs / 1e3 / units,
    "catalyst.executions" -> c.executions / units,
    "spark.jobs" -> c.jobs / units,
    "spark.stages" -> c.stages / units,
    "spark.stages_skipped" -> c.stagesSkipped / units,
    "spark.tasks" -> c.tasks / units,
    "spark.job_busy_s" -> c.busyTotalMs / 1e3 / units,
    "spark.driver_gap_s" -> (c.wallMs - c.busyTotalMs) / 1e3 / units,
    "spark.task_run_s" -> c.taskRunMs / 1e3 / units,
    "spark.task_cpu_s" -> c.taskCpuNs / 1e9 / units,
    "spark.task_gc_s" -> c.taskGcMs / 1e3 / units,
    "spark.sched_delay_s" -> c.schedDelayMs / 1e3 / units,
    "spark.core_util" -> c.taskRunMs.toDouble / math.max(1L, c.wallMs) / cores,
    "spark.shuffle_read_mb" -> c.shuffleReadB / MB / units,
    "spark.shuffle_write_mb" -> c.shuffleWriteB / MB / units,
    "spark.spill_mb" -> c.spillB / MB / units,
    "sources.input_mb" -> c.inputB / MB / units,
    "sources.input_rows" -> c.inputRows / units)
}
