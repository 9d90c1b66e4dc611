package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

/** Counter totals at one instant; `-` gives the counts of an interval. */
final case class Counters(
    jobs: Long = 0, tasks: Long = 0, failedTasks: Long = 0,
    taskRunMs: Long = 0, taskCpuNs: Long = 0, taskGcMs: Long = 0,
    inputBytes: Long = 0, outputBytes: Long = 0, outputRecords: Long = 0,
    spillBytes: Long = 0, shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
    aqeUpdates: Long = 0, analysisMs: Long = 0, optimizationMs: Long = 0,
    planningMs: Long = 0, graftRulesNs: Long = 0, codegenCompiles: Long = 0) {

  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, tasks - o.tasks, failedTasks - o.failedTasks,
    taskRunMs - o.taskRunMs, taskCpuNs - o.taskCpuNs, taskGcMs - o.taskGcMs,
    inputBytes - o.inputBytes, outputBytes - o.outputBytes,
    outputRecords - o.outputRecords, spillBytes - o.spillBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, shuffleReadBytes - o.shuffleReadBytes,
    aqeUpdates - o.aqeUpdates, analysisMs - o.analysisMs,
    optimizationMs - o.optimizationMs, planningMs - o.planningMs,
    graftRulesNs - o.graftRulesNs, codegenCompiles - o.codegenCompiles)

  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, tasks + o.tasks, failedTasks + o.failedTasks,
    taskRunMs + o.taskRunMs, taskCpuNs + o.taskCpuNs, taskGcMs + o.taskGcMs,
    inputBytes + o.inputBytes, outputBytes + o.outputBytes,
    outputRecords + o.outputRecords, spillBytes + o.spillBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, shuffleReadBytes + o.shuffleReadBytes,
    aqeUpdates + o.aqeUpdates, analysisMs + o.analysisMs,
    optimizationMs + o.optimizationMs, planningMs + o.planningMs,
    graftRulesNs + o.graftRulesNs, codegenCompiles + o.codegenCompiles)

  def toMap: Seq[(String, Double)] = Seq(
    "exec.jobs" -> jobs.toDouble, "exec.tasks" -> tasks.toDouble,
    "exec.failed_tasks" -> failedTasks.toDouble,
    "exec.task_run_s" -> taskRunMs / 1e3, "exec.task_cpu_s" -> taskCpuNs / 1e9,
    "exec.task_gc_s" -> taskGcMs / 1e3,
    "exec.input_bytes" -> inputBytes.toDouble, "exec.output_bytes" -> outputBytes.toDouble,
    "exec.spill_bytes" -> spillBytes.toDouble,
    "exec.shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "exec.shuffle_read_bytes" -> shuffleReadBytes.toDouble,
    "catalyst.aqe_replans" -> aqeUpdates.toDouble,
    "catalyst.analysis_s" -> analysisMs / 1e3,
    "catalyst.optimization_s" -> optimizationMs / 1e3,
    "catalyst.planning_s" -> planningMs / 1e3,
    "catalyst.graft_rules_s" -> graftRulesNs / 1e9,
    "codegen.compiles" -> codegenCompiles.toDouble)
}

/** One traced operation: a span with its parent and the counters of its
  * interval. `jobWallMs` is the union of the Spark job intervals inside
  * the span, so `wall - construct - catalyst - jobs` is what no layer
  * claims.
  */
final case class Span(
    id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
    constructNs: Long, constructJobs: Long, constructJobMs: Long, jobWallMs: Long,
    c: Counters) {
  def wallS: Double = (endNs - startNs) / 1e9
  /** Construction time outside the jobs it fires (those count as jobs). */
  def constructOnlyS: Double = math.max(0.0, constructNs / 1e9 - constructJobMs / 1e3)
  def unattributedS: Double =
    wallS - constructOnlyS - (c.optimizationMs + c.planningMs) / 1e3 - jobWallMs / 1e3
}

/** The benchmark's view into Spark, attached from outside the program: a
  * SparkListener for jobs, tasks and adaptive re-plans, a
  * QueryExecutionListener for each action's `tracker` phases and rules,
  * and the codegen compile counter. Only the traced run attaches it.
  */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val jobs, tasks, failedTasks, runMs, cpuNs, gcMs, inB, outB, outRec,
    spill, shW, shR, aqe, anaMs, optMs, planMs, graftNs = new AtomicLong()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  /** Closed job intervals (start ms, end ms), in completion order. */
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); jobStart.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStart.remove(e.jobId)
    jobIntervals.synchronized { jobIntervals += ((s, e.time)) }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (!e.taskInfo.successful) failedTasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime); cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      inB.addAndGet(m.inputMetrics.bytesRead)
      outB.addAndGet(m.outputMetrics.bytesWritten)
      outRec.addAndGet(m.outputMetrics.recordsWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate => aqe.incrementAndGet()
    case _ =>
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    anaMs.addAndGet(ms("analysis")); optMs.addAndGet(ms("optimization"))
    planMs.addAndGet(ms("planning"))
    graftNs.addAndGet(qe.tracker.rules.collect {
      case (name, r) if name.startsWith("graft.") => r.totalTimeNs
    }.sum)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def drain(): Unit = BenchAccess.drainListenerBus(spark.sparkContext)

  def snapshot(): Counters = {
    drain()
    Counters(jobs.get, tasks.get, failedTasks.get, runMs.get, cpuNs.get, gcMs.get,
      inB.get, outB.get, outRec.get, spill.get, shW.get, shR.get, aqe.get,
      anaMs.get, optMs.get, planMs.get, graftNs.get, BenchAccess.codegenCompiles)
  }

  /** Wall-clock ms covered by the union of job intervals that overlap
    * [fromMs, toMs], clipped to it.
    */
  def jobUnionMs(fromMs: Long, toMs: Long): Long = {
    val iv = jobIntervals.synchronized(jobIntervals.toSeq)
      .map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Times every operation of a run. Untraced, it only reads the clock;
  * traced (`probe` set), each operation also becomes a span carrying the
  * counters of its interval, kept in memory and written out at the end.
  * The probe's listeners are attached only while a traced top-level
  * operation runs, so an untraced tracer in the same JVM pays nothing.
  */
final class Tracer(probe: Option[Probe]) {
  /** (name, wall s, construct s) of every timed operation, in order. */
  val ops = mutable.ArrayBuffer.empty[(String, Double, Double)]
  /** Wall s of every group (one pipeline iteration). */
  val groups = mutable.ArrayBuffer.empty[Double]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var stack = List(0)
  private var bookkeepingNs = 0L

  /** Time the tracer itself spent inside the timed operations: listener
    * attach/detach, bus drains and counter snapshots.
    */
  def overheadS: Double = bookkeepingNs / 1e9

  private def book[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally bookkeepingNs += System.nanoTime() - t0
  }

  /** Run `construct` (building the DataFrame) then `execute` (the action)
    * as one timed operation; construction time and, traced, the jobs it
    * fires are split out.
    */
  def op[A, B](name: String)(construct: => A)(execute: A => B): B =
    timed(name, isOp = true)(construct)(execute)

  /** A parent span (one pipeline iteration) around nested operations. */
  def group[B](name: String)(body: => B): B =
    timed(name, isOp = false)(())(_ => body)

  private def timed[A, B](name: String, isOp: Boolean)(construct: => A)(execute: A => B): B = {
    val id = nextId
    nextId += 1
    val parent = stack.head
    if (parent == 0) book(probe.foreach(_.attach()))
    stack = id :: stack
    val c0 = book(probe.map(_.snapshot()))
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val a = construct
      val t1 = System.nanoTime()
      val cJobs = book(probe.map(_.snapshot().jobs - c0.get.jobs).getOrElse(0L))
      val cJobMs = book(probe.map(_.jobUnionMs(ms0, System.currentTimeMillis())).getOrElse(0L))
      val b = execute(a)
      val t2 = System.nanoTime()
      if (isOp) ops += ((name, (t2 - t0) / 1e9, (t1 - t0) / 1e9))
      else groups += (t2 - t0) / 1e9
      book(probe.foreach { p =>
        val c1 = p.snapshot()
        spans += Span(id, parent, name, t0, t2, if (isOp) t1 - t0 else 0L, cJobs,
          if (isOp) cJobMs else 0L, p.jobUnionMs(ms0, System.currentTimeMillis()), c1 - c0.get)
      })
      b
    } finally {
      stack = stack.tail
      if (parent == 0) book(probe.foreach(_.detach()))
    }
  }

  def topSpans: Seq[Span] = spans.toSeq.filter(_.parent == 0)
  def leafSpans: Seq[Span] = spans.toSeq.filterNot(s => spans.exists(_.parent == s.id))

  def spanRecords: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map[String, Any]("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "wall_s" -> s.wallS,
      "construct_s" -> s.constructNs / 1e9, "construct_jobs" -> s.constructJobs,
      "construct_in_jobs_s" -> s.constructJobMs / 1e3,
      "in_jobs_s" -> s.jobWallMs / 1e3, "unattributed_s" -> s.unattributedS) ++
      s.c.toMap.toMap
  }
}
