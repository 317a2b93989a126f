package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer trace of one benchmark run, built only from the outside:
  * spans the harness opens around its calls into the program, plus
  * Spark's public `SparkListener` and `QueryExecutionListener` events.
  *
  * Spans and events are kept in memory. Spark delivers listener events
  * asynchronously, so they are joined to ops only in [[finish]], after
  * `SparkContext.stop()` has drained the listener bus. Jobs carry the op
  * id as a local property; query executions are placed by the time their
  * analysis started, which is exact because ops run one at a time.
  */
final class Tracer(clock: Clock) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val ops = mutable.ArrayBuffer.empty[OpMark]

  private val jobs = new ConcurrentLinkedQueue[JobEv]()
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Double)]()
  private val stages = new ConcurrentLinkedQueue[StageEv]()
  private val tasks = new ConcurrentLinkedQueue[TaskEv]()
  private val execs = new ConcurrentLinkedQueue[ExecEv]()

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Marks the op whose Spark jobs follow; `-1` means no op. */
  def bindJobs(spark: SparkSession, op: Int): Unit =
    spark.sparkContext.setLocalProperty(OpProperty, if (op < 0) null else op.toString)

  def span[T](name: String, op: Int)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), op,
      clock.nowMs, Double.NaN)
    spans += s
    open = s :: open
    try body finally {
      s.endMs = clock.nowMs
      open = open.tail
    }
  }

  def markOp(m: OpMark): Unit = ops += m

  // ---- listeners --------------------------------------------------------

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
        .map(_.toInt).getOrElse(-1)
      jobs.add(JobEv(e.jobId, op, e.time.toDouble, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.add(e.jobId -> e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(StageEv(e.stageInfo.stageId, e.stageInfo.attemptNumber()))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val ok = e.reason == Success
      tasks.add(if (m == null) TaskEv(e.stageId, ok) else {
        val sr = m.shuffleReadMetrics
        val sw = m.shuffleWriteMetrics
        TaskEv(e.stageId, ok,
          runMs = m.executorRunTime, cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
          shuffleWrite = sw.bytesWritten, shuffleWriteRecords = sw.recordsWritten,
          shuffleRead = sr.totalBytesRead, shuffleReadRecords = sr.recordsRead,
          fetchWaitMs = sr.fetchWaitTime, spill = m.diskBytesSpilled,
          inputBytes = m.inputMetrics.bytesRead, inputRecords = m.inputMetrics.recordsRead,
          outputBytes = m.outputMetrics.bytesWritten,
          outputRecords = m.outputMetrics.recordsWritten)
      })
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    val at = phases.values.map(_.startTimeMs).minOption.map(_.toDouble)
      .getOrElse(clock.nowMs)
    // a query that failed in planning has no executed plan to walk
    val plan = Try(PlanStats.of(qe.executedPlan)).getOrElse(PlanStats())
    execs.add(ExecEv(at, ms("analysis"), ms("optimization"), ms("planning"), plan))
  }

  // ---- aggregation ------------------------------------------------------

  /** Joins events to ops. Call after the SparkContext has stopped. */
  def finish(): Trace = {
    val jobEnd = jobEnds.asScala.toMap
    val jobList = jobs.asScala.toSeq
    val stageToJob = jobList.flatMap(j => j.stageIds.map(_ -> j)).toMap
    val byOp = ops.map(o => o.id -> new OpStats).toMap
    def statsFor(op: Int) = byOp.get(op)

    val jobTasks = mutable.Map.empty[Int, Int].withDefaultValue(0)
    tasks.asScala.foreach { t =>
      stageToJob.get(t.stageId).foreach { j =>
        jobTasks(j.jobId) += 1
        statsFor(j.op).foreach(_.addTask(t))
      }
    }
    stages.asScala.foreach { s =>
      stageToJob.get(s.stageId).flatMap(j => statsFor(j.op)).foreach { st =>
        st.stages += 1
        if (s.attempt > 0) st.stageRetries += 1
      }
    }
    jobList.foreach { j =>
      statsFor(j.op).foreach { st =>
        st.jobs += 1
        if (jobTasks(j.jobId) == 1) st.oneTaskJobs += 1
        st.jobIntervals += ((j.startMs, jobEnd.getOrElse(j.jobId, j.startMs)))
      }
    }
    execs.asScala.foreach { x =>
      ops.find(o => x.atMs >= o.startMs && x.atMs <= o.endMs).foreach { o =>
        val st = byOp(o.id)
        st.sqlExecutions += 1
        st.analysisMs += x.analysisMs; st.optimizeMs += x.optimizeMs
        st.planningMs += x.planningMs
        st.plan = st.plan + x.plan
      }
    }
    // job spans hang under the innermost harness span open at submission
    val jobSpans = jobList.filter(j => byOp.contains(j.op)).sortBy(_.startMs).map { j =>
      val parent = spans.filter(s => s.op == j.op && s.startMs <= j.startMs &&
        j.startMs <= s.endMs).sortBy(-_.startMs).headOption.map(_.id).getOrElse(-1)
      Span(-1, s"spark.job.${j.jobId}", parent, j.op, j.startMs,
        jobEnd.getOrElse(j.jobId, j.startMs))
    }
    val all = spans.toSeq ++ jobSpans.zipWithIndex.map { case (s, i) => s.copy(id = spans.size + i) }
    Trace(ops.toSeq, byOp, all)
  }
}

object Tracer {
  val OpProperty = "perfbench.op"

  /** A span when tracing, the bare call otherwise. */
  def span[T](t: Option[Tracer], name: String, op: Int)(body: => T): T =
    t.fold(body)(_.span(name, op)(body))

  final case class Span(id: Int, name: String, parent: Int, op: Int,
      startMs: Double, var endMs: Double)

  final case class OpMark(id: Int, name: String, pass: Int, startMs: Double,
      endMs: Double, ok: Boolean, cacheBytes: Long, diskBytes: Long)

  final case class JobEv(jobId: Int, op: Int, startMs: Double, stageIds: Seq[Int])
  final case class StageEv(stageId: Int, attempt: Int)
  final case class TaskEv(stageId: Int, ok: Boolean, runMs: Long = 0, cpuNs: Long = 0,
      gcMs: Long = 0, shuffleWrite: Long = 0, shuffleWriteRecords: Long = 0,
      shuffleRead: Long = 0, shuffleReadRecords: Long = 0, fetchWaitMs: Long = 0,
      spill: Long = 0, inputBytes: Long = 0, inputRecords: Long = 0,
      outputBytes: Long = 0, outputRecords: Long = 0) {
    def empty: Boolean = inputBytes + inputRecords + shuffleRead + shuffleReadRecords +
      shuffleWrite + shuffleWriteRecords + outputBytes + outputRecords == 0
  }
  final case class ExecEv(atMs: Double, analysisMs: Double, optimizeMs: Double,
      planningMs: Double, plan: PlanStats)

  /** What the executed plan of one query execution scanned and wrote. */
  final case class PlanStats(filesRead: Long = 0, graftScans: Long = 0,
      filesWritten: Long = 0) {
    def +(o: PlanStats): PlanStats = PlanStats(filesRead + o.filesRead,
      graftScans + o.graftScans, filesWritten + o.filesWritten)
  }

  object PlanStats extends AdaptiveSparkPlanHelper {
    def of(plan: SparkPlan): PlanStats = plan match {
      case c: CommandResultExec => of(c.commandPhysicalPlan)
      case p => collectWithSubqueries(p) {
        case s: FileSourceScanExec =>
          PlanStats(filesRead = metric(s, "numFiles"))
        case b: BatchScanExec =>
          val files = b.inputPartitions.collect { case f: FilePartition => f.files.length }.sum
          val graft = b.scan.getClass.getSimpleName.matches("Graft.*Scan")
          PlanStats(filesRead = files, graftScans = if (graft) 1 else 0)
        case w: DataWritingCommandExec =>
          PlanStats(filesWritten = metric(w, "numFiles"))
      }.foldLeft(PlanStats())(_ + _)
    }
    private def metric(p: SparkPlan, name: String): Long =
      p.metrics.get(name).map(_.value).getOrElse(0L)
  }

  final class OpStats {
    var sqlExecutions, jobs, oneTaskJobs, stages, tasks, emptyTasks = 0L
    var tasksFailed, stageRetries = 0L
    var analysisMs, optimizeMs, planningMs = 0.0
    var runMs, cpuNs, gcMs, fetchWaitMs = 0L
    var shuffleWrite, shuffleRead, spill, inputBytes, inputRecords, outputBytes = 0L
    var plan = PlanStats()
    val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]

    def addTask(t: TaskEv): Unit = {
      tasks += 1
      if (!t.ok) tasksFailed += 1
      if (t.empty) emptyTasks += 1
      runMs += t.runMs; cpuNs += t.cpuNs; gcMs += t.gcMs; fetchWaitMs += t.fetchWaitMs
      shuffleWrite += t.shuffleWrite; shuffleRead += t.shuffleRead; spill += t.spill
      inputBytes += t.inputBytes; inputRecords += t.inputRecords
      outputBytes += t.outputBytes
    }

    /** Wall time covered by at least one job, clipped to the op, so
      * concurrent jobs are not counted twice. */
    def jobsUnionMs(from: Double, to: Double): Double =
      unionMs(jobIntervals.toSeq.map { case (s, e) => (s max from, e min to) })
  }

  /** Length of the union of intervals: overlaps are counted once. */
  def unionMs(intervals: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var started = false
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (!started) { curS = s; curE = e; started = true }
      else if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = curE max e
    }
    if (started) total + (curE - curS) else 0.0
  }

  final case class Trace(ops: Seq[OpMark], stats: Map[Int, OpStats], spans: Seq[Span]) {

    /** Span duration minus the part of it that its children cover. */
    def selfMs(s: Span): Double = (s.endMs - s.startMs) - unionMs(
      spans.filter(_.parent == s.id).map(k => (k.startMs max s.startMs, k.endMs min s.endMs)))

    def spanMs(op: Int, name: String): Double =
      spans.filter(s => s.op == op && s.name == name).map(s => s.endMs - s.startMs).sum
  }
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as Spark's event times. */
final class Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
