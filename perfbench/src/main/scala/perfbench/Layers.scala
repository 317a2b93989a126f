package perfbench

/** Per-layer metrics from a finished trace: per op, and per run as the
  * mean over timed ops (ratios as a ratio of sums). */
final case class Layers(trace: Tracer.Trace, perOp: Map[Int, Map[String, Double]],
    run: Seq[(String, (Double, String))])

object Layers {

  /** Metric name and unit, in report order. */
  val Units: Seq[(String, String)] = Seq(
    "queries.build_s" -> "s", "driver.analysis_s" -> "s", "driver.optimize_s" -> "s",
    "driver.physical_plan_s" -> "s", "driver.outside_jobs_s" -> "s",
    "sched.sql_executions" -> "count", "sched.jobs" -> "count",
    "sched.one_task_jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "exec.jobs_union_s" -> "s", "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s",
    "exec.gc_s" -> "s", "exec.empty_task_ratio" -> "ratio",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.fetch_wait_s" -> "s", "exec.spill_bytes" -> "bytes",
    "scan.files_read" -> "count", "scan.input_bytes" -> "bytes",
    "scan.input_records" -> "count", "scan.graft_scans" -> "count",
    "sources.bronze_s" -> "s", "pipeline.silver_s" -> "s", "pipeline.gold_s" -> "s",
    "storage.bytes_written" -> "bytes", "storage.files_written" -> "count",
    "storage.write_amp" -> "ratio", "storage.bytes_on_disk" -> "bytes",
    "cache.bytes_held" -> "bytes",
    "fail.tasks_failed" -> "count", "fail.stage_retries" -> "count")

  def summarize(trace: Tracer.Trace, ingestBytes: Map[Int, Long]): Layers = {
    val perOp = trace.ops.map { o =>
      val st = trace.stats(o.id)
      val wallMs = o.endMs - o.startMs
      val unionMs = st.jobsUnionMs(o.startMs, o.endMs)
      val ingest = ingestBytes.getOrElse(o.id, 0L)
      o.id -> Map[String, Double](
        "queries.build_s" -> trace.spanMs(o.id, "queries.build") / 1e3,
        "driver.analysis_s" -> st.analysisMs / 1e3,
        "driver.optimize_s" -> st.optimizeMs / 1e3,
        "driver.physical_plan_s" -> st.planningMs / 1e3,
        "driver.outside_jobs_s" -> (wallMs - unionMs) / 1e3,
        "sched.sql_executions" -> st.sqlExecutions.toDouble,
        "sched.jobs" -> st.jobs.toDouble,
        "sched.one_task_jobs" -> st.oneTaskJobs.toDouble,
        "sched.stages" -> st.stages.toDouble,
        "sched.tasks" -> st.tasks.toDouble,
        "exec.jobs_union_s" -> unionMs / 1e3,
        "exec.task_run_s" -> st.runMs / 1e3,
        "exec.task_cpu_s" -> st.cpuNs / 1e9,
        "exec.gc_s" -> st.gcMs / 1e3,
        "exec.empty_task_ratio" -> ratio(st.emptyTasks, st.tasks),
        "shuffle.write_bytes" -> st.shuffleWrite.toDouble,
        "shuffle.read_bytes" -> st.shuffleRead.toDouble,
        "shuffle.fetch_wait_s" -> st.fetchWaitMs / 1e3,
        "exec.spill_bytes" -> st.spill.toDouble,
        "scan.files_read" -> st.plan.filesRead.toDouble,
        "scan.input_bytes" -> st.inputBytes.toDouble,
        "scan.input_records" -> st.inputRecords.toDouble,
        "scan.graft_scans" -> st.plan.graftScans.toDouble,
        "sources.bronze_s" -> trace.spanMs(o.id, "sources.bronze") / 1e3,
        "pipeline.silver_s" -> trace.spanMs(o.id, "pipeline.silver") / 1e3,
        "pipeline.gold_s" -> trace.spanMs(o.id, "pipeline.gold") / 1e3,
        "storage.bytes_written" -> st.outputBytes.toDouble,
        "storage.files_written" -> st.plan.filesWritten.toDouble,
        "storage.write_amp" -> ratio(st.outputBytes, ingest),
        "storage.bytes_on_disk" -> o.diskBytes.toDouble,
        "cache.bytes_held" -> o.cacheBytes.toDouble,
        "fail.tasks_failed" -> st.tasksFailed.toDouble,
        "fail.stage_retries" -> st.stageRetries.toDouble)
    }.toMap
    val stats = trace.stats.values
    val n = math.max(1, perOp.size)
    val run = Units.map { case (name, unit) =>
      val v = name match {
        case "exec.empty_task_ratio" => ratio(stats.map(_.emptyTasks).sum, stats.map(_.tasks).sum)
        case "storage.write_amp" =>
          ratio(stats.map(_.outputBytes).sum, ingestBytes.values.sum)
        case _ => perOp.values.map(_(name)).sum / n
      }
      name -> (v, unit)
    }
    Layers(trace, perOp, run)
  }

  private def ratio(a: Long, b: Long): Double = if (b == 0) 0.0 else a.toDouble / b
}
