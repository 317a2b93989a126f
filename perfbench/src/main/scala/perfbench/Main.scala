package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Executors, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark process: one workload, one seed, a closed loop with one
  * client. `perfbench/run.py` builds the classpath and starts this main;
  * see `perfbench/README.md` for the workloads and metrics.
  *
  * {{{
  * Main --workload NAME --seed N --seconds S --trace 0|1 --data DIR
  *      --expected DIR --run-dir DIR --result FILE [--trace-out FILE] [--rows N]
  * Main --pin-queries DATA_DIR VERIFY_OUT EXPECTED_DIR
  * Main --pin-medallion ROWS EXPECTED_DIR
  * }}}
  */
object Main {

  def main(args: Array[String]): Unit =
    try args.toList match {
      case "--pin-queries" :: data :: verifyOut :: out :: Nil =>
        Pins.queries(data, verifyOut, Paths.get(out))
      case "--pin-medallion" :: rows :: out :: Nil =>
        Pins.medallion(rows.toInt, Paths.get(out))
      case _ =>
        val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
        Bench.run(opts)
    } catch { case e: Throwable =>
      // Spark's non-daemon threads would keep a failed JVM alive
      e.printStackTrace()
      sys.exit(1)
    }
}

object Runs {
  val OpTimeoutS = 120L

  def session(localDir: Path, extra: Map[String, String] = Map.empty): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir.toString)
      .config("spark.sql.warehouse.dir", localDir.resolveSibling("warehouse").toString)
    val spark = extra.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Runs each op once, untimed. A failure is reported and left for the
    * timed ops to count. */
  def warm(spark: SparkSession, ops: Seq[Op]): Unit = ops.foreach { op =>
    try op.run(-1)
    catch { case NonFatal(e) => System.err.println(s"[perfbench] warm-up ${op.name} failed: $e") }
    spark.catalog.clearCache()
  }
}

/** One timed op as the loop saw it. */
final case class OpResult(id: Int, name: String, pass: Int, startMs: Double, endMs: Double,
    ok: Boolean, error: String) {
  def seconds: Double = (endMs - startMs) / 1e3
}

object Bench {

  def run(opts: Map[String, String]): Unit = {
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val runDir = Paths.get(opts("run-dir")).toAbsolutePath
    val expected = Paths.get(opts("expected"))
    val clock = new Clock
    val tracer = if (traced) Some(new Tracer(clock)) else None

    val spark = Runs.session(runDir.resolve("spark-local"),
      if (traced) Map("spark.scheduler.listenerbus.eventqueue.capacity" -> "200000") else Map.empty)
    tracer.foreach(_.install(spark))
    // everything the program persists lives under the run's own tmpdir
    val diskRoot = Paths.get(sys.props("java.io.tmpdir"))
    val workload: Workload = workloadName match {
      case "queries" =>
        val dataDir = opts("data")
        new QueryMix(spark, Workload.Queries, dataDir, Pins.readQueries(expected, dataDir),
          seed, tracer)
      case "medallion" =>
        val rows = opts.getOrElse("rows", "2000").toInt
        new Medallion(spark, diskRoot.resolve("perfbench-catalog"), rows, seed,
          Pins.readMedallion(expected), tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    workload.setup()

    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
    }
    val results = scala.collection.mutable.ArrayBuffer.empty[OpResult]
    val ingest = scala.collection.mutable.Map.empty[Int, Long]
    val cpu0 = cpu.getProcessCpuTime
    val t0 = clock.nowMs
    var passIdx = 0
    var lastPassMs = 0.0
    // Whole passes only, so every run samples the same mix of ops. The
    // pass count is the one that ends nearest to `seconds`.
    while (passIdx == 0 || clock.nowMs - t0 + lastPassMs / 2 < seconds * 1e3) {
      val passStart = clock.nowMs
      workload.pass(passIdx).foreach { op =>
        val id = results.size
        val group = s"perfbench-op-$id"
        spark.sparkContext.setJobGroup(group, op.name, interruptOnCancel = true)
        tracer.foreach(_.bindJobs(spark, id))
        val timer = watchdog.schedule(new Runnable {
          def run(): Unit = spark.sparkContext.cancelJobGroup(group)
        }, Runs.OpTimeoutS, TimeUnit.SECONDS)
        val start = clock.nowMs
        val error = try {
          Tracer.span(tracer, op.name, id)(op.run(id)); null
        } catch { case NonFatal(e) => e.toString }
        val end = clock.nowMs
        timer.cancel(false)
        if (error != null) System.err.println(s"[perfbench] op $id ${op.name} failed: $error")
        tracer.foreach { t =>
          val cached = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
          t.markOp(Tracer.OpMark(id, op.name, passIdx, start, end, error == null,
            cached, Measure.dirBytes(diskRoot)))
        }
        spark.sparkContext.clearJobGroup()
        tracer.foreach(_.bindJobs(spark, -1))
        spark.catalog.clearCache()
        ingest(id) = op.ingestBytes
        results += OpResult(id, op.name, passIdx, start, end, error == null, error)
      }
      lastPassMs = clock.nowMs - passStart
      passIdx += 1
    }
    val wallS = (clock.nowMs - t0) / 1e3
    val cpuS = (cpu.getProcessCpuTime - cpu0) / 1e9
    val conf = spark.conf.getAll.filter(_._1.startsWith("spark.")).toSeq.sorted
    spark.stop()
    watchdog.shutdownNow()
    val heapLiveMb = Measure.liveHeapMb()

    val attempted = results.size
    val passed = results.count(_.ok)
    val lat = results.map(_.seconds).sorted.toIndexedSeq
    val endToEnd = Seq(
      "ops_per_s" -> (passed / wallS, "1/s"),
      "op_p50_s" -> (Measure.quantile(lat, 0.5), "s"),
      "op_p90_s" -> (Measure.quantile(lat, 0.9), "s"),
      "cpu_s_per_op" -> (cpuS / attempted, "s"),
      "ok_ratio" -> (passed.toDouble / attempted, "ratio"),
      "heap_live_mb" -> (heapLiveMb, "MB"))
    val layers = tracer.map(t => Layers.summarize(t.finish(), ingest.toMap))

    // paths inside the checkout are recorded relative to it
    val root = sys.props("user.dir") + java.io.File.separator
    def rel(s: String) = s.replace(root, "")
    val info = Json.obj(
      "workload" -> workloadName, "seed" -> seed, "passes" -> passIdx,
      "timed_wall_s" -> wallS, "process_cpu_s" -> cpuS, "rss_peak_mb" -> Measure.peakRssMb(),
      "process_cpu_total_s" -> cpu.getProcessCpuTime / 1e9,
      "first_op_epoch_ms" -> t0,
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq.map(rel),
      "spark_conf" -> Json.obj(conf.map { case (k, v) => k -> rel(v) }: _*),
      "op_seconds" -> results.map(r => Json.obj(r.name -> r.seconds)),
      "failures" -> results.filterNot(_.ok).map(r => s"${r.name}: ${r.error}").take(20))
    def metrics(ms: Seq[(String, (Double, String))]) =
      Json.obj(ms.map { case (k, (v, u)) => k -> Json.metric(v, u) }: _*)
    val result = Json.obj(
      "correct" -> (passed == attempted), "attempted" -> attempted,
      "failed" -> (attempted - passed), "samples" -> attempted,
      "end_to_end" -> metrics(endToEnd),
      "per_layer" -> layers.map(l => metrics(l.run)).orNull,
      "info" -> info)
    Files.writeString(Paths.get(opts("result")), Json.render(result) + "\n")

    for (l <- layers; out <- opts.get("trace-out")) {
      val header = Json.obj("kind" -> "run", "info" -> info,
        "end_to_end" -> metrics(endToEnd), "per_layer" -> metrics(l.run))
      val opLines = results.map { r =>
        Json.obj("kind" -> "op", "op" -> r.id, "name" -> r.name, "pass" -> r.pass,
          "wall_s" -> r.seconds, "ok" -> r.ok,
          "layers" -> Json.obj(l.perOp(r.id).toSeq.sortBy(_._1): _*))
      }
      val spanLines = l.trace.spans.filter(s => s.op >= 0).map { s =>
        Json.obj("kind" -> "span", "span" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "op" -> s.op, "start_ms" -> (s.startMs - t0), "end_ms" -> (s.endMs - t0),
          "self_ms" -> l.trace.selfMs(s))
      }
      val path = Paths.get(out)
      Option(path.getParent).foreach(Files.createDirectories(_))
      Files.writeString(path, (header +: (opLines ++ spanLines)).map(Json.render).mkString("\n") + "\n")
    }
  }
}

object Measure {
  /** Quantile of sorted values, interpolated between the two nearest
    * ranks (numpy's default), so a small sample still gives a steady
    * median. */
  def quantile(sorted: IndexedSeq[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  /** Bytes in regular files under `root`. */
  def dirBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(p =>
        try Files.size(p) catch { case NonFatal(_) => 0L }).sum
      finally s.close()
    }

  /** Heap still in use after a full collection once the session has
    * stopped: what outlives the session, such as caches the program keeps
    * in the JVM, without the garbage whose timing makes resident memory
    * swing from run to run. */
  def liveHeapMb(): Double = {
    // the second collection frees what Spark's cleaner thread released
    // after the first one dropped the last references
    System.gc()
    Thread.sleep(1000)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this process, from /proc; the heap in use where
    * /proc is missing. */
  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    val hwm = if (Files.exists(status))
      Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024)
    else None
    hwm.getOrElse {
      val rt = Runtime.getRuntime; (rt.totalMemory - rt.freeMemory) / 1048576.0
    }
  }
}
