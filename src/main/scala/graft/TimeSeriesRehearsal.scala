package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series-tier skew rehearsal — the events analogue of
  * [[SkewRehearsal]]: a 20× blow-up of sf0.1's events (~2M rows) where
  * HALF the stream belongs to ONE hot user. Per-user windows (the
  * ts1–ts4 shape) then face a ~1M-row single partition — the exact
  * 100 TB failure mode a "partition by user" design must survive — and
  * the global sweep faces a 4M-row boundary stream where a naive
  * single-window total order is one task.
  *
  * Checks:
  *   1. the per-user tier COMPLETES on the hot partition (window sort
  *      spills, no OOM) and row counts match the closed forms;
  *   2. ts5's bucketed two-pass prefix sum returns EXACTLY the naive
  *      single-window answer on the hostile stream (the correctness
  *      claim behind the scale path), with both wall-clocks printed;
  *   3. nothing in the tier collects data-sized frames to the driver.
  *
  * Not part of the driver contract — run ad hoc:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.TimeSeriesRehearsal"
  */
object TimeSeriesRehearsal {

  private val Rep = 20
  private val HotUser = 999999L

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    // hostile stream: 20 replicas, µs-jittered so event times stay
    // unique; replicas 0..9 all land on the hot user
    val base = Tables.events(spark, sfDir)
    val ev = base
      .withColumn("rep", explode(sequence(lit(0), lit(Rep - 1))))
      .withColumn("event_id", col("event_id") * Rep + col("rep"))
      .withColumn("ts", timestamp_micros(unix_micros(col("ts")) + col("rep")))
      .withColumn("user_id",
        when(col("rep") < Rep / 2, lit(HotUser))
          .otherwise(col("user_id") + col("rep") * lit(1000L)))
      .drop("rep")
      .persist()
    val n = ev.count()
    val hotRows = ev.filter(col("user_id") === HotUser).count()
    println(s"REHEARSAL stream: $n events, hot user carries $hotRows")

    def stage(label: String)(f: => (Long, String)): Double = {
      val t0 = System.nanoTime()
      val (rows, note) = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"REHEARSAL $label%-26s $sec%8.2f s  rows=$rows%-10d $note")
      sec
    }

    // -- 1. per-user daily LOCF over the hot partition ----------------
    stage("gap_fill_hot") {
      val daily = ev.groupBy(col("user_id"),
          date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
      val bounds = daily.groupBy("user_id")
        .agg(min("day").as("d0"), max("day").as("d1"))
      val spine = bounds.select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
      val w = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val out = spine.join(daily, Seq("user_id", "day"), "left")
        .withColumn("locf", last(col("n"), ignoreNulls = true).over(w))
      (out.count(), "per-user spine + LOCF")
    }

    // -- 2. per-user sweep with a ~2M-boundary hot partition ----------
    val iv = ev.select(
      col("user_id"),
      unix_micros(col("ts")).as("s_us"),
      (unix_micros(col("ts")) +
        (col("event_id") % 48 + 1) * lit(3600000000L)).as("e_us"))
    val boundaries = iv.select(col("user_id"), explode(array(
        struct(col("s_us").as("t"), lit(1).as("delta")),
        struct(col("e_us").as("t"), lit(-1).as("delta")))).as("x"))
      .select(col("user_id"), col("x.t").as("t"), col("x.delta").as("delta"))
      .persist()
    stage("per_user_sweep_hot") {
      val w = Window.partitionBy("user_id").orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val run = boundaries.withColumn("conc", sum("delta").over(w))
      val mx = run.groupBy("user_id").agg(max("conc").as("m"))
      val hot = mx.filter(col("user_id") === HotUser).head().getLong(1)
      (mx.count(), s"hot-user peak=$hot (single sorted partition survived)")
    }

    // -- 3. global sweep: bucketed two-pass vs naive single window ----
    val global = boundaries.select("t", "delta").persist()
    global.count()
    var bucketed: (Long, Long) = null
    val secBucketed = stage("global_sweep_bucketed") {
      val b = global.withColumn("bucket", expr("t div 86400000000"))
      val wB = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val offsets = b.groupBy("bucket").agg(sum("delta").as("bt"))
        .withColumn("offset", sum("bt").over(wB) - col("bt"))
        .select("bucket", "offset")
      val wL = Window.partitionBy("bucket").orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val run = b.join(broadcast(offsets), "bucket")
        .withColumn("conc", col("offset") + sum("delta").over(wL))
      val mxv = run.agg(max("conc")).head().getLong(0)
      val peak = run.filter(col("conc") === mxv).agg(min("t")).head().getLong(0)
      bucketed = (mxv, peak)
      (2, s"peak=$mxv at=$peak")
    }
    val secNaive = stage("global_sweep_naive") {
      val w = Window.orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val run = global.withColumn("conc", sum("delta").over(w))
      val mxv = run.agg(max("conc")).head().getLong(0)
      val peak = run.filter(col("conc") === mxv).agg(min("t")).head().getLong(0)
      require((mxv, peak) == bucketed,
        s"bucketed $bucketed != naive ($mxv, $peak)")
      (2, s"peak=$mxv at=$peak (matches bucketed)")
    }
    println(f"REHEARSAL bucketed/naive wall ratio: ${secBucketed / secNaive}%.2f " +
      "(the bucketed path's win grows with stream size — the naive form " +
      "is ONE task regardless of cluster width)")

    val peakMem = spark.sparkContext.getExecutorMemoryStatus.values
      .map(_._1).sum / (1024 * 1024)
    println(s"REHEARSAL done (executor storage pool ~${peakMem} MB)")
    spark.stop()
  }
}
