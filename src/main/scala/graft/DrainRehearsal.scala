package graft

import graft.storage.ParquetCatalog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming admission-control rehearsal — the 100 TB evidence for the
  * rate-limited source ([[graft.streaming.TableSource]]): a consumer
  * that checkpointed at version V and comes back after a long gap must
  * catch up in BOUNDED batches, not plan one backlog-sized batch.
  *
  * Builds a versioned table, bootstraps a consumer at version 1, lands
  * a 40-commit append backlog upstream, and drains the SAME backlog
  * three ways under `Trigger.AvailableNow`:
  *
  *   1. unbounded (no rate limit) — the pre-round-14 hazard, measured:
  *      ONE batch carrying the entire backlog;
  *   2. `maxVersionsPerTrigger = 5` — ceil(40/5) = 8 batches, each a
  *      bounded window;
  *   3. `maxFilesPerTrigger = 12` — batches bounded by files-added
  *      (the size-shaped knob when commits vary in width).
  *
  * Asserts (throws on violation): every drain delivers exactly the
  * backlog's rows (exactly-once regardless of batching), the bounded
  * drains plan the predicted batch counts, and their LARGEST batch
  * carries at most its window's share of the backlog — the peak-memory
  * bound that matters at scale, since a micro-batch is one unit of
  * shuffle/sink work.
  *
  * Not part of the driver contract — run ad hoc:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.DrainRehearsal"
  */
object DrainRehearsal {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try run(spark, sfDir)
    finally spark.stop()
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def run(spark: SparkSession, sfDir: String): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft-drain").toString
    val cat = new ParquetCatalog(spark, root)
    val o = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")

    // v1 bootstrap the consumer has already seen; then the backlog
    cat.overwriteVersioned("t", o, Seq("o_orderstatus"))
    val checkpointed = cat.currentVersion("t")
    val nCommits = 40
    (0 until nCommits).foreach { i =>
      cat.appendVersioned("t",
        o.filter(col("o_orderkey") % nCommits === i)
          .select((col("o_orderkey") + 10000000).as("o_orderkey"),
            col("o_totalprice"), col("o_orderstatus")),
        Seq("o_orderstatus"))
    }
    val backlogRows = o.count()
    val backlogFiles = (2L to (nCommits + 1L))
      .map(v => cat.manifestFiles("t", v).size -
        cat.manifestFiles("t", v - 1).size).sum
    println(f"backlog: $nCommits commits / $backlogRows%,d rows / " +
      f"$backlogFiles files behind the checkpoint")

    final case class Drain(batches: Int, maxRows: Long, total: Long, secs: Double)
    def drain(label: String, maxV: Option[Long], maxF: Option[Long]): Drain = {
      val rows = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val ckpt = s"$root/ckpt-${label.replaceAll("\\W", "_")}"
      val (_, secs) = timed {
        val q = cat.readStream("t", startingVersion = checkpointed,
            maxVersionsPerTrigger = maxV, maxFilesPerTrigger = maxF)
          .writeStream
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
              rows.add(b.count()); ()
          }.start()
        q.awaitTermination()
      }
      import scala.jdk.CollectionConverters._
      val rs = rows.asScala.toSeq
      val d = Drain(rs.size, rs.max, rs.sum, secs)
      println(f"$label%-28s ${d.batches}%3d batches, " +
        f"largest ${d.maxRows}%,9d rows (${100.0 * d.maxRows / backlogRows}%5.1f%% " +
        f"of backlog), total ${d.total}%,d rows, ${d.secs}%.1f s")
      d
    }

    val u = drain("unbounded", None, None)
    val v5 = drain("maxVersionsPerTrigger=5", Some(5L), None)
    val f12 = drain("maxFilesPerTrigger=12", None, Some(12L))

    require(Seq(u, v5, f12).forall(_.total == backlogRows),
      "every drain must deliver exactly the backlog, once")
    require(u.batches == 1 && u.maxRows == backlogRows,
      "unbounded catch-up IS one backlog-sized batch — the hazard being bounded")
    require(v5.batches == math.ceil(nCommits / 5.0).toInt,
      s"expected ${math.ceil(nCommits / 5.0).toInt} batches, got ${v5.batches}")
    // each 5-commit window carries ~5/40 of the backlog (commits are
    // near-equal slices here); allow 2x slack for slice skew
    require(v5.maxRows <= backlogRows * 5 * 2 / nCommits,
      s"a bounded batch must stay window-sized, got ${v5.maxRows}")
    require(f12.batches > 1 && f12.maxRows < backlogRows,
      "file-capped drain must be multi-batch")

    println("drain rehearsal: all invariants held")
  }
}
