package graft

import graft.storage.ParquetCatalog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Change-data-feed rehearsal — the 100 TB evidence for the CDC tier
  * (`tableChanges` / `syncIncremental` / `refreshMaterialized` /
  * `readChangeStream`): when ONE day of a 365-day table changes, every
  * downstream consumer must pay for the day, not the year.
  *
  * Builds a 365-partition daily table (lineitem-derived), takes a full
  * replica, an aggregate view, and a CDC stream to a sink — then
  * applies one single-day MERGE upstream and measures what each
  * consumer READS and WRITES to catch up:
  *
  *   1. per-commit change feed (`tableChanges`): files opened vs the
  *      table's file count — the manifests are the change index, so
  *      the feed reads only the day the commit rewrote;
  *   2. replica catch-up (`syncIncremental`): one exactly-once `sync`
  *      commit; replica bytes written vs a re-bootstrap;
  *   3. materialized rollup (`refreshMaterialized`): O(delta) fold vs
  *      re-aggregating the year;
  *   4. streaming CDC (`readChangeStream`, AvailableNow): the restart
  *      delivers exactly the day's change rows.
  *
  * Asserts (throws on violation): feed reads ≤ 2 partitions' files
  * (the merge's staged day + its removed predecessor), replica equals
  * source after catch-up, the view equals a full recompute bit-exactly,
  * the stream delivers the same rows as the batch feed, and every
  * consumer's catch-up read stays under 2 % of a full scan.
  *
  * Not part of the driver contract — run ad hoc:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.CdfRehearsal"
  */
object CdfRehearsal {

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
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-cdfreh").toString
    val cat = new ParquetCatalog(spark, root)

    // 365-partition daily fact table from lineitem
    val base = Tables.lineitem(spark, sfDir)
      .select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
        date_format(date_add(lit("2024-01-01"),
          (pmod(col("l_orderkey") + col("l_partkey"), lit(365))).cast("int")),
          "yyyy-MM-dd").as("day"),
        // doubles throughout: delta arithmetic must not retype the
        // schema (a retype is a legitimate full restage — not this
        // rehearsal's shape)
        col("l_extendedprice").cast("double").as("price"),
        col("l_quantity").cast("double").as("qty"))
      // the synthetic lineitem carries duplicate (orderkey, linenumber)
      // pairs; a MERGE-keyed rehearsal needs genuinely unique keys or
      // the single-day delta legitimately touches every day its
      // duplicated keys live in
      .dropDuplicates("id")
    cat.overwriteVersioned("facts", base, Seq("day"))
    val v1 = cat.currentVersion("facts")
    val totalFiles = cat.manifestFiles("facts", v1).size
    val nDays = 365
    println(f"built: ${base.count()}%,d rows / $nDays partitions / $totalFiles files")

    // downstream consumers, all caught up to v1
    cat.syncIncremental("facts", "facts_replica", Seq("id"))
    cat.refreshMaterialized("facts", "facts_by_day", Seq("id"), Seq("day"), Seq("price"))
    val work = java.nio.file.Files.createTempDirectory("graft-cdfreh-stream")
    def drainStream(): Long = {
      val q = cat.readChangeStream("facts", Seq("id")).writeStream
        .format("parquet").option("path", s"$work/out")
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(s"$work/out").count()
    }
    val bootstrapped = drainStream()
    println(f"consumers bootstrapped (stream delivered $bootstrapped%,d change rows)")

    // ---- ONE day changes upstream -----------------------------------
    val day = "2024-06-15"
    val delta = cat.read("facts")
      .filter(col("day") === day && col("id") % 3 === 0)
      .select(col("id"), col("day"), (col("price") * lit(1.1)).as("price"),
        col("qty"))
      .unionByName(Seq(("new", day)).toDF("tag", "day")
        .select(lit(9900000001L).as("id"), col("day"),
          lit(42.0).as("price"), lit(1.0).as("qty")))
    cat.upsertVersioned("facts", delta, Seq("id"), partitionBy = Seq("day"))
    val v2 = cat.currentVersion("facts")

    // 1. the per-commit feed reads only the rewritten day
    val (feed, tFeed) = timed {
      val f = cat.tableChanges("facts", v1, v2, Seq("id"))
      (f.count(), f.inputFiles.length)
    }
    val (changeRows, feedFiles) = feed
    println(f"1. tableChanges: $changeRows%,d change rows from $feedFiles/$totalFiles files " +
      f"(${100.0 * feedFiles / totalFiles}%.2f%% of a full scan) in $tFeed%.1fs")
    require(feedFiles <= 2 * (totalFiles / nDays + 1),
      s"feed must read ~one day's files, got $feedFiles")

    // 2. replica catch-up: one sync commit, day-scoped
    val repBefore = cat.manifestFiles("facts_replica",
      cat.currentVersion("facts_replica")).toSet
    val (applied, tSync) = timed(cat.syncIncremental("facts", "facts_replica", Seq("id")))
    val repAfter = cat.manifestFiles("facts_replica",
      cat.currentVersion("facts_replica")).toSet
    val carried = (repBefore intersect repAfter).size
    println(f"2. syncIncremental: $applied commit(s), ${repAfter.size - carried} " +
      f"file(s) staged, $carried/${repBefore.size} re-referenced in $tSync%.1fs")
    require(cat.read("facts_replica").exceptAll(cat.read("facts")).isEmpty &&
      cat.read("facts").exceptAll(cat.read("facts_replica")).isEmpty,
      "replica must equal source after catch-up")

    // 3. the rollup folds the delta, bit-equal to a year re-aggregate
    val (_, tMv) = timed(
      cat.refreshMaterialized("facts", "facts_by_day", Seq("id"), Seq("day"), Seq("price")))
    val recomputed = cat.read("facts").groupBy("day")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("price").cast("decimal(28,6)")).as("sum_price"))
    val (_, tFull) = timed(recomputed.collect())
    val mism = cat.read("facts_by_day").exceptAll(recomputed).count() +
      recomputed.exceptAll(cat.read("facts_by_day")).count()
    println(f"3. refreshMaterialized: incremental $tMv%.1fs vs full re-aggregate " +
      f"$tFull%.1fs, mismatch rows = $mism")
    require(mism == 0, "incremental view must equal the full recompute")

    // 4. the CDC stream's restart delivers exactly the day's change rows
    val totalStreamed = drainStream()
    val streamedNow = totalStreamed - bootstrapped
    println(f"4. readChangeStream restart: $streamedNow%,d change rows " +
      f"(batch feed said $changeRows%,d)")
    require(streamedNow == changeRows, "stream must match the batch feed")

    println("CDF rehearsal: all invariants held")
  }
}
