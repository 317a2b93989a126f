package graft

import graft.storage.ParquetCatalog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Partition-scoped MERGE rehearsal — the 100 TB write-path evidence
  * for `ParquetCatalog.upsert(partitionBy)` and `upsertVersioned`.
  *
  * Builds a 365-partition table (one per day, lineitem-derived rows at
  * the configured SF), then applies a single-day incremental delta —
  * the 6-hourly-ingest shape the reference runs
  * (`bronze_to_silver_transformation.py:867-920`) — through three
  * write paths and measures what each one REWRITES:
  *
  *   1. full-rewrite MERGE (the pre-round-9 path): reads and rewrites
  *      all 365 partitions;
  *   2. partition-scoped MERGE: rewrites exactly the delta's 1 touched
  *      partition — byte-count ratio vs (1) is the headline number;
  *   3. versioned MERGE: same single-partition write, with the other
  *      364 partitions RE-REFERENCED by the new version's manifest —
  *      zero bytes copied, zero links (bytes written ≈ (2), history
  *      retained, concurrent writers would be detected by the CAS).
  *
  * Asserts (throws on violation):
  *   - all three paths produce IDENTICAL table contents;
  *   - the partition-scoped paths leave untouched partitions'
  *     (path, size, mtime) fingerprints bit-unchanged;
  *   - rewritten-bytes ratio (scoped / full) stays within the touched
  *     partition's share plus per-file-overhead headroom.
  *
  * At 1000 executors and 100 TB the same plan holds: the touched set is
  * partition-count-sized driver state, the target read is statically
  * partition-pruned, and dynamic partition overwrite writes one day.
  * Not part of the driver contract — run ad hoc:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.MergeRehearsal"
  */
object MergeRehearsal {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try run(spark, sfDir)
    finally spark.stop()
  }

  private def dirBytes(p: java.nio.file.Path): Long = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(p)
    try s.iterator().asScala
      .filter(f => f.toString.endsWith(".parquet") &&
        java.nio.file.Files.isRegularFile(f))
      .map(java.nio.file.Files.size).sum
    finally s.close()
  }

  /** (relative path, size, mtime) per top-level partition dir. */
  private def fingerprints(base: java.nio.file.Path)
      : Map[String, Set[(String, Long, Long)]] = {
    import scala.jdk.CollectionConverters._
    val real = base.toRealPath()
    val s = java.nio.file.Files.walk(real)
    try s.iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") &&
        java.nio.file.Files.isRegularFile(p))
      .map { p =>
        val rel = real.relativize(p).toString
        rel.takeWhile(_ != '/') ->
          ((rel, java.nio.file.Files.size(p),
            java.nio.file.Files.getLastModifiedTime(p).toMillis))
      }.toList.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    finally s.close()
  }

  def run(spark: SparkSession, sfDir: String): Unit = {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft-merge-rehearsal").toString
    val cat = new ParquetCatalog(spark, root)

    // 365-day partitioned fact table: lineitem-derived rows, day from
    // the ship date (mod-folded to 365). The synthetic lineitem carries
    // duplicate (orderkey, linenumber) combos, so rows are deduped to
    // ONE per id — a non-unique merge key would legitimately fan the
    // touched-partition set out to every partition holding a colliding
    // key (the first run of this rehearsal proved exactly that).
    val li = Tables.lineitem(spark, sfDir)
      .select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
        pmod(date_format(col("l_shipdate"), "DDD").cast("int"), lit(365))
          .as("day"),
        col("l_quantity").as("qty"),
        col("l_extendedprice").as("price"))
      .groupBy("id")
      .agg(min("day").as("day"), max("qty").as("qty"),
        max("price").as("price"))
    val t0 = System.nanoTime()
    cat.overwrite("facts_full", li, Seq("day"))
    cat.overwrite("facts_scoped", li, Seq("day"))
    cat.overwriteVersioned("facts_versioned", li, Seq("day"))
    val buildSec = (System.nanoTime() - t0) / 1e9
    val nParts = spark.read.parquet(s"$root/facts_scoped")
      .select("day").distinct().count()
    println(f"[rehearsal] built 3 copies, $nParts%d partitions, ${buildSec}%.1f s")
    require(nParts > 300, s"expected ~365 partitions, got $nParts")

    // single-day delta: update half of day 100's rows, insert some new.
    // Materialized to DISK (not persist): the scoped upsert below
    // rewrites the very files this lineage reads, and cached blocks can
    // be evicted and recomputed from dead paths.
    spark.read.parquet(s"$root/facts_scoped")
      .filter(col("day") === 100 && col("id") % 2 === 0)
      .select(col("id"), col("day"), col("qty"),
        (col("price") * 1.1).as("price"))
      .unionByName(
        spark.read.parquet(s"$root/facts_scoped")
          .filter(col("day") === 100 && col("id") % 7 === 3)
          .select((col("id") + 1000000000L).as("id"), col("day"),
            col("qty"), col("price")))
      .write.parquet(s"$root/.delta")
    val delta = spark.read.parquet(s"$root/.delta")
    val deltaRows = delta.count()
    println(s"[rehearsal] delta: $deltaRows rows, 1 touched partition (day=100)")

    // 1. full rewrite — the pre-round-9 MERGE path spelled explicitly:
    // read everything, merge, rewrite every partition
    val tFull0 = System.nanoTime()
    val mergedFull = graft.operators.Upsert
      .merge(cat.read("facts_full"), delta, Seq("id")).persist()
    mergedFull.count()
    cat.overwrite("facts_full", mergedFull, Seq("day"))
    mergedFull.unpersist()
    val fullSec = (System.nanoTime() - tFull0) / 1e9
    val fullBytes = dirBytes(Paths.get(root, "facts_full"))

    // 2. partition-scoped
    val beforeFp = fingerprints(Paths.get(root, "facts_scoped"))
    val tS0 = System.nanoTime()
    cat.upsert("facts_scoped", delta, Seq("id"), partitionBy = Seq("day"))
    val scopedSec = (System.nanoTime() - tS0) / 1e9
    val afterFp = fingerprints(Paths.get(root, "facts_scoped"))
    val rewritten = afterFp.collect {
      case (p, fs) if beforeFp.get(p).forall(_ != fs) =>
        fs.map(_._2).sum
    }.sum
    val changedParts = afterFp.collect {
      case (p, fs) if beforeFp.get(p).forall(_ != fs) => p
    }.toSeq.sorted
    require(changedParts == Seq("day=100"),
      s"partition-scoped merge rewrote ${changedParts.size} partitions, " +
        s"expected only day=100: ${changedParts.take(60).mkString(",")}")
    // The hard invariant is changedParts == Seq("day=100") above; the
    // byte ratio is the 100 TB headline but at toy SFs fixed per-file
    // parquet overhead (footers, dictionary pages) inflates the single
    // rewritten partition's share — so the envelope is the partition
    // share with generous overhead headroom, not 1/365 exactly.
    val ratio = rewritten.toDouble / fullBytes
    require(ratio <= 20.0 / nParts,
      f"rewrite ratio $ratio%.5f exceeds the ${20.0 / nParts}%.5f envelope")
    println(f"[rehearsal] full rewrite: ${fullSec}%.1f s, " +
      f"$fullBytes%d bytes — every partition")
    println(f"[rehearsal] partition-scoped: ${scopedSec}%.1f s, " +
      f"$rewritten%d bytes rewritten = ${ratio * 100}%.3f%% of the table " +
      f"(${fullSec / scopedSec}%.1f x faster here; at 100 TB the ratio IS the win)")

    // 3. versioned: manifest re-referencing (zero-copy sharing)
    val tV0 = System.nanoTime()
    cat.upsertVersioned("facts_versioned", delta, Seq("id"),
      partitionBy = Seq("day"))
    val verSec = (System.nanoTime() - tV0) / 1e9
    val v1Files = cat.manifestFiles("facts_versioned", 1).toSet
    val v2Files = cat.manifestFiles("facts_versioned", 2)
    def partOf(f: String) = graft.storage.TableManifest.partitionComponent(f)
    // every untouched partition's v2 entry must be v1's file VERBATIM
    val unshared = v2Files.count(f => partOf(f) != "day=100" && !v1Files.contains(f))
    require(unshared == 0,
      s"$unshared untouched manifest entries not re-referenced from v1")
    // and v1's untouched files are physically still there (write-once)
    val missing = v1Files.count { f =>
      partOf(f) != "day=100" &&
        !Files.exists(Paths.get(root, ".versions", "facts_versioned").resolve(f))
    }
    require(missing == 0, s"$missing v1 files vanished under the new commit")
    println(f"[rehearsal] versioned: ${verSec}%.1f s, 364 partitions " +
      "re-referenced by manifest (0 bytes copied, 0 links), v1 retained")

    // all three paths identical
    def table(n: String) = cat.read(n).select("id", "day", "qty", "price")
    val scopedDiff = table("facts_scoped").exceptAll(table("facts_full")).count() +
      table("facts_full").exceptAll(table("facts_scoped")).count()
    val verDiff = table("facts_versioned").exceptAll(table("facts_full")).count() +
      table("facts_full").exceptAll(table("facts_versioned")).count()
    require(scopedDiff == 0 && verDiff == 0,
      s"path divergence: scoped=$scopedDiff versioned=$verDiff")
    println("[rehearsal] all three merge paths produced identical tables — PASS")
  }
}
