package graft


/** 100k-file skipping rehearsal — the driver-side planning-cost check
  * behind the s13/s14/s15 claims ("a point/range query opens candidate
  * files, not 100k footers"): the SQL-door skipping tier's per-query
  * driver work is
  *
  *   1. ONE stats-file parse ([[graft.storage.SkippingIndex.readAt]]),
  *   2. an O(files) candidate intersection
  *      ([[graft.storage.SkippingIndex.candidateFilesTyped]]),
  *   3. for metadata COUNT, an O(files) row-count fold
  *      ([[graft.storage.ParquetCatalog.exactRowCount]]'s index path).
  *
  * The gate queries pin those at 12–60 files; this rehearsal measures
  * the CONSTANTS at 10k / 50k / 100k synthetic index entries — the
  * table sizes a 100 TB deployment actually has (~1 GB files) — so a
  * 100× scale-up's planning cost is known, not guessed. Synthetic
  * entries: the stats JSON is generated directly (the format
  * round-trips through the public read/write surface), with a
  * key-clustered layout so a narrow range keeps ~0.1% of files.
  *
  * Not part of the driver contract — run ad hoc:
  *
  *   sbt "runMain graft.SkipRehearsal"
  *
  * Results: docs/SKIP_REHEARSAL.md.
  */
object SkipRehearsal {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e6) // ms
    }

    for (n <- Seq(10000, 50000, 100000)) {
      val dir = java.nio.file.Files.createTempDirectory(s"skip-rehearsal-$n")
      val statsPath = dir.resolve("_graft_stats.json")
      // key-clustered synthetic layout: file i holds keys
      // [i*1000, (i+1)*1000), ~1k rows each — the shape compaction's
      // clusterBy produces
      val json = (0 until n).map { i =>
        s"""{"file":"/data/t/part-$i.parquet","rows":1000,"cols":[""" +
          s"""{"column":"id","typ":"INT64","min":"${i * 1000L}",""" +
          s""""max":"${i * 1000L + 999}","hasNulls":false}]}"""
      }.mkString("[\n", ",\n", "\n]")
      java.nio.file.Files.writeString(statsPath, json)
      val files = (0 until n).map(i => s"/data/t/part-$i.parquet")

      // 1) cold parse + candidate selection (a ~0.1% range)
      val lo = (n / 2) * 1000.0
      val hi = lo + n.toDouble // ~n/1000 files
      val (cand, coldMs) = time(graft.storage.SkippingIndex
        .candidateFilesAt(statsPath, files, Seq(("id", lo, hi))))
      // 2) steady state (OS page cache warm): re-run the same call
      val (_, warmMs) = time(graft.storage.SkippingIndex
        .candidateFilesAt(statsPath, files, Seq(("id", lo, hi))))
      // 3) the metadata-count fold over the (generation-cached) index —
      // the exactRowCount production path
      val (total, countMs) = time {
        graft.storage.SkippingIndex.readAtCached(statsPath).map(_.rows).sum
      }
      val bytes = java.nio.file.Files.size(statsPath)
      println(f"[skip-rehearsal] n=$n%6d statsBytes=$bytes%9d " +
        f"kept=${cand.size}%5d coldMs=$coldMs%8.1f warmMs=$warmMs%8.1f " +
        f"countMs=$countMs%8.1f totalRows=$total%d")
    }

    // r19: the BINARY index encoding at the under-compacted-100 TB
    // scale (1M files of ~100 MB) — the legacy-JSON loop above keeps
    // the historical numbers comparable; this one measures what the
    // engine now writes. Same key-clustered shape, same ~0.1% range.
    for (n <- Seq(100000, 1000000)) {
      val dir = java.nio.file.Files.createTempDirectory(s"skip-rehearsal-bin-$n")
      val statsPath = dir.resolve("_graft_stats.json")
      val stats = (0 until n).map { i =>
        graft.storage.SkippingIndex.FileStats(
          s"/data/t/part-$i.parquet", 1000L,
          Seq(graft.storage.SkippingIndex.ColStats("id", "INT64",
            (i * 1000L).toString, (i * 1000L + 999).toString,
            hasNulls = false, nulls = 0L)))
      }
      val (_, persistMs) = time(
        graft.storage.SkippingIndex.persistStats(statsPath, stats))
      val files = (0 until n).map(i => s"/data/t/part-$i.parquet")
      val lo = (n / 2) * 1000.0
      val hi = lo + n.toDouble
      val (cand, coldMs) = time(graft.storage.SkippingIndex
        .candidateFilesAt(statsPath, files, Seq(("id", lo, hi))))
      val (_, warmMs) = time(graft.storage.SkippingIndex
        .candidateFilesAt(statsPath, files, Seq(("id", lo, hi))))
      val (total, countMs) = time {
        graft.storage.SkippingIndex.readAtCached(statsPath).map(_.rows).sum
      }
      val bytes = java.nio.file.Files.size(statsPath)
      println(f"[skip-rehearsal-bin] n=$n%7d statsBytes=$bytes%9d " +
        f"kept=${cand.size}%5d persistMs=$persistMs%8.1f " +
        f"coldMs=$coldMs%8.1f warmMs=$warmMs%8.1f " +
        f"countMs=$countMs%8.1f totalRows=$total%d")
      // r20: PARTITION-FILTERED planning — the caller's live list is
      // what a 1-of-200-partitions query passes after Spark's own
      // partition pruning (n/200 files). Planning must be O(that
      // list), not O(all n index entries): the r19 warm residual was
      // the full-index reconciliation even for a pruned slice.
      val slice = (0 until n by 200).map(i => s"/data/t/part-$i.parquet")
      val (sCand, sliceMs) = time(graft.storage.SkippingIndex
        .candidateFilesAt(statsPath, slice, Seq(("id", lo, hi))))
      // and the metadata COUNT fold over the slice (exactRowCountFor's
      // resolve-once view + per-file lookup shape)
      val (sRows, sCountMs) = time {
        val view = graft.storage.SkippingIndex.viewAtCached(statsPath)
        slice.flatMap(f => view.rowCount(f)).sum
      }
      println(f"[skip-rehearsal-slice] n=$n%7d sliceFiles=${slice.size}%6d " +
        f"kept=${sCand.size}%4d warmSliceMs=$sliceMs%8.1f " +
        f"sliceCountMs=$sCountMs%8.1f sliceRows=$sRows%d")
    }
    spark.stop()
  }
}
