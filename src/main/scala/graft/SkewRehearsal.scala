package graft

import graft.operators.Graph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10× skew rehearsal — runs the dedup/ANN/curation stack against a
  * deliberately hostile blowup of sf0.1: every document replicated 10×
  * (4 exact duplicates + 5 near-duplicates per original) plus a single
  * 6000-member near-identical HOT cluster (half byte-identical, half
  * suffixed), and every embedding replicated 10× with tiny deterministic
  * perturbations plus a 6000-member hot vector cluster. The hot groups
  * exceed every `maxBucket = 4096` cap, so the hub-star (pair listing)
  * and sub-split (self-top-k) guard paths run on real volume, not just
  * the SkewSpec fixtures.
  *
  * The check is the O(n·cap) envelope: candidate counts must stay below
  * n·maxBucket even though the naive pair count of the hot cluster
  * alone is ~18M. Violations throw; the run prints one summary line per
  * stage for the round notes. Not part of the driver contract — run ad
  * hoc:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.SkewRehearsal"
  *
  * The blowup is written once to `SPARK_GRAFT_SKEW_DIR` (default
  * /tmp/graft_skew10x) with a marker-last protocol and reused.
  */
object SkewRehearsal {

  private val Cap = 4096
  private val HotN = 6000L

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SKEW_DIR", "/tmp/graft_skew10x")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    buildBlowup(spark, sfDir, outDir)
    val docs = spark.read.parquet(s"$outDir/documents").persist()
    val emb = spark.read.parquet(s"$outDir/embeddings").persist()
    val nDocs = docs.count()
    val nEmb = emb.count()
    println(s"REHEARSAL corpus: $nDocs docs, $nEmb embeddings " +
      s"(hot cluster $HotN > cap $Cap)")

    def stage(label: String)(f: => (Long, String)): Unit = {
      val t0 = System.nanoTime()
      val (n, note) = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"REHEARSAL $label%-24s $sec%8.2f s  rows=$n%-10d $note")
    }

    import graft.operators.{Dedup, Similarity, IvfPq}

    // A — exact dedup: the 4 exact replicas + the identical half of the
    // hot cluster collapse here; survivors bound the LSH input.
    stage("exact_dedup") {
      val n = Dedup.exactByDigest(docs, "doc_id", "text").count()
      (n, s"of $nDocs")
    }

    // B — MinHash+LSH candidates under the hub-star cap. The hot
    // cluster shares one bucket per band; uncapped that is
    // ~HotN²/2 ≈ 18M pairs — the envelope says ≤ n·cap total.
    val sigs = Dedup.minhashSignaturesNarrow(docs, "doc_id", "text", 8)
    val bands = Dedup.lshBands(sigs, "doc_id", 8, 2).persist()
    var candidates: DataFrame = null
    stage("lsh_candidates") {
      candidates = Dedup.lshCandidatePairs(bands, "doc_id", Cap).persist()
      val n = candidates.count()
      require(n <= nDocs * Cap,
        s"candidate envelope violated: $n > $nDocs*$Cap")
      (n, s"envelope n*cap=${nDocs * Cap} OK")
    }

    // C — verification + clustering + rewrite over the capped pairs:
    // the full d8/d9 path on a corpus whose biggest cluster is 6000.
    stage("verify_cluster_rewrite") {
      val sh = Dedup.shingles(docs, "doc_id", "text", dedupe = false)
      val verified = Dedup.jaccardOnPairs(sh, "doc_id", candidates)
        .filter(col("jaccard") >= 0.5).select("id_a", "id_b")
      val clusters = Graph.connectedComponents(
        docs.select("doc_id"), "doc_id", verified)
      val kept = Dedup.keepCanonical(docs, "doc_id", clusters,
        Seq(col("n_chars").desc, col("doc_id"))).count()
      (kept, s"canonical of $nDocs")
    }

    // D — SimHash radius-3 banding under the same cap.
    stage("simhash_candidates") {
      val ssig = Dedup.simhashNarrow(docs, "doc_id", "text")
      val n = Dedup.simhashPairs(ssig, "doc_id", maxHamming = 3,
        maxBucket = Cap).count()
      require(n <= nDocs * Cap,
        s"simhash envelope violated: $n > $nDocs*$Cap")
      (n, s"envelope n*cap=${nDocs * Cap} OK")
    }

    // E — self-top-k kNN graph with the sub-split guard: every member
    // of the hot vector cluster must still get k neighbors, and output
    // is exactly n·k bounded.
    stage("self_topk_bounded") {
      val n = Similarity.selfTopK(emb, "vec_id", "embedding", k = 10,
        dim = 64, maxBucket = Cap, bounded = true).count()
      require(n <= nEmb * 10, s"self-top-k output $n > n*k=${nEmb * 10}")
      (n, s"<= n*k=${nEmb * 10} OK")
    }

    // E2 — same graph with the cap sized to the ask (~50× k instead of
    // 4096): sub-split work is O(n·cap), so cap IS the knob that trades
    // neighbor-candidate diversity for time on dup-heavy corpora. For
    // top-10 over a corpus with a 6000-member near-identical cluster,
    // every member's true top-10 sits inside any 512-member sub-bucket.
    stage("self_topk_cap512") {
      val n = Similarity.selfTopK(emb, "vec_id", "embedding", k = 10,
        dim = 64, maxBucket = 512, bounded = true).count()
      require(n <= nEmb * 10, s"self-top-k output $n > n*k=${nEmb * 10}")
      (n, s"<= n*k=${nEmb * 10} OK")
    }

    // F — IVF+PQ production index end-to-end: train on the skewed
    // corpus (one list absorbs the hot cluster), index, search 50
    // queries probing 8/16 lists.
    stage("ivfpq_index_search") {
      val model = IvfPq.train(emb, "vec_id", "embedding", dim = 64,
        nLists = 16, coarseIters = 2, m = 8, k = 64, pqIters = 2)
      val queries = emb.filter(col("vec_id") % 4096 === 1).limit(50)
      val n = IvfPq.topK(queries, emb, "vec_id", "embedding", model,
        k = 10, nProbe = 8, bounded = true).count()
      (n, "50 queries, 8/16 lists")
    }

    // F2 — the persisted-index production path on the skewed corpus:
    // build once (model + list_id-partitioned index with norms), then
    // ADC-search it. The hot vector cluster concentrates in one coarse
    // list; probed searches scan it but nothing shuffles or blows up.
    stage("ivfpq_persisted_adc") {
      val dir = s"$outDir/ivfpq"
      val model = IvfPq.train(emb, "vec_id", "embedding", dim = 64,
        nLists = 16, coarseIters = 2, m = 8, k = 64, pqIters = 2)
      IvfPq.index(emb, "vec_id", "embedding", model, withNorm = true,
        metaCols = Seq("label"))
        .write.mode("overwrite").partitionBy("list_id")
        .parquet(s"$dir/index")
      val idx = spark.read.parquet(s"$dir/index")
      val queries = emb.filter(col("vec_id") % 4096 === 1).limit(50)
      val n = IvfPq.searchIndexAdc(queries, idx, "vec_id", "embedding",
        model, k = 10, nProbe = 8, bounded = true).count()
      (n, "build + ADC search, 50 queries")
    }

    // G — curation chain (cp1 shape): quality gate → repetition gate →
    // exact dedup → per-source audit, over the blown-up corpus.
    stage("curation_chain") {
      import graft.functions.TextAnalysis._
      val scored = docs.select(col("doc_id"), col("source"), col("text"),
        tokenCount(col("text")).as("n_tokens"),
        qualityScore(col("text")).as("q"),
        ngramRepetition(col("text"), 3).as("r"))
      val gated = scored.filter(col("q") >= 50 &&
        (col("r.n_grams") === 0 ||
          lit(1.0) - col("r.n_distinct") / col("r.n_grams").cast("double")
            <= 0.2))
      val fp = gated.withColumn("fp", fingerprint(col("text")))
      val canonical = fp.groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
      val n = fp.join(canonical, Seq("fp", "doc_id"))
        .groupBy("source").agg(count(lit(1)).as("n_kept")).count()
      (n, "per-source audit rows")
    }

    val rt = Runtime.getRuntime
    println(f"REHEARSAL heap_used ${(rt.totalMemory - rt.freeMemory) / 1e9}%.2f GB" +
      f" of max ${rt.maxMemory / 1e9}%.2f GB")
    spark.stop()
  }

  /** Write the 10× blowup (marker-last, reused when present). */
  private def buildBlowup(spark: SparkSession, sfDir: String,
      outDir: String): Unit = {
    import java.nio.file.{Files, Paths}
    val marker = Paths.get(s"$outDir/_complete")
    if (Files.exists(marker)) return
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val reps = spark.range(10).select(col("id").cast("int").as("r"))

    // replicas: r=0 original, r=1..4 exact duplicates, r=5..9 near-dups
    // (suffix mutation keeps Jaccard high but text distinct)
    val docs10 = docs.crossJoin(reps).select(
      (col("doc_id") * 16 + col("r")).as("doc_id"),
      when(col("r") >= 5, concat(col("text"), lit(" rev"), col("r")))
        .otherwise(col("text")).as("text"),
      col("lang"), col("source"))
    val hotText = docs.filter(col("doc_id") === 7)
      .select("text").head().getString(0)
    // hot cluster: half byte-identical (collapses at exact dedup; one
    // LSH mega-bucket), half near-identical with a tiny suffix
    val hotDocs = spark.range(HotN).select(
      (lit(1L << 40) + col("id")).as("doc_id"),
      when(col("id") % 2 === 0, lit(hotText))
        .otherwise(concat(lit(hotText), lit(" h"), col("id") % 50)).as("text"),
      lit("en").as("lang"), lit("hot").as("source"))
    docs10.unionByName(hotDocs)
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$outDir/documents")

    // embeddings: deterministic hash-derived perturbation (±0.002) for
    // replicas; the hot cluster perturbs one vector the same way
    def perturb(vec: org.apache.spark.sql.Column,
        salt: org.apache.spark.sql.Column) =
      transform(vec, (x, i) => x +
        ((pmod(hash(salt, i), lit(1000)) - lit(500)).cast("float")
          / lit(250000.0f))).cast("array<float>")
    val emb10 = emb.crossJoin(reps).select(
      (col("vec_id") * 16 + col("r")).as("vec_id"),
      when(col("r") === 0, col("embedding"))
        .otherwise(perturb(col("embedding"),
          col("vec_id") * 16 + col("r"))).as("embedding"),
      col("label"))
    val hotVec = emb.filter(col("vec_id") === 3)
      .select("embedding").head().getSeq[Float](0)
    val hotEmb = spark.range(HotN).select(
      (lit(1L << 41) + col("id")).as("vec_id"),
      perturb(typedlit(hotVec), col("id")).as("embedding"),
      lit(999).as("label"))
    emb10.unionByName(hotEmb)
      .write.mode("overwrite").parquet(s"$outDir/embeddings")
    Files.createFile(marker)
  }
}
