package graft

import java.nio.file.{Files, Paths}

/** Optimization-round helper: write `.explain("formatted")` for the
  * named queries to text files (plans/<tag>/<name>_<tag>.txt). Not part
  * of the driver contract; run ad hoc:
  *
  *   sbt "runMain graft.PlanDump before plans/r20 gr1_pagerank,j11_fuzzy_block_join"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args(0) // e.g. "before" / "after"
    val outDir = args(1) // e.g. "plans/r20"
    val names = args(2).split(',').map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
      println(s"[plandump] wrote $outDir/${name}_$tag.txt")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
