package graft

import org.apache.spark.sql.SparkSession

/** The one local session the rehearsal and diagnostic mains run on:
  * `local[cpus]`, `cpus` shuffle partitions, UTC session time zone, no
  * UI, WARN logging. `Bench` and `Verify` keep their own builders (the
  * driver contract). */
object GraftSession {
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
