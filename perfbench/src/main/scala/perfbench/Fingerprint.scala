package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a whole result, computed in the engine.
  *
  * Every column of every row feeds two row hashes (xxhash64 and
  * murmur3), and the digest is the row count plus the exact sum of each
  * hash. Because every column is hashed, Catalyst cannot prune any of
  * them, so the digest materializes the full result, unlike `.count()`.
  * Sums are order-insensitive, so partitioning and row order do not
  * change the digest; a duplicated or missing row does.
  */
object Fingerprint {

  def of(df: DataFrame): String = ofAll(Seq("" -> df))("")

  /** Digests of several results, computed in one Spark action. */
  def ofAll(dfs: Seq[(String, DataFrame)]): Map[String, String] = {
    val hashed = dfs.map { case (name, df) =>
      // positional names: results may carry duplicate or awkward names
      val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
      val cols = named.schema.fields.toSeq.map(f => canonical(col(f.name), f.dataType))
      named.select(lit(name).as("t"),
        (if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)).cast("decimal(20,0)").as("h"),
        (if (cols.isEmpty) lit(0) else hash(cols: _*)).cast("long").as("g"))
    }
    val sums = hashed.reduce(_ unionAll _).groupBy("t")
      .agg(count(lit(1)), sum(col("h")), sum(col("g"))).collect()
      .map(r => r.getString(0) -> s"${r.getLong(1)}:${r.get(2)}:${r.get(3)}").toMap
    dfs.map { case (name, _) => name -> sums.getOrElse(name, "0:0:0") }.toMap
  }

  /** Row count encoded in a digest. */
  def rows(digest: String): Long = digest.takeWhile(_ != ':').toLong

  /** Spark refuses to hash maps; their JSON form is hashable and keeps
    * the entry order the engine produced. */
  private def canonical(c: Column, t: DataType): Column =
    if (hasMap(t)) to_json(array(c)) else c

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }
}
