package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.pipeline.Runner
import graft.storage.ParquetCatalog
import org.apache.spark.sql.Encoders

/** Expected results, as committed under `perfbench/expected`.
  *
  * Query pins are digests of the program's results that were first shown
  * equal to the DuckDB oracle (`graft.Verify` plus `tools/check.py`);
  * [[queries]] recomputes each digest from the live query and from the
  * checked Verify output and refuses to pin when they differ. Medallion
  * pins are the digests of every table `Runner.run` writes, per batch,
  * for every data variant a seed can pick.
  */
object Pins {

  def queriesFile(dir: Path, dataDir: String): Path =
    dir.resolve(s"queries_${Paths.get(dataDir).getFileName}.tsv")

  def readQueries(dir: Path, dataDir: String): Map[String, String] =
    lines(queriesFile(dir, dataDir)).map { case Seq(n, d) => n -> d }.toMap

  def readMedallion(dir: Path): Map[(Int, Int, Int, String), String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("medallion_"))
      .flatMap(lines)
      .map { case Seq(rows, v, b, t, d) => (rows.toInt, v.toInt, b.toInt, t) -> d }.toMap
    finally s.close()
  }

  private def lines(p: Path): Seq[Seq[String]] =
    Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty).map(_.split('\t').toSeq)

  /** Pins every benchmark query on `dataDir`, given `verifyOut` written by
    * `graft.Verify` on the same data and checked against the oracle. */
  def queries(dataDir: String, verifyOut: String, dir: Path): Unit = {
    val spark = Runs.session(Paths.get(sys.props("java.io.tmpdir"), "spark-local"))
    val fns = graft.SparkEntry.queries
    val pins = Workload.Queries.sorted.map { n =>
      val live = Fingerprint.of(fns(n)(spark, dataDir))
      spark.catalog.clearCache()
      val checked = Fingerprint.of(spark.read.parquet(s"$verifyOut/$n"))
      require(live == checked, s"$n: live result $live differs from checked output $checked")
      s"$n\t$live"
    }
    spark.stop()
    Files.write(queriesFile(dir, dataDir), pins.asJava)
  }

  /** Pins the tables of every variant's episode at `rows` rows a batch. */
  def medallion(rows: Int, dir: Path): Unit = {
    val spark = Runs.session(Paths.get(sys.props("java.io.tmpdir"), "spark-local"))
    val pins = (0 until MedallionData.Variants).flatMap { v =>
      val root = Files.createTempDirectory(s"pin-medallion-$v")
      val catalog = new ParquetCatalog(spark, root.toString)
      MedallionData.episode(v, rows).zipWithIndex.flatMap { case (b, i) =>
        val written = new Runner(spark, catalog)
          .run(spark.createDataset(b.json)(Encoders.STRING), b.date)
        Fingerprint.ofAll(written.map(n => n -> catalog.read(n))).toSeq.sorted
          .map { case (n, d) => s"$rows\t$v\t$i\t$n\t$d" }
      }
    }
    spark.stop()
    Files.write(dir.resolve(s"medallion_$rows.tsv"), pins.asJava)
  }
}
