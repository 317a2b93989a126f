package perfbench

import java.nio.file.Path

import scala.util.Random

import graft.pipeline.{Gold, Runner, Silver}
import graft.sources.JsonIngest
import graft.storage.ParquetCatalog
import org.apache.spark.sql.{Encoders, SparkSession}

/** One unit of work whose latency is recorded. `run` gets the op id and
  * throws on any failure, a wrong result included. `ingestBytes` is the
  * JSON the op feeds the pipeline, 0 for queries. */
final case class Op(name: String, ingestBytes: Long, run: Int => Unit)

final class CheckFailed(msg: String) extends RuntimeException(msg)

trait Workload {
  /** Builds inputs and runs every op once, untimed, so scratch state,
    * JIT and codegen are in place before timing. */
  def setup(): Unit
  /** The ops of pass `i`, in the order the seed picks. */
  def pass(i: Int): Seq[Op]
}

object Workload {
  /** Heavy dedup, graph, fuzzy-join, k-means and vector operators, plus
    * a scan-tier read and a catalog read so the custom scan tier is
    * measured too. */
  val Queries: Seq[String] = Seq(
    "d2_dedup_jaccard", "gr1_pagerank", "j11_fuzzy_block_join", "km1_kmeans_verdict",
    "v9_self_topk", "v17_ivfpq_rerank", "s13_sql_skip", "k12_change_feed")
}

/** Inventory queries, each fully materialized through its fingerprint
  * and checked against the pinned one. */
final class QueryMix(spark: SparkSession, names: Seq[String], dataDir: String,
    expected: Map[String, String], seed: Long, tracer: Option[Tracer]) extends Workload {

  private val fns = graft.SparkEntry.queries
  require(names.forall(fns.contains), s"unknown queries: ${names.filterNot(fns.contains)}")

  private def op(name: String) = Op(name, 0L, id => {
    val df = Tracer.span(tracer, "queries.build", id)(fns(name)(spark, dataDir))
    val got = Tracer.span(tracer, "queries.materialize", id)(Fingerprint.of(df))
    val want = expected.getOrElse(name, throw new CheckFailed(s"$name: no pinned result"))
    if (got != want) throw new CheckFailed(s"$name: result $got, expected $want")
  })

  def setup(): Unit = Runs.warm(spark, names.map(op))

  def pass(i: Int): Seq[Op] = new Random(seed * 7919 + i).shuffle(names).map(op)
}

/** Successive pipeline micro-batches (`Runner.run`) into a fresh catalog.
  * A pass is one episode of [[MedallionData.Batches]] batches into its own
  * new catalog, so every pass meets the same table sizes. */
final class Medallion(spark: SparkSession, root: Path, rows: Int, seed: Long,
    expected: Map[(Int, Int, Int, String), String], tracer: Option[Tracer]) extends Workload {

  private val variant = Math.floorMod(seed, MedallionData.Variants.toLong).toInt
  private val batches = MedallionData.episode(variant, rows)

  private def ops(catalogDir: Path): Seq[Op] = {
    val catalog = new ParquetCatalog(spark, catalogDir.toString)
    batches.zipWithIndex.map { case (b, i) =>
      Op(s"batch$i", b.bytes, id => {
        val json = spark.createDataset(b.json)(Encoders.STRING)
        val written = tracer match {
          case None => new Runner(spark, catalog).run(json, b.date)
          case Some(t) => Medallion.tracedRun(spark, catalog, t, id, json, b.date)
        }
        val got = Tracer.span(tracer, "pipeline.check", id)(
          Fingerprint.ofAll(written.map(n => n -> catalog.read(n))))
        val want = expected.collect { case ((`rows`, `variant`, `i`, n), d) => n -> d }
        if (want.isEmpty)
          throw new CheckFailed(s"batch $i: nothing pinned for $rows rows, variant $variant")
        if (got != want) throw new CheckFailed(s"batch $i: tables ${Medallion.diff(got, want)}")
        Seq("bronze_repos", "silver_repos").foreach { n =>
          if (Fingerprint.rows(got(n)) != b.distinctIds) throw new CheckFailed(
            s"batch $i: $n has ${Fingerprint.rows(got(n))} rows, ${b.distinctIds} ids ingested")
        }
      })
    }
  }

  def setup(): Unit = Runs.warm(spark, ops(root.resolve("warmup")))

  def pass(i: Int): Seq[Op] = ops(root.resolve(s"episode$i"))
}

object Medallion {

  /** The calls `Runner.run` makes, in its order, each wrapped in the span
    * of its layer. A span includes the lazy stage its call materializes. */
  def tracedRun(spark: SparkSession, catalog: ParquetCatalog, t: Tracer, op: Int,
      json: org.apache.spark.sql.Dataset[String], date: String): Seq[String] = {
    t.span("sources.bronze", op) {
      val bronzeBatch = t.span("sources.json_ingest", op)(JsonIngest.fromJson(spark, json, date))
      t.span("storage.upsert", op)(catalog.upsert("bronze_repos", bronzeBatch,
        Seq("repository_id"), partitionBy = Seq("partition_date")))
    }
    t.span("pipeline.silver", op) {
      val bronze = t.span("storage.read", op)(catalog.read("bronze_repos"))
      val existing = t.span("storage.read", op)(
        if (catalog.exists("silver_repos")) Some(catalog.read("silver_repos")) else None)
      val fresh = t.span("pipeline.silver_transform", op)(
        Silver.transform(bronze, date, existing))
      val out = existing match {
        case None => fresh
        case Some(e) => t.span("pipeline.silver_merge", op)(Silver.mergeIntoSilver(e, fresh))
      }
      t.span("storage.overwrite", op)(
        catalog.overwrite("silver_repos", out, Seq("partition_date", "technology_category")))
    }
    t.span("pipeline.gold", op) {
      val silver = t.span("storage.read", op)(catalog.read("silver_repos"))
      val tables = t.span("pipeline.gold_plan", op)(Gold.allTables(silver))
      val written = tables.map { case (name, df) =>
        t.span("storage.overwrite", op)(catalog.overwrite(s"gold_$name", df))
        s"gold_$name"
      }
      Seq("bronze_repos", "silver_repos") ++ written
    }
  }

  def diff(got: Map[String, String], want: Map[String, String]): String =
    (got.keySet ++ want.keySet).toSeq.sorted
      .filter(n => got.get(n) != want.get(n))
      .map(n => s"$n is ${got.getOrElse(n, "missing")}, expected ${want.getOrElse(n, "none")}")
      .mkString("; ")
}

/** Seed-generated GitHub-API-shaped JSON for the medallion workload.
  *
  * The seed picks one of [[Variants]] data sets, so every seed has pinned
  * expected tables. The first batch of an episode is all new ids, so it
  * takes the create path; the second updates ids of the first for half
  * its rows and adds new ids for the other half, so it takes the merge
  * path. Some repos carry no topic a rule
  * matches, so both the language fallback and the smart-skip joins run.
  */
object MedallionData {
  val Variants = 8
  val Batches = 2

  final case class Batch(date: String, json: Seq[String], bytes: Long, distinctIds: Long)

  private val ruleTopics = graft.pipeline.RuleClassifier.rules.flatMap(_._3)
  private val plainTopics = Seq("awesome", "tutorial", "cli", "game", "api", "python3",
    "hacktoberfest", "library", "framework", "database", "testing", "security")
  private val languages = Seq("Python", "Scala", "Go", "TypeScript", "JavaScript", "Rust",
    "C", "C++", "Java", "Ruby", "PHP", "Kotlin", null)
  private val licenses = Seq("MIT License", "Apache License 2.0",
    "GNU General Public License v3.0", "BSD 3-Clause \"New\" or \"Revised\" License",
    "Mozilla Public License 2.0", "Other", null)

  def episode(variant: Int, rows: Int): Seq[Batch] = {
    val rng = new Random(0x5eedL * 131 + variant)
    var known = Vector.empty[Long]
    var next = 1_000_000L * (variant + 1)
    (0 until Batches).map { b =>
      val updates = if (b == 0) Vector.empty else rng.shuffle(known).take(rows / 2)
      val fresh = (0 until rows - updates.size).map(_ => { next += 1 + rng.nextInt(3); next })
      known ++= fresh
      val date = f"2024-06-${10 + b}%02d"
      val json = rng.shuffle(updates ++ fresh).map(id => repo(id, b, rng))
      Batch(date, json, json.map(_.getBytes("UTF-8").length.toLong).sum, known.size)
    }
  }

  /** One repo as the GitHub API returns it. Stable attributes come from
    * the id; stars, pushes and topics drift from batch to batch. */
  private def repo(id: Long, batch: Int, rng: Random): String = {
    val r = new Random(id)
    val owner = s"user${r.nextInt(5000)}"
    val name = s"repo-$id"
    val lang = languages(r.nextInt(languages.size))
    val license = licenses(r.nextInt(licenses.size))
    val baseTopics = Seq.fill(r.nextInt(4))(plainTopics(r.nextInt(plainTopics.size)))
    val ruled = r.nextDouble() < 0.55 || (batch > 0 && rng.nextDouble() < 0.2)
    val topics = (if (ruled) ruleTopics(r.nextInt(ruleTopics.size)) +: baseTopics
      else baseTopics).distinct
    val stars = r.nextInt(50000) + batch * rng.nextInt(200)
    val created = f"20${12 + r.nextInt(12)}%02d-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02dT08:00:00Z"
    val pushedDay = 1 + ((r.nextInt(28) + batch * 3) % 28)
    val pushed = f"202${2 + r.nextInt(3)}%d-0${1 + r.nextInt(6)}%d-$pushedDay%02dT12:30:00Z"
    val desc = r.nextInt(4) match {
      case 0 => "null"
      case 1 => s"\"A **fast** tool for ${topics.headOption.getOrElse("things")}\""
      case 2 => s"\"[$name](https://example.com/$name) - ${plainTopics(r.nextInt(plainTopics.size))} kit\""
      case _ => "\"\""
    }
    def str(s: String) = if (s == null) "null" else "\"" + s.replace("\"", "\\\"") + "\""
    val lic = if (license == null) "null" else s"""{"name":${str(license)}}"""
    s"""{"id":$id,"name":${str(name)},"full_name":${str(s"$owner/$name")},""" +
      s""""description":$desc,"owner":{"login":${str(owner)},"type":"User"},""" +
      s""""license":$lic,"stargazers_count":$stars,"forks_count":${stars / 7},""" +
      s""""watchers_count":$stars,"open_issues_count":${r.nextInt(300)},""" +
      s""""size":${r.nextInt(100000)},"default_branch":"main","language":${str(lang)},""" +
      s""""topics":[${topics.map(str).mkString(",")}],"created_at":"$created",""" +
      s""""updated_at":"2024-06-0${1 + batch % 9}T00:00:00Z","pushed_at":"$pushed",""" +
      s""""has_wiki":${r.nextBoolean()},"has_pages":${r.nextBoolean()},""" +
      s""""archived":${r.nextInt(20) == 0},"disabled":false}"""
  }
}
