package graft.storage

import java.nio.file.{Files, Path}

/** Thrown when a versioned commit loses the compare-and-swap race: the
  * version number this writer computed from its read snapshot was
  * committed by another writer first. The losing writer's data files are
  * cleaned up (or left for vacuum) and NOTHING becomes visible — the
  * caller re-reads the table and retries, exactly the optimistic
  * concurrency loop Delta's commit protocol prescribes. This is the
  * loud alternative to the silent lost update a last-write-wins pointer
  * swap would produce. */
final class ConcurrentWriteException(msg: String) extends RuntimeException(msg)

/** One committed table version: an immutable list of data-file paths
  * (relative to the table's version root) plus the partition layout and
  * free-form metadata — the Delta/Iceberg snapshot manifest on plain
  * Parquet (reference write surface:
  * `bronze_to_silver_transformation.py:867-941`).
  *
  * A version N is LIVE iff `vN.manifest` exists; the current version is
  * simply the highest committed N, so there is no separate pointer file
  * to swap and no window where pointer and data disagree. Commits create
  * the manifest with a create-exclusive primitive (see
  * [[ParquetCatalog.overwriteVersioned]]), which is what makes
  * concurrent writers detect each other instead of overwriting.
  *
  * `meta` keys in use:
  *   - `placeholder` — the version is EMPTY and its single file exists
  *     only to preserve the schema (never carried into later versions);
  *   - `batch` — the streaming micro-batch token that committed this
  *     version (audit display; `history()`'s batch column);
  *   - `txn.<sinkId>` — the exactly-once registry: the sink's highest
  *     committed batchId, carried forward verbatim on EVERY commit so
  *     a replay probe is one lookup in the current manifest and
  *     idempotence survives vacuum (Delta's `txn` action);
  *   - `migrated` — this version absorbed a pre-existing unversioned dir;
  *   - `ts` — commit wall-clock (epoch millis), stamped at the CAS
  *     funnel strictly monotonic per table (`TIMESTAMP AS OF` anchor);
  *   - `constraint.<name>` — a CHECK constraint's SQL expression,
  *     carried on every commit and enforced inside each staging write.
  *
  * With `base` set the manifest is a DELTA: `files` are the entries
  * ADDED (and `removes` the entries dropped) relative to the resolved
  * file set of version `base` — commit metadata is O(delta), not
  * O(table). Readers resolve through [[ParquetCatalog.manifest]], which
  * chases the (snapshot-bounded) base chain and returns the
  * materialized form; `meta` and `partitionBy` are NEVER inherited —
  * each delta records its own in full (they are O(1)-small, and
  * carrying them forward is what lets the txn registry survive
  * retention).
  */
final case class TableManifest(version: Long, partitionBy: Seq[String],
    meta: Map[String, String], files: Seq[String],
    base: Option[Long] = None, removes: Seq[String] = Nil) {

  /** The hive `k=v[/k=v...]` partition component of one manifest entry
    * (empty for unpartitioned layouts). */
  def partitionComponent(file: String): String =
    TableManifest.partitionComponent(file)

  def render: String = {
    val sb = new StringBuilder
    sb.append("graft-manifest 1\n")
    sb.append(s"version=$version\n")
    sb.append(s"partitionBy=${partitionBy.mkString(",")}\n")
    base.foreach(b => sb.append(s"base=$b\n"))
    meta.toSeq.sortBy(_._1).foreach { case (k, v) =>
      require(!k.contains('\n') && !v.contains('\n'), "meta must be line-safe")
      sb.append(s"meta.$k=$v\n")
    }
    removes.foreach { f => sb.append(s"r $f\n") }
    files.foreach { f => sb.append(s"f $f\n") }
    sb.toString
  }
}

object TableManifest {

  /** `data/day=d1/region=EU/part-….parquet` → `day=d1/region=EU`. */
  def partitionComponent(file: String): String = {
    val segs = file.split('/')
    segs.drop(1).dropRight(1).filter(_.contains('=')).mkString("/")
  }

  /** Running count of [[parse]] calls — metadata-cost telemetry the
    * tests pin scaling claims with (e.g. `versionAsOf` is O(log
    * versions) single-file parses, not a full history sweep). */
  private[graft] val parses = new java.util.concurrent.atomic.AtomicLong

  /** The manifest FORMAT version this reader understands. Writers keep
    * emitting 1 (every feature so far — column mapping, deletion
    * vectors, touched sets — rides meta keys old readers carry
    * verbatim and never need to interpret for the data they return to
    * still be right... except deletion vectors, whose pointers an
    * r15-era reader would ignore and resurrect deleted rows; that
    * binary predates this guard, so bumping for it would not protect
    * anything. From HERE on, any feature an old reader would
    * MISINTERPRET must bump the written format, and this reader
    * refuses formats above what it knows instead of silently
    * mis-reading them.) */
  val MaxReaderFormat = 1

  def parse(p: Path): TableManifest = {
    parses.incrementAndGet()
    val lines = Files.readString(p).split('\n').toSeq.filter(_.nonEmpty)
    require(lines.headOption.exists(_.startsWith("graft-manifest ")),
      s"not a graft manifest: $p")
    val fmt = lines.head.drop("graft-manifest ".length).trim
    require(scala.util.Try(fmt.toInt).toOption.exists(_ <= MaxReaderFormat),
      s"manifest $p uses format '$fmt', newer than this reader " +
        s"(max $MaxReaderFormat): upgrade the engine before reading — " +
        "a silent partial read could return wrong data")
    var version = -1L
    var partitionBy = Seq.empty[String]
    var base: Option[Long] = None
    val meta = Map.newBuilder[String, String]
    val files = Seq.newBuilder[String]
    val removes = Seq.newBuilder[String]
    lines.drop(1).foreach {
      case l if l.startsWith("version=") => version = l.drop(8).toLong
      case l if l.startsWith("partitionBy=") =>
        partitionBy = l.drop(12).split(',').toSeq.filter(_.nonEmpty)
      case l if l.startsWith("base=") => base = Some(l.drop(5).toLong)
      case l if l.startsWith("meta.") =>
        val body = l.drop(5); val i = body.indexOf('=')
        meta += body.take(i) -> body.drop(i + 1)
      case l if l.startsWith("f ") => files += l.drop(2)
      case l if l.startsWith("r ") => removes += l.drop(2)
      case l => throw new IllegalArgumentException(s"bad manifest line in $p: $l")
    }
    require(version > 0, s"manifest $p has no version line")
    TableManifest(version, partitionBy, meta.result(), files.result(),
      base, removes.result())
  }
}
