package graft.spark

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation,
  Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** METADATA-ONLY aggregates (Delta/Iceberg parity): a plain
  * `SELECT count(*) [, min(x), max(x)] FROM <catalog>.t` never needs a
  * data page —
  *
  *   - `COUNT(*)`: the manifest's file list plus per-file footer row
  *     counts (served from the skipping index when present) minus the
  *     version's deletion-vector positions;
  *   - `MIN(x)`/`MAX(x)`: min-of-mins / max-of-maxes over the persisted
  *     per-file index stats, which are EXACT per-file aggregates — see
  *     [[graft.storage.ParquetCatalog.statsMinMax]] for the refusal
  *     conditions (vectors, unindexed or all-null files, any type whose
  *     footer stats are not exact round-trippable values);
  *   - filters are allowed when the inner builder consumed them EXACTLY
  *     (returned no residual — i.e. they referenced only partition
  *     columns, the case where Spark removes the Filter node and the
  *     inner scan's file index reduces the file list precisely): the
  *     answer then aggregates over the SURVIVING files only.
  *
  * This outermost builder wrapper intercepts Spark's aggregate pushdown
  * and replaces the whole scan with one single-row partition carrying
  * the partial values; Spark's final aggregation folds the one row. At
  * 100 TB that is O(files) footer metadata once (then O(1) from the
  * index) instead of reading every row. Kill switch:
  * `spark.graft.sql.metadataCount = false` restores the stock
  * scan-and-count. Everything not answerable delegates verbatim to the
  * wrapped builder ([[GraftScanBuilder]] or the stock one). */
class GraftCountStarBuilder(inner: ScanBuilder, tableSchema: StructType,
    countAll: () => Long, countFor: Seq[String] => Long,
    // (column, type, surviving files, wantMax) → the one requested
    // extreme when provable — per-SIDE, so min can answer while max
    // refuses (deletion-vector asymmetry, r20)
    minMaxFor: (String, org.apache.spark.sql.types.DataType,
      Option[Seq[String]], Boolean) => Option[Any],
    countColFor: (String, Option[Seq[String]]) => Option[Long] =
      (_, _) => None)
  extends GraftForwardingScanBuilder(inner) {

  sealed private trait MetaAgg
  private case object CountAll extends MetaAgg
  private case class MinMaxOf(col: String, wantMax: Boolean) extends MetaAgg
  private case class CountOf(col: String) extends MetaAgg

  private var sawFilters = false
  private var allConsumed = true
  private var metaSchema: Option[StructType] = None
  private var metaRow: Seq[Any] = Nil

  override def pushFilters(
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression]):
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    if (filters.nonEmpty) sawFilters = true
    val residual = super.pushFilters(filters)
    if (residual.nonEmpty) allConsumed = false
    residual
  }

  /** The surviving data files of the inner scan (post partition
    * pruning) — None when the planned partitions are not file-shaped
    * (then nothing is intercepted). */
  private def innerFiles(): Option[Seq[String]] = {
    val parts = inner.build().toBatch.planInputPartitions().toSeq
    val files = parts.map {
      case fp: FilePartition => Some(fp.files.toSeq)
      case k: GraftKeyedPartition => Some(k.delegate.files.toSeq)
      case _ => None
    }
    if (files.exists(_.isEmpty)) None
    else Some(files.flatten.flatten
      .map(f => GraftFileSkipping.plainPath(f.filePath.toString)).distinct)
  }

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    def ref1(e: org.apache.spark.sql.connector.expressions.Expression):
        Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(r.fieldNames.head)
      case _ => None
    }
    val shapes: Seq[Option[MetaAgg]] =
      aggregation.aggregateExpressions.toSeq.map {
        case _: CountStar => Some(CountAll)
        case m: Min => ref1(m.column()).map(MinMaxOf(_, wantMax = false))
        case m: Max => ref1(m.column()).map(MinMaxOf(_, wantMax = true))
        case c: Count if !c.isDistinct => ref1(c.column()).map(CountOf)
        case _ => None
      }
    val answerable = aggregation.groupByExpressions.isEmpty &&
      shapes.nonEmpty && shapes.forall(_.isDefined) &&
      (!sawFilters || allConsumed)
    if (!answerable) return super.pushAggregation(aggregation)
    // a filtered aggregate folds over the surviving files only; the
    // bare forms use the whole version (count via the O(1) index path)
    val files = if (sawFilters) innerFiles() else None
    if (sawFilters && files.isEmpty) return super.pushAggregation(aggregation)
    val resolved: Seq[Option[(Any, StructField)]] = shapes.map(_.get).map {
      case CountAll =>
        val n = if (sawFilters) countFor(files.get) else countAll()
        Some((n, StructField("count_star", LongType, nullable = false)))
      case CountOf(col) =>
        tableSchema.fields.find(_.name.equalsIgnoreCase(col)).flatMap { f =>
          countColFor(f.name, files).map(n =>
            (n, StructField(s"count_${f.name}", LongType, nullable = false)))
        }
      case MinMaxOf(col, wantMax) =>
        tableSchema.fields.find(_.name.equalsIgnoreCase(col)).flatMap { f =>
          minMaxFor(f.name, f.dataType, files, wantMax).map { v =>
            (v,
              StructField(if (wantMax) s"max_${f.name}" else s"min_${f.name}",
                f.dataType))
          }
        }
    }
    if (resolved.exists(_.isEmpty)) return super.pushAggregation(aggregation)
    metaSchema = Some(StructType(resolved.map(_.get._2)))
    metaRow = resolved.map(_.get._1)
    aggPushed = true
    true
  }

  /** Partial, not complete: the one emitted row carries aggregate
    * PARTIALS and Spark's final aggregation folds it — the protocol
    * every partition-aggregated file source uses, with exactly one
    * partition here. */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    metaSchema.isEmpty && super.supportCompletePushDown(aggregation)

  override def build(): Scan = metaSchema match {
    case Some(schema) => new GraftCountStarScan(schema, metaRow)
    case None => inner.build()
  }
}

/** One single-row partition carrying the metadata-answered partials. */
class GraftCountStarScan(schema: StructType, row: Seq[Any])
  extends Scan with Batch {

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftCountStarScan(${schema.fieldNames.zip(row)
      .map { case (n, v) => s"$n=$v" }.mkString(", ")}, metadata-only)"

  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftCountPartition(row))

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftCountReaderFactory
}

case class GraftCountPartition(row: Seq[Any]) extends InputPartition

class GraftCountReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val cp = p.asInstanceOf[GraftCountPartition]
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean =
        if (emitted) false else { emitted = true; true }
      override def get(): InternalRow =
        new GenericInternalRow(cp.row.toArray)
      override def close(): Unit = ()
    }
  }
}
