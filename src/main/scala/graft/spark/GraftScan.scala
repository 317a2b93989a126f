package graft.spark

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference,
  Expression => VExpression}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning,
  Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics,
  SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.graftbridge.{CatalystFilterPushdownBridge, RowIndexBridge}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch

/** The registered catalog's ONE table scan (Delta's single scan that
  * skips, applies deletion vectors and reports layout together). Three
  * independent properties, each decided once from what the table and
  * the pushed-down query show:
  *
  *   - VECTORED — the read version carries deletion-vector sidecars.
  *     Each row's file position rides the parquet readers' generated
  *     row-index column ([[RowIndexBridge.TemporaryColumnName]], added
  *     to `readDataSchema` and projected away after the anti-filter),
  *     one file split per input partition, the vectors broadcast once
  *     per scan. Without it the stock scan would RESURRECT deleted
  *     rows.
  *   - KEYED — under Spark's own storage-partitioned-join switch
  *     (`spark.sql.sources.v2.bucketing.enabled`, the knob Iceberg keys
  *     on), the scan reports its layout as a [[KeyGroupedPartitioning]]:
  *     identity transforms of the partition columns, or `bucket(n, col)`
  *     (resolved through [[GraftBucketFunction]]) led by any surviving
  *     identity prefix on a bucketed layout. Co-partitioned joins and
  *     GROUP BYs on the keys then need no Exchange. One split per input
  *     partition, each carrying its key; Spark groups same-key splits.
  *   - INDEXED — the table has a persisted min/max (+ bloom) skipping
  *     index: planned and runtime conjuncts drop non-candidate files
  *     BEFORE split planning ([[GraftFileSkipping.filterSplits]]), and
  *     size estimates tighten to the surviving files.
  *
  * Every pruning step is file-granular, so it composes with all three:
  * dropping a whole file never moves a surviving file's row positions
  * and never splits a key group. EXPLAIN labels the scan by mode —
  * `GraftDvScan(`, `GraftSpjScan(` or `GraftSkipScan(` — followed by
  * `kept=K of T files`. */
class GraftScanBuilder(inner: ScanBuilder, sidecars: Seq[String],
    layout: Seq[String], statsPath: Option[java.nio.file.Path],
    bucketOf: Option[(String, Int)], spj: Boolean)
  extends GraftForwardingScanBuilder(inner) {

  private def vectored = sidecars.nonEmpty

  private var preds: Seq[(String, Double, Double, Set[String])] = Nil
  private var points: Seq[(String, Seq[Any])] = Nil
  private var strPreds: Seq[(String, Option[String], Option[String])] = Nil

  /** Captures the index conjuncts. A vectored scan forwards every
    * deterministic filter (partition pruning and row-group pruning are
    * both position-safe under the row-index mechanism) but reports ALL
    * of them as post-scan, so the full predicate re-applies above the
    * scan and no filtered COUNT(*) is answered from metadata; otherwise
    * the inner builder's own residual comes back, so wrapped pushdown
    * is byte-identical to unwrapped. */
  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    if (statsPath.isDefined) {
      preds = GraftFileSkipping.rangeConjuncts(filters)
      points = GraftFileSkipping.pointConjuncts(filters)
      strPreds = GraftFileSkipping.stringRangeConjuncts(filters)
    }
    if (!vectored) super.pushFilters(filters)
    else {
      CatalystFilterPushdownBridge.push(inner, filters.filter(_.deterministic))
      filters
    }
  }

  override def pushedFilters(): Array[Predicate] =
    if (vectored) Array.empty else super.pushedFilters()

  /** A vectored scan pushes no aggregate: partial aggregates computed
    * below the anti-filter would count deleted rows. */
  override def pushAggregation(aggregation: Aggregation): Boolean =
    !vectored && super.pushAggregation(aggregation)

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    !vectored && super.supportCompletePushDown(aggregation)

  /** The identity key columns when the scan is KEYED, else None. A
    * bucketed layout keys when its bucketed DATA column survived
    * pruning (the bucket id comes from the file's layout dir, not from
    * an output column), leading with whichever identity prefix columns
    * survived — fewer key components is always sound, splits differing
    * only in a dropped component share a key. Any other layout keys
    * only when every partition column survived: keys the plan cannot
    * resolve would break planning. */
  private def keyCols(p: ParquetScan): Option[Seq[String]] = {
    def reads(s: StructType, c: String) = s.fieldNames.exists(_.equalsIgnoreCase(c))
    if (!spj) None
    else bucketOf match {
      case Some((c, _)) =>
        if (reads(p.readSchema(), c))
          Some(layout.dropRight(1).filter(reads(p.readPartitionSchema, _)))
        else None
      case None =>
        if (layout.nonEmpty && layout.forall(reads(p.readPartitionSchema, _)))
          Some(layout)
        else None
    }
  }

  /** A plain scan wraps only when there is something to prune or
    * report (an index, runtime partition filtering, layout keys);
    * otherwise the stock scan stands — always after a pushed aggregate,
    * whose partial-aggregate rows no file-granular step understands. */
  override def build(): Scan = inner.build() match {
    case p: ParquetScan if vectored &&
        !p.readSchema().fieldNames.contains(RowIndexBridge.TemporaryColumnName) =>
      new GraftScan(p.copy(readDataSchema = p.readDataSchema
        .add(StructField(RowIndexBridge.TemporaryColumnName, LongType))),
        sidecars, statsPath, preds, points, strPreds, keyCols(p), bucketOf)
    case other if vectored => throw new IllegalStateException(
      "a vectored scan wraps Spark's ParquetScan (a column named " +
        s"'${RowIndexBridge.TemporaryColumnName}' also conflicts); got " +
        other.getClass.getName)
    case p: ParquetScan if !aggPushed =>
      val keys = keyCols(p)
      if (statsPath.isEmpty && p.readPartitionSchema.isEmpty && keys.isEmpty) p
      else new GraftScan(p, Nil, statsPath, preds, points, strPreds, keys, bucketOf)
    case other => other
  }
}

class GraftScan(inner: ParquetScan, sidecars: Seq[String],
    statsPath: Option[java.nio.file.Path],
    preds: Seq[(String, Double, Double, Set[String])],
    points: Seq[(String, Seq[Any])],
    strPreds: Seq[(String, Option[String], Option[String])],
    keyCols: Option[Seq[String]], bucketOf: Option[(String, Int)])
  extends Scan with Batch with SupportsReportStatistics
  with SupportsRuntimeV2Filtering with SupportsReportPartitioning {

  private def vectored = sidecars.nonEmpty
  val keyed: Boolean = keyCols.isDefined

  /** A vectored inner scan reads [data..., row-index, partitions...];
    * the row index is scan-internal and never surfaces. */
  private val innerSchema: StructType = inner.readSchema()
  private val outSchema: StructType =
    if (!vectored) innerSchema
    else StructType(innerSchema.fields.filterNot(
      _.name == RowIndexBridge.TemporaryColumnName))

  override def readSchema(): StructType = outSchema
  override def toBatch: Batch = this
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    if (vectored) Scan.ColumnarSupportMode.UNSUPPORTED
    else inner.columnarSupportMode()
  override def supportedCustomMetrics():
      Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    inner.supportedCustomMetrics()

  /** `total` is the stock plan's file count (static partition pruning
    * applied); `kept` is what survives every other step, runtime
    * filters included — the tests' and the s-queries' pin. */
  override def description(): String = {
    val label =
      if (vectored) "GraftDvScan" else if (keyed) "GraftSpjScan" else "GraftSkipScan"
    s"$label(kept=${fileCount(keptSplits)} of ${fileCount(stock)} files, " +
      s"${inner.description()})"
  }

  /** The stock estimate, index-tightened when planned conjuncts prune
    * ([[GraftFileSkipping.tightenedStatistics]]). Memoized: Spark
    * re-requests it at each AQE re-optimization. */
  private lazy val tightened =
    GraftFileSkipping.tightenedStatistics(inner, statsPath, preds, strPreds)
  override def estimateStatistics(): Statistics = tightened

  private lazy val stock: Array[PartitionedFile] =
    inner.toBatch.planInputPartitions().flatMap {
      case fp: FilePartition => fp.files
      case other => throw new IllegalStateException(
        s"GraftScan expected file partitions, got $other")
    }

  private def fileCount(splits: Array[PartitionedFile]): Int =
    splits.map(f => GraftFileSkipping.plainPath(f.filePath.toString)).distinct.length

  private def indexPruned(splits: Array[PartitionedFile],
      ps: Seq[(String, Double, Double, Set[String])], pts: Seq[(String, Seq[Any])],
      ss: Seq[(String, Option[String], Option[String])]): Array[PartitionedFile] =
    statsPath match {
      case Some(sp) if ps.nonEmpty || pts.nonEmpty || ss.nonEmpty =>
        GraftFileSkipping.filterSplits(sp, ps, pts, splits, ss)._1
      case _ => splits
    }

  /** The stock splits minus the files the PLANNED conjuncts exclude. */
  private lazy val planned: Array[PartitionedFile] =
    indexPruned(stock, preds, points, strPreds)

  /** Runtime filters (dynamic partition AND file pruning) are accepted
    * over the partition columns, the bucketed data column, and every
    * indexed data column the scan reads. */
  override def filterAttributes(): Array[NamedReference] = {
    val indexed = statsPath.toSeq.flatMap(graft.storage.SkippingIndex.columnsAtCached)
    (pSchema.fieldNames.toSeq ++ bucketOf.map(_._1) ++ indexed)
      .filter(c => outSchema.fieldNames.exists(_.equalsIgnoreCase(c)))
      .distinct.map(Expressions.column).toArray
  }

  override def filter(predicates: Array[Predicate]): Unit =
    synchronized { runtimePreds = predicates; kept = None }

  private var runtimePreds: Array[Predicate] = Array.empty
  private var kept: Option[Array[PartitionedFile]] = None

  /** One pruning order for every mode: the planned conjuncts, then
    * runtime partition values ([[GraftFileSkipping.runtimeKeep]]), then
    * runtime bucket ids (values hash through the layout's own bucket
    * function — a file in bucket b holds ONLY values hashing to b),
    * then runtime IN/= over indexed data columns through the same
    * min/max + bloom pass as planned conjuncts. Cached until the next
    * runtime filter. */
  private def keptSplits: Array[PartitionedFile] = synchronized {
    kept.getOrElse {
      val byPart = planned.filter(GraftFileSkipping.runtimeKeep(runtimePreds, pSchema))
      val byBucket = GraftScan.allowedBuckets(runtimePreds, outSchema, bucketOf)
        .fold(byPart)(ids =>
          byPart.filter(f => ids.contains(GraftScan.bucketIdOf(f.filePath.toString))))
      val (rPreds, rPoints, rStrs) =
        if (statsPath.isEmpty || runtimePreds.isEmpty) (Nil, Nil, Nil)
        else GraftFileSkipping.runtimeIndexConjuncts(runtimePreds, inner.readDataSchema)
      val r = indexPruned(byBucket, rPreds, rPoints, rStrs)
      kept = Some(r)
      r
    }
  }

  /** Key ordinals into the read PARTITION schema, in reported-key order
    * — a split's key row lines up positionally with
    * [[outputPartitioning]]'s expressions; a bucketed layout's bucket id
    * (from the file's `_gbucket=<id>` dir) comes last. */
  private val pSchema = inner.readPartitionSchema
  private val keyOrdinals: Seq[Int] = keyCols.getOrElse(Nil).map(c =>
    pSchema.fieldNames.indexWhere(_.equalsIgnoreCase(c)))
  private def keyOf(f: PartitionedFile): InternalRow =
    new GenericInternalRow((keyOrdinals.map(o =>
      f.partitionValues.get(o, pSchema(o).dataType)) ++
      bucketOf.map(_ => GraftScan.bucketIdOf(f.filePath.toString))).toArray)

  /** Frozen over the planned splits, before any runtime filter, so the
    * reported partitioning is stable across `filter()` re-plans —
    * `BatchScanExec` itself verifies the filtered keys against it. */
  private lazy val distinctKeys: Int = {
    val types = keyOrdinals.map(pSchema(_).dataType) ++ bucketOf.map(_ => IntegerType)
    planned.map(keyOf(_).toSeq(types)).distinct.length
  }

  override def outputPartitioning(): Partitioning = keyCols match {
    case Some(cols) => new KeyGroupedPartitioning(
      (cols.map(c => Expressions.identity(c): VExpression) ++
        bucketOf.map { case (c, n) => Expressions.bucket(n, c): VExpression })
        .toArray, distinctKeys)
    case None => new UnknownPartitioning(0)
  }

  /** Keyed or vectored: ONE file split per input partition (the reader
    * must know its file's vector; Spark groups keyed splits itself).
    * Otherwise the kept splits re-bin through Spark's own
    * `FilePartition.getFilePartitions`, so task sizing matches the stock
    * scan over the surviving files. */
  override def planInputPartitions(): Array[InputPartition] = {
    val files = keptSplits
    if (keyed || vectored)
      files.zipWithIndex.map { case (f, i) =>
        val fp = FilePartition(i, Array(f))
        if (keyed) GraftKeyedPartition(fp, keyOf(f)) else fp: InputPartition
      }
    else {
      val spark = SparkSession.active
      FilePartition.getFilePartitions(spark, files.toSeq,
        FilePartition.maxSplitBytes(spark, files.map(_.length).sum))
        .toArray[InputPartition]
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    if (vectored) dvReaderFactory()
    else if (keyed) new GraftUnwrapReaderFactory(inner.toBatch.createReaderFactory())
    else inner.toBatch.createReaderFactory()

  private def dvReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    // the positions load onto the DRIVER once per scan — bounded, like
    // the engine read path's broadcast cap: a table that accumulated
    // more vector bytes than this needs compaction, not a driver OOM
    val bytes = sidecars.map { p =>
      try java.nio.file.Files.size(java.nio.file.Paths.get(p))
      catch { case _: Exception => Long.MaxValue / 1024 }
    }.sum
    require(bytes <= GraftScan.MaxDriverVectorBytes,
      s"this table's deletion vectors total $bytes bytes — too large to " +
        "apply on the SQL scan path. Run OPTIMIZE (compaction " +
        "materializes the deletes and sheds the vectors), then re-query.")
    val dv: Map[String, Array[Long]] =
      spark.read.parquet(sidecars: _*).select("file", "pos").collect()
        .groupBy(r => GraftScan.baseName(r.getString(0)))
        .map { case (b, rows) => b -> rows.map(_.getLong(1)).distinct.sorted }
    new GraftDvReaderFactory(inner.toBatch.createReaderFactory(),
      spark.sparkContext.broadcast(dv), outSchema,
      innerSchema.fieldIndex(RowIndexBridge.TemporaryColumnName),
      innerSchema.length)
  }
}

object GraftScan {
  private[spark] def baseName(p: String): String =
    p.substring(p.lastIndexOf('/') + 1)

  /** Same order as the engine path's broadcast cap
    * (`ParquetCatalog.dvBroadcastBytes`). DOCUMENTED DIVERGENCE: above
    * this, the engine read path degrades to a shuffled anti-join while
    * the SQL-door scan REFUSES loudly — a DSv2 reader factory must
    * materialize the positions driver-side (there is no shuffle to
    * degrade to), and a silent driver OOM would be worse than the
    * refusal. The remedy (OPTIMIZE / REORG PURGE) restores both doors. */
  private[spark] val MaxDriverVectorBytes: Long = 64L << 20

  /** Bucket ids the runtime IN/= values over the bucketed DATA column
    * allow. None when any predicate shape/type is unrecognized, or the
    * spec's type has no bucket function (pre-validation tables) — then
    * nothing prunes. */
  private[spark] def allowedBuckets(runtimePreds: Array[Predicate],
      readSchema: StructType,
      bucketOf: Option[(String, Int)]): Option[Set[Int]] = bucketOf.flatMap {
    case (c, n) =>
      import org.apache.spark.sql.connector.expressions.{Literal => VLiteral}
      val colType = readSchema.fields
        .find(_.name.equalsIgnoreCase(c)).map(_.dataType)
        .getOrElse(return None)
      // a spec over a type the bucket function cannot hash (possible
      // only on tables written before the write-side validation) must
      // degrade to no-pruning, never crash the runtime re-plan
      if (!GraftBucketFunction.supports(colType)) return None
      val bucketer = new GraftBoundBucket(colType)
      val sets = runtimePreds.toSeq.map { p =>
        p.children().toSeq match {
          case Seq(ref: NamedReference, lits @ _*)
              if (p.name() == "IN" || p.name() == "=") &&
                ref.fieldNames.length == 1 &&
                ref.fieldNames.head.equalsIgnoreCase(c) && lits.nonEmpty &&
                lits.forall(_.isInstanceOf[VLiteral[_]]) =>
            val vs = lits.map(_.asInstanceOf[VLiteral[_]])
            if (vs.forall(l => l.dataType == colType && l.value != null))
              Some(vs.map(l => bucketer.produceResult(
                new GenericInternalRow(Array[Any](n, l.value))).toInt).toSet)
            else None
          case _ => None
        }
      }
      // conjunction: intersect the recognized predicates' bucket sets
      val known = sets.flatten
      if (known.isEmpty) None else Some(known.reduce(_ intersect _))
  }

  private val BucketDir =
    ("/" + java.util.regex.Pattern.quote(
      graft.storage.ParquetCatalog.BucketPartCol) + "=(\\d+)/").r

  /** Bucket id from a bucketed layout's file path — loud on anything
    * else (a bucket-declared table whose files lack the dir is a
    * corrupted layout; silently keying it 0 would mis-align a join). */
  private[spark] def bucketIdOf(path: String): Int =
    BucketDir.findFirstMatchIn(path).map(_.group(1).toInt).getOrElse(
      throw new IllegalStateException(
        s"bucketed table file carries no ${
          graft.storage.ParquetCatalog.BucketPartCol}=<id> component: $path"))
}

/** One stock file split plus the partition-value key Spark's
  * key-grouped exec aligns on. */
case class GraftKeyedPartition(delegate: FilePartition, key: InternalRow)
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
  override def preferredLocations(): Array[String] = delegate.preferredLocations()
}

/** Unwraps [[GraftKeyedPartition]] back to the stock split before
  * delegating — reads (row AND columnar) are the stock readers'. */
class GraftUnwrapReaderFactory(inner: PartitionReaderFactory)
  extends PartitionReaderFactory {

  private def unwrap(p: InputPartition): InputPartition = p match {
    case k: GraftKeyedPartition => k.delegate
    case other => other
  }

  override def supportColumnarReads(p: InputPartition): Boolean =
    inner.supportColumnarReads(unwrap(p))

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    inner.createReader(unwrap(p))

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
    inner.createColumnarReader(unwrap(p))
}

/** The vectored scan's positional anti-filter: each one-file split's
  * rows whose row index is in that file's vector are skipped. */
class GraftDvReaderFactory(inner: PartitionReaderFactory,
    dv: Broadcast[Map[String, Array[Long]]], outSchema: StructType,
    ridxOrdinal: Int, innerWidth: Int) extends PartitionReaderFactory {

  /** Row readers only: the positional wrapper filters row by row. */
  override def supportColumnarReads(p: InputPartition): Boolean = false

  /** Keyed partitions unwrap back to their one-file split. */
  private def unwrap(p: InputPartition): FilePartition = p match {
    case k: GraftKeyedPartition => k.delegate
    case fp: FilePartition => fp
    case other => throw new IllegalStateException(
      s"GraftDvReaderFactory expected a file partition, got $other")
  }

  override def createReader(p0: InputPartition): PartitionReader[InternalRow] = {
    val p = unwrap(p0)
    val r = inner.createReader(p)
    val file = p.files.head.filePath.toString
    val pos = dv.value.getOrElse(GraftScan.baseName(file), Array.emptyLongArray)
    // project the scan-internal row-index column away (a mutable view,
    // the standard reader row-reuse contract)
    val out = ProjectingInternalRow(outSchema,
      (0 until innerWidth).filterNot(_ == ridxOrdinal))
    new PartitionReader[InternalRow] {
      override def next(): Boolean = {
        while (r.next()) {
          if (pos.isEmpty ||
              java.util.Arrays.binarySearch(pos,
                r.get().getLong(ridxOrdinal)) < 0) return true
        }
        false
      }
      override def get(): InternalRow = { out.project(r.get()); out }
      override def close(): Unit = r.close()
    }
  }
}
