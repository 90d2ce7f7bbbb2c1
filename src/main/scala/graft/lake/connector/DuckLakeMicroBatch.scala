package graft.lake.connector

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeSeq, AttributeSet, BindReferences, Expression, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.connector.read.{HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, SupportsReportPartitioning}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

import graft.lake.{DuckLake, DuckLakeParquetFormat, LakeFile}

/** Snapshot offset for the DuckLake incremental stream: micro-batch (a, b]
  * = rows in data files whose `begin_snapshot` lies in that interval —
  * the same interval semantics as batch CDC `tableChanges` (reference:
  * src/table_functions.rs:86-225). The reference itself is batch-only;
  * this is the Spark-native extension SURVEY.md §2.B flags ("snapshot-
  * incremental `readStream` source").
  */
final case class SnapshotOffset(snapshot: Long) extends Offset {
  override def json(): String = snapshot.toString
}

/** One data file of a row-level scan, SPJ scan or micro-batch: the file
  * (path, size, its per-file values and partition row, and the delete
  * file and visible-row limit its scan hides), its read group's partition
  * schema, the reader of its read group
  * ([[graft.lake.DuckLakeParquetFormat]] in row mode), and the group's
  * projection onto the scan's columns, bound to the reader's rows: the
  * group's physical columns and row index, then the file's
  * [[graft.lake.LakeFile.Fields]] values and its partition row, which the
  * reader appends as partition values. Column mapping is the facade's: no
  * column is resolved here.
  */
final case class DuckLakeFilePartition(file: LakeFile, partitionSchema: StructType,
    read: PartitionedFile => Iterator[InternalRow],
    projection: Seq[Expression]) extends InputPartition

/** A file partition tagged with its hive-partition key — the handle
  * Spark's storage-partitioned join (SPJ) machinery groups by: two lake
  * tables partitioned on the same key join with ZERO shuffle (both
  * exchanges removed), which at 100 TB is the dominant cost of a big-big
  * join. `keyVals` holds Catalyst values in catalog partition-column
  * order.
  */
final class DuckLakeKeyedPartition(val inner: DuckLakeFilePartition,
    keyVals: Array[Any]) extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = new GenericInternalRow(keyVals)
}

/** The inlined catalog rows of a row-level scan, already in the scan's
  * columns ([[DuckLake.inlinedScanRows]]): one input partition.
  */
final case class DuckLakeInlinedPartition(rows: Array[InternalRow]) extends InputPartition

/** Shared driver-side planning for the row-level, SPJ and streaming
  * readers. The facade's [[DuckLake.readGroups]] gives each read group's
  * physical columns, partition schema, projection and files; per group
  * the projection is analyzed, optimized and bound here ONCE, over the
  * group's physical columns, the parquet row index, the per-file values
  * and the partition columns, so the files of a group share one
  * generated projection. Virtual columns are
  * the facade's ([[DuckLake.virtualColumn]]) over the same per-file
  * values the facade's scans read as `_metadata` fields.
  */
private[connector] object DuckLakePartitionPlanner {
  import graft.lake.{DataFileRec, ScanCtx}

  private val Pos = ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME

  /** Partitions of `files` (catalog rows of the table `ctx` pins) in the
    * order of `files`.
    */
  def plan(lake: DuckLake, ctx: ScanCtx, files: Seq[DataFileRec], required: StructType,
      liveAt: Option[Long]): Seq[DuckLakeFilePartition] = {
    val keys = lake.decryptOptions(files.map(f => new Path(f.path).getName -> f.encryptionKey))
    // one reader per read schema, each with its OWN conf: the reader
    // writes its requested schema into the conf it broadcasts
    val readers = mutable.Map.empty[(StructType, StructType, Boolean), PartitionedFile => Iterator[InternalRow]]
    def field(name: String): Column = col(if (name == LakeFile.RowIndex) Pos else name)
    lake.readGroups(ctx, files, liveAt, DuckLake.asksProvenance(required.fieldNames.toSet))
      .flatMap { g =>
        val byName = g.projection.toMap
        val columns = required.fields.toSeq.map { f =>
          if (DuckLake.VirtualNames.contains(f.name))
            DuckLake.virtualColumn(f.name, g.files.head._1, field)
          else byName.getOrElse(f.name, lit(null).cast(f.dataType))
        }
        val values = StructType(LakeFile.Fields ++ g.partitionSchema)
        val (readSchema, projection) = bind(lake,
          g.physSchema.add(Pos, LongType, nullable = true), values, columns)
        val hides = g.files.exists(_._2.hidesRows)
        val read = readers.getOrElseUpdate((readSchema, values, hides),
          new DuckLakeParquetFormat(hides).buildReaderWithPartitionValues(lake.spark,
            StructType(readSchema.filterNot(_.name == Pos)), values, readSchema, Nil,
            Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), lake.hadoopConfWith(keys)))
        g.files.map(f => DuckLakeFilePartition(f._2, g.partitionSchema, read, projection))
      }.sortBy(_.file.fileIndex)
  }

  /** `columns` over rows of `input` followed by the `values` columns,
    * analyzed and optimized by Spark, then bound: the columns of `input`
    * the projection reads (the reader's schema) and the bound projection
    * over the reader's rows (those columns, then the values).
    */
  private def bind(lake: DuckLake, input: StructType, values: StructType,
      columns: Seq[Column]): (StructType, Seq[Expression]) = {
    val frame = ColumnBridge.internalFrame(lake.spark, StructType(input ++ values),
      lake.spark.sparkContext.emptyRDD[InternalRow])
    val attrs = frame.queryExecution.analyzed.output
    val exprs = frame.select(columns: _*).queryExecution.optimizedPlan match {
      case Project(list, _) => list
      case plan => plan.output // an identity projection optimizes away
    }
    val used = AttributeSet(exprs.flatMap(_.references))
    val kept = input.indices.filter(i => used.contains(attrs(i)))
    (StructType(kept.map(input(_))), BindReferences.bindReferences(exprs,
      AttributeSeq(kept.map(attrs) ++ attrs.drop(input.length))))
  }
}

/** Streaming source over a DuckLake table: appends-only (CDC-insert
  * semantics — Replace rewrites stream their files like inserts, exactly
  * as `getDataFilesAddedBetween` defines batch CDC). State is just the
  * last-committed snapshot id; at 100 TB the per-batch work is O(new
  * files), planned from the catalog with no data listing. Under
  * `Trigger.AvailableNow` the head at the query's start ends the stream.
  */
final class DuckLakeMicroBatchStream(lake: DuckLake, fullName: String,
    required: StructType, maxFilesPerTrigger: Option[Int] = None,
    maxRowsPerTrigger: Option[Long] = None)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadLimit, ReadMaxFiles, ReadMaxRows}

  private def tableRec = lake.resolveTable(fullName, lake.store.currentSnapshot)

  override def initialOffset(): Offset = SnapshotOffset(0L)

  /** The head `Trigger.AvailableNow` pinned; None = follow the head. */
  @volatile private var pinnedHead: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    pinnedHead = Some(lake.store.currentSnapshot)

  private def head: Long = pinnedHead.getOrElse(lake.store.currentSnapshot)

  override def latestOffset(): Offset = SnapshotOffset(head)

  // ---- admission control (`maxFilesPerTrigger` read option) ----
  // At 100 TB a stream bootstrapping from offset 0 must NOT plan the
  // whole table as one micro-batch: the batch end advances snapshot by
  // snapshot until the file budget is spent (always at least one
  // file-bearing snapshot, so progress is guaranteed). Planned purely
  // from the catalog — one metadata query, no data listing.
  override def getDefaultReadLimit: ReadLimit = (maxFilesPerTrigger, maxRowsPerTrigger) match {
    case (Some(f), Some(r)) =>
      ReadLimit.compositeLimit(Array(ReadLimit.maxFiles(f), ReadLimit.maxRows(r)))
    case (Some(f), None) => ReadLimit.maxFiles(f)
    case (None, Some(r)) => ReadLimit.maxRows(r)
    case _ => ReadLimit.allAvailable()
  }

  override def reportLatestOffset(): Offset = SnapshotOffset(head)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val a = start.asInstanceOf[SnapshotOffset].snapshot
    val cur = head
    // `rowCap`: how many catalog rows the walk actually needs. For a
    // file-count budget, budget+1 rows decide the batch end — fetching
    // the WHOLE remaining backlog per advance makes a 100 TB backfill's
    // planning read O(remaining files) every batch. A capped listing may
    // truncate its LAST snapshot group, so that group is dropped (unless
    // it is the only one — the guaranteed-progress case, where the first
    // snapshot is admitted whole regardless of budget and
    // planInputPartitions re-lists its files exactly) and a truncated
    // fetch can never conclude "backlog drained". Row-count budgets keep
    // the uncapped listing: record counts don't bound the rows needed.
    def walk(cost: Seq[graft.lake.DataFileRec] => Long, budget0: Long,
        rowCap: Option[Int]): Offset = {
      val rows = lake.store.getDataFilesAddedBetween(tableRec.tableId, a, cur, rowCap)
      val truncated = rowCap.exists(rows.size >= _)
      val bySnap0 = rows.groupBy(_.beginSnapshot).toSeq.sortBy(_._1)
      val bySnap = if (truncated && bySnap0.size > 1) bySnap0.init else bySnap0
      var end = a
      var budget = budget0
      var stop = false
      bySnap.foreach { case (s, fs) =>
        if (!stop && (cost(fs) <= budget || end == a)) {
          budget -= cost(fs); end = s
        } else stop = true
      }
      // every file-bearing snapshot consumed AND the listing was complete:
      // jump over any trailing metadata-only snapshots so the stream
      // reaches the head
      SnapshotOffset(if (stop || truncated) end else cur)
    }
    def applyLimit(l: ReadLimit): Offset = l match {
      case mf: ReadMaxFiles if cur > a =>
        walk(_.size.toLong, mf.maxFiles().toLong,
          Some(math.max(mf.maxFiles(), 1) + 1))
      case mr: ReadMaxRows if cur > a =>
        walk(_.map(_.recordCount).sum, mr.maxRows(), None)
      case comp: CompositeReadLimit if cur > a =>
        // both budgets bind: the batch ends at the EARLIEST end offset
        comp.getReadLimits.map(applyLimit)
          .map(_.asInstanceOf[SnapshotOffset].snapshot)
          .minOption.map(SnapshotOffset.apply).getOrElse(SnapshotOffset(cur))
      case _ => SnapshotOffset(cur)
    }
    applyLimit(limit)
  }

  override def deserializeOffset(json: String): Offset = SnapshotOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (a, b) = (start.asInstanceOf[SnapshotOffset].snapshot,
      end.asInstanceOf[SnapshotOffset].snapshot)
    // a checkpointed offset that points into EXPIRED history must fail
    // loudly: files both added and removed inside the expired range may
    // already be purged, so resuming from it would silently skip rows
    // the stream never delivered (the stream contract is every appended
    // row exactly once)
    if (a > 0 && !lake.store.snapshotExists(a))
      throw new graft.lake.InvalidSnapshotException(
        s"stream offset $a refers to an expired snapshot of $fullName; " +
          "the checkpoint is no longer replayable — restart the stream " +
          "with a fresh checkpoint location")
    val tr = tableRec
    // appends-only semantics: delete files are NOT applied to streamed rows
    DuckLakePartitionPlanner.plan(lake,
      lake.scanCtx(tr, lake.store.getTableColumns(tr.tableId, b), b, Some(a)),
      lake.store.getDataFilesAddedBetween(tr.tableId, a, b), required, liveAt = None).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = DuckLakeFileReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** `Batch` scan over a snapshot-pinned lake table: one input partition
  * per data file, each read like the facade reads it — through
  * [[graft.lake.DuckLakeParquetFormat]], which drops MOR-deleted rows
  * and gives positions from the parquet row index, with the facade's
  * per-group projection — plus one partition of the table's inlined
  * rows, if any. Used by the row-level-operation path (DELETE / UPDATE /
  * MERGE), which requires a real `toBatch` and row addresses, and by
  * storage-partitioned joins (never over inlined rows); `readStream`
  * takes its micro-batch stream. Plain reads never get here:
  * [[ResolveLakeReads]] plans them as the facade's parquet scans.
  */
final class DuckLakeBatchScan(lake: DuckLake, fullName: String, snapshot: Long,
    schema: StructType,
    pushedFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
    spj: Boolean = false,
    maxFilesPerTrigger: Option[Int] = None,
    maxRowsPerTrigger: Option[Long] = None)
    extends org.apache.spark.sql.connector.read.Scan
    with org.apache.spark.sql.connector.read.Batch
    with SupportsReportPartitioning {

  override def readSchema(): StructType = schema
  override def toBatch: org.apache.spark.sql.connector.read.Batch = this
  override def description(): String =
    s"DuckLakeBatchScan $fullName@$snapshot" +
      (if (pushedFilters.nonEmpty) s" PushedFilters: ${pushedFilters.mkString(", ")}" else "")

  /** The SPJ keys when `spj`: identity keys and hash buckets only (see
    * [[DuckLakeV2Table.storagePartitioned]]; bucket resolves through the
    * catalog's [[DuckLakeBucketFunction]]).
    */
  private lazy val spjFields: Seq[graft.lake.PartField] =
    lake.partitionFieldsOf(fullName, Some(snapshot))

  private lazy val tr = lake.resolveTable(fullName, snapshot)
  private lazy val ctx = lake.scanCtx(tr, lake.store.getTableColumns(tr.tableId, snapshot),
    snapshot)

  private lazy val inlined: Array[InternalRow] =
    lake.inlinedScanRows(tr, ctx.cols, snapshot, schema)

  /** Plan once, reuse from both `planInputPartitions` and
    * `outputPartitioning` (the latter needs the distinct-key count).
    */
  private lazy val planned: Array[InputPartition] = {
    // conservative min/max + partition-value file skipping from catalog
    // stats: pushed filters stay residual (re-applied above the scan),
    // but non-matching files never produce input partitions
    val files = lake.pruneDataFiles(tr, ctx.cols, snapshot,
      lake.store.getDataFiles(tr.tableId, snapshot), pushedFilters)
    val parts = DuckLakePartitionPlanner.plan(lake, ctx, files, schema, Some(snapshot))
    if (!spj)
      (parts ++ Option.when(inlined.nonEmpty)(DuckLakeInlinedPartition(inlined))).toArray
    else {
      // key values in catalog partition-column order, typed as Catalyst
      // values — HasPartitionKey rows with equal keys must compare equal.
      // identity keys carry the file's typed partition value, bucket keys
      // the bucket id (the directory value)
      parts.map { p =>
        val byIdx = ctx.partValsByFile.getOrElse(p.file.fileId, Map.empty)
        val key = spjFields.zipWithIndex.map[Any] { case (pf, idx) =>
          if (pf.transform.isEmpty) {
            val i = p.partitionSchema.fieldNames.indexOf(DuckLake.partitionField(
              ctx.cols.find(_.name == pf.source).get.columnId))
            if (i < 0) null else p.file.partition.get(i, schema(pf.source).dataType)
          } else byIdx.getOrElse(idx, None).fold(null: Any)(_.toInt)
        }.toArray
        new DuckLakeKeyedPartition(p, key): InputPartition
      }.toArray
    }
  }

  override def planInputPartitions(): Array[InputPartition] = planned

  /** Report hive partitioning as `KeyGroupedPartitioning` so Spark's
    * storage-partitioned join removes both exchanges for co-partitioned
    * lake tables (`spark.sql.sources.v2.bucketing.enabled`). Anything
    * short of full key coverage falls back to unknown partitioning.
    */
  override def outputPartitioning(): Partitioning =
    if (spj && planned.nonEmpty) {
      import org.apache.spark.sql.connector.expressions.Expressions
      val nKeys = planned.collect {
        case k: DuckLakeKeyedPartition => k.partitionKey()
      }.distinct.length
      val keys = spjFields.map { f =>
        f.transform match {
          case Some(graft.lake.PartTransform.BucketRe(n)) =>
            Expressions.bucket(n.toInt, f.source)
              : org.apache.spark.sql.connector.expressions.Expression
          case _ => Expressions.identity(f.source)
            : org.apache.spark.sql.connector.expressions.Expression
        }
      }.toArray
      new KeyGroupedPartitioning(keys, nKeys)
    } else new UnknownPartitioning(planned.length)

  override def createReaderFactory(): PartitionReaderFactory = DuckLakeFileReaderFactory

  /** `spark.readStream.table("ducklake.<schema>.<t>")`: snapshot-
    * incremental micro-batches (appends-only CDC semantics).
    */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new DuckLakeMicroBatchStream(lake, fullName, schema, maxFilesPerTrigger,
      maxRowsPerTrigger)
}

/** Executor-side reader: each file through the reader its partition
  * carries, with the partition's bound projection compiled once per task
  * (`UnsafeProjection`; the files of a read group share its generated
  * code), and the inlined partition's rows as they are. Deleted rows
  * never reach it: the reader drops them.
  */
object DuckLakeFileReaderFactory extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val (rows, project) = partition match {
      case DuckLakeInlinedPartition(inlined) => (inlined.iterator, identity[InternalRow] _)
      case k: DuckLakeKeyedPartition => fileRows(k.inner)
      case f: DuckLakeFilePartition  => fileRows(f)
    }
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _

      override def next(): Boolean = rows.hasNext && {
        current = project(rows.next())
        true
      }

      override def get(): InternalRow = current

      override def close(): Unit = rows match {
        case c: java.io.Closeable => c.close()
        case _ => () // closed by the task's completion listener
      }
    }
  }

  private def fileRows(p: DuckLakeFilePartition)
      : (Iterator[InternalRow], InternalRow => InternalRow) =
    (p.read(PartitionedFile(new JoinedRow(p.file.fieldValues, p.file.partition),
      SparkPath.fromPath(new Path(p.file.path)),
      0L, p.file.size, Array.empty[String], 0L, p.file.size, p.file.metadata)),
      UnsafeProjection.create(p.projection))
}
