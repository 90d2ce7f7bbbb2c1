package graft.lake.connector

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, SupportsReportPartitioning}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.lake.{DuckLake, UnsupportedTypeException}

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

/** One data file of a row-level scan, SPJ scan or micro-batch. `read`
  * is Spark's parquet reader for the file's physical schema: the columns
  * under the names they had in THIS file's epoch (rename history
  * resolved on the driver; column_id ≙ field_id role, reference
  * src/types.rs:440-498). `slots(i)` says where required field `i` comes
  * from: an ordinal of `read`'s rows, or one of the codes in the
  * companion — a driver-evaluated constant (`constants(i)`: a hive
  * partition value, the default of a column added after the file was
  * written, or null), the file id, the position or the stable row id.
  */
final case class DuckLakeFilePartition(path: String,
    read: PartitionedFile => Iterator[InternalRow],
    slots: Array[Int], constants: Array[Any], fieldTypes: Array[DataType],
    // MOR delete file of this data file and its encryption key (null = none)
    deletePath: String, deleteKey: String,
    dataFileId: Long, rowIdStart: Long,
    // merged-file segment map: (startPos, rowCount, rowIdStart|-1)
    rowIdSegments: Array[Array[Long]],
    // ordinal of the explicit per-row id column of UPDATE-written files
    rowIdOrdinal: Int) extends InputPartition

object DuckLakeFilePartition {
  final val Constant = -1
  final val FileId = -2
  final val Pos = -3
  final val RowId = -4
}

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
  def keyVector: Vector[Any] = keyVals.toVector
}

/** Shared driver-side planning for the row-level, SPJ and streaming
  * readers: resolves each file's rename epoch, partition values, defaults
  * and MOR delete file into a serializable [[DuckLakeFilePartition]],
  * with one Spark parquet reader per physical schema.
  */
private[connector] object DuckLakePartitionPlanner {
  import graft.lake.{ColumnDef, DataFileRec, TableRec}

  def plan(lake: DuckLake, tr: TableRec, cols: Seq[ColumnDef],
      files: Seq[DataFileRec], required: StructType,
      basePath: String): Array[InputPartition] = {
    val byName = cols.map(c => c.name -> c).toMap
    val history = lake.store.getColumnHistory(tr.tableId)
    val partCols = lake.store.getPartitionColumns(tr.tableId, lake.store.currentSnapshot)
    val partValsByFile =
      if (partCols.isEmpty) Map.empty[Long, Map[Int, Option[String]]]
      else lake.store.getFilePartitionValues(tr.tableId)
    // only IDENTITY keys inject catalog values; transform keys' source
    // columns are physically present in the parquet
    val partIdxByColId = partCols.collect {
      case (idx, cid, None) => cid -> idx }.toMap
    // table-dir relative for files the lake wrote; verbatim for adopted
    // files registered by absolute path
    def resolve(path: String, relative: Boolean) =
      if (relative) s"$basePath/$path" else path
    // a column added (with default) after a file's epoch reads its
    // initial default there; evaluated driver-side, so a bad default
    // fails at planning
    val defaults = mutable.Map.empty[Int, Any]
    def default(i: Int): Any = defaults.getOrElseUpdate(i,
      byName.get(required(i).name).flatMap(_.initialDefault)
        .map(DuckLake.evalDefault(_, required(i).dataType)).orNull)
    val keys = lake.decryptOptions(files.map(f => new Path(f.path).getName -> f.encryptionKey))
    // one reader per physical schema, each with its OWN conf: the reader
    // writes its requested schema into the conf it broadcasts
    val readers = mutable.Map.empty[StructType, PartitionedFile => Iterator[InternalRow]]
    def reader(schema: StructType) = readers.getOrElseUpdate(schema,
      new ParquetFileFormat().buildReaderWithPartitionValues(lake.spark, schema,
        new StructType(), schema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        lake.hadoopConfWith(keys)))
    val types = required.fields.map(_.dataType)
    files.map { file =>
      val pvs = partValsByFile.getOrElse(file.dataFileId, Map.empty)
      val phys = mutable.ArrayBuffer.empty[StructField]
      def physical(name: String, dt: DataType): Int = {
        phys += StructField(name, dt, nullable = true) // absent in file → null
        phys.size - 1
      }
      val constants = new Array[Any](required.length)
      val slots = required.fields.zipWithIndex.map { case (f, i) =>
        val cur = byName.get(f.name)
        f.name match {
          case DuckLake.VirtualFileId => DuckLakeFilePartition.FileId
          case DuckLake.VirtualPos    => DuckLakeFilePartition.Pos
          case DuckLake.VirtualRowId  => DuckLakeFilePartition.RowId
          case _ if cur.exists(c => partIdxByColId.contains(c.columnId)) =>
            constants(i) = DuckLakeBatchScan.catalystPartValue(f.dataType,
              pvs.getOrElse(partIdxByColId(cur.get.columnId), None).orNull)
            DuckLakeFilePartition.Constant
          case _ =>
            // the column's physical (on-disk) name in this file's epoch
            cur.flatMap(c => history.find { case (h, begin, endS) =>
              h.columnId == c.columnId && begin <= file.epoch && endS.forall(_ > file.epoch)
            }) match {
              case Some((h, _, _)) => physical(h.name, f.dataType)
              case None =>
                constants(i) = default(i)
                DuckLakeFilePartition.Constant
            }
        }
      }
      val rowIdOrdinal =
        if (required.fieldNames.contains(DuckLake.VirtualRowId) &&
            file.rowIdStart.isEmpty && file.segments.isEmpty)
          physical(DuckLake.RowIdPhysCol, LongType)
        else -1
      DuckLakeFilePartition(resolve(file.path, file.pathIsRelative),
        reader(StructType(phys.toSeq)), slots, constants, types,
        file.deleteFile.map(d => resolve(d.path, d.pathIsRelative)).orNull,
        file.deleteFile.flatMap(_.encryptionKey).orNull,
        file.dataFileId, file.rowIdStart.getOrElse(-1L),
        if (file.segments.isEmpty) null
        else file.segments.map(sg =>
          Array(sg.startPos, sg.rowCount, sg.rowIdStart.getOrElse(-1L))).toArray,
        rowIdOrdinal): InputPartition
    }.toArray
  }
}

/** Streaming source over a DuckLake table: appends-only (CDC-insert
  * semantics — Replace rewrites stream their files like inserts, exactly
  * as `getDataFilesAddedBetween` defines batch CDC). State is just the
  * last-committed snapshot id; at 100 TB the per-batch work is O(new
  * files), planned from the catalog with no data listing.
  */
final class DuckLakeMicroBatchStream(lake: DuckLake, fullName: String,
    required: StructType, maxFilesPerTrigger: Option[Int] = None,
    maxRowsPerTrigger: Option[Long] = None)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadLimit, ReadMaxFiles, ReadMaxRows}

  private val (schemaName, tableName) = fullName.split('.') match {
    case Array(s, t) => (s, t)
    case _           => ("main", fullName)
  }

  private def tableRec = {
    val snap = lake.store.currentSnapshot
    val sch = lake.store.getSchemaByName(schemaName, snap)
      .getOrElse(throw new graft.lake.SchemaNotFoundException(schemaName))
    lake.store.getTableByName(sch.schemaId, tableName, snap)
      .getOrElse(throw new graft.lake.TableNotFoundException(fullName))
  }

  override def initialOffset(): Offset = SnapshotOffset(0L)

  override def latestOffset(): Offset = SnapshotOffset(lake.store.currentSnapshot)

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

  override def reportLatestOffset(): Offset =
    SnapshotOffset(lake.store.currentSnapshot)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val a = start.asInstanceOf[SnapshotOffset].snapshot
    val cur = lake.store.currentSnapshot
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
    val schSeg = lake.store.getSchemaByName(schemaName, b)
      .map(_.path).getOrElse(schemaName + "/")
    val cols = lake.store.getTableColumns(tr.tableId, b)
    // appends-only semantics: delete files are NOT applied to streamed rows
    val files = lake.store.getDataFilesAddedBetween(tr.tableId, a, b)
      .map(_.copy(deleteFile = None))
    DuckLakePartitionPlanner.plan(lake, tr, cols, files, required,
      graft.lake.DuckLake.tableDir(lake.dataPath, schSeg, tr))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // carry the driver's Hadoop conf to executors (credentials / fs
    // settings for non-local filesystems); `new Configuration()` on the
    // executor would silently drop the session conf
    new DuckLakeFileReaderFactory(new SerializableConfiguration(
      lake.spark.sparkContext.hadoopConfiguration))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** `Batch` scan over a snapshot-pinned lake table: one input partition
  * per data file, read by Spark's parquet reader, MOR deletes applied in
  * the connector's reader. Used by the row-level-operation path (SQL
  * UPDATE / MERGE / row-level DELETE), which requires a real `toBatch`
  * and row addresses, and by storage-partitioned joins. Ordinary reads
  * never get here: [[SpliceLakeScans]] plans them as the facade's
  * parquet scans.
  */
final class DuckLakeBatchScan(lake: DuckLake, fullName: String, snapshot: Long,
    schema: StructType,
    pushedFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
    spj: Boolean = false)
    extends org.apache.spark.sql.connector.read.Scan
    with org.apache.spark.sql.connector.read.Batch
    with SupportsReportPartitioning {

  private val (schemaName, tableName) = fullName.split('.') match {
    case Array(s, t) => (s, t)
    case _           => ("main", fullName)
  }

  override def readSchema(): StructType = schema
  override def toBatch: org.apache.spark.sql.connector.read.Batch = this
  override def description(): String =
    s"DuckLakeBatchScan $fullName@$snapshot" +
      (if (pushedFilters.nonEmpty) s" PushedFilters: ${pushedFilters.mkString(", ")}" else "")

  /** Partition fields eligible for SPJ key grouping: identity keys and
    * hash buckets (both expressible as v2 partition transforms Spark can
    * reason about — bucket resolves through the catalog's
    * [[DuckLakeBucketFunction]]); time/truncate transforms are range
    * partitionings SPJ cannot use.
    */
  private lazy val spjFields: Seq[graft.lake.PartField] =
    lake.partitionFieldsOf(fullName, Some(snapshot))

  private def spjEligible: Boolean = spjFields.nonEmpty &&
    spjFields.forall(f => (f.transform.isEmpty ||
      f.transform.exists(graft.lake.PartTransform.BucketRe.matches)) &&
      schema.fieldNames.contains(f.source))

  /** Plan once, reuse from both `planInputPartitions` and
    * `outputPartitioning` (the latter needs the distinct-key count).
    */
  private lazy val planned: Array[InputPartition] = {
    val sch = lake.store.getSchemaByName(schemaName, snapshot)
      .getOrElse(throw new graft.lake.SchemaNotFoundException(schemaName))
    val tr = lake.store.getTableByName(sch.schemaId, tableName, snapshot)
      .getOrElse(throw new graft.lake.TableNotFoundException(fullName))
    val cols = lake.store.getTableColumns(tr.tableId, snapshot)
    // conservative min/max + partition-value file skipping from catalog
    // stats: pushed filters stay residual (re-applied above the scan),
    // but non-matching files never produce input partitions
    val files = lake.pruneDataFiles(tr, cols, snapshot,
      lake.store.getDataFiles(tr.tableId, snapshot), pushedFilters)
    val parts = DuckLakePartitionPlanner.plan(lake, tr, cols, files, schema,
      graft.lake.DuckLake.tableDir(lake.dataPath, sch.path, tr))
    if (!spj || !spjEligible) parts
    else {
      // key values in catalog partition-column order, typed as Catalyst
      // values — HasPartitionKey rows with equal keys must compare equal.
      // identity keys carry the column value; bucket keys the bucket int
      val pvs = lake.store.getFilePartitionValues(tr.tableId)
      parts.map { case p: DuckLakeFilePartition =>
        val byIdx = pvs.getOrElse(p.dataFileId, Map.empty)
        val key = spjFields.zipWithIndex.map { case (f, idx) =>
          val raw = byIdx.getOrElse(idx, None).orNull
          f.transform match {
            case None => DuckLakeBatchScan.catalystPartValue(
              schema(schema.fieldIndex(f.source)).dataType, raw)
            case Some(_) => // bucket: the directory value IS the bucket id
              if (raw == null) null else Int.box(raw.toInt)
          }
        }.toArray
        new DuckLakeKeyedPartition(p, key): InputPartition
      }
    }
  }

  override def planInputPartitions(): Array[InputPartition] = planned

  /** Report hive partitioning as `KeyGroupedPartitioning` so Spark's
    * storage-partitioned join removes both exchanges for co-partitioned
    * lake tables (`spark.sql.sources.v2.bucketing.enabled`). Anything
    * short of full key coverage falls back to unknown partitioning.
    */
  override def outputPartitioning(): Partitioning =
    if (spj && spjEligible && planned.nonEmpty) {
      import org.apache.spark.sql.connector.expressions.Expressions
      val nKeys = planned.collect {
        case k: DuckLakeKeyedPartition => k.keyVector
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

  override def createReaderFactory(): PartitionReaderFactory =
    new DuckLakeFileReaderFactory(new SerializableConfiguration(
      lake.spark.sparkContext.hadoopConfiguration))
}

object DuckLakeBatchScan {
  /** Hive partition-path value string → Catalyst value of the column's
    * logical type (null partition → null). Mirrors the read-side literal
    * injection the ordinary scan does with `lit(value).cast(dt)`.
    */
  private[connector] def catalystPartValue(dt: DataType, raw: String): Any =
    if (raw == null) null else dt match {
      case ByteType     => raw.toByte
      case ShortType    => raw.toShort
      case IntegerType  => raw.toInt
      case LongType     => raw.toLong
      case BooleanType  => raw.toBoolean
      case FloatType    => raw.toFloat
      case DoubleType   => raw.toDouble
      case StringType   => UTF8String.fromString(raw)
      case DateType     => java.time.LocalDate.parse(raw).toEpochDay.toInt
      case d: DecimalType =>
        org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(raw), d.precision, d.scale)
      case other => throw new UnsupportedTypeException(
        s"identity partition key type ${other.simpleString} not supported by the connector's Batch scan")
    }
}

/** Executor-side reader: each file through the Spark parquet reader its
  * partition carries, read whole and unfiltered so the row count gives
  * every row's file position (MOR deletes, `_pos`, row ids). The file's
  * delete positions come from [[graft.lake.DeletePositions]], the loader
  * the facade's scans use too. Ordinary reads never get here: they are
  * spliced parquet scans, whose deletes [[graft.lake.DuckLakeParquetFormat]]
  * applies.
  */
final class DuckLakeFileReaderFactory(hconf: SerializableConfiguration)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition match {
      case k: DuckLakeKeyedPartition => k.inner
      case f: DuckLakeFilePartition  => f
    }
    new PartitionReader[InternalRow] {
      // MOR delete file: positions of rows hidden in THIS data file
      private val deleted =
        if (p.deletePath == null) null
        else graft.lake.DeletePositions.load(p.deletePath, Option(p.deleteKey), hconf.value)

      private val rows = {
        val hp = new Path(p.path)
        val st = hp.getFileSystem(hconf.value).getFileStatus(hp)
        p.read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(st.getPath), 0L,
          st.getLen, Array.empty[String], st.getModificationTime, st.getLen))
      }
      private var current: InternalRow = _
      private var pos: Long = -1L

      /** Stable row id of the row at file position `pos`: the explicit
        * in-file column, merged-segment map, or contiguous range.
        */
      private def rowIdAt(pos: Long): Any =
        if (p.rowIdOrdinal >= 0) {
          if (current.isNullAt(p.rowIdOrdinal)) null // legacy file without ids
          else current.getLong(p.rowIdOrdinal)
        }
        else if (p.rowIdSegments != null) {
          p.rowIdSegments.collectFirst {
            case Array(start, count, rid) if pos >= start && pos < start + count =>
              if (rid < 0) null else Long.box(rid + (pos - start))
          }.flatMap(Option(_)).orNull
        } else if (p.rowIdStart >= 0) Long.box(p.rowIdStart + pos)
        else null

      override def next(): Boolean = {
        do {
          current = if (rows.hasNext) rows.next() else null
          pos += 1
        } while (current != null && deleted != null && deleted.contains(pos))
        current != null
      }

      override def get(): InternalRow = {
        val row = new GenericInternalRow(p.slots.length)
        var i = 0
        while (i < p.slots.length) {
          val v = p.slots(i) match {
            case DuckLakeFilePartition.Constant => p.constants(i)
            case DuckLakeFilePartition.FileId   => p.dataFileId
            case DuckLakeFilePartition.Pos      => pos
            case DuckLakeFilePartition.RowId    => rowIdAt(pos)
            case j => if (current.isNullAt(j)) null else current.get(j, p.fieldTypes(i))
          }
          row.update(i, v)
          i += 1
        }
        row
      }

      override def close(): Unit = rows match {
        case c: java.io.Closeable => c.close()
        case _ => () // closed by the task's completion listener
      }
    }
  }
}
