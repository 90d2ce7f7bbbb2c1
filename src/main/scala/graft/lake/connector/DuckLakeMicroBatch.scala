package graft.lake.connector

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, SupportsReportPartitioning}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.lake.crypto.GraftCryptoFactory
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

/** One data file of one micro-batch. `physNames(i)` is the column's name
  * as written in THIS file's epoch (rename history resolved on the
  * driver; column_id ≙ field_id role, reference src/types.rs:440-498);
  * null marks a column added after the file was written. `isPartCol(i)`
  * marks hive partition columns, whose value comes from the catalog
  * (`partRaw(i)`, null = null partition) rather than the parquet.
  */
final case class DuckLakeFilePartition(path: String, encryptionKey: Option[String],
    physNames: Array[String], fieldTypes: Array[DataType],
    isPartCol: Array[Boolean], partRaw: Array[String],
    deletePath: String = null, deleteKey: Option[String] = None,
    special: Array[Int] = null, dataFileId: Long = -1L,
    defaultSqls: Array[String] = null,
    rowIdStart: Long = -1L,
    // merged-file segment map: (startPos, rowCount, rowIdStart|-1)
    rowIdSegments: Array[Array[Long]] = null,
    // file carries an explicit per-row id column (UPDATE-written)
    rowIdInFile: Boolean = false) extends InputPartition

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

/** Shared driver-side planning for the native (parquet-mr Group) readers:
  * resolves each file's rename epoch, partition values and MOR delete
  * file into a serializable [[DuckLakeFilePartition]].
  */
private[connector] object DuckLakePartitionPlanner {
  import graft.lake.{ColumnDef, DataFileRec, TableRec}

  def supportedType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         BooleanType | StringType | BinaryType | DateType | TimestampType |
         TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Row-address metadata columns a scan may request by name: the data
    * file's catalog id and the row's file-local position — together the
    * stable row id driving delta-based (merge-on-read) row-level ops.
    */
  final val FileIdCol = "_file_id"
  final val PosCol = "_pos"
  /** Physical column name of explicit per-row stable ids in
    * UPDATE-written files (row_id_start NULL in the catalog).
    */
  final val RowIdPhysCol = "_ducklake_row_id"

  def plan(lake: DuckLake, tr: TableRec, cols: Seq[ColumnDef],
      files: Seq[DataFileRec], required: StructType,
      basePath: String): Array[InputPartition] = {
    val special = required.fields.map(_.name match {
      case FileIdCol                   => 1
      case PosCol                      => 2
      case graft.lake.DuckLake.VirtualRowId => 3
      case _                           => 0
    })
    required.fields.zipWithIndex.foreach { case (f, i) =>
      if (special(i) == 0 && !supportedType(f.dataType))
        throw new UnsupportedTypeException(
          s"native read of ${f.dataType.simpleString} column ${f.name} not supported")
    }
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
    files.map { file =>
      // per-file epoch: the physical (on-disk) name of each required column
      val physNames = required.fields.map { f =>
        byName.get(f.name).flatMap { cur =>
          history.find { case (h, begin, endS) =>
            h.columnId == cur.columnId && begin <= file.epoch &&
              endS.forall(_ > file.epoch)
          }.map(_._1.name)
        }.orNull
      }
      val isPartCol = required.fields.map(f =>
        byName.get(f.name).exists(c => partIdxByColId.contains(c.columnId)))
      val partRaw = required.fields.map { f =>
        (for {
          cur <- byName.get(f.name)
          idx <- partIdxByColId.get(cur.columnId)
          v <- partValsByFile.getOrElse(file.dataFileId, Map.empty).getOrElse(idx, None)
        } yield v).orNull
      }
      // a column added (with default) after this file's epoch: ship the
      // default SQL so the executor materializes it for pre-ALTER rows;
      // evaluate driver-side first so a bad default fails at planning
      val defaultSqls = required.fields.zipWithIndex.map { case (f, i) =>
        (if (physNames(i) != null) None
         else byName.get(f.name).flatMap(_.initialDefault).map { sql =>
           graft.lake.DuckLake.evalDefault(sql, f.dataType); sql
         }).orNull
      }
      DuckLakeFilePartition(resolve(file.path, file.pathIsRelative),
        file.encryptionKey, physNames, required.fields.map(_.dataType),
        isPartCol, partRaw,
        file.deleteFile.map(d => resolve(d.path, d.pathIsRelative)).orNull,
        file.deleteFile.flatMap(_.encryptionKey),
        special, file.dataFileId,
        if (defaultSqls.forall(_ == null)) null else defaultSqls,
        file.rowIdStart.getOrElse(-1L),
        if (file.segments.isEmpty) null
        else file.segments.map(sg =>
          Array(sg.startPos, sg.rowCount, sg.rowIdStart.getOrElse(-1L))).toArray,
        file.rowIdStart.isEmpty && file.segments.isEmpty)
        : InputPartition
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
    val sch = lake.store.getSchemaByName(schemaName, snap).get
    lake.store.getTableByName(sch.schemaId, tableName, snap).get
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

/** Native `Batch` scan over a snapshot-pinned lake table: one input
  * partition per data file, MOR deletes applied in the reader. Used by
  * the row-level-operation path (SQL UPDATE / MERGE / row-level DELETE),
  * which requires a real `toBatch`, and by storage-partitioned joins.
  * Ordinary reads never get here: [[SpliceLakeScans]] plans them as the
  * facade's parquet scans, with Spark's vectorized reader.
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
        s"partition key type ${other.simpleString} not supported for SPJ")
    }
}

/** Executor-side reader: parquet-mr Group materialization (row-by-row) —
  * appropriate for the incremental tail of a stream and for row-level
  * rewrites, where batches are bounded; ordinary reads are spliced
  * parquet scans with Spark's vectorized reader.
  */
final class DuckLakeFileReaderFactory(hconf: SerializableConfiguration)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition match {
      case k: DuckLakeKeyedPartition => k.inner
      case f: DuckLakeFilePartition  => f
    }
    new PartitionReader[InternalRow] {
      private def open(path: String, key: Option[String]): ParquetReader[Group] = {
        val b = ParquetReader.builder(new GroupReadSupport(), new Path(path))
          .withConf(hconf.value)
        key.foreach(k => b.withDecryption(GraftCryptoFactory.decryptionProps(k)))
        b.build()
      }

      // MOR delete file: positions of rows hidden in THIS data file
      private val deleted: java.util.HashSet[java.lang.Long] = {
        val s = new java.util.HashSet[java.lang.Long]()
        if (p.deletePath != null) {
          val r = open(p.deletePath, p.deleteKey)
          try {
            var g = r.read()
            while (g != null) {
              s.add(g.getLong(g.getType.getFieldIndex("pos"), 0))
              g = r.read()
            }
          } finally r.close()
        }
        s
      }

      private val reader: ParquetReader[Group] = open(p.path, p.encryptionKey)
      private var current: Group = _
      private var pos: Long = -1L

      /** Stable row id of the row at file position `pos`: contiguous
        * range, merged-segment map, or the explicit in-file column.
        */
      private def rowIdAt(pos: Long): Any =
        if (p.rowIdInFile) {
          if (current.getType.containsField(DuckLakePartitionPlanner.RowIdPhysCol))
            readField(current, DuckLakePartitionPlanner.RowIdPhysCol, LongType)
          else null // legacy file without ids
        }
        else if (p.rowIdSegments != null) {
          p.rowIdSegments.collectFirst {
            case Array(start, count, rid) if pos >= start && pos < start + count =>
              if (rid < 0) null else Long.box(rid + (pos - start))
          }.flatMap(Option(_)).orNull
        } else if (p.rowIdStart >= 0) Long.box(p.rowIdStart + pos)
        else null

      // initial defaults for columns added after this file's epoch,
      // evaluated once per reader to Catalyst internal values
      private val defaultVal: Array[Any] =
        if (p.defaultSqls == null) null
        else p.defaultSqls.indices.map(i =>
          if (p.defaultSqls(i) == null) null
          else graft.lake.DuckLake.evalDefault(p.defaultSqls(i), p.fieldTypes(i))).toArray

      override def next(): Boolean = {
        current = reader.read()
        pos += 1
        while (current != null && deleted.contains(pos)) {
          current = reader.read()
          pos += 1
        }
        current != null
      }

      override def get(): InternalRow = {
        val row = new GenericInternalRow(p.physNames.length)
        var i = 0
        while (i < p.physNames.length) {
          val v =
            if (p.special != null && p.special(i) == 1) p.dataFileId
            else if (p.special != null && p.special(i) == 2) pos
            else if (p.special != null && p.special(i) == 3) rowIdAt(pos)
            else if (p.isPartCol(i)) parsePartValue(p.partRaw(i), p.fieldTypes(i))
            else if (p.physNames(i) == null && defaultVal != null) defaultVal(i)
            else readField(current, p.physNames(i), p.fieldTypes(i))
          row.update(i, v)
          i += 1
        }
        row
      }

      override def close(): Unit = reader.close()
    }
  }

  private def readField(g: Group, physName: String, dt: DataType): Any = {
    if (physName == null) return null // column added after this file epoch
    val idx = g.getType.getFieldIndex(physName)
    if (g.getFieldRepetitionCount(idx) == 0) return null
    dt match {
      case ByteType       => g.getInteger(idx, 0).toByte
      case ShortType      => g.getInteger(idx, 0).toShort
      case IntegerType    => g.getInteger(idx, 0)
      case DateType       => g.getInteger(idx, 0)
      case LongType       => g.getLong(idx, 0)
      case TimestampType | TimestampNTZType =>
        // Spark's default parquet writer emits TimestampType as INT96
        // (spark.sql.parquet.outputTimestampType=INT96); NTZ and
        // MICROS-configured writers emit INT64 µs. Handle both.
        g.getType.getType(idx).asPrimitiveType().getPrimitiveTypeName match {
          case PrimitiveTypeName.INT96 => int96ToMicros(g.getInt96(idx, 0).getBytes)
          case _                       => g.getLong(idx, 0) // µs since epoch
        }
      case FloatType      => g.getFloat(idx, 0)
      case DoubleType     => g.getDouble(idx, 0)
      case BooleanType    => g.getBoolean(idx, 0)
      case StringType     => UTF8String.fromString(g.getString(idx, 0))
      case BinaryType     => g.getBinary(idx, 0).getBytes
      case d: DecimalType =>
        g.getType.getType(idx).asPrimitiveType().getPrimitiveTypeName match {
          case PrimitiveTypeName.INT32 =>
            org.apache.spark.sql.types.Decimal(
              BigDecimal(BigInt(g.getInteger(idx, 0)), d.scale), d.precision, d.scale)
          case PrimitiveTypeName.INT64 =>
            org.apache.spark.sql.types.Decimal(
              BigDecimal(BigInt(g.getLong(idx, 0)), d.scale), d.precision, d.scale)
          case _ => // FIXED_LEN_BYTE_ARRAY / BINARY: unscaled big-endian
            org.apache.spark.sql.types.Decimal(
              BigDecimal(BigInt(g.getBinary(idx, 0).getBytes), d.scale),
              d.precision, d.scale)
        }
      case other => throw new UnsupportedTypeException(s"stream read: $other")
    }
  }

  /** Catalog-held hive partition value string → Spark internal value. */
  private def parsePartValue(raw: String, dt: DataType): Any = {
    if (raw == null) return null
    dt match {
      case ByteType    => raw.toByte
      case ShortType   => raw.toShort
      case IntegerType => raw.toInt
      case LongType    => raw.toLong
      case FloatType   => raw.toFloat
      case DoubleType  => raw.toDouble
      case BooleanType => raw.toBoolean
      case StringType  => UTF8String.fromString(raw)
      case DateType    => java.time.LocalDate.parse(raw).toEpochDay.toInt
      case other => throw new UnsupportedTypeException(s"stream partition col: $other")
    }
  }

  /** Impala-layout INT96 timestamp: little-endian 8-byte nanos-of-day +
    * 4-byte Julian day number → µs since the Unix epoch.
    */
  private def int96ToMicros(bytes: Array[Byte]): Long = {
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nanosOfDay = buf.getLong
    val julianDay = buf.getInt
    val JulianUnixEpoch = 2440588L
    (julianDay - JulianUnixEpoch) * 86400L * 1000000L + nanosOfDay / 1000L
  }
}
