package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.{Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.MessageType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, FileSourceConstantMetadataStructField, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarArray, ColumnarBatch, ColumnarMap}
import org.apache.spark.unsafe.types.{CalendarInterval, UTF8String}
import org.apache.spark.util.SerializableConfiguration
import org.roaringbitmap.longlong.Roaring64Bitmap

import graft.lake.crypto.GraftCryptoFactory

/** Spark's parquet format with merge-on-read deletes applied inside the
  * scan (the reference's `DeleteFilterExec`, src/delete_filter.rs; the
  * Spark-native prior art is Delta Lake's deletion-vector reader). Each
  * file's delete file and visible-row limit arrive as per-file metadata
  * (from [[LakeFileIndex]] in the facade's scans, from the partition in
  * the connector's Batch and stream); the reader drops every row whose
  * parquet row index is deleted or at/past the limit. Positions come from
  * the row index Spark generates for `_metadata.row_index`, so they stay
  * right when a file is split or row groups are skipped. The file's lake
  * values are `_metadata` fields too, so a read of virtual columns stays
  * one relation per read group (as Delta Lake's row tracking derives
  * `_metadata.row_id` from a per-file base and the row index).
  *
  * `hidesRows` says whether any file of the relation has rows to hide.
  * Without it the format is plain `ParquetFileFormat`. With it, every
  * file is read with the row index column (added here when the query did
  * not ask for it, and dropped again); batches stay columnar, the live
  * rows of a batch with deletes exposed through a selection.
  */
final class DuckLakeParquetFormat(val hidesRows: Boolean) extends ParquetFileFormat {
  import DuckLakeParquetFormat._

  override def equals(other: Any): Boolean = other match {
    case f: DuckLakeParquetFormat => f.hidesRows == hidesRows
    case _                        => false
  }

  override def hashCode(): Int = getClass.hashCode * 31 + hidesRows.hashCode

  /** Spark's fields plus each file's lake values ([[LakeFile.Fields]]),
    * constants per file filled from its [[LakeFile.metadata]].
    */
  override def metadataSchemaFields: Seq[StructField] =
    super.metadataSchemaFields ++ LakeFile.Fields.map(f =>
      FileSourceConstantMetadataStructField(f.name, f.dataType, f.nullable))

  override def supportBatch(sparkSession: SparkSession, schema: StructType): Boolean =
    super.supportBatch(sparkSession, if (hidesRows) withRowIndex(schema) else schema)

  // filtered batches hold selection vectors, not the reader's concrete
  // vector classes the generated code would otherwise cast to
  override def vectorTypes(requiredSchema: StructType, partitionSchema: StructType,
      sqlConf: SQLConf): Option[Seq[String]] =
    if (hidesRows) None else super.vectorTypes(requiredSchema, partitionSchema, sqlConf)

  override def buildReaderWithPartitionValues(sparkSession: SparkSession,
      dataSchema: StructType, partitionSchema: StructType, requiredSchema: StructType,
      filters: Seq[Filter], options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    if (!hidesRows)
      return super.buildReaderWithPartitionValues(sparkSession, dataSchema,
        partitionSchema, requiredSchema, filters, options, hadoopConf)
    val asked = requiredSchema.fieldNames.indexOf(RowIndexColumn)
    val rowIndex = if (asked >= 0) asked else requiredSchema.length
    // the parent writes its requested schema into the conf it
    // broadcasts: give it a copy, and broadcast the untouched relation
    // conf once for the delete-file loader
    val read = super.buildReaderWithPartitionValues(sparkSession, dataSchema,
      partitionSchema, withRowIndex(requiredSchema), filters, options,
      new Configuration(hadoopConf))
    val conf = sparkSession.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
    val outputTypes = (requiredSchema.fields ++ partitionSchema.fields).map(_.dataType)
    (file: PartitionedFile) => {
      val meta = file.otherConstantMetadataColumnValues
      val live = new LiveRows(
        meta.get(LakeFile.DeletePath).map(p => DeletePositions.load(p.toString,
          meta.get(LakeFile.DeleteKey).map(_.toString), conf.value.value)).orNull,
        meta.get(LakeFile.VisibleRows).map(_.asInstanceOf[Long]).getOrElse(Long.MaxValue))
      val rows = read(file)
      if (asked >= 0 && live.keepsAll) rows
      else new LiveIterator(rows.asInstanceOf[Iterator[AnyRef]], live, rowIndex,
        if (asked >= 0) -1 else rowIndex, outputTypes)
          .asInstanceOf[Iterator[InternalRow]]
    }
  }
}

object DuckLakeParquetFormat {
  private val RowIndexColumn = ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME

  private def withRowIndex(schema: StructType): StructType =
    if (schema.fieldNames.contains(RowIndexColumn)) schema
    else schema.add(RowIndexColumn, LongType, nullable = true)

  /** Which row positions of one file are live: not in `deleted` (null =
    * no delete file) and below `limit`.
    */
  private final class LiveRows(deleted: Roaring64Bitmap, limit: Long) {
    def keepsAll: Boolean = deleted == null && limit == Long.MaxValue

    def isLive(pos: Long): Boolean =
      pos < limit && (deleted == null || !deleted.contains(pos))

    /** Ordinals of the live rows among `n` rows whose (ascending) row
      * indexes are `index`; null when every row is live.
      */
    def select(index: ColumnVector, n: Int): Array[Int] = {
      if (n == 0) return null
      val last = index.getLong(n - 1)
      val next = if (deleted == null) null else deleted.getLongIteratorFrom(index.getLong(0))
      if (last < limit && (next == null || !next.hasNext || next.peekNext() > last)) return null
      val sel = new Array[Int](n)
      var k = 0
      var i = 0
      while (i < n) {
        val pos = index.getLong(i)
        if (pos < limit) {
          if (next != null) next.advanceIfNeeded(pos)
          if (next == null || !next.hasNext || next.peekNext() != pos) {
            sel(k) = i
            k += 1
          }
        }
        i += 1
      }
      java.util.Arrays.copyOf(sel, k)
    }
  }

  /** The parent reader's rows or batches with the dead rows left out,
    * and the row index column dropped again when `drop >= 0`.
    */
  private final class LiveIterator(in: Iterator[AnyRef], live: LiveRows,
      rowIndex: Int, drop: Int, outputTypes: Array[DataType])
      extends Iterator[AnyRef] with java.io.Closeable {
    private var pending: AnyRef = _
    private lazy val project = UnsafeProjection.create(
      outputTypes.indices.map { i =>
        val from = if (drop >= 0 && i >= drop) i + 1 else i
        BoundReference(from, outputTypes(i), nullable = true)
      })

    private def keep(columns: Array[ColumnVector]): Array[ColumnVector] =
      if (drop < 0) columns else columns.patch(drop, Nil, 1)

    private def liveOf(elem: AnyRef): AnyRef = elem match {
      case b: ColumnarBatch =>
        val columns = Array.tabulate(b.numCols)(b.column)
        live.select(b.column(rowIndex), b.numRows) match {
          case null if drop < 0 => b
          case null => new ColumnarBatch(keep(columns), b.numRows)
          case sel if sel.isEmpty => null
          case sel => new ColumnarBatch(keep(columns).map(new SelectedColumnVector(_, sel)),
            sel.length)
        }
      case r: InternalRow =>
        if (!live.isLive(r.getLong(rowIndex))) null
        else if (drop < 0) r
        else project(r)
    }

    override def hasNext: Boolean = {
      while (pending == null && in.hasNext) pending = liveOf(in.next())
      pending != null
    }

    override def next(): AnyRef = {
      if (!hasNext) throw new NoSuchElementException
      val out = pending
      pending = null
      out
    }

    override def close(): Unit = in match {
      case c: AutoCloseable => c.close()
      case _ => ()
    }
  }

  /** The rows `sel` of `inner`, in order (a batch's live rows without
    * copying its values).
    */
  private final class SelectedColumnVector(inner: ColumnVector, sel: Array[Int])
      extends ColumnVector(inner.dataType) {
    private val children = scala.collection.mutable.Map.empty[Int, ColumnVector]
    override def close(): Unit = ()
    override def hasNull: Boolean = inner.hasNull
    override def numNulls: Int =
      if (!inner.hasNull) 0 else sel.count(inner.isNullAt)
    override def isNullAt(rowId: Int): Boolean = inner.isNullAt(sel(rowId))
    override def getBoolean(rowId: Int): Boolean = inner.getBoolean(sel(rowId))
    override def getByte(rowId: Int): Byte = inner.getByte(sel(rowId))
    override def getShort(rowId: Int): Short = inner.getShort(sel(rowId))
    override def getInt(rowId: Int): Int = inner.getInt(sel(rowId))
    override def getLong(rowId: Int): Long = inner.getLong(sel(rowId))
    override def getFloat(rowId: Int): Float = inner.getFloat(sel(rowId))
    override def getDouble(rowId: Int): Double = inner.getDouble(sel(rowId))
    override def getArray(rowId: Int): ColumnarArray = inner.getArray(sel(rowId))
    override def getMap(rowId: Int): ColumnarMap = inner.getMap(sel(rowId))
    override def getDecimal(rowId: Int, precision: Int, scale: Int): Decimal =
      inner.getDecimal(sel(rowId), precision, scale)
    override def getUTF8String(rowId: Int): UTF8String = inner.getUTF8String(sel(rowId))
    override def getBinary(rowId: Int): Array[Byte] = inner.getBinary(sel(rowId))
    override def getInterval(rowId: Int): CalendarInterval = inner.getInterval(sel(rowId))
    override def getChild(ordinal: Int): ColumnVector =
      children.getOrElseUpdate(ordinal, new SelectedColumnVector(inner.getChild(ordinal), sel))
  }
}

/** Spark's parquet writer prepared once for the files of one write
  * ([[DuckLake.parquetOutput]]): its factory and its job conf, broadcast
  * so tasks read one copy instead of each deserializing their own (a
  * session conf is over a thousand entries). The write support reads a
  * file's schema from the conf, so each file's writer takes its own copy
  * of it with that schema set.
  */
final case class ParquetOutput(factory: OutputWriterFactory,
    conf: Broadcast[SerializableConfiguration]) {

  /** A writer of `schema` rows (field ids in its metadata) into `path`. */
  def newWriter(path: String, schema: StructType): OutputWriter = {
    val fileConf = new JobConf(conf.value.value)
    ParquetWriteSupport.setSchema(schema, fileConf)
    factory.newInstance(path, schema, new TaskAttemptContextImpl(fileConf, new TaskAttemptID()))
  }
}

/** Loads the positions of one positional delete file — the one loader
  * for every reader that applies MOR deletes ([[DuckLakeParquetFormat]]).
  */
object DeletePositions {
  /** Columns of a positional delete file (Iceberg-style). Spark reads of
    * delete files pass it, so none starts a schema-inference job.
    */
  val Schema: StructType = StructType(Seq(
    StructField("file_path", StringType), StructField("pos", LongType)))

  private val PosColumn = Schema.last.name

  /** Positions listed in the delete file at `path` (`key`: its catalog
    * encryption key), read column-wise with parquet-mr.
    */
  def load(path: String, key: Option[String], conf: Configuration): Roaring64Bitmap = {
    val p = new Path(path)
    val opts = HadoopReadOptions.builder(conf, p)
    key.foreach(k => opts.withDecryption(GraftCryptoFactory.decryptionProps(k)))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf), opts.build())
    try {
      val meta = reader.getFooter.getFileMetaData
      val schema = meta.getSchema
      val projection = new MessageType(schema.getName,
        schema.getFields.get(schema.getFieldIndex(PosColumn)))
      val column = projection.getColumns.get(0)
      val int32 = column.getPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT32
      reader.setRequestedSchema(projection)
      val positions = new Roaring64Bitmap
      var rowGroup = reader.readNextRowGroup()
      while (rowGroup != null) {
        val values = new ColumnReadStoreImpl(rowGroup, NoConverter, projection,
          meta.getCreatedBy).getColumnReader(column)
        var i = 0L
        while (i < values.getTotalValueCount) {
          if (values.getCurrentDefinitionLevel == column.getMaxDefinitionLevel)
            positions.addLong(if (int32) values.getInteger.toLong else values.getLong)
          values.consume()
          i += 1
        }
        rowGroup = reader.readNextRowGroup()
      }
      positions
    } finally reader.close()
  }

  /** Values are read straight off the column reader; nothing converts. */
  private object NoConverter extends GroupConverter {
    private val leaf = new PrimitiveConverter {}
    override def getConverter(fieldIndex: Int): Converter = leaf
    override def start(): Unit = ()
    override def end(): Unit = ()
  }
}
