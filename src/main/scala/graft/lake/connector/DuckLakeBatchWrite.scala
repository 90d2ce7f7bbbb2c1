package graft.lake.connector

import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.OutputWriter
import org.apache.spark.sql.types._
import org.roaringbitmap.longlong.Roaring64Bitmap

import graft.lake.{ColumnDef, DuckLake, ParquetOutput, PinnedTable, TypeBridge, UnsupportedTypeException, WriteMode}
import graft.lake.crypto.GraftCryptoFactory

/** One executor's staged output: (staging file name, partition values —
  * null element = null/default partition).
  */
final case class StagedFiles(files: Seq[(String, Seq[Option[String]])])
  extends WriterCommitMessage

/** One executor's delta output: staged insert files, its PARTIAL
  * delete-positions parquets — one per data file it deleted rows of,
  * each with that file's id as its one partition value — and the row ids
  * of the inlined rows it deleted. Positions live in staging files, never
  * in commit messages — the driver never materializes a delete set.
  */
final case class DeltaStaged(files: Seq[(String, Seq[Option[String]])],
    deleteFiles: Seq[(String, Seq[Option[String]])],
    rowIdFiles: Seq[(String, Seq[Option[String]])], inlinedIds: Set[Long])
  extends WriterCommitMessage

/** Distributed DELTA write — the merge-on-read half of every predicate
  * DELETE, UPDATE and MERGE (Spark's `SupportsDelta` row-level path):
  * executors write inserted rows through Spark's parquet writer and
  * write each touched data file's deleted positions into one sorted
  * partial parquet, or report an inlined row's id. The commit merges
  * each data file's partials with its live delete file in one narrow
  * Spark job ([[DuckLake.commitDeltaStaged]]) and registers the
  * cumulative delete files, the new data files and the ended inlined
  * rows in ONE snapshot (none if nothing changed). The write requests
  * no data distribution. A DELETE's write schema is empty, so it has no
  * partition keys. Partition keys and the files' field ids are those of
  * `table`, the table the statement pinned. Cost scales with changed
  * rows, never with table size.
  */
final class DuckLakeDeltaWrite private[lake] (lake: DuckLake, table: PinnedTable,
    rawSchema: StructType) extends DeltaWrite with DeltaBatchWrite {

  private val fullName = table.name
  private val (schemaName, tableName) = fullName.split('.') match {
    case Array(s, t) => (s, t)
    case _           => ("main", fullName)
  }
  // when a SET expression references a metadata column, Spark appends
  // ALL metadata columns after the data columns in the write schema —
  // strip them (values arrive but are not table data)
  private val rowSchema =
    StructType(rawSchema.fields.filterNot(f => DuckLake.VirtualNames.contains(f.name)))
  private val partKeys =
    if (rowSchema.isEmpty) Array.empty[(Int, String)]
    else table.partFields.map(pf =>
      (rowSchema.fieldIndex(pf.source), pf.transform.orNull)).toArray
  // full rows land in the files — identity partition keys included
  // (reference behavior; the directory layout is naming only)
  private val dataSchema = rowSchema
  private val staging = s"${lake.dataPath}/.staging-delta-${UUID.randomUUID()}"
  private val keyOpt =
    if (lake.encryptionEnabled) Some(GraftCryptoFactory.newKeyB64()) else None

  // one writer preparation for the write's files and its commit's merge
  private lazy val output = lake.parquetOutput(fullName, keyOpt)

  override def toBatch: DeltaBatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    def data(schema: StructType) = new DuckLakeFileWriterFactory(staging, output,
      DuckLake.withFieldIds(schema, table.fieldIds), partKeys)
    // updated rows keep their stable id: a second writer family appends
    // the explicit _ducklake_row_id column (read back by the rowid
    // virtual; catalog rows register with NULL row_id_start)
    new DuckLakeDeltaWriterFactory(data(rowSchema),
      data(rowSchema.add(DuckLake.RowIdPhysCol, LongType, nullable = true)),
      new DuckLakeFileWriterFactory(staging, output,
        DuckLakeDeltaWriterFactory.DeletePartialSchema, Array((0, null))),
      rowSchema.map(_.dataType).toArray)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(staging),
      lake.spark.sparkContext.hadoopConfiguration)
    try {
      val deltas = messages.toSeq.collect { case d: DeltaStaged => d }
      val staged = deltas.flatMap(_.files)
        .map { case (name, pvs) => (new Path(s"$staging/$name"), pvs) }
      val stagedRowId = deltas.flatMap(_.rowIdFiles)
        .map { case (name, pvs) => (new Path(s"$staging/$name"), pvs) }
      val partials = deltas.flatMap(_.deleteFiles)
        .map { case (name, Seq(fid)) => fid.get.toLong -> new Path(s"$staging/$name") }
      val inlined = deltas.flatMap(_.inlinedIds).toSet
      val cols = rowSchema.fields.zipWithIndex.map { case (f, i) =>
        ColumnDef(i.toLong, i.toLong, f.name, TypeBridge.fromSpark(f.dataType), f.nullable)
      }.toSeq
      if (staged.nonEmpty || stagedRowId.nonEmpty || partials.nonEmpty || inlined.nonEmpty)
        lake.commitDeltaStaged(schemaName, tableName, cols, staged, dataSchema, keyOpt,
          output, partials, stagedRowId, inlined)
    } finally fs.delete(new Path(staging), true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(staging),
      lake.spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(staging), true)
  }
}

/** Executor-side delta writer: inserts and updates go to the data file
  * writers (hive-partition splitting included); file-row deletes collect
  * in one position bitmap per data file — one file's positions per
  * bitmap, the bound the delete-aware scan holds — and at task commit
  * each bitmap is written, ascending, as that file's partial
  * `(_fid, pos)` parquet, the file id its partition value; inlined-row
  * deletes keep their row ids. The row id layout is fixed by
  * `SupportsDelta.rowId`: (_file_id, _pos, rowid).
  */
final class DuckLakeDeltaWriterFactory(data: DuckLakeFileWriterFactory,
    rowIdData: DuckLakeFileWriterFactory, deletes: DuckLakeFileWriterFactory,
    dataTypes: Array[DataType]) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      // each writer opens its file on its first row
      private val insertWriter = data.createWriter(partitionId, taskId)
      private val rowIdWriter = rowIdData.createWriter(partitionId, taskId)
      private val delWriter = deletes.createWriter(partitionId, taskId)
      private val writers = Seq(insertWriter, rowIdWriter, delWriter)
      private val deleted = mutable.LongMap.empty[Roaring64Bitmap]
      private val inlined = mutable.Set.empty[Long]

      /** The data columns of `row` — rows may carry TRAILING metadata
        * columns (a SET referenced one) — followed by `extra`.
        */
      private def dataRow(row: InternalRow, extra: Any*): InternalRow =
        if (row.numFields == dataTypes.length && extra.isEmpty) row
        else {
          val out = new GenericInternalRow(dataTypes.length + extra.length)
          var i = 0
          while (i < dataTypes.length) {
            out.update(i, if (row.isNullAt(i)) null else row.get(i, dataTypes(i)))
            i += 1
          }
          extra.foreach { v => out.update(i, v); i += 1 }
          out
        }

      override def insert(row: InternalRow): Unit = insertWriter.write(dataRow(row))

      override def delete(meta: InternalRow, id: InternalRow): Unit =
        if (id.getLong(0) == DuckLake.InlinedFileId) inlined += id.getLong(1)
        else deleted.getOrElseUpdate(id.getLong(0), new Roaring64Bitmap).addLong(id.getLong(1))

      override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
        delete(meta, id)
        // the scan already resolved the row's stable id — write it INTO
        // the new file
        if (id.numFields >= 3 && !id.isNullAt(2)) rowIdWriter.write(dataRow(row, id.getLong(2)))
        else insert(row)
      }

      override def commit(): WriterCommitMessage = {
        val row = new GenericInternalRow(2)
        deleted.foreach { case (fid, positions) =>
          row.setLong(0, fid)
          val it = positions.getLongIterator
          while (it.hasNext) { row.setLong(1, it.next()); delWriter.write(row) }
        }
        def staged(w: DataWriter[InternalRow]) = w.commit() match { case StagedFiles(fs) => fs }
        DeltaStaged(staged(insertWriter), staged(delWriter), staged(rowIdWriter), inlined.toSet)
      }

      override def abort(): Unit = writers.foreach(_.abort())
      override def close(): Unit = writers.foreach(_.close())
    }
}

object DuckLakeDeltaWriterFactory {
  /** One partial delete-positions file: (data file id, position). */
  val DeletePartialSchema: StructType = StructType(Seq(
    StructField("_fid", LongType), StructField("pos", LongType)))
}

/** Streaming sink into a lake table: `df.writeStream.toTable("ducklake.…")`.
  * Each micro-batch epoch appends its staged files in ONE metadata
  * transaction; epoch ids are recorded in `ducklake_metadata`, so a
  * replayed epoch (restart recovery) commits nothing twice —
  * exactly-once at the snapshot level. Append output mode only.
  */
final class DuckLakeStreamingWrite(lake: DuckLake, fullName: String,
    rowSchema: StructType, queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private val (schemaName, tableName) = fullName.split('.') match {
    case Array(s, t) => (s, t)
    case _           => ("main", fullName)
  }
  private val partFields = lake.partitionFieldsOf(fullName)
  private val partKeys = partFields.map(pf =>
    (rowSchema.fieldIndex(pf.source), pf.transform.orNull)).toArray
  // full rows land in the files — identity partition keys included
  // (reference behavior; the directory layout is naming only)
  private val dataSchema = rowSchema
  private val staging = s"${lake.dataPath}/.staging-stream-${UUID.randomUUID()}"
  private val epochKey = s"stream_epoch::$queryId::$fullName"

  override def createStreamingWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    val keyOpt = if (lake.encryptionEnabled) Some(GraftCryptoFactory.newKeyB64()) else None
    val batch = new DuckLakeFileWriterFactory(staging, lake.parquetOutput(fullName, keyOpt),
      DuckLake.withFieldIds(rowSchema, lake.fieldIdsOf(fullName)), partKeys)
    lastKey = keyOpt
    (partitionId: Int, taskId: Long, _: Long) => batch.createWriter(partitionId, taskId)
  }
  @volatile private var lastKey: Option[String] = None

  override def commit(epochId: Long,
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(staging),
      lake.spark.sparkContext.hadoopConfiguration)
    try {
      // replay guard: a recovered query re-runs its last epoch
      if (lake.store.getMetadata(epochKey).exists(_.toLong >= epochId)) return
      val staged = messages.toSeq.flatMap { case StagedFiles(fsq) => fsq }
        .map { case (name, pvs) => (new Path(s"$staging/$name"), pvs) }
      if (staged.nonEmpty) {
        val cols = rowSchema.fields.zipWithIndex.map { case (f, i) =>
          ColumnDef(i.toLong, i.toLong, f.name, TypeBridge.fromSpark(f.dataType), f.nullable)
        }.toSeq
        lake.commitStaged(schemaName, tableName, cols, WriteMode.Append,
          staged, dataSchema, lastKey, Nil)
      }
      lake.store.setMetadata(epochKey, epochId.toString)
    } finally fs.delete(new Path(staging), true)
  }

  override def abort(epochId: Long,
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(staging),
      lake.spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(staging), true)
  }
}

/** Executor-side lake file writer of `schema` rows (field ids in its
  * metadata): Spark's parquet writer, prepared on the driver by
  * [[DuckLake.parquetOutput]]. Rows are split by the table's hive
  * partition values on the fly (one open writer per value combo per
  * task); every column stays in the file, partition keys included.
  */
final class DuckLakeFileWriterFactory(staging: String, output: ParquetOutput,
    schema: StructType, partKeys: Array[(Int, String)])
    extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val writers =
        mutable.LinkedHashMap.empty[Seq[Option[String]], (OutputWriter, String)]

      override def write(row: InternalRow): Unit = {
        val pv: Seq[Option[String]] = partKeys.toSeq.map { case (i, t) =>
          if (row.isNullAt(i)) None
          else if (t == null)
            Some(DuckLakeFileWriterFactory.partitionString(row, i, schema.fields(i).dataType))
          else Some(graft.lake.PartTransform.transformValue(t,
            schema.fields(i).dataType, row.get(i, schema.fields(i).dataType)))
        }
        val (w, _) = writers.getOrElseUpdate(pv, {
          val name = s"part-$partitionId-$taskId-${writers.size}-${UUID.randomUUID()}.parquet"
          (output.newWriter(s"$staging/$name", schema), name)
        })
        w.write(row)
      }

      override def commit(): WriterCommitMessage = {
        writers.values.foreach(_._1.close())
        StagedFiles(writers.map { case (pv, (_, name)) => (name, pv) }.toSeq)
      }

      override def abort(): Unit = writers.values.foreach(w =>
        try w._1.close() catch { case _: Throwable => () })

      override def close(): Unit = ()
    }
}

object DuckLakeFileWriterFactory {
  /** Partition value → its catalog/hive string form (matches what Spark's
    * partitionBy staging writes into directory names).
    */
  def partitionString(row: InternalRow, i: Int, dt: DataType): String = dt match {
    case ByteType    => row.getByte(i).toString
    case ShortType   => row.getShort(i).toString
    case IntegerType => row.getInt(i).toString
    case LongType    => row.getLong(i).toString
    case FloatType   => row.getFloat(i).toString
    case DoubleType  => row.getDouble(i).toString
    case BooleanType => row.getBoolean(i).toString
    case StringType  => row.getUTF8String(i).toString
    case DateType    => java.time.LocalDate.ofEpochDay(row.getInt(i).toLong).toString
    case TimestampType | TimestampNTZType | _: DecimalType =>
      // the string cast Spark's partitionBy names directories with
      org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.catalyst.expressions.BoundReference(i, dt, nullable = false),
        StringType, Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
        .eval(row).toString
    case other => throw new UnsupportedTypeException(s"partition col: $other")
  }
}
