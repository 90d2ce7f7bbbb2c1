package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** One data file of a lake read, as the catalog records it: the path the
  * catalog resolves (read as is, and exposed as the `filename` virtual
  * column) and size; the file's own values that reads expose as virtual
  * columns — data file id, index in the read's file list, row-id range
  * start (none for an UPDATE-written file) and birth snapshot; its
  * identity partition values, typed as its read group's partition
  * schema; and what the scan must hide — the MOR delete file (resolved
  * path and encryption key) and, for a merged file read at a snapshot
  * before the merge, the number of leading rows visible there.
  */
final case class LakeFile(path: String, size: Long, fileId: Long, fileIndex: Long,
    rowIdStart: Option[Long], beginSnapshot: Long,
    partition: InternalRow = InternalRow.empty,
    deletePath: Option[String] = None, deleteKey: Option[String] = None,
    visibleRows: Option[Long] = None) {

  def hidesRows: Boolean = deletePath.isDefined || visibleRows.isDefined

  /** Per-file values Spark hands the reader as
    * `PartitionedFile.otherConstantMetadataColumnValues`: the
    * [[LakeFile.Fields]] that [[DuckLakeParquetFormat]] serves as
    * `_metadata` fields (an absent one reads null), and what the reader
    * hides.
    */
  def metadata: Map[String, Any] =
    Map(LakeFile.FileId -> fileId, LakeFile.FileIndex -> fileIndex,
      LakeFile.Filename -> path, LakeFile.BeginSnapshot -> beginSnapshot) ++
      rowIdStart.map(LakeFile.RowIdStart -> _) ++
      deletePath.map(LakeFile.DeletePath -> _) ++
      deleteKey.map(LakeFile.DeleteKey -> _) ++
      visibleRows.map(LakeFile.VisibleRows -> _)

  /** The [[LakeFile.Fields]] values as one row (the connector reader's
    * partition values), converted as Spark converts `_metadata` values.
    */
  def fieldValues: InternalRow = {
    val values = metadata
    InternalRow.fromSeq(LakeFile.Fields.map(f => values.get(f.name).map(Literal(_).value).orNull))
  }
}

object LakeFile {
  val FileId = "ducklake_file_id"
  val FileIndex = "ducklake_file_index"
  val Filename = "ducklake_filename"
  val RowIdStart = "ducklake_row_id_start"
  val BeginSnapshot = "ducklake_begin_snapshot"
  /** The position of a row in its file: Spark's parquet row index. */
  val RowIndex: String = ParquetFileFormat.ROW_INDEX

  /** The per-file values every lake read can ask for. */
  val Fields: Seq[StructField] = Seq(StructField(FileId, LongType, nullable = false),
    StructField(FileIndex, LongType, nullable = false),
    StructField(Filename, StringType, nullable = false),
    StructField(RowIdStart, LongType), StructField(BeginSnapshot, LongType, nullable = false))

  val DeletePath = "ducklake_delete_path"
  val DeleteKey = "ducklake_delete_key"
  val VisibleRows = "ducklake_visible_rows"
}

/** The snapshot-pinned file list of one lake read group, straight from
  * catalog rows: planning makes no filesystem listing call (a
  * `spark.read.parquet(paths)` index stats every path — one request per
  * file on an object store). Each file's status carries its
  * [[LakeFile.metadata]], which Spark hands to the reader per split.
  *
  * Identity partitions are Spark partitions: `partitionSchema` holds the
  * group's partition columns and each file's [[LakeFile.partition]] row
  * its values, so `listFiles` returns one `PartitionDirectory` per value
  * tuple, without the tuples the static `partitionFilters` reject. Spark
  * applies dynamic partition pruning itself, from the directories'
  * values. Of the files left, `listFiles` keeps those `skip` keeps for
  * the data filters Spark's planner hands it (the catalog's min/max,
  * partition-transform and bucket skipping, see `DuckLake.table`).
  *
  * Equality covers every file and its metadata: two scans of one table
  * with different delete sets (time travel, a self-join across
  * snapshots) must never compare equal, or exchange reuse would serve
  * one scan's rows for the other. `skip` stays out of it: it derives
  * from the same catalog rows.
  */
final case class LakeFileIndex(files: Seq[LakeFile], partitionSchema: StructType)(
    skip: Seq[Expression] => LakeFile => Boolean) extends FileIndex {

  private lazy val partitions = files.groupBy(_.partition).toSeq.map { case (row, fs) =>
    row -> fs.map(f => f -> FileStatusWithMetadata(
      new FileStatus(f.size, false, 1, f.size, 0L, new Path(f.path)), f.metadata))
  }

  override def rootPaths: Seq[Path] = files.map(f => new Path(f.path))

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val matches = partitionFilters.reduceOption(And).map(p => Predicate.createInterpreted(
      p.transform { case a: AttributeReference =>
        BoundReference(partitionSchema.fieldIndex(a.name), a.dataType, nullable = true)
      }))
    val keep = skip(dataFilters)
    partitions.collect { case (row, fs) if matches.forall(_.eval(row)) =>
      PartitionDirectory(row, fs.collect { case (f, s) if keep(f) => s })
    }
  }

  override def inputFiles: Array[String] = files.map(_.path).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_.size).sum
}

object LakeFileIndex {
  val KeepAll: Seq[Expression] => LakeFile => Boolean = _ => _ => true
}
