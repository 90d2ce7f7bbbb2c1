package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** One data file of a lake read, as the catalog records it: qualified
  * path and size, plus what the scan must hide — the MOR delete file
  * (resolved path and encryption key) and, for a merged file read at a
  * snapshot before the merge, the number of leading rows visible there.
  */
final case class LakeFile(path: String, size: Long,
    deletePath: Option[String] = None, deleteKey: Option[String] = None,
    visibleRows: Option[Long] = None) {

  def hidesRows: Boolean = deletePath.isDefined || visibleRows.isDefined

  /** Per-file values [[DuckLakeParquetFormat]] reads back from
    * `PartitionedFile.otherConstantMetadataColumnValues`.
    */
  def metadata: Map[String, Any] =
    deletePath.map(LakeFile.DeletePath -> _).toMap ++
      deleteKey.map(LakeFile.DeleteKey -> _) ++
      visibleRows.map(LakeFile.VisibleRows -> _)
}

object LakeFile {
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
  * `listFiles` keeps the files `skip` keeps for the data filters Spark's
  * planner hands it (the catalog's min/max, partition-transform and
  * bucket skipping, see `DuckLake.table`).
  *
  * Equality covers every file and its metadata: two scans of one table
  * with different delete sets (time travel, a self-join across
  * snapshots) must never compare equal, or exchange reuse would serve
  * one scan's rows for the other. `skip` stays out of it: it derives
  * from the same catalog rows.
  */
final case class LakeFileIndex(files: Seq[LakeFile])(
    skip: Seq[Expression] => LakeFile => Boolean) extends FileIndex {

  private lazy val statuses = files.map { f =>
    f -> FileStatusWithMetadata(
      new FileStatus(f.size, false, 1, f.size, 0L, new Path(f.path)), f.metadata)
  }

  override def rootPaths: Seq[Path] = files.map(f => new Path(f.path))

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val keep = skip(dataFilters)
    Seq(PartitionDirectory(InternalRow.empty, statuses.collect { case (f, s) if keep(f) => s }))
  }

  override def inputFiles: Array[String] = files.map(_.path).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_.size).sum

  override def partitionSchema: StructType = new StructType()
}

object LakeFileIndex {
  val KeepAll: Seq[Expression] => LakeFile => Boolean = _ => _ => true
}
