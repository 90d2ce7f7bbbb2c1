package graft.lake

import java.sql.{Connection, ResultSet}

/** Catalog records (reference: src/metadata_provider.rs:413-503). */
final case class SchemaRec(schemaId: Long, name: String, path: String, pathIsRelative: Boolean)
final case class TableRec(tableId: Long, schemaId: Long, name: String, path: String, pathIsRelative: Boolean)
final case class ColumnDef(columnId: Long, order: Long, name: String, dtype: String, nullsAllowed: Boolean,
  initialDefault: Option[String] = None, defaultValue: Option[String] = None,
  defaultType: String = "literal")

/** DuckLake stores column defaults as `(default_value, default_value_type)`:
  * literal defaults keep their VALUE (string literals unquoted — which is
  * why `DEFAULT 'NULL'` round-trips to SQL NULL, a spec'd quirk the corpus
  * asserts in default/default_values.test), while anything else keeps its
  * SQL text as an `expression` evaluated per insert
  * (reference: tests/sqllogictests/sql/default/default_expressions.test).
  */
object ColumnDefaults {
  private val Quoted = """(?s)^'((?:[^']|'')*)'$""".r
  private val Numeric = """^[-+]?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?$""".r

  /** DDL DEFAULT text → (stored value, value type). */
  def classify(sql0: String): (Option[String], String) = {
    val sql = sql0.trim
    sql match {
      case s if s.equalsIgnoreCase("null")  => (Some("NULL"), "literal")
      case Quoted(v)                        => (Some(v.replace("''", "'")), "literal")
      case Numeric()                        => (Some(sql), "literal")
      case s if s.equalsIgnoreCase("true") || s.equalsIgnoreCase("false") =>
        (Some(s.toLowerCase), "literal")
      case _                                => (Some(sql), "expression")
    }
  }

  /** Creation-time derivation: the declared default becomes BOTH the
    * initial (pre-existing rows) and current (future inserts) default.
    */
  def derive(initial: Option[String]): (Option[String], String) =
    initial.map(classify).getOrElse((None, "literal"))

  /** Stored form → SQL text an analyzer can evaluate for an INSERT.
    * Literal values of string-shaped columns re-quote; the stored text
    * `NULL` is indistinguishable from the keyword and reads as SQL NULL.
    */
  def render(value: Option[String], vtype: String, dtype: String): Option[String] =
    value.map { v =>
      if (vtype == "expression") v
      else if (v.equalsIgnoreCase("null")) "NULL"
      else TypeBridge.normalize(dtype) match {
        case "varchar" | "json" => "'" + v.replace("'", "''") + "'"
        case _ => v
      }
    }
}
/** One committed row span inside a MERGED data file: rows
  * [startPos, startPos+rowCount) were originally committed at
  * `beginSnapshot` with stable ids from `rowIdStart` (DuckLake
  * merge_adjacent_files; corpus: tests/sqllogictests/sql/compaction/).
  */
final case class FileSegment(beginSnapshot: Long, startPos: Long,
    rowCount: Long, rowIdStart: Option[Long])
/** One optimistic-commit intent, in journal vocabulary — the conflict
  * check compares a transaction's intents against everything committed
  * since its base snapshot (corpus: transaction/transaction_conflicts*).
  */
final case class TxnIntent(kind: String, entityId: Option[Long] = None,
    name: Option[String] = None, schemaId: Option[Long] = None,
    schemaName: Option[String] = None)
/** SQL macro records (corpus: tests/sqllogictests/sql/macros/). */
final case class MacroParam(name: String, ptype: String,
    default: Option[String], defaultType: String)
final case class MacroImpl(params: Seq[MacroParam], body: String)
final case class MacroRec(schemaId: Long, macroId: Long, name: String,
    macroType: String, impls: Seq[MacroImpl])
final case class DataFileRec(dataFileId: Long, path: String, pathIsRelative: Boolean,
    recordCount: Long, fileSizeBytes: Long, footerSize: Long, beginSnapshot: Long,
    deleteFile: Option[DeleteFileRec], encryptionKey: Option[String] = None,
    writeEpoch: Long = -1L, mappingId: Option[Long] = None,
    rowIdStart: Option[Long] = None, segments: Seq[FileSegment] = Nil) {
  /** Row prefix of this file visible at `snap`: whole file unless merged
    * (segments present), then the spans committed at or before `snap`.
    */
  def visibleRowsAt(snap: Long): Long =
    if (segments.isEmpty) recordCount
    else segments.filter(_.beginSnapshot <= snap).map(_.rowCount).sum
  /** Snapshot whose column names/types the physical parquet was written
    * under. Normally == beginSnapshot; differs for rows revived by
    * rollback or shared by a zero-copy clone, where validity restarts but
    * the bytes on disk keep their original schema epoch.
    */
  def epoch: Long = if (writeEpoch >= 0) writeEpoch else beginSnapshot
}
final case class DeleteFileRec(deleteFileId: Long, dataFileId: Long, path: String,
    pathIsRelative: Boolean, recordCount: Long, beginSnapshot: Long,
    encryptionKey: Option[String] = None, fileSizeBytes: Long = 0L)
final case class ColumnStatRec(columnName: String, valueCount: Long,
    nullCount: Option[Long], minValue: Option[String], maxValue: Option[String],
    extraStats: Option[String] = None)
final case class FileToRegister(path: String, recordCount: Long, fileSizeBytes: Long,
    footerSize: Long, stats: Seq[ColumnStatRec] = Nil, encryptionKey: Option[String] = None,
    partitionValues: Seq[Option[String]] = Nil, pathIsRelative: Boolean = true,
    mappingId: Option[Long] = None, explicitRowIds: Boolean = false)

/** One column of a name-based mapping for an ADOPTED parquet file
  * (`ducklake_add_data_files`): catalog column_id → the column's name and
  * type as physically present in the file; `isPartition` marks hive
  * partition keys whose value lives in the file's PATH, not its pages
  * (DuckLake spec tables ducklake_column_mapping/ducklake_name_mapping;
  * reference: tests/sqllogictests/sql/add_files/).
  */
final case class NameMapEntry(columnId: Long, sourceName: String,
    sourceType: String, isPartition: Boolean)
final case class TableWriteSpec(schemaName: String, tableName: String,
    columns: Seq[ColumnDef], mode: WriteMode.Value, files: Seq[FileToRegister],
    partitionBy: Seq[String] = Nil, flushInlined: Boolean = false,
    redefine: Boolean = false)

object WriteMode extends Enumeration { val Append, Replace = Value }

/** SQL-database implementation of the DuckLake metadata catalog: the 7
  * `ducklake_*` tables with `begin_snapshot`/`end_snapshot` validity
  * intervals and a transactional write path (reference:
  * src/metadata_provider.rs:5-73 SQL constants & trait :544-619;
  * src/metadata_writer_sqlite.rs:331-511 write transaction).
  *
  * The business logic here is backend-agnostic; everything
  * engine-specific (boot, shutdown, dialect capabilities) lives behind
  * [[MetadataBackend]] — the analog of the reference's
  * `MetadataProvider` trait with its 4 engine impls. Two embedded
  * backends ship: on-disk Derby (default) and in-memory Derby
  * (`memory:<name>` paths).
  *
  * Visibility predicate everywhere:
  * `begin_snapshot <= snap AND (end_snapshot IS NULL OR end_snapshot > snap)`.
  *
  * The embedded backends are single-process; writes serialize on this
  * object's monitor (matches the reference's SQLite-backend semantics,
  * SURVEY.md §7.4).
  */
final class MetadataStore(backend: MetadataBackend,
    metadataSchema: Option[String]) extends AutoCloseable {

  def this(dbPath: String, metadataSchema: Option[String] = None) =
    this(MetadataBackend.forPath(dbPath), metadataSchema)

  private val conn: Connection = {
    val c = backend.connect()
    c.setAutoCommit(true)
    // METADATA_SCHEMA: several independent DuckLake catalogs share ONE
    // metadata database under different schemas (reference:
    // transaction/transaction_schema.test) — scope every unqualified
    // table reference to this catalog's schema
    metadataSchema.foreach { sch =>
      val name = sch.toUpperCase.replace("\"", "")
      val st = c.createStatement()
      try {
        try st.executeUpdate(s"CREATE SCHEMA \"$name\"")
        catch { case e: java.sql.SQLException if e.getSQLState == "X0Y68" => () }
        st.executeUpdate(s"SET SCHEMA \"$name\"")
      } finally st.close()
    }
    c
  }

  bootstrap()

  private def bootstrap(): Unit = synchronized {
    val existing = {
      val rs = conn.getMetaData.getTables(null,
        metadataSchema.map(_.toUpperCase).getOrElse("APP"), "DUCKLAKE_SNAPSHOT", null)
      try rs.next() finally rs.close()
    }
    if (!existing) {
      val st = conn.createStatement()
      try {
        st.executeUpdate(
          """CREATE TABLE ducklake_snapshot(
            |  snapshot_id BIGINT PRIMARY KEY,
            |  snapshot_time TIMESTAMP NOT NULL)""".stripMargin)
        st.executeUpdate(
          """CREATE TABLE ducklake_schema(
            |  schema_id BIGINT NOT NULL,
            |  schema_name VARCHAR(1024) NOT NULL,
            |  path VARCHAR(4096) NOT NULL,
            |  path_is_relative BOOLEAN NOT NULL,
            |  begin_snapshot BIGINT NOT NULL,
            |  end_snapshot BIGINT)""".stripMargin)
        st.executeUpdate(
          """CREATE TABLE ducklake_table(
            |  table_id BIGINT NOT NULL,
            |  schema_id BIGINT NOT NULL,
            |  table_name VARCHAR(1024) NOT NULL,
            |  path VARCHAR(4096) NOT NULL,
            |  path_is_relative BOOLEAN NOT NULL,
            |  begin_snapshot BIGINT NOT NULL,
            |  end_snapshot BIGINT)""".stripMargin)
        st.executeUpdate(
          """CREATE TABLE ducklake_column(
            |  column_id BIGINT NOT NULL,
            |  table_id BIGINT NOT NULL,
            |  column_order BIGINT NOT NULL,
            |  column_name VARCHAR(1024) NOT NULL,
            |  column_type VARCHAR(256) NOT NULL,
            |  nulls_allowed BOOLEAN NOT NULL,
            |  parent_column BIGINT,
            |  begin_snapshot BIGINT NOT NULL,
            |  end_snapshot BIGINT,
            |  initial_default VARCHAR(4000),
            |  default_value VARCHAR(4000),
            |  default_value_type VARCHAR(32) DEFAULT 'literal' NOT NULL,
            |  default_value_dialect VARCHAR(32) DEFAULT 'duckdb' NOT NULL)""".stripMargin)
        st.executeUpdate(
          """CREATE TABLE ducklake_data_file(
            |  data_file_id BIGINT NOT NULL,
            |  table_id BIGINT NOT NULL,
            |  path VARCHAR(4096) NOT NULL,
            |  path_is_relative BOOLEAN NOT NULL,
            |  record_count BIGINT NOT NULL,
            |  file_size_bytes BIGINT NOT NULL,
            |  footer_size BIGINT NOT NULL,
            |  begin_snapshot BIGINT NOT NULL,
            |  end_snapshot BIGINT,
            |  encryption_key VARCHAR(64),
            |  write_epoch BIGINT NOT NULL,
            |  mapping_id BIGINT,
            |  row_id_start BIGINT,
            |  partition_id BIGINT)""".stripMargin)
        // name-based column mappings for adopted files (DuckLake spec
        // ducklake_column_mapping / ducklake_name_mapping): files taken in
        // via add_files carry a mapping_id resolving catalog column_ids to
        // the names/types physically in the file (or to a hive path key)
        st.executeUpdate(
          """CREATE TABLE ducklake_column_mapping(
            |  mapping_id BIGINT NOT NULL,
            |  table_id BIGINT NOT NULL,
            |  map_type VARCHAR(32) NOT NULL)""".stripMargin)
        st.executeUpdate(
          """CREATE TABLE ducklake_name_mapping(
            |  mapping_id BIGINT NOT NULL,
            |  column_id BIGINT NOT NULL,
            |  source_name VARCHAR(1024) NOT NULL,
            |  source_type VARCHAR(256) NOT NULL,
            |  hive_partition BOOLEAN NOT NULL)""".stripMargin)
        st.executeUpdate(
          """CREATE TABLE ducklake_delete_file(
            |  delete_file_id BIGINT NOT NULL,
            |  data_file_id BIGINT NOT NULL,
            |  table_id BIGINT NOT NULL,
            |  path VARCHAR(4096) NOT NULL,
            |  path_is_relative BOOLEAN NOT NULL,
            |  record_count BIGINT NOT NULL,
            |  begin_snapshot BIGINT NOT NULL,
            |  end_snapshot BIGINT,
            |  encryption_key VARCHAR(64),
            |  file_size_bytes BIGINT DEFAULT 0)""".stripMargin)
        st.executeUpdate(
          """CREATE TABLE ducklake_metadata(
            |  meta_key VARCHAR(256) NOT NULL,
            |  meta_value VARCHAR(4096) NOT NULL)""".stripMargin)
        // per-file per-column min/max statistics for scan-time file
        // skipping (the DuckLake spec has per-file stats tables; the
        // reference lists min/max skipping as a roadmap gap, README.md
        // "Roadmap" — we implement it as the natural cheap extension
        // flagged in SURVEY.md §4.1). Values are stored in a canonical
        // sortable string form per type.
        st.executeUpdate(
          """CREATE TABLE ducklake_file_column_stats(
            |  data_file_id BIGINT NOT NULL,
            |  table_id BIGINT NOT NULL,
            |  column_id BIGINT NOT NULL,
            |  value_count BIGINT,
            |  null_count BIGINT,
            |  min_value VARCHAR(256),
            |  max_value VARCHAR(256),
            |  extra_stats VARCHAR(4000))""".stripMargin)
        // hive-style partitioning (DuckLake spec tables
        // ducklake_partition_column / ducklake_file_partition_value):
        // partition keys are column_ids (rename-stable); per-file values
        // are the raw hive path strings, NULL = hive default partition
        st.executeUpdate(
          """CREATE TABLE ducklake_partition_column(
            |  table_id BIGINT NOT NULL,
            |  partition_key_index BIGINT NOT NULL,
            |  column_id BIGINT NOT NULL,
            |  begin_snapshot BIGINT NOT NULL,
            |  end_snapshot BIGINT,
            |  transform VARCHAR(64),
            |  partition_id BIGINT)""".stripMargin)
        st.executeUpdate(
          """CREATE TABLE ducklake_partition_info(
            |  partition_id BIGINT NOT NULL,
            |  table_id BIGINT NOT NULL,
            |  begin_snapshot BIGINT NOT NULL,
            |  end_snapshot BIGINT)""".stripMargin)
        st.executeUpdate(
          """CREATE TABLE ducklake_file_partition_value(
            |  data_file_id BIGINT NOT NULL,
            |  table_id BIGINT NOT NULL,
            |  partition_key_index BIGINT NOT NULL,
            |  partition_value VARCHAR(1024))""".stripMargin)
        // data inlining (DuckLake spec `ducklake_inlined_data_tables`
        // model): small appends live as JSON rows in the catalog with the
        // same begin/end snapshot validity as files; compaction flushes
        // them into parquet
        st.executeUpdate(
          """CREATE TABLE ducklake_inlined_data(
            |  table_id BIGINT NOT NULL,
            |  row_id BIGINT NOT NULL,
            |  begin_snapshot BIGINT NOT NULL,
            |  end_snapshot BIGINT,
            |  row_json CLOB(1M) NOT NULL)""".stripMargin)
        // two-phase vacuum (DuckLake spec
        // `ducklake_files_scheduled_for_deletion`): catalog rows go first,
        // physical deletes happen later under a retention window
        st.executeUpdate(
          """CREATE TABLE ducklake_files_scheduled_for_deletion(
            |  path VARCHAR(1024) NOT NULL,
            |  schedule_ts TIMESTAMP NOT NULL)""".stripMargin)
        // SQL views (DuckLake spec `ducklake_view`): the defining SQL text
        // plus the analysis context Spark needs to re-resolve it
        st.executeUpdate(
          """CREATE TABLE ducklake_view(
            |  view_id BIGINT NOT NULL,
            |  schema_id BIGINT NOT NULL,
            |  view_name VARCHAR(1024) NOT NULL,
            |  sql_text CLOB(1M) NOT NULL,
            |  current_catalog VARCHAR(256),
            |  current_namespace VARCHAR(1024),
            |  schema_json CLOB(1M),
            |  query_column_names CLOB(32K),
            |  begin_snapshot BIGINT NOT NULL,
            |  end_snapshot BIGINT)""".stripMargin)
        // named snapshot refs (tags): a human-readable alias for a
        // snapshot id, resolvable in SQL time travel (VERSION AS OF
        // 'tag'). Refs, not snapshot-versioned rows: retagging replaces.
        st.executeUpdate(
          """CREATE TABLE ducklake_tag(
            |  tag_name VARCHAR(1024) NOT NULL PRIMARY KEY,
            |  snapshot_id BIGINT NOT NULL,
            |  created_at TIMESTAMP NOT NULL)""".stripMargin)
        // snapshot 0 = empty catalog, like the reference's initial snapshot;
        // the `main` schema exists from birth (DuckLake attach semantics)
        st.executeUpdate(
          "INSERT INTO ducklake_snapshot VALUES (0, CURRENT_TIMESTAMP)")
        st.executeUpdate(
          "INSERT INTO ducklake_schema VALUES (0, 'main', 'main/', true, 0, NULL)")
        // format self-description (DuckLake spec ducklake_metadata keys)
        st.executeUpdate(
          "INSERT INTO ducklake_metadata VALUES ('version', '0.2')")
        st.executeUpdate(
          "INSERT INTO ducklake_metadata VALUES ('created_by', 'graft-spark')")
      } finally st.close()
    }
    // catalogs bootstrapped before tags existed: add the table in place
    val hasTags = {
      val rs = conn.getMetaData.getTables(null,
        metadataSchema.map(_.toUpperCase).getOrElse("APP"), "DUCKLAKE_TAG", null)
      try rs.next() finally rs.close()
    }
    if (!hasTags) {
      val st = conn.createStatement()
      try st.executeUpdate(
        """CREATE TABLE ducklake_tag(
          |  tag_name VARCHAR(1024) NOT NULL PRIMARY KEY,
          |  snapshot_id BIGINT NOT NULL,
          |  created_at TIMESTAMP NOT NULL)""".stripMargin)
      finally st.close()
    }
    // COMMENT ON storage: snapshot-versioned comments for tables, views
    // and columns (column_id NULL = the object itself)
    val hasComments = {
      val rs = conn.getMetaData.getTables(null,
        metadataSchema.map(_.toUpperCase).getOrElse("APP"), "DUCKLAKE_COMMENT", null)
      try rs.next() finally rs.close()
    }
    if (!hasComments) {
      val st = conn.createStatement()
      try st.executeUpdate(
        """CREATE TABLE ducklake_comment(
          |  object_type VARCHAR(16) NOT NULL,
          |  object_id BIGINT NOT NULL,
          |  column_id BIGINT,
          |  comment_text VARCHAR(4000) NOT NULL,
          |  begin_snapshot BIGINT NOT NULL,
          |  end_snapshot BIGINT)""".stripMargin)
      finally st.close()
    }
    // SQL macros (corpus: tests/sqllogictests/sql/macros/): one entity
    // row per (macro, implementation) in ducklake_macro; bodies and
    // parameters keyed by (entity id, impl index)
    val hasMacros = {
      val rs = conn.getMetaData.getTables(null,
        metadataSchema.map(_.toUpperCase).getOrElse("APP"), "DUCKLAKE_MACRO", null)
      try rs.next() finally rs.close()
    }
    if (!hasMacros) {
      val st = conn.createStatement()
      try {
        st.executeUpdate(
          """CREATE TABLE ducklake_macro(
            |  schema_id BIGINT NOT NULL,
            |  macro_id BIGINT NOT NULL,
            |  macro_name VARCHAR(1024) NOT NULL,
            |  begin_snapshot BIGINT NOT NULL,
            |  end_snapshot BIGINT)""".stripMargin)
        st.executeUpdate(
          """CREATE TABLE ducklake_macro_impl(
            |  macro_id BIGINT NOT NULL,
            |  impl_index BIGINT NOT NULL,
            |  dialect VARCHAR(32) NOT NULL,
            |  body VARCHAR(8000) NOT NULL,
            |  macro_type VARCHAR(16) NOT NULL)""".stripMargin)
        st.executeUpdate(
          """CREATE TABLE ducklake_macro_parameters(
            |  macro_id BIGINT NOT NULL,
            |  impl_index BIGINT NOT NULL,
            |  param_index BIGINT NOT NULL,
            |  param_name VARCHAR(1024) NOT NULL,
            |  param_type VARCHAR(256) NOT NULL,
            |  default_value VARCHAR(4000),
            |  default_value_type VARCHAR(256) NOT NULL)""".stripMargin)
      } finally st.close()
    }
    // catalogs bootstrapped before add_files: mapping tables + column
    val hasMappings = {
      val rs = conn.getMetaData.getTables(null,
        metadataSchema.map(_.toUpperCase).getOrElse("APP"), "DUCKLAKE_COLUMN_MAPPING", null)
      try rs.next() finally rs.close()
    }
    if (!hasMappings) {
      val st = conn.createStatement()
      try {
        st.executeUpdate(
          """CREATE TABLE ducklake_column_mapping(
            |  mapping_id BIGINT NOT NULL,
            |  table_id BIGINT NOT NULL,
            |  map_type VARCHAR(32) NOT NULL)""".stripMargin)
        st.executeUpdate(
          """CREATE TABLE ducklake_name_mapping(
            |  mapping_id BIGINT NOT NULL,
            |  column_id BIGINT NOT NULL,
            |  source_name VARCHAR(1024) NOT NULL,
            |  source_type VARCHAR(256) NOT NULL,
            |  hive_partition BOOLEAN NOT NULL)""".stripMargin)
        st.executeUpdate(
          "ALTER TABLE ducklake_data_file ADD COLUMN mapping_id BIGINT")
      } finally st.close()
    }
    // catalogs bootstrapped before stable row ids
    val hasRowIds = {
      val rs = conn.getMetaData.getColumns(null,
        metadataSchema.map(_.toUpperCase).getOrElse("APP"), "DUCKLAKE_DATA_FILE", "ROW_ID_START")
      try rs.next() finally rs.close()
    }
    if (!hasRowIds) {
      val st = conn.createStatement()
      try st.executeUpdate(
        "ALTER TABLE ducklake_data_file ADD COLUMN row_id_start BIGINT")
      finally st.close()
    }
    val hasDelSizes = {
      val rs = conn.getMetaData.getColumns(null,
        metadataSchema.map(_.toUpperCase).getOrElse("APP"), "DUCKLAKE_DELETE_FILE", "FILE_SIZE_BYTES")
      try rs.next() finally rs.close()
    }
    if (!hasDelSizes) {
      val st = conn.createStatement()
      try st.executeUpdate(
        "ALTER TABLE ducklake_delete_file ADD COLUMN file_size_bytes BIGINT DEFAULT 0")
      finally st.close()
    }
    // merged-file segment map (DuckLake `merge_adjacent_files` model): a
    // compacted file REPLACES its sources across all history; each segment
    // records which row span came from which commit, so time travel reads
    // a prefix and rowid/snapshot_id stay exact per row
    val hasPartial = {
      val rs = conn.getMetaData.getTables(null,
        metadataSchema.map(_.toUpperCase).getOrElse("APP"), "DUCKLAKE_PARTIAL_FILE_INFO", null)
      try rs.next() finally rs.close()
    }
    if (!hasPartial) {
      val st = conn.createStatement()
      try st.executeUpdate(
        """CREATE TABLE ducklake_partial_file_info(
          |  data_file_id BIGINT NOT NULL,
          |  segment_idx BIGINT NOT NULL,
          |  begin_snapshot BIGINT NOT NULL,
          |  start_pos BIGINT NOT NULL,
          |  row_count BIGINT NOT NULL,
          |  row_id_start BIGINT)""".stripMargin)
      finally st.close()
    }
    // cumulative per-table column stats (DuckLake spec table
    // ducklake_table_column_stats): bounds only WIDEN on insert/update,
    // never shrink on delete — the optimizer-stat semantics DuckDB's
    // `stats()` renders (corpus: stats/global_stats.test,
    // data_inlining/data_inlining_update.test). `bounds_known` goes false
    // once a write contributes values with no computable bounds.
    val hasColStats = {
      val rs = conn.getMetaData.getTables(null,
        metadataSchema.map(_.toUpperCase).getOrElse("APP"), "DUCKLAKE_TABLE_COLUMN_STATS", null)
      try rs.next() finally rs.close()
    }
    if (!hasColStats) {
      val st = conn.createStatement()
      try st.executeUpdate(
        """CREATE TABLE ducklake_table_column_stats(
          |  table_id BIGINT NOT NULL,
          |  column_id BIGINT NOT NULL,
          |  contains_null BOOLEAN NOT NULL,
          |  contains_nan BOOLEAN,
          |  min_value VARCHAR(4096),
          |  max_value VARCHAR(4096),
          |  contains_not_null BOOLEAN NOT NULL,
          |  bounds_known BOOLEAN NOT NULL,
          |  extra_stats VARCHAR(4000))""".stripMargin)
      finally st.close()
    }
    // per-snapshot change journal + schema_version (DuckLake spec table
    // ducklake_snapshot_changes; `snapshots()` renders it as a map).
    // Legacy catalogs get the table with only snapshot 0 reconstructed.
    val hasChanges = {
      val rs = conn.getMetaData.getTables(null,
        metadataSchema.map(_.toUpperCase).getOrElse("APP"), "DUCKLAKE_SNAPSHOT_CHANGES", null)
      try rs.next() finally rs.close()
    }
    if (!hasChanges) {
      val st = conn.createStatement()
      try {
        st.executeUpdate(
          """CREATE TABLE ducklake_snapshot_changes(
            |  snapshot_id BIGINT NOT NULL,
            |  changes_made VARCHAR(32672))""".stripMargin)
        st.executeUpdate(
          "INSERT INTO ducklake_snapshot_changes VALUES (0, 'schemas_created:0:main')")
      } finally st.close()
    }
    // post-create SET PARTITIONED BY: partition schemes are first-class
    // catalog entries (DuckLake spec ducklake_partition_info; data files
    // record which scheme they were written under)
    val hasPartInfo = {
      val rs = conn.getMetaData.getTables(null,
        metadataSchema.map(_.toUpperCase).getOrElse("APP"), "DUCKLAKE_PARTITION_INFO", null)
      try rs.next() finally rs.close()
    }
    if (!hasPartInfo) {
      val st = conn.createStatement()
      try {
        st.executeUpdate(
          """CREATE TABLE ducklake_partition_info(
            |  partition_id BIGINT NOT NULL,
            |  table_id BIGINT NOT NULL,
            |  begin_snapshot BIGINT NOT NULL,
            |  end_snapshot BIGINT)""".stripMargin)
        st.executeUpdate(
          "ALTER TABLE ducklake_partition_column ADD COLUMN partition_id BIGINT")
        st.executeUpdate(
          "ALTER TABLE ducklake_data_file ADD COLUMN partition_id BIGINT")
      } catch { case _: java.sql.SQLException => () } // fresh catalog: already created
      finally st.close()
    }
    val hasSchemaVersion = {
      val rs = conn.getMetaData.getColumns(null,
        metadataSchema.map(_.toUpperCase).getOrElse("APP"), "DUCKLAKE_SNAPSHOT", "SCHEMA_VERSION")
      try rs.next() finally rs.close()
    }
    if (!hasSchemaVersion) {
      val st = conn.createStatement()
      try st.executeUpdate(
        "ALTER TABLE ducklake_snapshot ADD COLUMN schema_version BIGINT DEFAULT 0")
      finally st.close()
    }
    val hasDefaultValue = {
      val rs = conn.getMetaData.getColumns(null,
        metadataSchema.map(_.toUpperCase).getOrElse("APP"), "DUCKLAKE_COLUMN", "DEFAULT_VALUE")
      try rs.next() finally rs.close()
    }
    if (!hasDefaultValue) {
      // catalogs bootstrapped before the full default surface: the
      // current default starts out as the initial default (creation-time
      // semantics), types default to 'literal'/'duckdb'
      val st = conn.createStatement()
      try {
        st.executeUpdate("ALTER TABLE ducklake_column ADD COLUMN default_value VARCHAR(4000)")
        st.executeUpdate("ALTER TABLE ducklake_column ADD COLUMN default_value_type VARCHAR(32) DEFAULT 'literal' NOT NULL")
        st.executeUpdate("ALTER TABLE ducklake_column ADD COLUMN default_value_dialect VARCHAR(32) DEFAULT 'duckdb' NOT NULL")
        st.executeUpdate("UPDATE ducklake_column SET default_value = initial_default WHERE initial_default IS NOT NULL")
      } finally st.close()
    }
    val hasAuthor = {
      val rs = conn.getMetaData.getColumns(null,
        metadataSchema.map(_.toUpperCase).getOrElse("APP"), "DUCKLAKE_SNAPSHOT", "AUTHOR")
      try rs.next() finally rs.close()
    }
    if (!hasAuthor) {
      // commit audit info (corpus: audit/test_base_audit.test)
      val st = conn.createStatement()
      try {
        st.executeUpdate("ALTER TABLE ducklake_snapshot ADD COLUMN author VARCHAR(4000)")
        st.executeUpdate("ALTER TABLE ducklake_snapshot ADD COLUMN commit_message VARCHAR(4000)")
        st.executeUpdate("ALTER TABLE ducklake_snapshot ADD COLUMN commit_extra_info VARCHAR(4000)")
      } finally st.close()
    }
    val hasExtraStats = {
      val rs = conn.getMetaData.getColumns(null,
        metadataSchema.map(_.toUpperCase).getOrElse("APP"),
        "DUCKLAKE_FILE_COLUMN_STATS", "EXTRA_STATS")
      try rs.next() finally rs.close()
    }
    if (!hasExtraStats) {
      // geometry bbox/type summaries (corpus: geo/ducklake_geometry.test)
      val st = conn.createStatement()
      try {
        st.executeUpdate("ALTER TABLE ducklake_file_column_stats ADD COLUMN extra_stats VARCHAR(4000)")
        st.executeUpdate("ALTER TABLE ducklake_table_column_stats ADD COLUMN extra_stats VARCHAR(4000)")
      } finally st.close()
    }
    // scan-planning indexes: every per-scan query filters on table_id (and
    // the delete-file lookup correlates on data_file_id) — without these a
    // 100k-file catalog pays a full table scan PER PLANNED SCAN. Applied
    // idempotently so pre-index catalogs adopt them on open. (The
    // reference roadmaps metadata-side caching for the same hot path —
    // src/metadata_provider.rs:569.)
    val st = conn.createStatement()
    try Seq(
      "CREATE INDEX dl_df_table ON ducklake_data_file(table_id, begin_snapshot)",
      "CREATE INDEX dl_df_id ON ducklake_data_file(data_file_id)",
      "CREATE INDEX dl_fcs_table ON ducklake_file_column_stats(table_id)",
      "CREATE INDEX dl_fcs_file ON ducklake_file_column_stats(data_file_id)",
      "CREATE INDEX dl_del_table ON ducklake_delete_file(table_id, data_file_id)",
      "CREATE INDEX dl_pfv_file ON ducklake_file_partition_value(data_file_id)",
      "CREATE INDEX dl_pfi_file ON ducklake_partial_file_info(data_file_id)"
    ).foreach { ddl =>
      try st.executeUpdate(ddl)
      catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () }
    } finally st.close()
  }

  // ---------- commit audit info (set_commit_message) ----------

  /** Pending (author, message, extra_info) for the NEXT committed
    * snapshot; the LAST call before COMMIT wins, ROLLBACK discards
    * (corpus: audit/test_base_audit.test).
    */
  private var pendingCommitInfo:
      Option[(Option[String], Option[String], Option[String])] = None

  def setCommitMessage(author: Option[String], message: Option[String],
      extra: Option[String]): Unit = synchronized {
    pendingCommitInfo = Some((author, message, extra))
  }

  private def requireCommitInfo: Boolean =
    getOption("require_commit_message", "main", "")
      .exists(_.equalsIgnoreCase("true"))

  private def commitInfoMissing(): Boolean =
    pendingCommitInfo.isEmpty && requireCommitInfo

  private val CommitInfoRequired =
    "Commit Information for the snapshot is required but has not been provided."

  private def stampCommitInfo(snap: Long): Unit = {
    pendingCommitInfo.foreach { case (a, m, x) =>
      update("UPDATE ducklake_snapshot SET author = ?, commit_message = ?, commit_extra_info = ? WHERE snapshot_id = ?",
        Seq(a.orNull, m.orNull, x.orNull, snap))
    }
    pendingCommitInfo = None
  }

  MetadataStore.openCount.merge(backend.key, 1, (a, b) => Integer.valueOf(a + b))

  override def close(): Unit = synchronized {
    conn.close()
    // closing the CONNECTION leaves the embedded database BOOTED with its
    // page-cache file handles open — shut the database down explicitly or
    // a long-lived JVM (full test suite, notebook session) exhausts fds.
    // But ONLY when no sibling store shares the database (METADATA_SCHEMA
    // puts several catalogs in one db); the backend owns the
    // engine-specific shutdown semantics.
    val remaining = MetadataStore.openCount.merge(backend.key, -1, (a, b) => Integer.valueOf(a + b))
    if (remaining <= 0) {
      MetadataStore.openCount.remove(backend.key)
      backend.shutdown()
    }
  }

  // ---------- metadata-catalog SQL surface ----------

  /** Read-only dump of one catalog table for the METADATA_CATALOG SQL
    * surface (`<meta>.ducklake_*` queries — DuckLake exposes its catalog
    * database as an attached catalog). Returns (columns with JDBC type
    * codes, rows). Synthesized views `ducklake_table_stats` /
    * `ducklake_table_column_stats` aggregate the per-file stats the way
    * the DuckLake spec stores them.
    */
  def dumpMetadataTable(name: String): (Seq[(String, Int)], Seq[Seq[Any]]) = synchronized {
    val n = name.toLowerCase
    val sql = n match {
      case "ducklake_table_stats" =>
        """SELECT t.table_id,
          |  (SELECT COALESCE(SUM(f.record_count), 0) FROM ducklake_data_file f
          |     WHERE f.table_id = t.table_id AND f.end_snapshot IS NULL) AS record_count,
          |  (SELECT COALESCE(MAX(f.row_id_start + f.record_count), 0) FROM ducklake_data_file f
          |     WHERE f.table_id = t.table_id) AS next_row_id,
          |  (SELECT COALESCE(SUM(f.file_size_bytes), 0) FROM ducklake_data_file f
          |     WHERE f.table_id = t.table_id AND f.end_snapshot IS NULL) AS file_size_bytes
          |FROM ducklake_table t WHERE t.end_snapshot IS NULL""".stripMargin
      case "ducklake_table_column_stats" =>
        // the MAINTAINED cumulative stats (spec shape; the trailing
        // bookkeeping columns stay internal)
        """SELECT table_id, column_id, contains_null, contains_nan,
          |  min_value, max_value, extra_stats
          |FROM ducklake_table_column_stats""".stripMargin
      // DuckDB surfaces the options table with (key, value) column names
      case "ducklake_metadata" =>
        """SELECT meta_key AS "key", meta_value AS "value" FROM ducklake_metadata"""
      case other if other.startsWith("ducklake_") && other.matches("[a-z_]+") =>
        s"SELECT * FROM $other"
      case other => throw new InvalidConfigException(s"not a metadata table: $other")
    }
    val ps = conn.prepareStatement(sql)
    try {
      val rs = ps.executeQuery()
      val md = rs.getMetaData
      val cols = (1 to md.getColumnCount)
        .map(i => (md.getColumnLabel(i).toLowerCase, md.getColumnType(i)))
      val rows = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
      while (rs.next()) rows += (1 to md.getColumnCount).map(rs.getObject(_)).toSeq
      (cols, rows.toSeq)
    } finally ps.close()
  }

  // ---------- generic helpers ----------

  /** Catalog read-query tally — planning-cost instrumentation for the
    * scale specs (StreamBackfillScaleSpec pins "one listing query per
    * micro-batch, not one per snapshot" on a 10k-snapshot backfill).
    * Monotonic; test-only consumers diff it around an operation.
    */
  private[lake] val queryTally = new java.util.concurrent.atomic.AtomicLong(0)

  private def query[A](sql: String, args: Seq[Any] = Nil)(f: ResultSet => A): Seq[A] =
    synchronized {
      queryTally.incrementAndGet()
      val ps = conn.prepareStatement(sql)
      try {
        args.zipWithIndex.foreach { case (a, i) => ps.setObject(i + 1, a) }
        val rs = ps.executeQuery()
        try {
          val buf = Seq.newBuilder[A]
          while (rs.next()) buf += f(rs)
          buf.result()
        } finally rs.close()
      } finally ps.close()
    }

  private def update(sql: String, args: Seq[Any] = Nil): Int = synchronized {
    val ps = conn.prepareStatement(sql)
    try {
      args.zipWithIndex.foreach { case (a, i) => ps.setObject(i + 1, a) }
      ps.executeUpdate()
    } finally ps.close()
  }

  /** Next id for a catalog sequence — ids are NEVER reused, even after
    * expiry purges the rows that held the old maximum (DuckLake keeps
    * monotone ids; corpus: compaction/merge_adjacent_max_files.test). The
    * high-water mark lives in ducklake_metadata.
    */
  /** data_file_id and delete_file_id draw from ONE shared sequence — the
    * reference interleaves them (corpus:
    * rewrite_data_files/test_last_snapshot_rewrite.test: ids 0=data,
    * 1..3=deletes, 4=rewritten data, 5=next delete).
    */
  private def nextFileId(): Long = {
    val liveD = query("SELECT COALESCE(MAX(data_file_id), -1) + 1 FROM ducklake_data_file")(_.getLong(1)).head
    val liveX = query("SELECT COALESCE(MAX(delete_file_id), -1) + 1 FROM ducklake_delete_file")(_.getLong(1)).head
    val hw = (getMetadata("seq:ducklake_file") ++
      getMetadata("seq:ducklake_data_file") ++
      getMetadata("seq:ducklake_delete_file")).map(_.toLong)
    val id = (Seq(liveD, liveX) ++ hw).max
    setMetadata("seq:ducklake_file", (id + 1).toString)
    id
  }

  /** Catalog ENTRY ids (schemas, tables, views) draw from one shared
    * monotone sequence, like the reference's catalog (corpus:
    * compaction/merge_adjacent_options.test id expectations).
    */
  private def nextCatalogId(): Long = {
    val live = Seq(
      query("SELECT COALESCE(MAX(schema_id), -1) + 1 FROM ducklake_schema")(_.getLong(1)).head,
      query("SELECT COALESCE(MAX(table_id), -1) + 1 FROM ducklake_table")(_.getLong(1)).head,
      query("SELECT COALESCE(MAX(view_id), -1) + 1 FROM ducklake_view")(_.getLong(1)).head,
      query("SELECT COALESCE(MAX(partition_id), -1) + 1 FROM ducklake_partition_info")(_.getLong(1)).head).max
    val hw = getMetadata("seq:catalog").map(_.toLong).getOrElse(0L)
    val id = math.max(live, hw)
    setMetadata("seq:catalog", (id + 1).toString)
    id
  }

  private val Vis = "begin_snapshot <= ? AND (end_snapshot IS NULL OR end_snapshot > ?)"

  // ---------- read side (reference: src/metadata_provider.rs) ----------

  def currentSnapshot: Long =
    query("SELECT MAX(snapshot_id) FROM ducklake_snapshot")(_.getLong(1)).head

  def minSnapshot: Long =
    query("SELECT MIN(snapshot_id) FROM ducklake_snapshot")(_.getLong(1)).head

  def snapshotExists(snap: Long): Boolean =
    query("SELECT 1 FROM ducklake_snapshot WHERE snapshot_id = ?", Seq(snap))(_ => 1).nonEmpty

  def snapshots: Seq[(Long, java.sql.Timestamp)] =
    query("SELECT snapshot_id, snapshot_time FROM ducklake_snapshot ORDER BY snapshot_id")(
      rs => (rs.getLong(1), rs.getTimestamp(2)))

  /** Every snapshot with its schema_version and journal entries
    * (kind, value) in recorded order — the `snapshots()` surface.
    */
  def snapshotsWithChanges: Seq[(Long, java.sql.Timestamp, Long, Seq[(String, String)],
      Option[String], Option[String], Option[String])] =
    query(
      """SELECT s.snapshot_id, s.snapshot_time, s.schema_version, c.changes_made,
        |  s.author, s.commit_message, s.commit_extra_info
        |FROM ducklake_snapshot s
        |LEFT OUTER JOIN ducklake_snapshot_changes c ON c.snapshot_id = s.snapshot_id
        |ORDER BY s.snapshot_id""".stripMargin)(rs =>
      (rs.getLong(1), rs.getTimestamp(2), rs.getLong(3),
        parseChanges(Option(rs.getString(4)).getOrElse("")).map(e => (e._1, e._3)),
        Option(rs.getString(5)), Option(rs.getString(6)), Option(rs.getString(7))))

  // ---------- snapshot tags (named refs) ----------

  /** Create or move a tag to `snap` (upsert — a ref, not history). */
  def tagSnapshot(name: String, snap: Long): Unit = synchronized {
    update("DELETE FROM ducklake_tag WHERE tag_name = ?", Seq(name))
    update("INSERT INTO ducklake_tag VALUES (?, ?, CURRENT_TIMESTAMP)", Seq(name, snap))
  }

  def snapshotForTag(name: String): Option[Long] =
    query("SELECT snapshot_id FROM ducklake_tag WHERE tag_name = ?",
      Seq(name))(_.getLong(1)).headOption

  /** Drop a tag; true if it existed. */
  def dropTag(name: String): Boolean =
    update("DELETE FROM ducklake_tag WHERE tag_name = ?", Seq(name)) > 0

  def listSchemas(snap: Long): Seq[SchemaRec] =
    query(s"SELECT schema_id, schema_name, path, path_is_relative FROM ducklake_schema WHERE $Vis ORDER BY schema_id",
      Seq(snap, snap))(rs => SchemaRec(rs.getLong(1), rs.getString(2), rs.getString(3), rs.getBoolean(4)))

  def getSchemaByName(name: String, snap: Long): Option[SchemaRec] =
    query(s"SELECT schema_id, schema_name, path, path_is_relative FROM ducklake_schema WHERE schema_name = ? AND $Vis",
      Seq(name, snap, snap))(rs => SchemaRec(rs.getLong(1), rs.getString(2), rs.getString(3), rs.getBoolean(4))).headOption

  def getSchemaById(id: Long, snap: Long): Option[SchemaRec] =
    query(s"SELECT schema_id, schema_name, path, path_is_relative FROM ducklake_schema WHERE schema_id = ? AND $Vis",
      Seq(id, snap, snap))(rs => SchemaRec(rs.getLong(1), rs.getString(2), rs.getString(3), rs.getBoolean(4))).headOption

  def listTables(schemaId: Long, snap: Long): Seq[TableRec] =
    query(s"SELECT table_id, schema_id, table_name, path, path_is_relative FROM ducklake_table WHERE schema_id = ? AND $Vis ORDER BY table_id",
      Seq(schemaId, snap, snap))(rs =>
      TableRec(rs.getLong(1), rs.getLong(2), rs.getString(3), rs.getString(4), rs.getBoolean(5)))

  /** Exact match first, then case-insensitive (DuckDB identifiers are
    * case-insensitive-preserving; reference: alter/rename_table_case.test).
    */
  def getTableByName(schemaId: Long, name: String, snap: Long): Option[TableRec] =
    query(s"SELECT table_id, schema_id, table_name, path, path_is_relative FROM ducklake_table WHERE schema_id = ? AND table_name = ? AND $Vis",
      Seq(schemaId, name, snap, snap))(rs =>
      TableRec(rs.getLong(1), rs.getLong(2), rs.getString(3), rs.getString(4), rs.getBoolean(5)))
      .headOption
      .orElse(query(
        s"SELECT table_id, schema_id, table_name, path, path_is_relative FROM ducklake_table WHERE schema_id = ? AND UPPER(table_name) = UPPER(?) AND $Vis",
        Seq(schemaId, name, snap, snap))(rs =>
        TableRec(rs.getLong(1), rs.getLong(2), rs.getString(3), rs.getString(4), rs.getBoolean(5)))
        .headOption)

  /** One column-version row. `dv`/`dt` are the CURRENT default (value,
    * type) — creation sites derive them from the initial default, while
    * carry-forward sites (rename/retype/renullify) pass the previous
    * version's pair through unchanged (a DROP DEFAULT must survive later
    * alters).
    */
  private[lake] def insertColumnRow(colId: Long, tableId: Long, order: Long,
      name: String, dtype: String, nulls: Boolean, parent: Option[Long],
      snap: Long, initial: Option[String], dv: Option[String], dt: String): Unit =
    update("INSERT INTO ducklake_column (column_id, table_id, column_order, " +
      "column_name, column_type, nulls_allowed, parent_column, begin_snapshot, " +
      "end_snapshot, initial_default, default_value, default_value_type, " +
      "default_value_dialect) VALUES (?, ?, ?, ?, ?, ?, ?, ?, NULL, ?, ?, ?, 'duckdb')",
      Seq(colId, tableId, order, name, dtype, nulls, parent.map(Long.box).orNull,
        snap, initial.orNull, dv.orNull, dt))

  /** Highest column NODE id the table ever occupied (dropped ids
    * included): a root row RESERVES its whole depth-first nested range —
    * leaf stats and parquet field ids key into it even though only root
    * rows are materialized — so every allocator must skip past it, or a
    * later ADD COLUMN would collide with an existing column's leaf id.
    */
  def maxColumnId(tableId: Long): Long =
    query("SELECT column_id, column_type FROM ducklake_column WHERE table_id = ?",
      Seq(tableId))(rs =>
        rs.getLong(1) + TypeBridge.nodeCount(rs.getString(2)) - 1)
      .maxOption.getOrElse(0L)

  def getTableColumns(tableId: Long, snap: Long): Seq[ColumnDef] =
    query(s"SELECT column_id, column_order, column_name, column_type, nulls_allowed, initial_default, default_value, default_value_type FROM ducklake_column WHERE table_id = ? AND parent_column IS NULL AND $Vis ORDER BY column_order",
      Seq(tableId, snap, snap))(rs =>
      ColumnDef(rs.getLong(1), rs.getLong(2), rs.getString(3), rs.getString(4), rs.getBoolean(5),
        Option(rs.getString(6)), Option(rs.getString(7)), rs.getString(8)))

  /** Full column history for a table: every column row with its validity
    * interval. One query instead of files×columns point lookups — scan
    * planning stays O(1) metadata round-trips however many files the
    * snapshot has (the bulk N+1-avoidance pattern the reference uses for
    * information_schema, src/metadata_provider.rs:598-618).
    */
  def getColumnHistory(tableId: Long): Seq[(ColumnDef, Long, Option[Long])] =
    query("SELECT column_id, column_order, column_name, column_type, nulls_allowed, begin_snapshot, end_snapshot, initial_default FROM ducklake_column WHERE table_id = ? AND parent_column IS NULL ORDER BY column_id, begin_snapshot",
      Seq(tableId)) { rs =>
      val end = rs.getLong(7)
      val endOpt = if (rs.wasNull()) None else Some(end) // wasNull refers to col 7
      (ColumnDef(rs.getLong(1), rs.getLong(2), rs.getString(3), rs.getString(4), rs.getBoolean(5),
        Option(rs.getString(8))),
        rs.getLong(6), endOpt)
    }

  // ---------- scan-planning cache ----------
  // The reference roadmaps metadata caching for exactly this hot path
  // (src/metadata_provider.rs:569): repeated queries against an
  // unchanged table re-pay the full file listing + stats fetch per plan
  // (~450 ms at 100k files). Entries are validated by currentSnapshot
  // equality — every commit (normal, merge-adjacent, backdated rewrite)
  // goes through inSnapshotTxn and advances the snapshot, so a matching
  // snapshot id proves the catalog content the entry was built from is
  // unchanged. Expire/vacuum don't advance the snapshot but only remove
  // rows invisible at any retained snapshot; they clear the cache anyway
  // for belt-and-braces. OPEN transactions bypass the cache entirely:
  // their provisional snapshot ids can repeat across rollbacks with
  // different content.
  private val planCacheMax = 8
  private val fileListCache =
    scala.collection.mutable.LinkedHashMap.empty[(Long, Long), (Long, Seq[DataFileRec])]
  private val fileStatsCache =
    scala.collection.mutable.LinkedHashMap
      .empty[Long, (Long, Map[(Long, Long), (Option[Long], Option[String], Option[String])])]

  private[lake] def clearPlanCache(): Unit = synchronized {
    fileListCache.clear(); fileStatsCache.clear()
  }

  /** Data files visible at `snap`, each with its newest visible delete file
    * (reference: SQL_GET_DATA_FILES src/metadata_provider.rs:26-49).
    * Derby lacks LATERAL → window-function rewrite (SURVEY.md §7.4).
    */
  def getDataFiles(tableId: Long, snap: Long): Seq[DataFileRec] = synchronized {
    if (txnOpen) return loadDataFiles(tableId, snap)
    val cur = currentSnapshot
    fileListCache.get((tableId, snap)) match {
      case Some((g, files)) if g == cur => files
      case _ =>
        val files = loadDataFiles(tableId, snap)
        if (fileListCache.size >= planCacheMax)
          fileListCache.remove(fileListCache.head._1)
        fileListCache((tableId, snap)) = (cur, files)
        files
    }
  }

  private def loadDataFiles(tableId: Long, snap: Long): Seq[DataFileRec] = {
    // newest visible delete file per data file. Derby lacks LATERAL and
    // partitioned window functions → correlated MAX subquery rewrite
    // (SURVEY.md §7.4); under our write discipline commitRowDelta ends the
    // previous delete file, so the visible set has ≤1 per data file anyway.
    def vis(a: String) =
      s"$a.begin_snapshot <= ? AND ($a.end_snapshot IS NULL OR $a.end_snapshot > ?)"
    val dels = query(
      s"""SELECT d.data_file_id, d.delete_file_id, d.path, d.path_is_relative, d.record_count, d.begin_snapshot, d.encryption_key, d.file_size_bytes
         |FROM ducklake_delete_file d
         |WHERE d.table_id = ? AND ${vis("d")}
         |AND d.begin_snapshot = (
         |  SELECT MAX(d2.begin_snapshot) FROM ducklake_delete_file d2
         |  WHERE d2.table_id = d.table_id AND d2.data_file_id = d.data_file_id
         |    AND ${vis("d2")})""".stripMargin,
      Seq(tableId, snap, snap, snap, snap))(rs =>
      rs.getLong(1) -> DeleteFileRec(rs.getLong(2), rs.getLong(1), rs.getString(3),
        rs.getBoolean(4), rs.getLong(5), rs.getLong(6), Option(rs.getString(7)),
        rs.getLong(8))).toMap
    val segs = getFileSegments(tableId)
    query(s"SELECT data_file_id, path, path_is_relative, record_count, file_size_bytes, footer_size, begin_snapshot, encryption_key, write_epoch, mapping_id, row_id_start FROM ducklake_data_file WHERE table_id = ? AND $Vis ORDER BY data_file_id",
      Seq(tableId, snap, snap))(rs =>
      DataFileRec(rs.getLong(1), rs.getString(2), rs.getBoolean(3), rs.getLong(4),
        rs.getLong(5), rs.getLong(6), rs.getLong(7), dels.get(rs.getLong(1)),
        Option(rs.getString(8)), rs.getLong(9),
        { val m = rs.getLong(10); if (rs.wasNull()) None else Some(m) },
        { val r = rs.getLong(11); if (rs.wasNull()) None else Some(r) },
        segs.getOrElse(rs.getLong(1), Nil)))
  }

  /** Segment maps of a table's merged files: data_file_id → ordered spans.
    * One query per scan regardless of file count.
    */
  def getFileSegments(tableId: Long): Map[Long, Seq[FileSegment]] =
    query(
      """SELECT p.data_file_id, p.begin_snapshot, p.start_pos, p.row_count, p.row_id_start
        |FROM ducklake_partial_file_info p
        |JOIN ducklake_data_file f ON f.data_file_id = p.data_file_id
        |WHERE f.table_id = ? ORDER BY p.data_file_id, p.segment_idx""".stripMargin,
      Seq(tableId)) { rs =>
      rs.getLong(1) -> FileSegment(rs.getLong(2), rs.getLong(3), rs.getLong(4),
        { val r = rs.getLong(5); if (rs.wasNull()) None else Some(r) })
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

  /** Data files with begin_snapshot in (from, to] — CDC inserts
    * (reference: src/metadata_provider.rs:77-89).
    */
  /** @param limit row cap (snapshot order) — the streaming maxFiles
    *   admission walk needs only budget+1 rows to place a batch end, not
    *   the millions a 100 TB backfill still has ahead of its offset.
    */
  def getDataFilesAddedBetween(tableId: Long, from: Long, to: Long,
      limit: Option[Int] = None): Seq[DataFileRec] =
    query("SELECT data_file_id, path, path_is_relative, record_count, file_size_bytes, footer_size, begin_snapshot, encryption_key, write_epoch, mapping_id, row_id_start FROM ducklake_data_file WHERE table_id = ? AND begin_snapshot > ? AND begin_snapshot <= ? ORDER BY begin_snapshot, data_file_id" +
        limit.map(n => s" FETCH FIRST $n ROWS ONLY").getOrElse(""),
      Seq(tableId, from, to))(rs =>
      DataFileRec(rs.getLong(1), rs.getString(2), rs.getBoolean(3), rs.getLong(4),
        rs.getLong(5), rs.getLong(6), rs.getLong(7), None, Option(rs.getString(8)),
        rs.getLong(9), { val m = rs.getLong(10); if (rs.wasNull()) None else Some(m) },
        { val r = rs.getLong(11); if (rs.wasNull()) None else Some(r) }))

  /** Delete files with begin_snapshot in (from, to], each with the previous
    * delete file for the same data file (for position deltas), plus
    * full-file deletes: data files with end_snapshot in (from, to] and no
    * current delete file (reference: src/metadata_provider.rs:109-196).
    * Returns (deleteFile, previousDeleteFile, dataFile).
    */
  def getDeleteFilesAddedBetween(tableId: Long, from: Long, to: Long)
      : Seq[(Option[DeleteFileRec], Option[DeleteFileRec], DataFileRec)] = {
    // ONE round trip pairing each in-range delete file with its newest
    // predecessor (the r13-r14 shape looped a correlated lookup per
    // delete file — N+1 round trips, which a network backend cannot
    // afford); the SQL form is dialect-branched on the backend's
    // LATERAL capability (see newDeletesWithPrevSql)
    val withPrevRaw = query(
      newDeletesWithPrevSql(backend.supportsLateral),
      Seq(tableId, from, to)) { rs =>
      val d = DeleteFileRec(rs.getLong(1), rs.getLong(2), rs.getString(3),
        rs.getBoolean(4), rs.getLong(5), rs.getLong(6), Option(rs.getString(7)))
      val pid = rs.getLong(8)
      val prev = if (rs.wasNull()) None
        else Some(DeleteFileRec(pid, rs.getLong(9), rs.getString(10),
          rs.getBoolean(11), rs.getLong(12), rs.getLong(13),
          Option(rs.getString(14))))
      (d, prev)
    }
    val withPrev = withPrevRaw.map { case (d, prev) =>
      val df = getDataFileById(tableId, d.dataFileId)
        .getOrElse(throw new InternalException(s"delete file ${d.deleteFileId} references missing data file ${d.dataFileId}"))
      (Some(d), prev, df)
    }
    // full-file deletes: replaced data files in range (no delete file of their own)
    // exclude only files whose ending is ALREADY reported by a delete
    // file at that same snapshot — earlier delete files in the range are
    // separate events and must not mask the final full-file delete
    // (corpus: table_changes/ducklake_table_deletions.test 0..11 range)
    val ended = query(
      "SELECT df.data_file_id, df.path, df.path_is_relative, df.record_count, df.file_size_bytes, df.footer_size, df.begin_snapshot, df.encryption_key, df.write_epoch, df.mapping_id, df.row_id_start FROM ducklake_data_file df WHERE df.table_id = ? AND df.end_snapshot IS NOT NULL AND df.end_snapshot > ? AND df.end_snapshot <= ? AND NOT EXISTS (SELECT 1 FROM ducklake_delete_file dl WHERE dl.data_file_id = df.data_file_id AND dl.begin_snapshot = df.end_snapshot) ORDER BY df.data_file_id",
      Seq(tableId, from, to))(rs =>
      DataFileRec(rs.getLong(1), rs.getString(2), rs.getBoolean(3), rs.getLong(4),
        rs.getLong(5), rs.getLong(6), rs.getLong(7), None, Option(rs.getString(8)),
        rs.getLong(9), { val m = rs.getLong(10); if (rs.wasNull()) None else Some(m) },
        { val r = rs.getLong(11); if (rs.wasNull()) None else Some(r) }))
    val endedWithPrev = ended.map { df =>
      val prev = query(
        "SELECT delete_file_id, data_file_id, path, path_is_relative, record_count, begin_snapshot, encryption_key FROM ducklake_delete_file WHERE table_id = ? AND data_file_id = ? ORDER BY begin_snapshot DESC FETCH FIRST 1 ROWS ONLY",
        Seq(tableId, df.dataFileId))(rs =>
        DeleteFileRec(rs.getLong(1), rs.getLong(2), rs.getString(3), rs.getBoolean(4),
          rs.getLong(5), rs.getLong(6), Option(rs.getString(7)))).headOption
      (None, prev, df)
    }
    withPrev ++ endedWithPrev
  }

  /** The CDC previous-delete pairing SQL in its two dialect forms
    * (selected by [[MetadataBackend.supportsLateral]]): the reference's
    * LEFT JOIN LATERAL (src/metadata_provider.rs:109-126; Postgres /
    * MySQL ≥ 8.0.14) and the ANSI correlated-MAX rewrite Derby executes.
    * Identical column list and ordering in both forms; BackendDialectSpec
    * pins the rewrite's row-identity against an independently computed
    * oracle and asserts the flag selects the LATERAL text, so a network
    * backend exercises a TESTED branch. Ties inside one snapshot cannot
    * occur (commitRowDelta ends the previous delete file of a data file
    * in the same transaction), so MAX(begin_snapshot) identifies one row
    * exactly like the LATERAL's ORDER BY … LIMIT 1.
    */
  private[lake] def newDeletesWithPrevSql(lateral: Boolean): String = {
    val dCols = "d.delete_file_id, d.data_file_id, d.path, d.path_is_relative, d.record_count, d.begin_snapshot, d.encryption_key"
    val pCols = "p.delete_file_id, p.data_file_id, p.path, p.path_is_relative, p.record_count, p.begin_snapshot, p.encryption_key"
    if (lateral)
      s"""SELECT $dCols, $pCols
         |FROM ducklake_delete_file d
         |LEFT JOIN LATERAL (
         |  SELECT * FROM ducklake_delete_file d2
         |  WHERE d2.table_id = d.table_id AND d2.data_file_id = d.data_file_id
         |    AND d2.begin_snapshot < d.begin_snapshot
         |  ORDER BY d2.begin_snapshot DESC LIMIT 1) p ON TRUE
         |WHERE d.table_id = ? AND d.begin_snapshot > ? AND d.begin_snapshot <= ?
         |ORDER BY d.begin_snapshot, d.delete_file_id""".stripMargin
    else
      s"""SELECT $dCols, $pCols
         |FROM ducklake_delete_file d
         |LEFT JOIN ducklake_delete_file p
         |  ON p.table_id = d.table_id AND p.data_file_id = d.data_file_id
         |  AND p.begin_snapshot = (
         |    SELECT MAX(p2.begin_snapshot) FROM ducklake_delete_file p2
         |    WHERE p2.table_id = d.table_id AND p2.data_file_id = d.data_file_id
         |      AND p2.begin_snapshot < d.begin_snapshot)
         |WHERE d.table_id = ? AND d.begin_snapshot > ? AND d.begin_snapshot <= ?
         |ORDER BY d.begin_snapshot, d.delete_file_id""".stripMargin
  }

  /** end_snapshot of one data file (None = still live). */
  def dataFileEndSnapshot(dataFileId: Long): Option[Long] =
    query("SELECT end_snapshot FROM ducklake_data_file WHERE data_file_id = ?",
      Seq(dataFileId))(rs =>
      { val e = rs.getLong(1); if (rs.wasNull()) None else Some(e) })
      .headOption.flatten

  def getDataFileById(tableId: Long, dataFileId: Long): Option[DataFileRec] =
    query("SELECT data_file_id, path, path_is_relative, record_count, file_size_bytes, footer_size, begin_snapshot, encryption_key, write_epoch, mapping_id, row_id_start FROM ducklake_data_file WHERE table_id = ? AND data_file_id = ?",
      Seq(tableId, dataFileId))(rs =>
      DataFileRec(rs.getLong(1), rs.getString(2), rs.getBoolean(3), rs.getLong(4),
        rs.getLong(5), rs.getLong(6), rs.getLong(7), None, Option(rs.getString(8)),
        rs.getLong(9),
        { val m = rs.getLong(10); if (rs.wasNull()) None else Some(m) },
        { val r = rs.getLong(11); if (rs.wasNull()) None else Some(r) })).headOption

  def listMetadata(): Seq[(String, String)] =
    query("SELECT meta_key, meta_value FROM ducklake_metadata ORDER BY meta_key")(
      rs => (rs.getString(1), rs.getString(2)))

  def getMetadata(key: String): Option[String] =
    query("SELECT meta_value FROM ducklake_metadata WHERE meta_key = ?", Seq(key))(_.getString(1)).headOption

  def setMetadata(key: String, value: String): Unit = {
    update("DELETE FROM ducklake_metadata WHERE meta_key = ?", Seq(key))
    update("INSERT INTO ducklake_metadata VALUES (?, ?)", Seq(key, value))
  }

  // ---------- write side (reference: src/metadata_writer_sqlite.rs:331-511) ----------

  // ---------- multi-statement transactions (BEGIN / COMMIT / ROLLBACK) ----------
  //
  // The reference rides the catalog database's own SQL transaction for
  // multi-statement atomicity (src/metadata_writer_sqlite.rs: one write
  // transaction spanning the DuckDB transaction); we do the same on the
  // embedded Derby connection. While a transaction is open every commit
  // point joins ONE shared snapshot (created lazily by the first mutating
  // statement), each statement is guarded by a savepoint (a failed
  // statement rolls back alone, the transaction survives), and
  // COMMIT / ROLLBACK map to the JDBC commit / rollback.

  private var txnOpen = false
  private var txnAborted = false
  private var openTxnSnap: Option[Long] = None

  def inTransaction: Boolean = synchronized(txnOpen)

  /** The open transaction's shared snapshot, if any statement has
    * committed into it yet — rows born there present TRANSACTION-LOCAL
    * row ids until COMMIT (corpus: rowid/ducklake_row_id.test).
    */
  def openTransactionSnapshot: Option[Long] = synchronized {
    if (txnOpen) openTxnSnap else None
  }

  def beginTransaction(): Unit = synchronized {
    if (txnOpen) throw new UnsupportedException("transaction already open")
    conn.setAutoCommit(false)
    txnOpen = true
    txnAborted = false
    txnCheckpointed = false
    openTxnSnap = None
  }

  /** A CHECKPOINT ran while this transaction was open: the maintenance
    * actor may have rewritten the very files the transaction deleted
    * from — its COMMIT then conflicts (reference:
    * checkpoint/checkpoint_updates_interleaved.test; inserts never
    * conflict with reorganization).
    */
  private var txnCheckpointed = false
  def noteCheckpointDuringTransaction(): Unit = synchronized {
    if (txnOpen) txnCheckpointed = true
  }

  /** A failed statement ABORTS the open transaction (DuckDB semantics for
    * RUNTIME errors — binder/catalog errors leave the transaction usable,
    * so the store never marks abort itself; the engine frontend decides
    * by error class): further mutations error until ROLLBACK.
    */
  def markTransactionAborted(): Unit = synchronized {
    if (txnOpen) txnAborted = true
  }

  def commitTransaction(): Unit = synchronized {
    if (txnOpen) {
      if (txnAborted) {
        conn.rollback(); conn.setAutoCommit(true)
        txnOpen = false; txnAborted = false; openTxnSnap = None
        pendingCommitInfo = None // the audit info died with the txn
        throw new UnsupportedException(
          "Current transaction is aborted - cannot COMMIT; changes rolled back")
      }
      // net out create+drop of the same entity within the transaction;
      // a transaction whose changes fully cancel leaves NO snapshot
      // (corpus: functions/ducklake_snapshots.test "does nothing in a
      // round-about way")
      openTxnSnap.foreach { snap =>
        val raw = parseChanges(query(
          "SELECT changes_made FROM ducklake_snapshot_changes WHERE snapshot_id = ?",
          Seq(snap))(_.getString(1)).headOption.getOrElse(""))
        def bornAndDied(created: String, dropped: String): Set[Long] =
          raw.collect { case (`created`, id, _) => id }.toSet
            .intersect(raw.collect { case (`dropped`, id, _) => id }.toSet)
        val deadTables = bornAndDied("tables_created", "tables_dropped")
        val deadViews = bornAndDied("views_created", "views_dropped")
        val deadSchemas = bornAndDied("schemas_created", "schemas_dropped")
        val net = raw.filterNot { case (k, id, _) =>
          (k.startsWith("tables_") && deadTables(id)) ||
            (k.startsWith("views_") && deadViews(id)) ||
            (k.startsWith("schemas_") && deadSchemas(id)) ||
            ((k == "inlined_insert" || k == "flushed_inlined") && deadTables(id))
        }
        // purge born-and-died entities entirely and wind the shared id
        // sequence back so a no-op transaction consumes NO catalog ids
        // (DuckDB numbering — corpus expects the next real table to get
        // the id the canceled one briefly held)
        if (deadTables.nonEmpty || deadViews.nonEmpty || deadSchemas.nonEmpty) {
          deadTables.foreach { tid =>
            Seq("ducklake_table", "ducklake_column", "ducklake_data_file",
              "ducklake_delete_file", "ducklake_inlined_data",
              "ducklake_file_partition_value", "ducklake_partition_column",
              "ducklake_partition_info", "ducklake_file_column_stats")
              .foreach(t =>
                update(s"DELETE FROM $t WHERE table_id = ?", Seq(tid)))
          }
          deadViews.foreach(v =>
            update("DELETE FROM ducklake_view WHERE view_id = ?", Seq(v)))
          deadSchemas.foreach(sc =>
            update("DELETE FROM ducklake_schema WHERE schema_id = ?", Seq(sc)))
          val liveMax = Seq(
            query("SELECT COALESCE(MAX(schema_id), -1) + 1 FROM ducklake_schema")(_.getLong(1)).head,
            query("SELECT COALESCE(MAX(table_id), -1) + 1 FROM ducklake_table")(_.getLong(1)).head,
            query("SELECT COALESCE(MAX(view_id), -1) + 1 FROM ducklake_view")(_.getLong(1)).head,
            query("SELECT COALESCE(MAX(partition_id), -1) + 1 FROM ducklake_partition_info")(_.getLong(1)).head).max
          setMetadata("seq:catalog", liveMax.toString)
        }
        if (net.isEmpty && raw.nonEmpty) {
          update("DELETE FROM ducklake_snapshot_changes WHERE snapshot_id = ?", Seq(snap))
          update("DELETE FROM ducklake_snapshot WHERE snapshot_id = ?", Seq(snap))
        } else if (net != raw) {
          update("UPDATE ducklake_snapshot_changes SET changes_made = ? WHERE snapshot_id = ?",
            Seq(encodeChanges(net), snap))
          val prevVersion = query(
            "SELECT MAX(schema_version) FROM ducklake_snapshot WHERE snapshot_id < ?",
            Seq(snap))(_.getLong(1)).headOption.getOrElse(0L)
          update("UPDATE ducklake_snapshot SET schema_version = ? WHERE snapshot_id = ?",
            Seq(prevVersion + (if (net.exists(e => DdlKinds(e._1))) 1L else 0L), snap))
        }
      }
      if (txnCheckpointed && openTxnSnap.exists { snap =>
        parseChanges(query(
          "SELECT changes_made FROM ducklake_snapshot_changes WHERE snapshot_id = ?",
          Seq(snap))(_.getString(1)).headOption.getOrElse(""))
          .exists(_._1 == "tables_deleted_from")
      }) {
        conn.rollback(); conn.setAutoCommit(true)
        txnOpen = false; txnAborted = false; openTxnSnap = None
        txnCheckpointed = false
        throw new UnsupportedException(
          "Transaction conflict: a CHECKPOINT reorganized files this " +
            "transaction deleted from")
      }
      txnCheckpointed = false
      if (openTxnSnap.isDefined && commitInfoMissing()) {
        conn.rollback(); conn.setAutoCommit(true)
        txnOpen = false; txnAborted = false; openTxnSnap = None
        throw new UnsupportedException(CommitInfoRequired)
      }
      openTxnSnap.foreach(stampCommitInfo)
      pendingCommitInfo = None
      conn.commit(); conn.setAutoCommit(true)
      txnOpen = false; openTxnSnap = None
    }
  }

  def rollbackTransaction(): Unit = synchronized {
    if (txnOpen) {
      pendingCommitInfo = None
      conn.rollback(); conn.setAutoCommit(true)
      txnOpen = false; txnAborted = false; openTxnSnap = None
    }
  }

  /** (schemaName, tableName, path, pathIsRelative) of every data/delete
    * file registered by the open transaction — resolved BEFORE rollback so
    * the caller can remove the physical files afterwards.
    */
  def openTxnFiles(): Seq[(String, String, String, Boolean)] = synchronized {
    openTxnSnap.toSeq.flatMap { snap =>
      def files(table: String, cond: String, params: Seq[Any])
          : Seq[(String, String, String, Boolean)] =
        query(
          s"""SELECT s.schema_name, t.table_name, f.path, f.path_is_relative
             |FROM $table f
             |JOIN ducklake_table t ON t.table_id = f.table_id
             |JOIN ducklake_schema s ON s.schema_id = t.schema_id
             |WHERE $cond""".stripMargin, params)(
          rs => (rs.getString(1), rs.getString(2), rs.getString(3), rs.getBoolean(4)))
      // data files also match on write_epoch: a flush-inlined file is
      // registered at the EARLIEST inlined snapshot but physically
      // written by THIS transaction (write_epoch = txn snapshot), and a
      // rollback must remove its bytes too
      files("ducklake_data_file",
        "f.begin_snapshot = ? OR f.write_epoch = ?", Seq(snap, snap)) ++
        files("ducklake_delete_file", "f.begin_snapshot = ?", Seq(snap))
    }
  }

  /** Called with (schemaName, tableName, path, pathIsRelative) of file
    * rows that died INSIDE the open transaction (begin == end == the
    * transaction's snapshot: a file written and superseded/dropped before
    * anyone could see it). The lake unlinks the physical bytes.
    */
  @volatile private var deadFileListener
      : Seq[(String, String, String, Boolean)] => Unit = _ => ()

  def onTxnDeadFiles(f: Seq[(String, String, String, Boolean)] => Unit): Unit =
    deadFileListener = f

  /** Purge txn-dead file rows (never visible at any snapshot) and report
    * them; runs after every successful statement inside a transaction so
    * the corpus-observable file counts match the reference's eager
    * transaction-local cleanup (tests/sqllogictests/sql/cleanup/).
    */
  private def sweepTxnDeadFiles(snap: Long): Seq[(String, String, String, Boolean)] = {
    def dead(table: String): Seq[(Long, String, String, String, Boolean)] =
      query(
        s"""SELECT f.rid, s.schema_name, t.table_name, f.path, f.path_is_relative FROM
           |(SELECT ${if (table == "ducklake_data_file") "data_file_id" else "delete_file_id"} AS rid,
           |        table_id, path, path_is_relative
           |   FROM $table WHERE begin_snapshot = ? AND end_snapshot = ?) f
           |JOIN ducklake_table t ON t.table_id = f.table_id
           |JOIN ducklake_schema s ON s.schema_id = t.schema_id""".stripMargin,
        Seq(snap, snap))(
        rs => (rs.getLong(1), rs.getString(2), rs.getString(3), rs.getString(4),
          rs.getBoolean(5)))
    val dd = dead("ducklake_data_file")
    val dl = dead("ducklake_delete_file")
    dd.foreach { case (id, _, _, _, _) =>
      update("DELETE FROM ducklake_data_file WHERE data_file_id = ?", Seq(id))
      update("DELETE FROM ducklake_delete_file WHERE data_file_id = ?", Seq(id))
    }
    dl.foreach { case (id, _, _, _, _) =>
      update("DELETE FROM ducklake_delete_file WHERE delete_file_id = ?", Seq(id))
    }
    (dd ++ dl).map { case (_, s, t, p, rel) => (s, t, p, rel) }
  }

  // ---------- snapshot change journal ----------

  /** Changes accumulated by the statement being committed:
    * (kind, entity id or -1, rendered value). Flushed into
    * `ducklake_snapshot_changes` when its snapshot txn commits.
    */
  private val pendingChanges =
    scala.collection.mutable.ArrayBuffer.empty[(String, Long, String)]

  private[lake] def recordChange(kind: String, entityId: Long, value: String): Unit =
    pendingChanges += ((kind, entityId, value))

  /** Parse a stored `kind:id:value` CSV back to entries. */
  private def parseChanges(s: String): Seq[(String, Long, String)] =
    if (s == null || s.isEmpty) Nil
    else s.split(',').toSeq.map { e =>
      val Array(k, id, v) = e.split(":", 3)
      (k, id.toLong, v)
    }

  private def encodeChanges(es: Seq[(String, Long, String)]): String =
    es.map { case (k, id, v) => s"$k:$id:$v" }.mkString(",")

  /** DDL kinds bump the snapshot's schema_version. */
  private val DdlKinds = Set("schemas_created", "schemas_dropped",
    "tables_created", "tables_dropped", "tables_altered",
    "views_created", "views_dropped", "views_altered",
    "scalar_macros_created", "scalar_macros_dropped",
    "table_macros_created", "table_macros_dropped")

  /** Merge this statement's pending changes into the snapshot's journal
    * row and stamp schema_version (prev + 1 when the union holds DDL).
    * Runs INSIDE the snapshot's SQL transaction.
    */
  private def flushChanges(snap: Long): Unit = {
    val prior = query(
      "SELECT changes_made FROM ducklake_snapshot_changes WHERE snapshot_id = ?",
      Seq(snap))(_.getString(1)).headOption
    val merged = (parseChanges(prior.getOrElse("")) ++ pendingChanges).distinct
    pendingChanges.clear()
    if (prior.isDefined)
      update("UPDATE ducklake_snapshot_changes SET changes_made = ? WHERE snapshot_id = ?",
        Seq(encodeChanges(merged), snap))
    else if (merged.nonEmpty)
      update("INSERT INTO ducklake_snapshot_changes VALUES (?, ?)",
        Seq(snap, encodeChanges(merged)))
    val prevVersion = query(
      "SELECT MAX(schema_version) FROM ducklake_snapshot WHERE snapshot_id < ?",
      Seq(snap))(_.getLong(1)).headOption.getOrElse(0L)
    val v = prevVersion + (if (merged.exists(e => DdlKinds(e._1))) 1L else 0L)
    update("UPDATE ducklake_snapshot SET schema_version = ? WHERE snapshot_id = ?",
      Seq(v, snap))
  }

  /** Run `body` inside one SQL transaction; creates the new snapshot row
    * first and passes its id. Commits on success, rolls back on failure.
    * Inside an open [[beginTransaction]] the body instead JOINS the shared
    * snapshot under a savepoint and the outer COMMIT/ROLLBACK decides.
    */
  /** Optimistic snapshot CAS for CONCURRENT writers (DuckLake-spec
    * behavior over a shared catalog, corpus settings/max_retry_count): a
    * writer that began at `expected` must observe an unchanged snapshot
    * at publish time, or retry its whole write from a fresh base
    * ([[graft.lake.DuckLake]]'s retry loop). Shares this store's monitor
    * with [[inSnapshotTxn]], so check + publish are atomic.
    */
  def withSnapshotCas[T](expected: Option[Long])(body: => T): T = synchronized {
    expected.foreach { e =>
      if (currentSnapshot != e) throw new MetadataStore.SnapshotCasRetry
    }
    body
  }

  private def inSnapshotTxn[A](body: Long => A): A = synchronized {
    pendingChanges.clear()
    if (txnOpen) {
      if (txnAborted) throw new UnsupportedException(
        "Current transaction is aborted (please ROLLBACK)")
      val sp = conn.setSavepoint()
      try {
        val snap = openTxnSnap.getOrElse {
          val s = currentSnapshotTx() + 1
          val ps = conn.prepareStatement(
            "INSERT INTO ducklake_snapshot(snapshot_id, snapshot_time) VALUES (?, CURRENT_TIMESTAMP)")
          try { ps.setLong(1, s); ps.executeUpdate() } finally ps.close()
          s
        }
        val r = body(snap)
        flushChanges(snap)
        openTxnSnap = Some(snap) // persist only after the statement succeeds
        val dead = sweepTxnDeadFiles(snap)
        conn.releaseSavepoint(sp)
        if (dead.nonEmpty)
          try deadFileListener(dead)
          catch { case _: Exception => () } // physical unlink is best-effort
        r
      } catch {
        // savepoint-revert THIS statement only; catalog validation errors
        // are binder errors that leave the transaction usable (DuckDB
        // aborts only on runtime failures — the frontend marks those)
        case e: Throwable => pendingChanges.clear(); conn.rollback(sp); throw e
      }
    } else {
      conn.setAutoCommit(false)
      try {
        val snap = currentSnapshotTx() + 1
        val ps = conn.prepareStatement(
          "INSERT INTO ducklake_snapshot(snapshot_id, snapshot_time) VALUES (?, CURRENT_TIMESTAMP)")
        try { ps.setLong(1, snap); ps.executeUpdate() } finally ps.close()
        val r = body(snap)
        flushChanges(snap)
        if (commitInfoMissing())
          throw new UnsupportedException(CommitInfoRequired)
        stampCommitInfo(snap)
        conn.commit()
        r
      } catch {
        case e: Throwable => pendingChanges.clear(); conn.rollback(); throw e
      } finally conn.setAutoCommit(true)
    }
  }

  private def currentSnapshotTx(): Long = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery("SELECT MAX(snapshot_id) FROM ducklake_snapshot")
      try { rs.next(); rs.getLong(1) } finally rs.close()
    } finally st.close()
  }

  private def getOrCreateSchema(name: String, snap: Long): SchemaRec =
    getSchemaByName(name, snap).getOrElse {
      PathResolver.validateEntityName(name)
      // the stored path segment escapes path-dangerous characters, so
      // ANY printable schema name is safe (corpus: general/paths.test)
      val seg = PathResolver.safeSegment(name)
      val id = nextCatalogId()
      update("INSERT INTO ducklake_schema VALUES (?, ?, ?, ?, ?, NULL)",
        Seq(id, name, seg + "/", true, snap))
      recordChange("schemas_created", id, name)
      SchemaRec(id, name, seg + "/", pathIsRelative = true)
    }

  /** One transactional write commit: new snapshot → get-or-create schema
    * and table → append-mode evolution check / column rewrite → (Replace)
    * end current data files → register the written files. Returns the new
    * snapshot id (reference: src/metadata_writer.rs:208-268 trait;
    * src/metadata_writer_sqlite.rs:331-511 impl).
    */
  def commitWrite(schemaName: String, tableName: String, columns: Seq[ColumnDef],
      mode: WriteMode.Value, files: Seq[FileToRegister],
      partitionBy: Seq[String] = Nil, flushInlined: Boolean = false,
      redefine: Boolean = false): Long =
    commitWrites(Seq(TableWriteSpec(schemaName, tableName, columns, mode, files,
      partitionBy, flushInlined, redefine)))

  /** Register several tables' writes in ONE snapshot — the cross-table
    * atomic commit a SQL-backed catalog makes natural (and file-pointer
    * catalogs cannot express): all tables' new files become visible at
    * the same snapshot id, or none do.
    */
  def commitWrites(writes: Seq[TableWriteSpec]): Long = inSnapshotTxn { snap =>
    writes.foreach(registerWrite(snap, _))
    snap
  }

  private def registerWrite(snap: Long, spec: TableWriteSpec): Unit = {
    import spec._
    PathResolver.validateEntityName(tableName)
    files.foreach { f =>
      if (f.fileSizeBytes < 0) throw new InvalidConfigException(s"negative file size for ${f.path}")
      if (f.recordCount < 0) throw new InvalidConfigException(s"negative record count for ${f.path}")
    }
    val schema = getOrCreateSchema(schemaName, snap)
    val table = getTableByName(schema.schemaId, tableName, snap).getOrElse {
      // tables and views share one namespace (corpus:
      // transaction/create_conflict.test)
      if (getView(schema.schemaId, tableName, snap).isDefined)
        throw new UnsupportedException(
          s"""an entity with name "$tableName" already exists""")
      // reference numbering: table ids start at 1 (snapshot 0 = empty catalog)
      val id = nextCatalogId()
      val seg = PathResolver.safeSegment(tableName)
      update("INSERT INTO ducklake_table VALUES (?, ?, ?, ?, ?, ?, NULL)",
        Seq(id, schema.schemaId, tableName, seg + "/", true, snap))
      recordChange("tables_created", id, s"$schemaName.$tableName")
      TableRec(id, schema.schemaId, tableName, seg + "/", pathIsRelative = true)
    }
    val existing = getTableColumns(table.tableId, snap)
    if (existing.isEmpty) {
      // reference numbering: column ids start at 1 within a table and run
      // DEPTH-FIRST through nested nodes (a list element, struct field or
      // map key/value occupies an id of its own even though only the
      // top-level row is materialized here) — per-leaf file stats key by
      // those node ids (corpus: add_files_complex_nested_stats_mre.test,
      // default/add_column_with_default.test)
      var cid = 1L
      columns.zipWithIndex.foreach { case (c, i) =>
        val (dv, dt) = ColumnDefaults.derive(c.initialDefault)
        insertColumnRow(cid, table.tableId, i.toLong, c.name,
          TypeBridge.normalize(c.dtype), c.nullsAllowed, None, snap,
          c.initialDefault, dv, dt)
        cid += TypeBridge.nodeCount(c.dtype)
      }
    } else if (redefine && mode == WriteMode.Replace) {
      // CREATE OR REPLACE TABLE: a full redefinition, not an evolution —
      // end every current column and insert the new shape under FRESH
      // column ids (old files' epochs keep resolving for time travel).
      // Partition keys are redefined below the same way.
      update("UPDATE ducklake_column SET end_snapshot = ? WHERE table_id = ? AND end_snapshot IS NULL",
        Seq(snap, table.tableId))
      var nextColId = maxColumnId(table.tableId) + 1
      columns.zipWithIndex.foreach { case (c, i) =>
        val (dv, dt) = ColumnDefaults.derive(c.initialDefault)
        insertColumnRow(nextColId, table.tableId, i.toLong, c.name,
          TypeBridge.normalize(c.dtype), c.nullsAllowed, None, snap,
          c.initialDefault, dv, dt)
        nextColId += TypeBridge.nodeCount(c.dtype)
      }
      update("UPDATE ducklake_partition_column SET end_snapshot = ? WHERE table_id = ? AND end_snapshot IS NULL",
        Seq(snap, table.tableId))
    } else {
      validateEvolution(existing, columns, table.tableId, snap)
    }
    if (mode == WriteMode.Replace) {
      update(s"UPDATE ducklake_data_file SET end_snapshot = ? WHERE table_id = ? AND end_snapshot IS NULL",
        Seq(snap, table.tableId))
      update(s"UPDATE ducklake_delete_file SET end_snapshot = ? WHERE table_id = ? AND end_snapshot IS NULL",
        Seq(snap, table.tableId))
      update(s"UPDATE ducklake_inlined_data SET end_snapshot = ? WHERE table_id = ? AND end_snapshot IS NULL",
        Seq(snap, table.tableId))
    }
    if (flushInlined && mode != WriteMode.Replace) {
      // inlined rows become the registered files' content in THIS snapshot
      update(s"UPDATE ducklake_inlined_data SET end_snapshot = ? WHERE table_id = ? AND end_snapshot IS NULL",
        Seq(snap, table.tableId))
      recordChange("flushed_inlined", table.tableId, table.tableId.toString)
    } else if (files.nonEmpty)
      recordChange("tables_inserted_into", table.tableId, table.tableId.toString)
    if (mode == WriteMode.Replace && existing.nonEmpty)
      recordChange("tables_deleted_from", table.tableId, table.tableId.toString)
    val colIds = getTableColumns(table.tableId, snap).map(c => c.name -> c.columnId).toMap
    // partition keys: set at table creation (or full redefinition),
    // immutable afterwards (DuckLake spec ducklake_partition_column model)
    val freshKeys = existing.isEmpty || (redefine && mode == WriteMode.Replace)
    val currentPartCols = getPartitionColumns(table.tableId, snap)
    if (freshKeys && partitionBy.nonEmpty) {
      val defs = getTableColumns(table.tableId, snap)
      val pid = nextCatalogId()
      update("INSERT INTO ducklake_partition_info VALUES (?, ?, ?, NULL)",
        Seq(pid, table.tableId, snap))
      partitionBy.map(PartTransform.parse).zipWithIndex.foreach { case (pf, idx) =>
        val cdef = defs.find(_.name == pf.source).getOrElse(
          throw new InvalidConfigException(s"partition column not found: ${pf.source}"))
        pf.transform.foreach(t =>
          PartTransform.validate(t, TypeBridge.toSpark(cdef.dtype), pf.source))
        update("INSERT INTO ducklake_partition_column VALUES (?, ?, ?, ?, NULL, ?, ?)",
          Seq(table.tableId, idx.toLong, cdef.columnId, snap, pf.transform.orNull, pid))
      }
    } else if (partitionBy.nonEmpty) {
      val defs = getTableColumns(table.tableId, snap)
      val currentSpecs = currentPartCols.flatMap { case (_, cid, t) =>
        defs.find(_.columnId == cid).map(c => PartField(c.name, t).spec) }
      if (currentSpecs != partitionBy.map(PartTransform.parse(_).spec))
        throw new UnsupportedException(
          s"partitioning mismatch: table has [${currentSpecs.mkString(",")}], write has [${partitionBy.mkString(",")}]")
    }
    // NOT NULL enforcement from the written footers' null counts
    // (reference: tests/sqllogictests/sql/constraints/not_null.test) —
    // the stats are already captured for file skipping, so the write-time
    // check costs nothing extra. Unknown counts pass (conservative the
    // other way is impossible without a re-scan; scalar columns always
    // carry counts from parquet-mr).
    getTableColumns(table.tableId, snap).filter(!_.nullsAllowed).foreach { c =>
      files.foreach { f =>
        f.stats.find(_.columnName == c.name).foreach { s =>
          if (s.nullCount.exists(_ > 0))
            throw new ConstraintViolationException(
              s"NOT NULL constraint failed: column ${c.name} of $schemaName.$tableName " +
                s"(${s.nullCount.get} null values in ${f.path})")
        }
      }
    }
    val nKeys = if (freshKeys) partitionBy.size else currentPartCols.size
    // stable per-table row ids (DuckLake rowid): each file claims a
    // contiguous range starting past every id ever assigned
    var nextRowId = nextRowIdFor(table.tableId)
    files.foreach { f =>
      if (f.partitionValues.size != nKeys)
        throw new InternalException(
          s"file ${f.path}: ${f.partitionValues.size} partition values for $nKeys keys")
      val id = nextFileId()
      // files carrying an explicit _ducklake_row_id column (row-level
      // UPDATE keeps each row's stable id) register with NULL
      // row_id_start — the DuckLake marker for "ids live in the file"
      val rowStart: Any = if (f.explicitRowIds) null else {
        val r = nextRowId; nextRowId += f.recordCount; Long.box(r)
      }
      update("INSERT INTO ducklake_data_file VALUES (?, ?, ?, ?, ?, ?, ?, ?, NULL, ?, ?, ?, ?, ?)",
        Seq(id, table.tableId, f.path, f.pathIsRelative, f.recordCount, f.fileSizeBytes,
          f.footerSize, snap, f.encryptionKey.orNull, snap,
          f.mappingId.map(Long.box).orNull, rowStart,
          currentPartitionId(table.tableId, snap).map(Long.box).orNull))
      f.partitionValues.zipWithIndex.foreach { case (v, idx) =>
        update("INSERT INTO ducklake_file_partition_value VALUES (?, ?, ?, ?)",
          Seq(id, table.tableId, idx.toLong, v.orNull))
      }
      f.stats.foreach { st =>
        colIds.get(st.columnName).foreach { cid =>
          update("INSERT INTO ducklake_file_column_stats VALUES (?, ?, ?, ?, ?, ?, ?, ?)",
            Seq(id, table.tableId, cid, st.valueCount,
              st.nullCount.map(Long.box).orNull,
              st.minValue.orNull, st.maxValue.orNull, st.extraStats.orNull))
        }
      }
    }
    val statDefs = getTableColumns(table.tableId, snap)
    files.foreach { f =>
      mergeGlobalStats(table.tableId,
        f.stats.flatMap(st => statDefs.find(_.name == st.columnName).map(_ -> st)))
    }
  }

  /** Inline a small append: rows live in the catalog itself — no parquet
    * file, no object-store round trip (DuckLake data-inlining semantics).
    */
  /** CTAS at or under the inline limit: register the table (no files) AND
    * its inlined rows in ONE snapshot (reference inlines small CTAS too —
    * tests/sqllogictests/sql/data_inlining/data_inlining_delete.test
    * expects zero files on disk).
    */
  def commitWriteWithInlined(spec: TableWriteSpec, rowsJson: Seq[String],
      stats: Seq[ColumnStatRec] = Nil): Long =
    inSnapshotTxn { snap =>
      registerWrite(snap, spec)
      nextFileId() // id burned, never reused
      val schema = getSchemaByName(spec.schemaName, snap).get
      val table = getTableByName(schema.schemaId, spec.tableName, snap).get
      var rid = math.max(nextRowIdFor(table.tableId), query(
        "SELECT COALESCE(MAX(row_id), -1) + 1 FROM ducklake_inlined_data WHERE table_id = ?",
        Seq(table.tableId))(_.getLong(1)).head)
      rowsJson.foreach { j =>
        update("INSERT INTO ducklake_inlined_data VALUES (?, ?, ?, NULL, ?)",
          Seq(table.tableId, rid, snap, j))
        rid += 1
      }
      if (rowsJson.nonEmpty)
        recordChange("inlined_insert", table.tableId, table.tableId.toString)
      mergeInlineStats(table.tableId, snap, stats)
      snap
    }

  private def mergeInlineStats(tableId: Long, snap: Long,
      stats: Seq[ColumnStatRec]): Unit =
    if (stats.nonEmpty) {
      val defs = getTableColumns(tableId, snap)
      mergeGlobalStats(tableId,
        stats.flatMap(st => defs.find(_.name == st.columnName).map(_ -> st)))
    }

  def commitInlined(tableId: Long, rowsJson: Seq[String],
      stats: Seq[ColumnStatRec] = Nil): Long = inSnapshotTxn { snap =>
    nextFileId() // id burned, never reused
    // inlined rows claim STABLE table row ids from the same sequence as
    // files (corpus: data_inlining/basic_data_inlining.test rowid block)
    var rid = math.max(nextRowIdFor(tableId), query(
      "SELECT COALESCE(MAX(row_id), -1) + 1 FROM ducklake_inlined_data WHERE table_id = ?",
      Seq(tableId))(_.getLong(1)).head)
    rowsJson.foreach { j =>
      update("INSERT INTO ducklake_inlined_data VALUES (?, ?, ?, NULL, ?)",
        Seq(tableId, rid, snap, j))
      rid += 1
    }
    if (rowsJson.nonEmpty) recordChange("inlined_insert", tableId, tableId.toString)
    mergeInlineStats(tableId, snap, stats)
    snap
  }

  /** Row-level UPDATE over INLINED rows, in place: end each old row and
    * re-insert its new JSON under the SAME row id in ONE snapshot —
    * no flush, no file, and CDC sees a delete+insert of one rowid in one
    * snapshot = an update pair (corpus:
    * data_inlining/data_inlining_table_changes.test).
    */
  def commitInlinedUpdate(tableId: Long, rows: Seq[(Long, String)],
      stats: Seq[ColumnStatRec] = Nil): Long =
    inSnapshotTxn { snap =>
      rows.foreach { case (rid, json) =>
        update("UPDATE ducklake_inlined_data SET end_snapshot = ? WHERE table_id = ? AND row_id = ? AND end_snapshot IS NULL",
          Seq(snap, tableId, rid))
        update("INSERT INTO ducklake_inlined_data VALUES (?, ?, ?, NULL, ?)",
          Seq(tableId, rid, snap, json))
      }
      if (rows.nonEmpty) recordChange("inlined_insert", tableId, tableId.toString)
      mergeInlineStats(tableId, snap, stats)
      snap
    }

  /** Inlined rows visible at `snap`: (row_id, begin_snapshot, json). */
  // ---------- adopted files (add_files; reference: tests/sqllogictests/sql/add_files/) ----------

  /** All name mappings of a table: mapping_id → column entries. One
    * metadata query per scan, independent of file count.
    */
  def getNameMappings(tableId: Long): Map[Long, Seq[NameMapEntry]] =
    query(
      """SELECT cm.mapping_id, nm.column_id, nm.source_name, nm.source_type, nm.hive_partition
        |FROM ducklake_column_mapping cm
        |JOIN ducklake_name_mapping nm ON cm.mapping_id = nm.mapping_id
        |WHERE cm.table_id = ?""".stripMargin,
      Seq(tableId))(rs => rs.getLong(1) ->
      NameMapEntry(rs.getLong(2), rs.getString(3), rs.getString(4), rs.getBoolean(5)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  /** Get-or-create a name mapping (duplicate-eliminated: two adopted files
    * with the same column resolution share one mapping_id — the reference
    * test asserts COUNT(ducklake_column_mapping)=1 after two adds).
    * Must run inside the caller's snapshot transaction.
    */
  private def getOrCreateMapping(tableId: Long, entries: Seq[NameMapEntry]): Long = {
    val key = entries.sortBy(_.columnId)
    getNameMappings(tableId).collectFirst {
      case (mid, es) if es.sortBy(_.columnId) == key => mid
    }.getOrElse {
      // the reference allocates mapping ids from the SHARED file-id
      // sequence — an adoption's first data file lands at mapping_id + 1
      // (corpus: add_files_complex_nested_stats_mre.test file ids)
      val mid = nextFileId()
      update("INSERT INTO ducklake_column_mapping VALUES (?, ?, ?)",
        Seq(mid, tableId, "map_by_name"))
      entries.foreach { e =>
        update("INSERT INTO ducklake_name_mapping VALUES (?, ?, ?, ?, ?)",
          Seq(mid, e.columnId, e.sourceName, e.sourceType, e.isPartition))
      }
      mid
    }
  }

  /** First unassigned stable row id of a table: past every id any file
    * (live OR ended — ids are never reused) has ever claimed.
    */
  private def nextRowIdFor(tableId: Long): Long = {
    val fileMax = query(
      "SELECT COALESCE(MAX(row_id_start + record_count), 0) FROM ducklake_data_file WHERE table_id = ?",
      Seq(tableId))(_.getLong(1)).head
    // merged files hold NON-CONTIGUOUS id ranges: the file-level
    // start+count under-counts (file [0,2) may carry segments {0},{2}) —
    // segment claims are the authoritative ceiling (corpus:
    // compaction/compaction_partitioned_non_adjacent.test rowids)
    val segMax = query(
      """SELECT COALESCE(MAX(p.row_id_start + p.row_count), 0)
        |FROM ducklake_partial_file_info p
        |JOIN ducklake_data_file f ON f.data_file_id = p.data_file_id
        |WHERE f.table_id = ?""".stripMargin,
      Seq(tableId))(_.getLong(1)).head
    math.max(fileMax, segMax)
  }

  /** Adopt pre-existing parquet files into a table in ONE snapshot — no
    * data movement; each file carries a name mapping and its footer stats
    * (keyed by resolved column_id). The table must already exist.
    */
  /** Fold one write's per-column stats into the table's CUMULATIVE
    * column stats (ducklake_table_column_stats): bounds widen, the null
    * flags latch, and `bounds_known` latches FALSE once a contribution
    * has values but no computable min/max (nested types, >200-char
    * strings). Values are the same canonical encodings the per-file
    * stats use, compared through the column's current type.
    */
  def mergeGlobalStats(tableId: Long,
      pairs: Seq[(ColumnDef, ColumnStatRec)]): Unit = synchronized {
    pairs.foreach { case (cdef, st0) =>
      val dt = TypeBridge.toSpark(cdef.dtype)
      // over-long bounds don't fit the catalog row — record them unknown
      val st = st0.copy(minValue = st0.minValue.filter(_.length <= 2000),
        maxValue = st0.maxValue.filter(_.length <= 2000))
      val newHasNull = st.nullCount.forall(_ > 0)
      val newHasNotNull =
        st.nullCount.map(st.valueCount - _ > 0).getOrElse(st.valueCount > 0)
      val allNull = st.nullCount.contains(st.valueCount)
      val newKnown = (st.minValue.nonEmpty && st.maxValue.nonEmpty) || allNull
      val existing = query(
        """SELECT contains_null, min_value, max_value, contains_not_null, bounds_known, extra_stats
          |FROM ducklake_table_column_stats WHERE table_id = ? AND column_id = ?""".stripMargin,
        Seq(tableId, cdef.columnId))(rs => (rs.getBoolean(1),
          Option(rs.getString(2)), Option(rs.getString(3)),
          rs.getBoolean(4), rs.getBoolean(5), Option(rs.getString(6)))).headOption
      existing match {
        case None =>
          update("INSERT INTO ducklake_table_column_stats VALUES (?, ?, ?, NULL, ?, ?, ?, ?, ?)",
            Seq(tableId, cdef.columnId, newHasNull, st.minValue.orNull,
              st.maxValue.orNull, newHasNotNull, newKnown, st.extraStats.orNull))
        case Some((hadNull, exMin, exMax, hadNotNull, exKnown, exExtra)) =>
          def fold(a: Option[String], b: Option[String],
              pick: (String, String) => String): Option[String] = (a, b) match {
            case (Some(x), Some(y)) => Some(pick(x, y))
            case (x, y) => x.orElse(y)
          }
          val known = exKnown && newKnown
          val mn = if (known) fold(exMin, st.minValue, FileStats.least(dt, _, _)) else None
          val mx = if (known) fold(exMax, st.maxValue, FileStats.greatest(dt, _, _)) else None
          // geometry bbox/type summaries union across files
          val extra = Geo.mergeStatsJson(exExtra, st.extraStats)
          update(
            """UPDATE ducklake_table_column_stats SET contains_null = ?,
              |min_value = ?, max_value = ?, contains_not_null = ?, bounds_known = ?,
              |extra_stats = ?
              |WHERE table_id = ? AND column_id = ?""".stripMargin,
            Seq(hadNull || newHasNull, mn.orNull, mx.orNull,
              hadNotNull || newHasNotNull, known, extra.orNull,
              tableId, cdef.columnId))
      }
    }
  }

  /** Cumulative stats row for one column: (min, max, contains_null,
    * contains_not_null); None when no write has contributed stats or the
    * bounds stopped being computable.
    */
  def globalColumnStats(tableId: Long, columnId: Long)
      : Option[(Option[String], Option[String], Boolean, Boolean)] =
    query(
      """SELECT min_value, max_value, contains_null, contains_not_null, bounds_known
        |FROM ducklake_table_column_stats WHERE table_id = ? AND column_id = ?""".stripMargin,
      Seq(tableId, columnId))(rs => (Option(rs.getString(1)), Option(rs.getString(2)),
        rs.getBoolean(3), rs.getBoolean(4), rs.getBoolean(5))).headOption
      .collect { case (mn, mx, hn, hnn, known) if known => (mn, mx, hn, hnn) }

  /** name → column_id for TOP-LEVEL columns plus their nested LEAF
    * dot-paths under the depth-first node numbering ("data_array.element"
    * → root id + offset): per-leaf stats rows key by node id.
    */
  private def statIdMap(tableId: Long, snap: Long): Map[String, Long] =
    getTableColumns(tableId, snap).flatMap(c =>
      (c.name -> c.columnId) +: TypeBridge.leafNodes(c.name, c.dtype)
        .map(l => l._1 -> (c.columnId + l._2))).toMap

  /** Synthetic [[ColumnDef]]s for nested leaves (cumulative-stats merge
    * needs an id + a type to fold min/max).
    */
  private def leafDefs(tableId: Long, snap: Long): Map[String, ColumnDef] =
    getTableColumns(tableId, snap).flatMap(c =>
      TypeBridge.leafNodes(c.name, c.dtype).map(l =>
        l._1 -> ColumnDef(c.columnId + l._2, c.order, l._1, l._3, true))).toMap

  def commitAddFiles(schemaName: String, tableName: String,
      files: Seq[(FileToRegister, Seq[NameMapEntry])]): Long = inSnapshotTxn { snap =>
    val schema = getSchemaByName(schemaName, snap)
      .getOrElse(throw new SchemaNotFoundException(schemaName))
    val table = getTableByName(schema.schemaId, tableName, snap)
      .getOrElse(throw new TableNotFoundException(s"$schemaName.$tableName"))
    val colIds = statIdMap(table.tableId, snap)
    var nextRowId = nextRowIdFor(table.tableId)
    files.foreach { case (f, entries) =>
      // re-adding a path still live in the table would double-count rows
      if (query(
        s"SELECT COUNT(*) FROM ducklake_data_file WHERE table_id = ? AND path = ? AND $Vis",
        Seq(table.tableId, f.path, snap, snap))(_.getLong(1)).head > 0)
        throw new InvalidConfigException(
          s"Failed to add data files: ${f.path} is already registered in the table")
      val mid = getOrCreateMapping(table.tableId, entries)
      val id = nextFileId()
      val rowStart = nextRowId
      nextRowId += f.recordCount
      update("INSERT INTO ducklake_data_file VALUES (?, ?, ?, ?, ?, ?, ?, ?, NULL, ?, ?, ?, ?, NULL)",
        Seq(id, table.tableId, f.path, f.pathIsRelative, f.recordCount,
          f.fileSizeBytes, f.footerSize, snap, f.encryptionKey.orNull, snap, mid,
          rowStart))
      f.stats.foreach { st =>
        colIds.get(st.columnName).foreach { cid =>
          update("INSERT INTO ducklake_file_column_stats VALUES (?, ?, ?, ?, ?, ?, ?, ?)",
            Seq(id, table.tableId, cid, st.valueCount,
              st.nullCount.map(Long.box).orNull,
              st.minValue.orNull, st.maxValue.orNull, st.extraStats.orNull))
        }
      }
      ()
    }
    // cumulative stats once per call, not per file (each lookup is a
    // Derby query): fold every adopted file's rows together
    val statDefs = getTableColumns(table.tableId, snap)
    val leaves = leafDefs(table.tableId, snap)
    files.foreach { case (f, _) =>
      mergeGlobalStats(table.tableId,
        f.stats.flatMap(st => statDefs.find(_.name == st.columnName)
          .orElse(leaves.get(st.columnName)).map(_ -> st)))
    }
    snap
  }

  /** In-place LOGICAL type refinement (same physical type — json over
    * varchar, unsigned widths over their signed carriers): rewrites the
    * LIVE column row only, no snapshot, validity untouched.
    */
  def refineColumnType(tableId: Long, colName: String, dtype: String): Unit =
    update(
      "UPDATE ducklake_column SET column_type = ? WHERE table_id = ? AND column_name = ? AND end_snapshot IS NULL",
      Seq(dtype, tableId, colName))

  def countColumnMappings(tableId: Long): Long =
    query("SELECT COUNT(*) FROM ducklake_column_mapping WHERE table_id = ?",
      Seq(tableId))(_.getLong(1)).head

  /** EVERY inlined row of the table, live or ended: (row_id,
    * begin_snapshot, end_snapshot, json) — the CDC surface needs ended
    * rows (they are the deletes).
    */
  def getInlinedRowsRaw(tableId: Long): Seq[(Long, Long, Option[Long], String)] =
    query("SELECT row_id, begin_snapshot, end_snapshot, row_json FROM ducklake_inlined_data WHERE table_id = ? ORDER BY row_id",
      Seq(tableId))(rs => (rs.getLong(1), rs.getLong(2),
      { val e = rs.getLong(3); if (rs.wasNull()) None else Some(e) }, rs.getString(4)))

  /** Row ids of inlined rows whose version ENDED at `snap` — inside an
    * open transaction these are the rows UPDATE replaced (their new
    * versions keep stable ids in the rowid virtual).
    */
  def inlinedRowIdsEndedAt(tableId: Long, snap: Long): Seq[Long] =
    query("SELECT row_id FROM ducklake_inlined_data WHERE table_id = ? AND end_snapshot = ?",
      Seq(tableId, snap))(_.getLong(1))

  def getInlinedRows(tableId: Long, snap: Long): Seq[(Long, Long, String)] =
    query(s"SELECT row_id, begin_snapshot, row_json FROM ducklake_inlined_data WHERE table_id = ? AND $Vis ORDER BY row_id",
      Seq(tableId, snap, snap))(rs => (rs.getLong(1), rs.getLong(2), rs.getString(3)))


  /** Create a schema explicitly (SQL CREATE NAMESPACE). */
  def createSchema(name: String): Long = inSnapshotTxn { snap =>
    if (getSchemaByName(name, snap).isDefined)
      throw new UnsupportedException(s"schema already exists: $name")
    getOrCreateSchema(name, snap)
    snap
  }

  /** Drop an empty schema (end its row). */
  /** Every data/delete-file path EVER registered (any snapshot), with
    * its schema/table directory info for absolute-path resolution —
    * the anti-join side of orphan detection.
    */
  def allRegisteredFiles(): Seq[(String, String, Boolean, String, Boolean)] =
    Seq("ducklake_data_file", "ducklake_delete_file").flatMap { tbl =>
      query(s"SELECT sc.path, t.path, t.path_is_relative, f.path, f.path_is_relative " +
        s"FROM $tbl f, ducklake_table t, ducklake_schema sc " +
        "WHERE f.table_id = t.table_id AND t.schema_id = sc.schema_id")(rs =>
        (rs.getString(1), rs.getString(2), rs.getBoolean(3), rs.getString(4),
          rs.getBoolean(5)))
    }.distinct

  // ---------- optimistic commit-conflict detection --------------------
  //
  // DuckLake's multi-writer model: transactions work against a BASE
  // snapshot and publish at commit; the publisher compares its intents
  // with everything committed since the base and aborts on conflicting
  // pairs (corpus: transaction/transaction_conflicts*.test,
  // compaction/compaction_delete_conflict.test). The rules live here so
  // any coordinator (the SQL frontend, an external writer, the corpus
  // replayer) can ask the same question.

  /** Journal entries of every snapshot committed AFTER `base`. */
  def changesSince(base: Long): Seq[(String, String)] =
    query(
      """SELECT c.changes_made FROM ducklake_snapshot_changes c
        |WHERE c.snapshot_id > ?""".stripMargin, Seq(base))(_.getString(1))
      .flatMap(parseChanges).map(e => (e._1, e._3))

  /** Conflicting committed entries for a transaction with `intents`
    * based at snapshot `base` (empty = safe to publish). Intents use the
    * journal vocabulary; `entityId`/`name` address the touched object,
    * `schemaName` scopes creations for drop-schema conflicts.
    */
  def commitConflicts(base: Long, intents: Seq[TxnIntent]): Seq[String] = {
    val committed = changesSince(base)
    def has(kinds: Seq[String], value: String): Boolean =
      committed.exists(c => kinds.contains(c._1) && c._2 == value)
    def hasId(kinds: Seq[String], id: Option[Long]): Boolean =
      id.exists(i => has(kinds, i.toString))
    def createdIn(schemaName: String): Boolean =
      committed.exists(c =>
        Seq("tables_created", "views_created").contains(c._1) &&
          c._2.startsWith(schemaName + "."))
    intents.flatMap { in =>
      val hit = in.kind match {
        case "tables_created" | "views_created" =>
          in.name.exists(n => has(Seq("tables_created", "views_created"), n)) ||
            hasId(Seq("schemas_dropped"), in.schemaId)
        case "tables_dropped" =>
          hasId(Seq("tables_dropped", "tables_altered"), in.entityId)
        case "tables_altered" =>
          hasId(Seq("tables_altered", "tables_dropped"), in.entityId)
        case "tables_inserted_into" =>
          hasId(Seq("tables_dropped", "tables_altered"), in.entityId)
        case "tables_deleted_from" =>
          hasId(Seq("tables_deleted_from", "tables_dropped", "tables_altered",
            "_files_compacted", "_files_rewritten", "flushed_inlined"), in.entityId)
        case "schemas_created" =>
          in.name.exists(n => has(Seq("schemas_created"), n))
        case "schemas_dropped" =>
          hasId(Seq("schemas_dropped"), in.entityId) ||
            in.name.exists(createdIn)
        case "views_dropped" | "views_altered" =>
          hasId(Seq("views_dropped", "views_altered"), in.entityId)
        case "scalar_macros_created" | "table_macros_created" =>
          in.name.exists(n => has(Seq(in.kind), n))
        case "scalar_macros_dropped" | "table_macros_dropped" =>
          hasId(Seq("scalar_macros_dropped", "table_macros_dropped"), in.entityId)
        case "flushed_inlined" =>
          hasId(Seq("flushed_inlined", "tables_deleted_from", "_files_compacted",
            "inlined_insert"), in.entityId) ||
            (in.entityId.isEmpty && committed.exists(c =>
              Seq("flushed_inlined", "tables_deleted_from", "_files_compacted",
                "inlined_insert").contains(c._1)))
        case "_files_compacted" =>
          hasId(Seq("_files_compacted", "tables_deleted_from", "_files_rewritten"),
            in.entityId) ||
            // whole-catalog compaction conflicts with any of those
            (in.entityId.isEmpty && committed.exists(c =>
              Seq("_files_compacted", "tables_deleted_from", "_files_rewritten")
                .contains(c._1)))
        case "_files_rewritten" =>
          hasId(Seq("_files_rewritten", "tables_deleted_from", "_files_compacted"),
            in.entityId) ||
            (in.entityId.isEmpty && committed.exists(c =>
              Seq("_files_rewritten", "tables_deleted_from", "_files_compacted")
                .contains(c._1)))
        case _ => false
      }
      if (hit)
        Some(s"Transaction conflict: ${in.kind} on " +
          in.name.orElse(in.entityId.map(_.toString)).getOrElse("catalog"))
      else None
    }
  }

  // ---------- SQL macros (corpus: tests/sqllogictests/sql/macros/) ----

  /** Create a macro entity (one catalog id) with its implementations —
    * scalar and table macros are SEPARATE entities that may share a name.
    */
  def createMacro(schemaId: Long, schemaName: String, name: String,
      macroType: String, impls: Seq[MacroImpl]): Long = inSnapshotTxn { snap =>
    if (liveMacros(snap).exists(m => m.schemaId == schemaId &&
        m.name.equalsIgnoreCase(name) && m.macroType == macroType))
      throw new UnsupportedException(
        (if (macroType == "table") "Table Macro Function" else "Macro Function") +
          s""" with name "$name" already exists""")
    val id = nextCatalogId()
    update("INSERT INTO ducklake_macro VALUES (?, ?, ?, ?, NULL)",
      Seq(schemaId, id, name, snap))
    impls.zipWithIndex.foreach { case (impl, i) =>
      update("INSERT INTO ducklake_macro_impl VALUES (?, ?, 'duckdb', ?, ?)",
        Seq(id, i.toLong, impl.body, macroType))
      impl.params.zipWithIndex.foreach { case (p, pi) =>
        update("INSERT INTO ducklake_macro_parameters VALUES (?, ?, ?, ?, ?, ?, ?)",
          Seq(id, i.toLong, pi.toLong, p.name, p.ptype, p.default.orNull,
            p.defaultType))
      }
    }
    // change-map rendering matches the reference exactly:
    // scalar_macros_created=['main."simple"'] (corpus: test_attach_timetravel)
    recordChange(s"${macroKind(macroType)}_macros_created", id,
      "'" + schemaName + ".\"" + name + "\"'")
    snap
  }

  private def macroKind(t: String): String =
    if (t == "table") "table" else "scalar"

  def dropMacro(schemaId: Long, name: String, macroType: String): Long =
    inSnapshotTxn { snap =>
      val m = liveMacros(snap).find(m => m.schemaId == schemaId &&
        m.name.equalsIgnoreCase(name) && m.macroType == macroType)
        .getOrElse(throw new InternalException(
          (if (macroType == "table") "Table Function" else "Scalar Function") +
            s" with name $name does not exist!"))
      update("UPDATE ducklake_macro SET end_snapshot = ? WHERE macro_id = ? AND end_snapshot IS NULL",
        Seq(snap, m.macroId))
      recordChange(s"${macroKind(macroType)}_macros_dropped", m.macroId,
        m.macroId.toString)
      snap
    }

  /** Every macro visible at `snap`, with implementations and params. */
  def liveMacros(snap: Long): Seq[MacroRec] =
    query(s"SELECT schema_id, macro_id, macro_name FROM ducklake_macro WHERE $Vis",
      Seq(snap, snap))(rs => (rs.getLong(1), rs.getLong(2), rs.getString(3)))
      .map { case (sid, mid, nm) =>
        val impls = query(
          "SELECT impl_index, body, macro_type FROM ducklake_macro_impl WHERE macro_id = ? ORDER BY impl_index",
          Seq(mid))(rs => (rs.getLong(1), rs.getString(2), rs.getString(3)))
        val params = query(
          "SELECT impl_index, param_name, param_type, default_value, default_value_type FROM ducklake_macro_parameters WHERE macro_id = ? ORDER BY impl_index, param_index",
          Seq(mid))(rs => (rs.getLong(1),
            MacroParam(rs.getString(2), rs.getString(3),
              Option(rs.getString(4)), rs.getString(5))))
          .groupBy(_._1)
        MacroRec(sid, mid, nm,
          impls.headOption.map(_._3).getOrElse("scalar"),
          impls.map { case (ii, body, _) =>
            MacroImpl(params.getOrElse(ii, Nil).map(_._2), body)
          })
      }

  def dropSchema(schemaId: Long): Long = inSnapshotTxn { snap =>
    // VIEWS and MACROS keep a schema alive too (corpus:
    // view/ducklake_view_schema.test, macros/test_macro_transactions.test
    // — DROP without CASCADE refuses while any object remains)
    if (listTables(schemaId, snap).nonEmpty || listViews(schemaId, snap).nonEmpty ||
        liveMacros(snap).exists(_.schemaId == schemaId))
      throw new UnsupportedException(
        "schema is not empty - use CASCADE to drop it and its objects")
    update("UPDATE ducklake_schema SET end_snapshot = ? WHERE schema_id = ? AND end_snapshot IS NULL",
      Seq(snap, schemaId))
    recordChange("schemas_dropped", schemaId, schemaId.toString)
    snap
  }

  /** DROP SCHEMA … CASCADE: end the schema, its tables (with their files
    * and inlined rows) and its views in ONE snapshot — earlier snapshots
    * keep resolving everything (reference corpus:
    * tests/sqllogictests/sql/catalog/drop_schema.test).
    */
  def dropSchemaCascade(schemaId: Long): Long = inSnapshotTxn { snap =>
    listTables(schemaId, snap).foreach { t =>
      Seq("ducklake_table", "ducklake_data_file", "ducklake_delete_file",
        "ducklake_inlined_data").foreach { tbl =>
        update(s"UPDATE $tbl SET end_snapshot = ? WHERE table_id = ? AND end_snapshot IS NULL",
          Seq(snap, t.tableId))
      }
      recordChange("tables_dropped", t.tableId, t.tableId.toString)
    }
    update("UPDATE ducklake_view SET end_snapshot = ? WHERE schema_id = ? AND end_snapshot IS NULL",
      Seq(snap, schemaId))
    update("UPDATE ducklake_macro SET end_snapshot = ? WHERE schema_id = ? AND end_snapshot IS NULL",
      Seq(snap, schemaId))
    update("UPDATE ducklake_schema SET end_snapshot = ? WHERE schema_id = ? AND end_snapshot IS NULL",
      Seq(snap, schemaId))
    recordChange("schemas_dropped", schemaId, schemaId.toString)
    snap
  }

  // ---------- comments (COMMENT ON; reference: tests/sqllogictests/sql/comments/) ----------

  /** Set / clear (None) a comment on a table, view, or column — a
    * snapshot-versioned row, so time travel sees historical comments.
    */
  def setComment(objectType: String, objectId: Long, columnId: Option[Long],
      comment: Option[String]): Long = inSnapshotTxn { snap =>
    val colPred = if (columnId.isDefined) "column_id = ?" else "column_id IS NULL"
    update(s"UPDATE ducklake_comment SET end_snapshot = ? WHERE object_type = ? AND object_id = ? AND $colPred AND end_snapshot IS NULL",
      Seq(snap, objectType, objectId) ++ columnId.toSeq)
    comment.foreach { c =>
      update("INSERT INTO ducklake_comment VALUES (?, ?, ?, ?, ?, NULL)",
        Seq(objectType, objectId, columnId.map(Long.box).orNull, c, snap))
    }
    recordChange(if (objectType == "view") "views_altered" else "tables_altered",
      objectId, objectId.toString)
    snap
  }

  def getComment(objectType: String, objectId: Long, columnId: Option[Long],
      snap: Long): Option[String] = {
    val colPred = if (columnId.isDefined) "column_id = ?" else "column_id IS NULL"
    query(s"SELECT comment_text FROM ducklake_comment WHERE object_type = ? AND object_id = ? AND $colPred AND $Vis",
      Seq(objectType, objectId) ++ columnId.toSeq ++ Seq(snap, snap))(_.getString(1))
      .headOption
  }

  /** column_id → comment for one table at `snap`. */
  def getColumnComments(tableId: Long, snap: Long): Map[Long, String] =
    query(s"SELECT column_id, comment_text FROM ducklake_comment WHERE object_type = 'column' AND object_id = ? AND column_id IS NOT NULL AND $Vis",
      Seq(tableId, snap, snap))(rs => rs.getLong(1) -> rs.getString(2)).toMap

  def getViewId(schemaId: Long, name: String, snap: Long): Option[Long] =
    query(s"SELECT view_id FROM ducklake_view WHERE schema_id = ? AND view_name = ? AND $Vis",
      Seq(schemaId, name, snap, snap))(_.getLong(1)).headOption

  // ---------- views (DuckLake spec ducklake_view) ----------

  def createView(schemaId: Long, name: String, sqlText: String,
      currentCatalog: String, currentNamespace: String,
      schemaJson: String, queryColumnNames: String): Long = inSnapshotTxn { snap =>
    PathResolver.validateName(name)
    if (getView(schemaId, name, snap).isDefined)
      throw new UnsupportedException(s"view already exists: $name")
    // tables and views share one namespace (corpus:
    // transaction/create_conflict.test)
    if (getTableByName(schemaId, name, snap).isDefined)
      throw new UnsupportedException(
        s"""an entity with name "$name" already exists""")
    val id = nextCatalogId()
    update("INSERT INTO ducklake_view VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?, NULL)",
      Seq(id, schemaId, name, sqlText, currentCatalog, currentNamespace,
        schemaJson, queryColumnNames, snap))
    val schemaName = query(
      "SELECT schema_name FROM ducklake_schema WHERE schema_id = ?",
      Seq(schemaId))(_.getString(1)).headOption.getOrElse("main")
    recordChange("views_created", id, s"$schemaName.$name")
    snap
  }

  /** ALTER VIEW … RENAME TO: end the old-name row, open a new-name row
    * under the SAME view id (like table renames — corpus:
    * alter/rename_entity.test).
    */
  def renameView(schemaId: Long, oldName: String, newName: String): Long =
    inSnapshotTxn { snap =>
      PathResolver.validateName(newName)
      val cur = query(
        s"SELECT view_id, sql_text, current_catalog, current_namespace, schema_json, query_column_names FROM ducklake_view WHERE schema_id = ? AND view_name = ? AND $Vis",
        Seq(schemaId, oldName, snap, snap))(rs => (rs.getLong(1), rs.getString(2),
        rs.getString(3), rs.getString(4), rs.getString(5), rs.getString(6)))
        .headOption.getOrElse(throw new TableNotFoundException(oldName))
      if (getView(schemaId, newName, snap).isDefined)
        throw new UnsupportedException(s"view already exists: $newName")
      update("UPDATE ducklake_view SET end_snapshot = ? WHERE schema_id = ? AND view_name = ? AND end_snapshot IS NULL",
        Seq(snap, schemaId, oldName))
      update("INSERT INTO ducklake_view VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?, NULL)",
        Seq(cur._1, schemaId, newName, cur._2, cur._3, cur._4, cur._5, cur._6, snap))
      val schemaName = query(
        "SELECT schema_name FROM ducklake_schema WHERE schema_id = ?",
        Seq(schemaId))(_.getString(1)).headOption.getOrElse("main")
      recordChange("views_created", cur._1, s"$schemaName.$newName")
      snap
    }

  /** (name, sql, currentCatalog, currentNamespace, schemaJson, queryColumnNames). */
  def getView(schemaId: Long, name: String, snap: Long)
      : Option[(String, String, String, String, String, String)] =
    query(s"SELECT view_name, sql_text, current_catalog, current_namespace, schema_json, query_column_names FROM ducklake_view WHERE schema_id = ? AND view_name = ? AND $Vis",
      Seq(schemaId, name, snap, snap))(rs => (rs.getString(1), rs.getString(2),
      rs.getString(3), rs.getString(4), rs.getString(5), rs.getString(6))).headOption

  /** Views with ids and bodies (duckdb_views() surface). */
  def listViewsFull(schemaId: Long, snap: Long): Seq[(Long, String, String)] =
    query(s"SELECT view_id, view_name, sql_text FROM ducklake_view WHERE schema_id = ? AND $Vis ORDER BY view_name",
      Seq(schemaId, snap, snap))(rs =>
      (rs.getLong(1), rs.getString(2), rs.getString(3)))

  def listViews(schemaId: Long, snap: Long): Seq[String] =
    query(s"SELECT view_name FROM ducklake_view WHERE schema_id = ? AND $Vis ORDER BY view_name",
      Seq(schemaId, snap, snap))(_.getString(1))

  def dropView(schemaId: Long, name: String): Boolean = synchronized {
    val snap = currentSnapshot
    if (getView(schemaId, name, snap).isEmpty) false
    else {
      inSnapshotTxn { s =>
        val id = query(
          "SELECT view_id FROM ducklake_view WHERE schema_id = ? AND view_name = ? AND end_snapshot IS NULL",
          Seq(schemaId, name))(_.getLong(1)).headOption
        update("UPDATE ducklake_view SET end_snapshot = ? WHERE schema_id = ? AND view_name = ? AND end_snapshot IS NULL",
          Seq(s, schemaId, name))
        id.foreach(i => recordChange("views_dropped", i, i.toString))
      }
      true
    }
  }

  /** Snapshot ids at which this table changed (file adds/removals, delete
    * files, column changes, inlined rows) — DESCRIBE HISTORY-style.
    */
  def tableHistory(tableId: Long): Seq[Long] =
    query(
      """SELECT DISTINCT t.s FROM (
        |  SELECT begin_snapshot AS s FROM ducklake_data_file WHERE table_id = ?
        |  UNION SELECT end_snapshot AS s FROM ducklake_data_file WHERE table_id = ? AND end_snapshot IS NOT NULL
        |  UNION SELECT begin_snapshot AS s FROM ducklake_delete_file WHERE table_id = ?
        |  UNION SELECT begin_snapshot AS s FROM ducklake_column WHERE table_id = ?
        |  UNION SELECT begin_snapshot AS s FROM ducklake_inlined_data WHERE table_id = ?
        |  UNION SELECT end_snapshot AS s FROM ducklake_inlined_data WHERE table_id = ? AND end_snapshot IS NOT NULL
        |) AS t (s) ORDER BY t.s""".stripMargin,
      Seq(tableId, tableId, tableId, tableId, tableId, tableId))(_.getLong(1))

  /** Partition key columns of a table at `snap`, ordered by key index:
    * (partition_key_index, column_id). Empty = unpartitioned.
    */
  /** Partition keys at `snap`: (key index, source column_id, transform —
    * None = identity hive partitioning).
    */
  /** Live partition scheme id of a table at `snap`, if partitioned. */
  def currentPartitionId(tableId: Long, snap: Long): Option[Long] =
    query(s"SELECT partition_id FROM ducklake_partition_info WHERE table_id = ? AND $Vis",
      Seq(tableId, snap, snap))(_.getLong(1)).headOption

  /** ALTER TABLE … SET PARTITIONED BY / RESET PARTITIONED BY: end the
    * live scheme and (for SET) register a new one under a fresh catalog
    * entry id. New writes hive-partition under the new scheme; existing
    * files keep their layout and their recorded scheme id (DuckLake
    * partitioning-evolution semantics — corpus: partitioning/).
    */
  def setPartitionedBy(tableId: Long, keys: Seq[(Long, Option[String])]): Long =
    inSnapshotTxn { snap =>
      update("UPDATE ducklake_partition_column SET end_snapshot = ? WHERE table_id = ? AND end_snapshot IS NULL",
        Seq(snap, tableId))
      update("UPDATE ducklake_partition_info SET end_snapshot = ? WHERE table_id = ? AND end_snapshot IS NULL",
        Seq(snap, tableId))
      // RESET registers an EMPTY scheme (a real catalog entry — DuckDB
      // counts it in ducklake_partition_info; corpus: partition_nop.test)
      val pid = nextCatalogId()
      update("INSERT INTO ducklake_partition_info VALUES (?, ?, ?, NULL)",
        Seq(pid, tableId, snap))
      keys.zipWithIndex.foreach { case ((cid, transform), idx) =>
        update("INSERT INTO ducklake_partition_column VALUES (?, ?, ?, ?, NULL, ?, ?)",
          Seq(tableId, idx.toLong, cid, snap, transform.orNull, pid))
      }
      recordChange("tables_altered", tableId, tableId.toString)
      snap
    }

  def getPartitionColumns(tableId: Long, snap: Long): Seq[(Int, Long, Option[String])] =
    query(s"SELECT partition_key_index, column_id, transform FROM ducklake_partition_column WHERE table_id = ? AND $Vis ORDER BY partition_key_index",
      Seq(tableId, snap, snap))(rs => (rs.getInt(1), rs.getLong(2), Option(rs.getString(3))))

  /** Partition values of the table's files live at some snapshot in
    * [`from`, `snap`] (`from` = `snap`: the files of one snapshot):
    * data_file_id → (key_index → raw hive value, None = null/default
    * partition).
    */
  def getFilePartitionValues(tableId: Long, snap: Long,
      from: Long): Map[Long, Map[Int, Option[String]]] =
    query("SELECT v.data_file_id, v.partition_key_index, v.partition_value FROM ducklake_file_partition_value v JOIN ducklake_data_file f ON f.data_file_id = v.data_file_id WHERE v.table_id = ? AND f.begin_snapshot <= ? AND (f.end_snapshot IS NULL OR f.end_snapshot > ?)",
      Seq(tableId, snap, from))(rs => (rs.getLong(1), rs.getInt(2), Option(rs.getString(3))))
      .groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).toMap).toMap

  /** Per-file per-column stats for the given table, keyed by
    * (data_file_id, column_id): (nullCount, min, max). A SQL-NULL
    * null_count means "unknown" — file skipping must not prune on it.
    */
  def getFileStats(tableId: Long): Map[(Long, Long), (Option[Long], Option[String], Option[String])] = synchronized {
    if (txnOpen) return loadFileStats(tableId)
    val cur = currentSnapshot
    fileStatsCache.get(tableId) match {
      case Some((g, stats)) if g == cur => stats
      case _ =>
        val stats = loadFileStats(tableId)
        if (fileStatsCache.size >= planCacheMax)
          fileStatsCache.remove(fileStatsCache.head._1)
        fileStatsCache(tableId) = (cur, stats)
        stats
    }
  }

  private def loadFileStats(tableId: Long): Map[(Long, Long), (Option[Long], Option[String], Option[String])] =
    query("SELECT data_file_id, column_id, null_count, min_value, max_value FROM ducklake_file_column_stats WHERE table_id = ?",
      Seq(tableId)) { rs =>
      val nc = rs.getLong(3)
      val ncOpt = if (rs.wasNull()) None else Some(nc)
      (rs.getLong(1), rs.getLong(2)) ->
        (ncOpt, Option(rs.getString(4)), Option(rs.getString(5)))
    }.toMap

  /** Append-mode schema evolution rules: new columns must be nullable; the
    * type of a kept column may only change along the promotion lattice;
    * drops and reorders are allowed (reference:
    * src/metadata_writer_sqlite.rs:426-463).
    */
  private def validateEvolution(existing: Seq[ColumnDef], incoming: Seq[ColumnDef],
      tableId: Long, snap: Long): Unit = {
    val byName = existing.map(c => c.name -> c).toMap
    var maxId = existing.map(_.columnId).max
    var changed = false
    incoming.foreach { c =>
      byName.get(c.name) match {
        case Some(old) =>
          // a write in the column's CARRIER type (varchar for json,
          // signed width for unsigned) is not an evolution — the richer
          // declared type stays (DuckDB casts on insert)
          val carrierWrite = TypeBridge.toSpark(old.dtype) == TypeBridge.toSpark(c.dtype)
          if (!carrierWrite && !TypeBridge.typesCompatible(old.dtype, c.dtype))
            throw new UnsupportedTypeException(
              s"column ${c.name}: cannot change type ${old.dtype} -> ${c.dtype}")
          if (!carrierWrite &&
              TypeBridge.normalize(old.dtype) != TypeBridge.normalize(c.dtype)) changed = true
        case None =>
          if (!c.nullsAllowed)
            throw new UnsupportedException(
              s"cannot append with new non-nullable column ${c.name}")
          changed = true
      }
    }
    if (changed) {
      // end all current column rows and rewrite with merged defs, keeping ids
      update("UPDATE ducklake_column SET end_snapshot = ? WHERE table_id = ? AND end_snapshot IS NULL",
        Seq(snap, tableId))
      val merged = existing.map { old =>
        incoming.find(_.name == old.name) match {
          case Some(nc) if TypeBridge.isPromotable(old.dtype, nc.dtype) =>
            old.copy(dtype = TypeBridge.normalize(nc.dtype))
          case _ => old
        }
      } ++ incoming.filterNot(c => byName.contains(c.name)).map { c =>
        maxId += 1
        ColumnDef(maxId, 0L, c.name, TypeBridge.normalize(c.dtype), c.nullsAllowed)
      }
      merged.zipWithIndex.foreach { case (c, i) =>
        insertColumnRow(c.columnId, tableId, i.toLong, c.name, c.dtype,
          c.nullsAllowed, None, snap, c.initialDefault, c.defaultValue,
          c.defaultType)
      }
    }
  }

  /** One-snapshot commit of a row-level DELTA: new data files (appended
    * rows), refreshed positional delete files and ended inlined rows
    * together — the atomic unit under merge-on-read DELETE / UPDATE /
    * MERGE (changed rows become visible exactly when the old versions
    * disappear). Each of `deletes` is (data file id, the delete file its
    * positions were merged from, the new delete file), and the merged-from
    * file ends; a data file that has ended, or whose live delete file is
    * not the merged-from one, fails the commit with a
    * [[TransactionConflictException]], so no deleted position is lost.
    */
  def commitRowDelta(schemaName: String, tableName: String, cols: Seq[ColumnDef],
      newFiles: Seq[FileToRegister], deletes: Seq[(Long, Option[Long], FileToRegister)],
      endInlinedRowIds: Seq[Long]): Long =
    inSnapshotTxn { snap =>
      if (newFiles.nonEmpty)
        registerWrite(snap, TableWriteSpec(schemaName, tableName, cols,
          WriteMode.Append, newFiles))
      if (deletes.nonEmpty || endInlinedRowIds.nonEmpty) {
        val schema = getOrCreateSchema(schemaName, snap)
        val table = getTableByName(schema.schemaId, tableName, snap)
          .getOrElse(throw new TableNotFoundException(s"$schemaName.$tableName"))
        def conflict(dataFileId: Long, what: String) = new TransactionConflictException(
          s"$what data file $dataFileId of $schemaName.$tableName while its deletes merged")
        deletes.foreach { case (dataFileId, mergedFrom, f) =>
          if (query("SELECT 1 FROM ducklake_data_file WHERE data_file_id = ? AND end_snapshot IS NULL",
              Seq(dataFileId))(_ => ()).isEmpty)
            throw conflict(dataFileId, "another commit ended")
          val ended = mergedFrom match {
            case Some(d) => update("UPDATE ducklake_delete_file SET end_snapshot = ? WHERE delete_file_id = ? AND end_snapshot IS NULL",
              Seq(snap, d))
            case None => update("UPDATE ducklake_delete_file SET end_snapshot = ? WHERE data_file_id = ? AND end_snapshot IS NULL",
              Seq(snap, dataFileId))
          }
          if (ended != mergedFrom.size)
            throw conflict(dataFileId, "another commit changed the delete file of")
          val id = nextFileId()
          update("INSERT INTO ducklake_delete_file VALUES (?, ?, ?, ?, ?, ?, ?, NULL, ?, ?)",
            Seq(id, dataFileId, table.tableId, f.path, true, f.recordCount, snap,
              f.encryptionKey.orNull, f.fileSizeBytes))
        }
        endInlinedRowIds.foreach { rid =>
          update("UPDATE ducklake_inlined_data SET end_snapshot = ? WHERE table_id = ? AND row_id = ? AND end_snapshot IS NULL",
            Seq(snap, table.tableId, rid))
        }
        recordChange("tables_deleted_from", table.tableId, table.tableId.toString)
      }
      snap
    }

  /** One-snapshot file rewrite: end the given data files (and their
    * delete files) and register their replacements — the commit unit of
    * targeted maintenance (delete-ratio / small-file rewrites), touching
    * only the listed files.
    */
  /** Rewrite commit — the reference's "last snapshot" semantics
    * (corpus: rewrite_data_files/test_rewrite_db.test): the rewrite runs
    * in a fresh snapshot with an EMPTY change map (a rewrite is not a
    * user-visible change), but file visibility is BACKDATED to the
    * table's last-modifying snapshot — old files end there, the merged
    * file begins there — so time travel at that snapshot already reads
    * the compacted file. A delete file that BEGAN at the backdate point
    * serves no snapshot anymore: its row is removed outright and the
    * physical file scheduled for deletion.
    */
  def commitFileRewrites(schemaName: String, tableName: String,
      cols: Seq[ColumnDef], endFileIds: Seq[Long],
      newFiles: Seq[FileToRegister]): Long =
    inSnapshotTxn { snap =>
      val schema = getSchemaByName(schemaName, snap)
        .getOrElse(throw new SchemaNotFoundException(schemaName))
      val table = getTableByName(schema.schemaId, tableName, snap)
        .getOrElse(throw new TableNotFoundException(s"$schemaName.$tableName"))
      val tid = table.tableId
      val backSnap = (
        query("SELECT COALESCE(MAX(begin_snapshot), -1) FROM ducklake_data_file WHERE table_id = ? AND end_snapshot IS NULL",
          Seq(tid))(_.getLong(1)) ++
        query("SELECT COALESCE(MAX(begin_snapshot), -1) FROM ducklake_delete_file WHERE table_id = ? AND end_snapshot IS NULL",
          Seq(tid))(_.getLong(1))).max match {
          case -1L => snap
          case b   => b
        }
      endFileIds.foreach { fid =>
        // a delete file born AT the backdate point never serves a
        // snapshot once the rewrite lands — drop the row, schedule bytes
        val bornAt = query(
          "SELECT path, path_is_relative FROM ducklake_delete_file WHERE data_file_id = ? AND end_snapshot IS NULL AND begin_snapshot = ?",
          Seq(fid, backSnap))(rs => (rs.getString(1), rs.getBoolean(2)))
        bornAt.foreach { case (p, rel) =>
          update("INSERT INTO ducklake_files_scheduled_for_deletion VALUES (?, CURRENT_TIMESTAMP)",
            Seq(if (rel)
              s"${schema.path.stripSuffix("/")}/${table.path.stripSuffix("/")}/$p"
            else p))
        }
        update("DELETE FROM ducklake_delete_file WHERE data_file_id = ? AND end_snapshot IS NULL AND begin_snapshot = ?",
          Seq(fid, backSnap))
        update("UPDATE ducklake_data_file SET end_snapshot = ? WHERE data_file_id = ? AND end_snapshot IS NULL",
          Seq(backSnap, fid))
        update("UPDATE ducklake_delete_file SET end_snapshot = ? WHERE data_file_id = ? AND end_snapshot IS NULL",
          Seq(backSnap, fid))
      }
      if (newFiles.nonEmpty) {
        val mark = pendingChanges.size
        registerWrite(snap, TableWriteSpec(schemaName, tableName, cols,
          WriteMode.Append, newFiles))
        // not a user-visible change: the rewrite snapshot renders {} —
        // but the conflict detector still sees the reorganization
        pendingChanges.remove(mark, pendingChanges.size - mark)
        recordChange("_files_rewritten", tid, tid.toString)
        newFiles.foreach { f =>
          update("UPDATE ducklake_data_file SET begin_snapshot = ? WHERE table_id = ? AND path = ? AND end_snapshot IS NULL",
            Seq(backSnap, tid, f.path))
        }
      }
      snap
    }

  /** Flush inlined rows to ONE registered parquet file that keeps each
    * row's stable id and commit snapshot (segment map). The file is
    * registered at the EARLIEST inlined snapshot, so post-flush scans,
    * time travel, and change feeds are indistinguishable from pre-flush
    * (reference behavior — tests/sqllogictests/sql/data_inlining/
    * data_inlining_flush.test: rowid/snapshot_id stable across the
    * flush, `table_changes` ranges that cover the first inlined snapshot
    * keep resolving, ranges past it go empty). The LIVE inlined rows are
    * deleted outright — the file now owns their whole history; rows
    * already ended (inline deletes) stay for the deletion feed.
    */
  def commitFlushInlined(schemaName: String, tableName: String,
      file: FileToRegister, segments: Seq[FileSegment],
      statColIds: Map[String, Long]): Long = inSnapshotTxn { snap =>
    val schema = getSchemaByName(schemaName, snap)
      .getOrElse(throw new SchemaNotFoundException(schemaName))
    val table = getTableByName(schema.schemaId, tableName, snap)
      .getOrElse(throw new TableNotFoundException(s"$schemaName.$tableName"))
    val begin = segments.map(_.beginSnapshot).min
    val id = nextFileId()
    // write_epoch = THIS snapshot: the file is written under the current
    // column schema even though its visibility starts at `begin`
    update("INSERT INTO ducklake_data_file VALUES (?, ?, ?, ?, ?, ?, ?, ?, NULL, ?, ?, ?, ?, ?)",
      Seq(id, table.tableId, file.path, file.pathIsRelative, file.recordCount,
        file.fileSizeBytes, file.footerSize, begin, file.encryptionKey.orNull,
        snap, file.mappingId.map(Long.box).orNull,
        segments.headOption.flatMap(_.rowIdStart).map(Long.box).orNull,
        currentPartitionId(table.tableId, snap).map(Long.box).orNull))
    segments.zipWithIndex.foreach { case (s, i) =>
      update("INSERT INTO ducklake_partial_file_info VALUES (?, ?, ?, ?, ?, ?)",
        Seq(id, i.toLong, s.beginSnapshot, s.startPos, s.rowCount,
          s.rowIdStart.map(Long.box).orNull))
    }
    file.stats.foreach { st =>
      statColIds.get(st.columnName).foreach { cid =>
        update("INSERT INTO ducklake_file_column_stats VALUES (?, ?, ?, ?, ?, ?, ?, ?)",
          Seq(id, table.tableId, cid, st.valueCount,
            st.nullCount.map(Long.box).orNull,
            st.minValue.orNull, st.maxValue.orNull, st.extraStats.orNull))
      }
    }
    update("DELETE FROM ducklake_inlined_data WHERE table_id = ? AND end_snapshot IS NULL",
      Seq(table.tableId))
    recordChange("flushed_inlined", table.tableId, table.tableId.toString)
    snap
  }

  /** Commit adjacent-file merges (DuckLake `merge_adjacent_files`): each
    * merged file REPLACES its sources across ALL history — it is
    * registered with the FIRST source's begin_snapshot and a segment map,
    * the source rows are deleted outright (not ended), and their physical
    * paths go to the deletion schedule, so time travel keeps resolving
    * through the merged file's segment prefixes. Every merged run of one
    * call registers in ONE snapshot (the reference's per-call accounting — corpus:
    * compaction/compaction_partitioned_non_adjacent.test snapshot ids).
    */
  def commitMergeAdjacentAll(schemaName: String, tableName: String,
      groups: Seq[(Seq[DataFileRec], FileToRegister, Long, Seq[FileSegment],
        Long, Map[String, Long])]): Long = inSnapshotTxn { snap =>
    groups.foreach { case (removed, file, beginSnapshot, segments, writeEpoch,
        statColIds) =>
    val schema = getSchemaByName(schemaName, snap)
      .getOrElse(throw new SchemaNotFoundException(schemaName))
    // internal journal entry (never rendered): compactions conflict with
    // concurrent deletes/compactions of the same table
    getTableByName(schema.schemaId, tableName, snap).foreach(t =>
      recordChange("_files_compacted", t.tableId, t.tableId.toString))
    val table = getTableByName(schema.schemaId, tableName, snap)
      .getOrElse(throw new TableNotFoundException(s"$schemaName.$tableName"))
    val colIds = statColIds
    val id = nextFileId()
    update("INSERT INTO ducklake_data_file VALUES (?, ?, ?, ?, ?, ?, ?, ?, NULL, ?, ?, ?, ?, ?)",
      Seq(id, table.tableId, file.path, file.pathIsRelative, file.recordCount,
        file.fileSizeBytes, file.footerSize, beginSnapshot, file.encryptionKey.orNull,
        writeEpoch, file.mappingId.map(Long.box).orNull,
        segments.headOption.flatMap(_.rowIdStart).map(Long.box).orNull,
        currentPartitionId(table.tableId, snap).map(Long.box).orNull))
    segments.zipWithIndex.foreach { case (s, i) =>
      update("INSERT INTO ducklake_partial_file_info VALUES (?, ?, ?, ?, ?, ?)",
        Seq(id, i.toLong, s.beginSnapshot, s.startPos, s.rowCount,
          s.rowIdStart.map(Long.box).orNull))
    }
    file.partitionValues.zipWithIndex.foreach { case (v, idx) =>
      update("INSERT INTO ducklake_file_partition_value VALUES (?, ?, ?, ?)",
        Seq(id, table.tableId, idx.toLong, v.orNull))
    }
    file.stats.foreach { st =>
      colIds.get(st.columnName).foreach { cid =>
        update("INSERT INTO ducklake_file_column_stats VALUES (?, ?, ?, ?, ?, ?, ?, ?)",
          Seq(id, table.tableId, cid, st.valueCount,
            st.nullCount.map(Long.box).orNull,
            st.minValue.orNull, st.maxValue.orNull, st.extraStats.orNull))
      }
    }
    removed.foreach { f =>
      Seq("ducklake_file_column_stats", "ducklake_file_partition_value",
        "ducklake_partial_file_info", "ducklake_data_file").foreach { t =>
        update(s"DELETE FROM $t WHERE data_file_id = ?", Seq(f.dataFileId))
      }
      // adopted files live at their registered (absolute) path; merged-
      // away they are scheduled too — the reference deletes them on
      // cleanup (corpus: add_files/add_files_compaction.test)
      update("INSERT INTO ducklake_files_scheduled_for_deletion VALUES (?, CURRENT_TIMESTAMP)",
        Seq(if (f.pathIsRelative)
          s"${schema.path.stripSuffix("/")}/${table.path.stripSuffix("/")}/${f.path}"
        else f.path))
    }
    }
    snap
  }

  /** Expire snapshots with id < `before` (the newest snapshot is never
    * expired): time travel below the cutoff stops resolving, and files
    * whose validity ended at or below the new minimum become vacuum
    * candidates (DuckLake `ducklake_expire_snapshots` semantics). Returns
    * the expired ids.
    */
  def expireSnapshots(before: Long): Seq[Long] = synchronized {
    clearPlanCache()
    val cutoff = math.min(before, currentSnapshot)
    val expired = query(
      "SELECT snapshot_id FROM ducklake_snapshot WHERE snapshot_id < ? ORDER BY snapshot_id",
      Seq(cutoff))(_.getLong(1))
    if (expired.nonEmpty) {
      update("DELETE FROM ducklake_snapshot WHERE snapshot_id < ?", Seq(cutoff))
      update("DELETE FROM ducklake_snapshot_changes WHERE snapshot_id < ?", Seq(cutoff))
      scheduleExpiredFiles() // two-phase: orphans go to the schedule now
    }
    expired
  }

  /** Expire an explicit snapshot list (`ducklake_expire_snapshots(versions
    * => […])`); the newest snapshot is never expired. Fully-expired
    * catalog rows are purged and orphaned files scheduled for deletion
    * (phase 2 = `cleanup_old_files`). Returns the ids actually expired.
    */
  def expireSnapshotIds(ids: Seq[Long]): Seq[Long] = synchronized {
    val newest = currentSnapshot
    val candidates = ids.distinct.filter(_ < newest)
    val expired = candidates.filter { id =>
      val existed = query(
        "SELECT snapshot_id FROM ducklake_snapshot WHERE snapshot_id = ?",
        Seq(id))(_.getLong(1)).nonEmpty
      if (existed) {
        update("DELETE FROM ducklake_snapshot WHERE snapshot_id = ?", Seq(id))
        update("DELETE FROM ducklake_snapshot_changes WHERE snapshot_id = ?", Seq(id))
      }
      existed
    }
    if (expired.nonEmpty) scheduleExpiredFiles()
    expired
  }

  // ---------- scoped options (DuckLake `set_option`) ----------

  /** Set a lake option; scope precedence at read time is
    * table > schema > global (DuckLake `ducklake.set_option` semantics).
    * Stored in ducklake_metadata under a scope-qualified key.
    */
  def setOption(key: String, value: String, schema: Option[String] = None,
      table: Option[String] = None): Unit = {
    val k = (schema, table) match {
      case (Some(s), Some(t)) => s"opt:$key:table:$s.$t"
      case (Some(s), None)    => s"opt:$key:schema:$s"
      case (None, Some(t))    => s"opt:$key:table:main.$t"
      case (None, None)       => s"opt:$key"
    }
    setMetadata(k, value)
  }

  /** Most-specific value of an option for a table scope. */
  def getOption(key: String, schema: String, table: String): Option[String] =
    optionsOf(schema, table)(key)

  /** [[getOption]] of table scope `schema.table` for any key, over one
    * read of every option row.
    */
  def optionsOf(schema: String, table: String): String => Option[String] = {
    val opts = query("SELECT meta_key, meta_value FROM ducklake_metadata WHERE meta_key LIKE 'opt:%'")(
      rs => rs.getString(1) -> rs.getString(2)).toMap
    key => opts.get(s"opt:$key:table:$schema.$table")
      .orElse(opts.get(s"opt:$key:schema:$schema"))
      .orElse(opts.get(s"opt:$key"))
  }

  /** Remove catalog rows for files visible at NO retained snapshot
    * (`end_snapshot <= min(retained)`) and return their resolved
    * (schema, table, path) triples so the caller can delete the physical
    * files (DuckLake `ducklake_cleanup_old_files` semantics). One SQL
    * transaction; no new snapshot is created.
    */
  def purgeExpiredFiles(): Seq[(String, String, String)] = synchronized {
    clearPlanCache()
    // a catalog row is expired when NO retained snapshot falls inside its
    // validity window [begin, end) — after version-list expiry this also
    // catches rows whose entire audience was expired from the middle of
    // history (corpus: compaction/expire_snapshots.test)
    def gone(a: String) =
      s"""$a.end_snapshot IS NOT NULL AND NOT EXISTS (
         |  SELECT 1 FROM ducklake_snapshot sn
         |  WHERE sn.snapshot_id >= $a.begin_snapshot
         |    AND sn.snapshot_id < $a.end_snapshot)""".stripMargin
    val naming =
      """JOIN ducklake_table t ON f.table_id = t.table_id
        |JOIN ducklake_schema s ON t.schema_id = s.schema_id""".stripMargin
    // a physical file is only deletable when NO live row anywhere still
    // references its path — rollback-revived and cloned rows share paths
    // with the rows they were copied from
    def noLiveRef(tbl: String) =
      s"""NOT EXISTS (SELECT 1 FROM $tbl f2 WHERE f2.path = f.path
         |AND NOT (${gone("f2")}))""".stripMargin
    val dataFiles = query(
      s"SELECT s.path, t.path, f.path FROM ducklake_data_file f $naming WHERE ${gone("f")} AND ${noLiveRef("ducklake_data_file")}")(
      rs => (rs.getString(1), rs.getString(2), rs.getString(3)))
    val delFiles = query(
      s"SELECT s.path, t.path, f.path FROM ducklake_delete_file f $naming WHERE ${gone("f")} AND ${noLiveRef("ducklake_delete_file")}")(
      rs => (rs.getString(1), rs.getString(2), rs.getString(3)))
    conn.setAutoCommit(false)
    try {
      update("DELETE FROM ducklake_file_column_stats WHERE data_file_id IN " +
        s"""(SELECT data_file_id FROM ducklake_data_file f WHERE ${gone("f")})""")
      update("DELETE FROM ducklake_file_partition_value WHERE data_file_id IN " +
        s"""(SELECT data_file_id FROM ducklake_data_file f WHERE ${gone("f")})""")
      update("DELETE FROM ducklake_partial_file_info WHERE data_file_id IN " +
        s"""(SELECT data_file_id FROM ducklake_data_file f WHERE ${gone("f")})""")
      Seq("ducklake_data_file", "ducklake_delete_file", "ducklake_inlined_data")
        .foreach(t => update(s"DELETE FROM $t f WHERE ${gone("f")}"))
      // catalog objects whose whole lifetime was expired: dropped tables,
      // their columns and partition keys (the reference leaves zero trace)
      Seq("ducklake_column", "ducklake_partition_column", "ducklake_view")
        .foreach(t => update(s"DELETE FROM $t f WHERE ${gone("f")}"))
      // a table_id is only DEAD when no table row for it survives: a
      // rename shares the id between the expired old-name row and the
      // live new-name row, and purging by id would strip the renamed
      // table's columns (reference bug — corpus:
      // alter/expire_snapshot_bug.test)
      query(s"""SELECT f.table_id FROM ducklake_table f WHERE ${gone("f")}
               |AND NOT EXISTS (SELECT 1 FROM ducklake_table t2
               |  WHERE t2.table_id = f.table_id AND NOT (${gone("t2")}))""".stripMargin)(
        _.getLong(1)).foreach { tid =>
        Seq("ducklake_column", "ducklake_partition_column",
          "ducklake_file_partition_value", "ducklake_inlined_data").foreach(t =>
          update(s"DELETE FROM $t WHERE table_id = ?", Seq(tid)))
        update("DELETE FROM ducklake_file_column_stats WHERE table_id = ?", Seq(tid))
        update("DELETE FROM ducklake_table_column_stats WHERE table_id = ?", Seq(tid))
      }
      update(s"""DELETE FROM ducklake_table f WHERE ${gone("f")}""")
      update(s"""DELETE FROM ducklake_schema f WHERE ${gone("f")}""")
      conn.commit()
    } catch {
      case e: Throwable => conn.rollback(); throw e
    } finally conn.setAutoCommit(true)
    dataFiles ++ delFiles
  }

  /** Two-phase vacuum, phase 1: purge expired catalog rows and SCHEDULE
    * their now-unreferenced physical files for deletion (DuckLake spec
    * `ducklake_files_scheduled_for_deletion`) instead of deleting bytes
    * inline — readers that pinned an old snapshot before the expiry keep
    * working until phase 2 runs. Returns the number scheduled.
    */
  def scheduleExpiredFiles(): Int = synchronized {
    clearPlanCache()
    val files = purgeExpiredFiles()
    files.foreach { case (sch, tbl, p) =>
      update("INSERT INTO ducklake_files_scheduled_for_deletion VALUES (?, CURRENT_TIMESTAMP)",
        Seq(s"${sch.stripSuffix("/")}/${tbl.stripSuffix("/")}/$p"))
    }
    files.size
  }

  /** Scheduled deletions at or before `cutoff` (relative paths under the
    * data root).
    */
  def scheduledDeletions(cutoff: java.sql.Timestamp): Seq[String] =
    query("SELECT path FROM ducklake_files_scheduled_for_deletion WHERE schedule_ts <= ?",
      Seq(cutoff))(_.getString(1))

  /** Drop one scheduled-deletion row (after its physical delete). */
  def unschedule(path: String): Unit =
    update("DELETE FROM ducklake_files_scheduled_for_deletion WHERE path = ?", Seq(path))

  /** Restore a table to the logical state `target` saw — data files,
    * delete files, inlined rows, columns and partition keys — as a NEW
    * snapshot. History between target and now stays queryable
    * (Iceberg-style rollback; the reference and the DuckLake spec have no
    * rollback — extension). Zero data movement: revived files are fresh
    * catalog rows sharing the old paths, with `write_epoch` preserved so
    * rename-epoch projection still resolves their physical column names.
    * Minimal diff: rows whose validity spans both snapshots are left
    * untouched, so CDC over the rollback snapshot shows only real changes.
    */
  def rollbackTable(tableId: Long, target: Long): Long = inSnapshotTxn { snap =>
    if (!snapshotExists(target))
      throw new InvalidSnapshotException(s"unknown snapshot: $target")

    // --- data files ---------------------------------------------------
    case class F(id: Long, path: String, rel: Boolean, rc: Long, size: Long,
        footer: Long, key: String, epoch: Long, mapping: Option[Long],
        rowStart: Option[Long])
    def filesAt(s: Long): Seq[F] = query(
      s"SELECT data_file_id, path, path_is_relative, record_count, file_size_bytes, footer_size, encryption_key, write_epoch, mapping_id, row_id_start FROM ducklake_data_file WHERE table_id = ? AND $Vis",
      Seq(tableId, s, s))(rs => F(rs.getLong(1), rs.getString(2), rs.getBoolean(3),
      rs.getLong(4), rs.getLong(5), rs.getLong(6), rs.getString(7), rs.getLong(8),
      { val m = rs.getLong(9); if (rs.wasNull()) None else Some(m) },
      { val r = rs.getLong(10); if (rs.wasNull()) None else Some(r) }))
    val nowF = filesAt(snap)
    val tgtF = filesAt(target)
    val nowIds = nowF.map(_.id).toSet
    val tgtIds = tgtF.map(_.id).toSet
    nowF.filterNot(f => tgtIds(f.id)).foreach { f =>
      update("UPDATE ducklake_data_file SET end_snapshot = ? WHERE data_file_id = ?",
        Seq(snap, f.id))
    }
    val idMap: Map[Long, Long] = tgtF.filterNot(f => nowIds(f.id)).map { f =>
      val nid = nextFileId()
      update("INSERT INTO ducklake_data_file VALUES (?, ?, ?, ?, ?, ?, ?, ?, NULL, ?, ?, ?, ?, NULL)",
        Seq(nid, tableId, f.path, f.rel, f.rc, f.size, f.footer, snap, f.key, f.epoch,
          f.mapping.map(Long.box).orNull, f.rowStart.map(Long.box).orNull))
      update("INSERT INTO ducklake_file_column_stats " +
        "SELECT CAST(? AS BIGINT), table_id, column_id, value_count, null_count, min_value, max_value, extra_stats " +
        "FROM ducklake_file_column_stats WHERE data_file_id = ?", Seq(nid, f.id))
      update("INSERT INTO ducklake_file_partition_value " +
        "SELECT CAST(? AS BIGINT), table_id, partition_key_index, partition_value " +
        "FROM ducklake_file_partition_value WHERE data_file_id = ?", Seq(nid, f.id))
      f.id -> nid
    }.toMap

    // --- delete files -------------------------------------------------
    case class D(id: Long, dataFileId: Long, path: String, rel: Boolean,
        rc: Long, key: String, size: Long)
    def delsAt(s: Long): Seq[D] = query(
      s"SELECT delete_file_id, data_file_id, path, path_is_relative, record_count, encryption_key, file_size_bytes FROM ducklake_delete_file WHERE table_id = ? AND $Vis",
      Seq(tableId, s, s))(rs => D(rs.getLong(1), rs.getLong(2), rs.getString(3),
      rs.getBoolean(4), rs.getLong(5), rs.getString(6), rs.getLong(7)))
    val nowD = delsAt(snap)
    val tgtD = delsAt(target)
    val tgtDIds = tgtD.map(_.id).toSet
    nowD.filterNot(d => tgtDIds(d.id)).foreach { d =>
      update("UPDATE ducklake_delete_file SET end_snapshot = ? WHERE delete_file_id = ?",
        Seq(snap, d.id))
    }
    val nowDIds = nowD.map(_.id).toSet
    tgtD.filterNot(d => nowDIds(d.id)).foreach { d =>
      val nid = nextFileId()
      update("INSERT INTO ducklake_delete_file VALUES (?, ?, ?, ?, ?, ?, ?, NULL, ?, ?)",
        Seq(nid, idMap.getOrElse(d.dataFileId, d.dataFileId), tableId, d.path,
          d.rel, d.rc, snap, d.key, d.size))
    }

    // --- inlined rows -------------------------------------------------
    def inlAt(s: Long): Map[Long, String] = query(
      s"SELECT row_id, row_json FROM ducklake_inlined_data WHERE table_id = ? AND $Vis",
      Seq(tableId, s, s))(rs => rs.getLong(1) -> rs.getString(2)).toMap
    val nowI = inlAt(snap)
    val tgtI = inlAt(target)
    nowI.keysIterator.filterNot(tgtI.contains).foreach { rid =>
      update("UPDATE ducklake_inlined_data SET end_snapshot = ? WHERE table_id = ? AND row_id = ? AND end_snapshot IS NULL",
        Seq(snap, tableId, rid))
    }
    tgtI.filterNot { case (rid, _) => nowI.contains(rid) }.foreach { case (rid, json) =>
      update("INSERT INTO ducklake_inlined_data VALUES (?, ?, ?, NULL, ?)",
        Seq(tableId, rid, snap, json))
    }

    // --- columns (full tuple identity, rename/add/drop restoration) ---
    case class C(columnId: Long, order: Long, name: String, dtype: String,
        nulls: Boolean, parent: Option[Long], default: Option[String],
        dv: Option[String], dt: String)
    def colsAt(s: Long): Seq[C] = query(
      s"SELECT column_id, column_order, column_name, column_type, nulls_allowed, parent_column, initial_default, default_value, default_value_type FROM ducklake_column WHERE table_id = ? AND $Vis",
      Seq(tableId, s, s))(rs => C(rs.getLong(1), rs.getLong(2), rs.getString(3),
      rs.getString(4), rs.getBoolean(5),
      { val p = rs.getLong(6); if (rs.wasNull()) None else Some(p) },
      Option(rs.getString(7)), Option(rs.getString(8)), rs.getString(9)))
    val nowC = colsAt(snap)
    val tgtC = colsAt(target)
    nowC.filterNot(tgtC.contains).foreach { c =>
      update("UPDATE ducklake_column SET end_snapshot = ? WHERE table_id = ? AND column_id = ? AND end_snapshot IS NULL",
        Seq(snap, tableId, c.columnId))
    }
    tgtC.filterNot(nowC.contains).foreach { c =>
      insertColumnRow(c.columnId, tableId, c.order, c.name, c.dtype, c.nulls,
        c.parent, snap, c.default, c.dv, c.dt)
    }

    // --- partition keys ----------------------------------------------
    def partsAt(s: Long): Seq[(Long, Long, Option[String])] = query(
      s"SELECT partition_key_index, column_id, transform FROM ducklake_partition_column WHERE table_id = ? AND $Vis",
      Seq(tableId, s, s))(rs => (rs.getLong(1), rs.getLong(2), Option(rs.getString(3))))
    val nowP = partsAt(snap)
    val tgtP = partsAt(target)
    nowP.filterNot(tgtP.contains).foreach { case (idx, cid, _) =>
      update("UPDATE ducklake_partition_column SET end_snapshot = ? WHERE table_id = ? AND partition_key_index = ? AND column_id = ? AND end_snapshot IS NULL",
        Seq(snap, tableId, idx, cid))
    }
    tgtP.filterNot(nowP.contains).foreach { case (idx, cid, t) =>
      update("INSERT INTO ducklake_partition_column VALUES (?, ?, ?, ?, NULL, ?, NULL)",
        Seq(tableId, idx, cid, snap, t.orNull))
    }
    snap
  }

  /** Zero-copy (shallow) clone: a new table whose initial state references
    * the source's current data/delete files without moving any bytes
    * (Delta/Iceberg shallow-clone semantics — extension). Column history
    * is copied verbatim so shared files' rename-epoch projection resolves;
    * vacuum only deletes a physical file once NO live row references its
    * path. Returns the new table_id.
    */
  def cloneTable(schemaName: String, srcTableId: Long, dstName: String): Long =
    inSnapshotTxn { snap =>
      PathResolver.validateEntityName(dstName)
      val sch = getSchemaByName(schemaName, snap)
        .getOrElse(throw new SchemaNotFoundException(schemaName))
      if (getTableByName(sch.schemaId, dstName, snap).isDefined)
        throw new UnsupportedException(s"table already exists: $schemaName.$dstName")
      val src = query(
        s"SELECT schema_id, path, path_is_relative FROM ducklake_table WHERE table_id = ? AND $Vis",
        Seq(srcTableId, snap, snap))(rs => (rs.getLong(1), rs.getString(2), rs.getBoolean(3)))
        .headOption.getOrElse(throw new TableNotFoundException(s"table_id $srcTableId"))
      // relative paths resolve under the schema dir, so a cross-schema
      // clone would point at the wrong directory
      if (src._1 != sch.schemaId)
        throw new UnsupportedException("cross-schema clone is not supported")
      val tid = nextCatalogId()
      // the clone points at the source's directory: new files written to
      // either table land there under fresh UUID names
      update("INSERT INTO ducklake_table VALUES (?, ?, ?, ?, ?, ?, NULL)",
        Seq(tid, sch.schemaId, dstName, src._2, src._3, snap))
      // full column history (original validity) — files keep write epochs
      update("INSERT INTO ducklake_column SELECT column_id, CAST(? AS BIGINT), column_order, " +
        "column_name, column_type, nulls_allowed, parent_column, begin_snapshot, " +
        "end_snapshot, initial_default, default_value, default_value_type, " +
        "default_value_dialect FROM ducklake_column WHERE table_id = ?", Seq(tid, srcTableId))
      update("INSERT INTO ducklake_partition_column SELECT CAST(? AS BIGINT), partition_key_index, " +
        "column_id, begin_snapshot, end_snapshot, transform, partition_id FROM ducklake_partition_column " +
        "WHERE table_id = ?", Seq(tid, srcTableId))
      update("INSERT INTO ducklake_partition_info SELECT partition_id, CAST(? AS BIGINT), " +
        "begin_snapshot, end_snapshot FROM ducklake_partition_info WHERE table_id = ?",
        Seq(tid, srcTableId))
      // adopted-file name mappings resolve per table: mirror the rows so
      // the clone's scans find them under its own table_id
      update("INSERT INTO ducklake_column_mapping SELECT mapping_id, CAST(? AS BIGINT), map_type " +
        "FROM ducklake_column_mapping WHERE table_id = ?", Seq(tid, srcTableId))
      // current-visible data files: fresh ids, shared paths, kept epochs
      val files = query(
        s"SELECT data_file_id, path, path_is_relative, record_count, file_size_bytes, footer_size, encryption_key, write_epoch, mapping_id, row_id_start FROM ducklake_data_file WHERE table_id = ? AND $Vis",
        Seq(srcTableId, snap, snap))(rs => (rs.getLong(1), rs.getString(2),
        rs.getBoolean(3), rs.getLong(4), rs.getLong(5), rs.getLong(6),
        rs.getString(7), rs.getLong(8),
        { val m = rs.getLong(9); if (rs.wasNull()) None else Some(m) },
        { val r = rs.getLong(10); if (rs.wasNull()) None else Some(r) }))
      val idMap = files.map { case (fid, path, rel, rc, size, footer, key, epoch, mapping, rowStart) =>
        val nid = nextFileId()
        update("INSERT INTO ducklake_data_file VALUES (?, ?, ?, ?, ?, ?, ?, ?, NULL, ?, ?, ?, ?, NULL)",
          Seq(nid, tid, path, rel, rc, size, footer, snap, key, epoch,
            mapping.map(Long.box).orNull, rowStart.map(Long.box).orNull))
        update("INSERT INTO ducklake_file_column_stats " +
          "SELECT CAST(? AS BIGINT), CAST(? AS BIGINT), column_id, value_count, null_count, min_value, max_value, extra_stats " +
          "FROM ducklake_file_column_stats WHERE data_file_id = ?", Seq(nid, tid, fid))
        update("INSERT INTO ducklake_file_partition_value " +
          "SELECT CAST(? AS BIGINT), CAST(? AS BIGINT), partition_key_index, partition_value " +
          "FROM ducklake_file_partition_value WHERE data_file_id = ?", Seq(nid, tid, fid))
        fid -> nid
      }.toMap
      // newest visible delete file per data file carries the MOR state
      query(
        s"SELECT delete_file_id, data_file_id, path, path_is_relative, record_count, encryption_key, file_size_bytes FROM ducklake_delete_file WHERE table_id = ? AND $Vis",
        Seq(srcTableId, snap, snap))(rs => (rs.getLong(2), rs.getString(3),
        rs.getBoolean(4), rs.getLong(5), rs.getString(6), rs.getLong(7)))
        .foreach { case (dataFileId, path, rel, rc, key, size) =>
          val nid = nextFileId()
          update("INSERT INTO ducklake_delete_file VALUES (?, ?, ?, ?, ?, ?, ?, NULL, ?, ?)",
            Seq(nid, idMap.getOrElse(dataFileId, dataFileId), tid, path, rel, rc,
              snap, key, size))
        }
      update("INSERT INTO ducklake_inlined_data SELECT CAST(? AS BIGINT), row_id, CAST(? AS BIGINT), CAST(NULL AS BIGINT), row_json " +
        s"FROM ducklake_inlined_data WHERE table_id = ? AND $Vis",
        Seq(tid, snap, srcTableId, snap, snap))
      recordChange("tables_created", tid, s"$schemaName.$dstName")
      tid
    }

  /** Rename a column: end the current row, insert a row with the same
    * column_id and the new name (field-id-style rename, reference:
    * src/column_rename.rs + src/types.rs:440-498).
    */
  def renameColumn(tableId: Long, oldName: String, newName: String): Long =
    inSnapshotTxn { snap =>
      forbidTxnLocalInlined(tableId)
      PathResolver.validateName(newName)
      val cols = getTableColumns(tableId, snap)
      val c = cols.find(_.name == oldName).getOrElse(
        throw new InternalException(s"column not found: $oldName"))
      if (cols.exists(_.name == newName))
        throw new UnsupportedException(s"column already exists: $newName")
      update("UPDATE ducklake_column SET end_snapshot = ? WHERE table_id = ? AND column_id = ? AND end_snapshot IS NULL",
        Seq(snap, tableId, c.columnId))
      insertColumnRow(c.columnId, tableId, c.order, newName, c.dtype,
        c.nullsAllowed, None, snap, c.initialDefault, c.defaultValue, c.defaultType)
      recordChange("tables_altered", tableId, tableId.toString)
      snap
    }

  /** ALTERing a table that holds TRANSACTION-LOCAL inlined rows is
    * rejected — the inlined JSON was encoded under the pre-ALTER shape
    * inside this very transaction (reference:
    * data_inlining/data_inlining_transaction_local_alter.test).
    */
  private def forbidTxnLocalInlined(tableId: Long): Unit =
    openTransactionSnapshot.foreach { snap =>
      val n = query(
        "SELECT COUNT(*) FROM ducklake_inlined_data WHERE table_id = ? AND begin_snapshot = ?",
        Seq(tableId, snap))(_.getLong(1)).headOption.getOrElse(0L)
      if (n > 0) throw new UnsupportedException(
        "cannot ALTER a table with transaction-local inlined data")
    }

  /** Add a nullable column (files written earlier read it as null via the
    * epoch projection). A fresh column_id is allocated past every id the
    * table ever used, so dropped ids are never reused.
    */
  def addColumn(tableId: Long, name: String, dtype: String,
      initialDefault: Option[String] = None, nullsAllowed: Boolean = true): Long =
    inSnapshotTxn { snap =>
      forbidTxnLocalInlined(tableId)
      PathResolver.validateName(name)
      // ADD COLUMN NOT NULL needs a default: existing rows would otherwise
      // read NULL in violation (reference: constraints/not_null.test)
      if (!nullsAllowed && initialDefault.isEmpty)
        throw new ConstraintViolationException(
          s"cannot add NOT NULL column $name without a default value")
      val cols = getTableColumns(tableId, snap)
      if (cols.exists(_.name == name))
        throw new UnsupportedException(s"column already exists: $name")
      val newId = maxColumnId(tableId) + 1
      val order = cols.map(_.order).maxOption.getOrElse(-1L) + 1
      val (dv, dt) = ColumnDefaults.derive(initialDefault)
      insertColumnRow(newId, tableId, order, name, TypeBridge.normalize(dtype),
        nullsAllowed, None, snap, initialDefault, dv, dt)
      recordChange("tables_altered", tableId, tableId.toString)
      snap
    }

  /** ALTER COLUMN … SET DATA TYPE: explicit promotion along the same
    * lattice appends use — old files read through their epoch types and
    * cast up (reference: tests/sqllogictests/sql/alter/promote_type.test).
    */
  def alterColumnType(tableId: Long, name: String, newType: String,
      nestedAdd: Option[(String, String, String)] = None,
      nestedEnd: Seq[String] = Nil,
      nestedRename: Seq[(String, String)] = Nil): Long =
    inSnapshotTxn { snap =>
      val c = getTableColumns(tableId, snap).find(_.name == name).getOrElse(
        throw new InternalException(s"column $name does not exist"))
      val nt = TypeBridge.normalize(newType)
      if (TypeBridge.normalize(c.dtype) == nt && nestedAdd.isEmpty &&
        nestedEnd.isEmpty && nestedRename.isEmpty) snap
      else {
        if (!TypeBridge.typesCompatible(c.dtype, nt))
          throw new UnsupportedTypeException(
            s"column $name: type can only be widened along the promotion " +
              s"lattice or evolve structurally (${c.dtype} -> $nt is not)")
        update("UPDATE ducklake_column SET end_snapshot = ? WHERE table_id = ? AND column_id = ? AND end_snapshot IS NULL",
          Seq(snap, tableId, c.columnId))
        insertColumnRow(c.columnId, tableId, c.order, c.name, nt,
          c.nullsAllowed, None, snap, c.initialDefault, c.defaultValue,
          c.defaultType)
        // nested-field metadata (CHILD rows, parent_column = the root
        // column): ADD COLUMN <root>.<field> DEFAULT records the field's
        // initial default here; DROP/RENAME of nested fields keep the
        // child rows consistent (corpus: default/struct_field_default.test)
        // LIKE patterns must escape `_`/`%` — field names may hold them
        def likeEsc(p: String): String =
          p.replace("\\", "\\\\").replace("_", "\\_").replace("%", "\\%")
        nestedEnd.foreach { p =>
          update("UPDATE ducklake_column SET end_snapshot = ? WHERE table_id = ? AND parent_column = ? AND (column_name = ? OR column_name LIKE ? ESCAPE '\\') AND end_snapshot IS NULL",
            Seq(snap, tableId, c.columnId, p, likeEsc(p) + ".%"))
        }
        nestedRename.foreach { case (oldP, newP) =>
          val live = query(
            s"SELECT column_id, column_name, column_type, initial_default, default_value, default_value_type, column_order, nulls_allowed FROM ducklake_column WHERE table_id = ? AND parent_column = ? AND (column_name = ? OR column_name LIKE ? ESCAPE '\\') AND end_snapshot IS NULL",
            Seq(tableId, c.columnId, oldP, likeEsc(oldP) + ".%"))(rs =>
            (rs.getLong(1), rs.getString(2), rs.getString(3),
              Option(rs.getString(4)), Option(rs.getString(5)), rs.getString(6),
              rs.getLong(7), rs.getBoolean(8)))
          live.foreach { case (cid, cname, ctype, ini, dv, dt, order, nulls) =>
            update("UPDATE ducklake_column SET end_snapshot = ? WHERE table_id = ? AND column_id = ? AND end_snapshot IS NULL",
              Seq(snap, tableId, cid))
            insertColumnRow(cid, tableId, order, newP + cname.stripPrefix(oldP),
              ctype, nulls, Some(c.columnId), snap, ini, dv, dt)
          }
        }
        nestedAdd.foreach { case (path, dtype, dv) =>
          val newId = maxColumnId(tableId) + 1
          val (v, t) = ColumnDefaults.derive(Some(dv))
          insertColumnRow(newId, tableId, 0L, path, TypeBridge.normalize(dtype),
            true, Some(c.columnId), snap, Some(dv), v, t)
        }
        recordChange("tables_altered", tableId, tableId.toString)
        snap
      }
    }

  /** Nested-field initial defaults visible at `snap`:
    * root column_id → (dotted path below the root → default SQL).
    */
  def getNestedDefaults(tableId: Long, snap: Long): Map[Long, Map[String, String]] =
    query(s"SELECT parent_column, column_name, initial_default FROM ducklake_column WHERE table_id = ? AND parent_column IS NOT NULL AND initial_default IS NOT NULL AND $Vis",
      Seq(tableId, snap, snap))(rs =>
      (rs.getLong(1), rs.getString(2), rs.getString(3)))
      .groupBy(_._1).map { case (root, rows) =>
        root -> rows.map(r => r._2 -> r._3).toMap
      }

  /** SET / DROP NOT NULL: end the current column row and re-insert with
    * the new nullability (same column_id). Existing-data validation is
    * the caller's job (DuckLake scans before SET NOT NULL).
    */
  def alterColumnNullability(tableId: Long, name: String, nullsAllowed: Boolean): Long =
    inSnapshotTxn { snap =>
      val c = getTableColumns(tableId, snap).find(_.name == name).getOrElse(
        throw new InternalException(s"column not found: $name"))
      if (c.nullsAllowed == nullsAllowed) snap
      else {
        update("UPDATE ducklake_column SET end_snapshot = ? WHERE table_id = ? AND column_id = ? AND end_snapshot IS NULL",
          Seq(snap, tableId, c.columnId))
        insertColumnRow(c.columnId, tableId, c.order, c.name, c.dtype,
          nullsAllowed, None, snap, c.initialDefault, c.defaultValue,
          c.defaultType)
        recordChange("tables_altered", tableId, tableId.toString)
        snap
      }
    }

  /** ALTER … SET DEFAULT / DROP DEFAULT: version the column row with a
    * new `default_value` for FUTURE inserts; `initial_default` (what
    * pre-existing files read for the column) never changes
    * (corpus: default/add_column_with_default.test).
    */
  def setColumnDefault(tableId: Long, name: String, dv: Option[String],
      dt: String): Long = inSnapshotTxn { snap =>
    val c = getTableColumns(tableId, snap).find(_.name == name).getOrElse(
      throw new InternalException(s"column not found: $name"))
    update("UPDATE ducklake_column SET end_snapshot = ? WHERE table_id = ? AND column_id = ? AND end_snapshot IS NULL",
      Seq(snap, tableId, c.columnId))
    insertColumnRow(c.columnId, tableId, c.order, c.name, c.dtype,
      c.nullsAllowed, None, snap, c.initialDefault, dv, dt)
    recordChange("tables_altered", tableId, tableId.toString)
    snap
  }

  /** Drop a column (end its row; files keep the physical data). */
  def dropColumn(tableId: Long, name: String): Long = inSnapshotTxn { snap =>
    val cols = getTableColumns(tableId, snap)
    val c = cols.find(_.name == name).getOrElse(
      throw new InternalException(s"column $name does not exist"))
    // reference parity: a table must keep at least one column
    // (tests/sqllogictests/sql/alter/drop_column.test)
    if (cols.size == 1)
      throw new UnsupportedException(
        s"cannot drop column $name: table only has one column remaining")
    if (getPartitionColumns(tableId, snap).exists(_._2 == c.columnId))
      throw new UnsupportedException(s"cannot drop partition column $name")
    update("UPDATE ducklake_column SET end_snapshot = ? WHERE table_id = ? AND column_id = ? AND end_snapshot IS NULL",
      Seq(snap, tableId, c.columnId))
    recordChange("tables_altered", tableId, tableId.toString)
    snap
  }

  /** Rename a table: end the current row, insert one with the new name —
    * same table_id and SAME path, so existing files stay resolvable and
    * time travel before the rename still works.
    */
  def renameTable(tableId: Long, newName: String): Long = inSnapshotTxn { snap =>
    PathResolver.validateEntityName(newName)
    val cur = query(
      s"SELECT schema_id, path, path_is_relative FROM ducklake_table WHERE table_id = ? AND $Vis",
      Seq(tableId, snap, snap))(rs => (rs.getLong(1), rs.getString(2), rs.getBoolean(3)))
      .headOption.getOrElse(throw new TableNotFoundException(s"table_id $tableId"))
    // renaming to a different CASE of the same table is allowed
    if (getTableByName(cur._1, newName, snap).exists(_.tableId != tableId))
      throw new UnsupportedException(s"table already exists: $newName")
    update("UPDATE ducklake_table SET end_snapshot = ? WHERE table_id = ? AND end_snapshot IS NULL",
      Seq(snap, tableId))
    update("INSERT INTO ducklake_table VALUES (?, ?, ?, ?, ?, ?, NULL)",
      Seq(tableId, cur._1, newName, cur._2, cur._3, snap))
    val schemaName = query(
      "SELECT schema_name FROM ducklake_schema WHERE schema_id = ?",
      Seq(cur._1))(_.getString(1)).headOption.getOrElse("main")
    // DuckDB renders a table rename as tables_created=[new name]
    recordChange("tables_created", tableId, s"$schemaName.$newName")
    snap
  }

  /** TRUNCATE (unconditional DELETE): end every live data/delete/inlined
    * row in ONE snapshot — metadata-only, no delete parquet is written
    * (reference: tests/sqllogictests/sql/delete/truncate_table.test
    * asserts zero `*-delete.parquet` after `DELETE FROM t`).
    */
  def truncateTable(tableId: Long): Long = inSnapshotTxn { snap =>
    Seq("ducklake_data_file", "ducklake_delete_file", "ducklake_inlined_data")
      .foreach { t =>
        update(s"UPDATE $t SET end_snapshot = ? WHERE table_id = ? AND end_snapshot IS NULL",
          Seq(snap, tableId))
      }
    recordChange("tables_deleted_from", tableId, tableId.toString)
    snap
  }

  /** Drop a table: end its row and its files' validity (data stays on disk
    * and remains readable at earlier snapshots — DuckLake never deletes
    * physical files on logical drops).
    */
  def dropTable(tableId: Long): Long = inSnapshotTxn { snap =>
    update("UPDATE ducklake_table SET end_snapshot = ? WHERE table_id = ? AND end_snapshot IS NULL",
      Seq(snap, tableId))
    update("UPDATE ducklake_data_file SET end_snapshot = ? WHERE table_id = ? AND end_snapshot IS NULL",
      Seq(snap, tableId))
    update("UPDATE ducklake_delete_file SET end_snapshot = ? WHERE table_id = ? AND end_snapshot IS NULL",
      Seq(snap, tableId))
    update("UPDATE ducklake_inlined_data SET end_snapshot = ? WHERE table_id = ? AND end_snapshot IS NULL",
      Seq(snap, tableId))
    recordChange("tables_dropped", tableId, tableId.toString)
    snap
  }
}

object MetadataStore {
  /** Live stores per backend key — the engine only shuts down when the
    * LAST store on the key closes (METADATA_SCHEMA shares one db).
    */
  private val openCount =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Control-flow signal of [[MetadataStore.withSnapshotCas]]: the base
    * snapshot advanced under a concurrent writer — retry from a fresh
    * base (never user-visible; DuckLake's retry loop consumes it).
    */
  final class SnapshotCasRetry extends RuntimeException(
    "snapshot advanced during write", null, false, false)
}
