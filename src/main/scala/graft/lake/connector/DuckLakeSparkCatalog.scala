package graft.lake.connector

import java.util

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.{ColumnDef, DuckLake, TypeBridge, WriteMode}

/** Spark `CatalogPlugin`/`TableCatalog` for DuckLake — the full connector
  * form of the reference's `DuckLakeCatalog: CatalogProvider`
  * (src/catalog.rs:31-217) and `DuckLakeTable: TableProvider`
  * (src/table.rs:101-128). Register with:
  *
  * {{{
  * spark.sql.catalog.ducklake          = graft.lake.connector.DuckLakeSparkCatalog
  * spark.sql.catalog.ducklake.metaDb   = /path/to/derby/db
  * spark.sql.catalog.ducklake.dataPath = /path/to/data
  * }}}
  *
  * then `SELECT … FROM ducklake.main.t`, `INSERT INTO ducklake.main.t …`,
  * `CREATE TABLE ducklake.main.t AS SELECT …` work through Spark SQL.
  *
  * Read path: lake SQL needs the session extension
  * ([[GraftSparkExtensions]], as Delta and Iceberg need theirs), whose
  * [[ResolveLakeReads]] rule resolves each plain read of a table to the
  * analyzed plan of the facade's snapshot-pinned read ([[DuckLake.table]]),
  * so a lake read plans as parquet file scans inside the one query plan —
  * the reference's shape (src/table.rs:369-527). The query's filters
  * reach those scans through Spark's own pushdown: parquet filters, and
  * min/max file skipping in each scan's `LakeFileIndex`; Spark applies
  * every filter above the scan too (Inexact semantics, parity with
  * reference src/table.rs:584-598). `initialize` fails without the
  * extension. Snapshot is pinned per `loadTable`, i.e. per analyzed
  * query — the reference pins per catalog construction and refreshes
  * after writes (tests/hybrid_asyncdb.rs:147).
  */
class DuckLakeSparkCatalog extends CatalogPlugin with TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog
    with SupportsNamespaces with ViewCatalog with StagingTableCatalog {

  private var catalogName: String = _
  private var metaDb: String = _
  private var dataPath: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    metaDb = options.get("metaDb")
    dataPath = options.get("dataPath")
    require(metaDb != null && dataPath != null,
      s"catalog $name requires options metaDb and dataPath")
    require(SparkSession.active.sessionState.analyzer.postHocResolutionRules
        .contains(ResolveLakeReads),
      s"catalog $name reads lake tables through the session extension: set " +
        "spark.sql.extensions=graft.lake.connector.GraftSparkExtensions")
  }

  override def name(): String = catalogName

  /** Analyzer gate for `DEFAULT <expr>` in DDL (column defaults are
    * stored as `ducklake_column.initial_default` and materialized for
    * pre-ALTER rows on read).
    */
  override def capabilities(): util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  private def lake: DuckLake =
    DuckLakeSparkCatalog.lakes.getOrElseUpdate((metaDb, dataPath),
      new DuckLake(SparkSession.active, metaDb, dataPath))

  // ---- V2 functions (SPJ resolves bucket transforms through these) ----

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      Array(Identifier.of(Array("system"), "bucket"))
    else Array.empty

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name() == "bucket") DuckLakeBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  // ---- maintenance procedures: CALL <catalog>.system.<proc>(…) ----

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (!ident.namespace().sameElements(Array("system")))
      throw new RuntimeException(s"unknown procedure namespace: ${ident.namespace().mkString(".")}")
    DuckLakeProcedures.load(lake, ident.name())
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      DuckLakeProcedures.names
    else Array.empty

  // ---- namespaces ----

  override def listNamespaces(): Array[Array[String]] =
    lake.store.listSchemas(lake.currentSnapshot).map(s => Array(s.name)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 &&
      lake.store.getSchemaByName(namespace(0), lake.currentSnapshot).isDefined

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    new util.HashMap[String, String]()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    require(namespace.length == 1, s"nested namespaces not supported: ${namespace.mkString(".")}")
    lake.store.createSchema(namespace(0))
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("alterNamespace")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    val sch = lake.store.getSchemaByName(namespace(0), lake.currentSnapshot).get
    if (cascade) lake.store.dropSchemaCascade(sch.schemaId)
    else lake.store.dropSchema(sch.schemaId)
    true
  }

  // ---- tables ----

  private def fullName(ident: Identifier): String = {
    val ns = if (ident.namespace().isEmpty) "main" else ident.namespace().mkString(".")
    s"$ns.${ident.name()}"
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val snap = lake.currentSnapshot
    val sch = lake.store.getSchemaByName(namespace.mkString("."), snap)
      .getOrElse(throw new NoSuchNamespaceException(namespace))
    lake.store.listTables(sch.schemaId, snap)
      .map(t => Identifier.of(namespace, t.name)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    lake.tableExists(fullName(ident))

  override def loadTable(ident: Identifier): Table =
    loadAt(ident, lake.currentSnapshot)

  /** SQL time travel `… VERSION AS OF <snapshot_id | 'tag'>` — the
    * read-side time travel the reference lists as a roadmap gap
    * (README.md "Known Limitations"); our snapshot-pinned scans make it a
    * one-line mapping. Non-numeric versions resolve through the snapshot
    * tag table (named refs).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val snap = try version.toLong catch {
      case _: NumberFormatException =>
        lake.snapshotForTag(version).getOrElse(throw new IllegalArgumentException(
          s"DuckLake version must be a snapshot id or a known tag, got: $version"))
    }
    loadAt(ident, snap)
  }

  /** SQL `… TIMESTAMP AS OF <ts>`: newest snapshot committed at or before
    * the given time (Spark passes µs since epoch).
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val ts = new java.sql.Timestamp(timestamp / 1000L)
    val snap = lake.store.snapshots.filter(!_._2.after(ts)).map(_._1)
      .maxOption.getOrElse(throw new NoSuchTableException(ident))
    loadAt(ident, snap)
  }

  private def loadAt(ident: Identifier, snap: Long): Table =
    try DuckLakeV2Table.at(lake, fullName(ident), snap)
    catch {
      case _: graft.lake.DuckLakeException => throw new NoSuchTableException(ident)
    }

  /** Map v2 partition Transforms to DuckLake partition SPECS: identity,
    * years/months/days (SQL `PARTITIONED BY (months(ts))`), bucket(n),
    * truncate(n).
    */
  private def identityPartitionNames(partitions: Array[Transform]): Seq[String] =
    partitions.map { t =>
      def ref: String = {
        if (t.references().length != 1)
          throw new UnsupportedOperationException(s"partition transform: $t")
        t.references()(0).fieldNames().mkString(".")
      }
      def intArg: Int = t.arguments().collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value().toString.toInt
      }.getOrElse(throw new UnsupportedOperationException(s"partition transform: $t"))
      t.name() match {
        case "identity" => ref
        case "years"    => s"year($ref)"
        case "months"   => s"month($ref)"
        case "days"     => s"day($ref)"
        case "hours"    => s"hour($ref)"
        case "bucket"   => s"bucket($intArg, $ref)"
        case "truncate" => s"truncate($intArg, $ref)"
        case _ => throw new UnsupportedOperationException(s"partition transform: $t")
      }
    }.toSeq

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    requireNamespace(ident)
    val partNames = identityPartitionNames(partitions)
    val cols = schema.fields.zipWithIndex.map { case (f, i) =>
      // `CREATE TABLE (x INT DEFAULT 5)`: the analyzer stores the default
      // SQL in field metadata; persist it as the column's initial_default
      val default =
        if (f.metadata.contains("CURRENT_DEFAULT"))
          Some(f.metadata.getString("CURRENT_DEFAULT"))
        else if (f.metadata.contains("EXISTS_DEFAULT"))
          Some(f.metadata.getString("EXISTS_DEFAULT"))
        else None
      ColumnDef(i.toLong, i.toLong, f.name, TypeBridge.fromSpark(f.dataType),
        f.nullable, default)
    }.toSeq
    val (sch, tbl) = fullName(ident).split('.') match {
      case Array(s, t) => (s, t)
      case _ => ("main", ident.name())
    }
    lake.store.commitWrite(sch, tbl, cols, WriteMode.Append, Nil, partNames)
    new DuckLakeV2Table(lake, fullName(ident), lake.currentSnapshot, schema)
  }

  // ----- StagingTableCatalog: atomic CTAS / RTAS ---------------------
  //
  // Spark routes CREATE TABLE AS / REPLACE TABLE AS / CREATE OR REPLACE
  // TABLE AS through stage* when the catalog supports staging; the staged
  // table's visible state flips in ONE metadata transaction at
  // commitStagedChanges (a non-staging catalog would drop + recreate,
  // leaving a window with no table). REPLACE keeps table identity (time
  // travel across the replace keeps resolving) and is evolution-checked:
  // add/drop/promote schema changes pass, incompatible type changes fail
  // the commit and leave the previous version intact.

  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info, replace = false, orCreate = false)

  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info, replace = true, orCreate = false)

  override def stageCreateOrReplace(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info, replace = true, orCreate = true)

  /** CREATE/CTAS must not resurrect a dropped schema: the store's
    * get-or-create (needed for first-write bootstrap through the API)
    * would happily re-register it — the reference errors instead
    * (corpus: catalog/schema.test `CREATE TABLE … .s1.tbl2` after drop).
    */
  private def requireNamespace(ident: Identifier): Unit = {
    val ns = if (ident.namespace().isEmpty) Array("main") else ident.namespace()
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
  }

  private def stage(ident: Identifier, info: TableInfo, replace: Boolean,
      orCreate: Boolean): StagedTable = {
    requireNamespace(ident)
    val tableName = fullName(ident)
    val exists = lake.tableExists(tableName)
    if (!replace && exists)
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    if (replace && !orCreate && !exists) throw new NoSuchTableException(ident)
    val stagedSchema = info.schema()
    val partNames = identityPartitionNames(info.partitions())
    new StagedTable with SupportsWrite {
      private var stashed: Option[DataFrame] = None
      override def name(): String = s"ducklake.$tableName"
      override def schema(): StructType = stagedSchema
      override def capabilities(): util.Set[TableCapability] =
        util.EnumSet.of(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)
      override def newWriteBuilder(winfo: LogicalWriteInfo): WriteBuilder =
        new WriteBuilder with SupportsTruncate {
          override def truncate(): WriteBuilder = this
          override def build(): Write = new V1Write {
            override def toInsertableRelation: InsertableRelation =
              (data: DataFrame, _: Boolean) => { stashed = Some(data) }
          }
        }
      override def commitStagedChanges(): Unit = stashed match {
        case Some(df) =>
          // CREATE OR REPLACE TABLE AS is a full redefinition — columns
          // and partition keys are replaced, not evolution-checked
          lake.createTableAs(df, tableName, partitionBy = partNames)
        case None => // REPLACE TABLE (no AS): schema-only new version
          val cols = stagedSchema.fields.zipWithIndex.map { case (f, i) =>
            ColumnDef(i.toLong, i.toLong, f.name, TypeBridge.fromSpark(f.dataType), f.nullable)
          }.toSeq
          val (sch, tbl) = tableName.split('.') match {
            case Array(s, t) => (s, t); case _ => ("main", ident.name())
          }
          lake.store.commitWrite(sch, tbl,
            cols, if (lake.tableExists(tableName)) WriteMode.Replace else WriteMode.Append,
            Nil, partNames, redefine = true)
      }
      // nothing moves outside commitStagedChanges; abort is a no-op
      override def abortStagedChanges(): Unit = ()
    }
  }

  /** ALTER TABLE: rename / drop / add-nullable column — the read-side
    * schema-evolution surface the lake already supports programmatically
    * (column_id-stable renames, epoch-projected reads).
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val name = fullName(ident)
    changes.foreach {
      // multi-part field names address NESTED struct fields (array
      // elements via the literal `element` segment) — composed into a
      // root-column type evolution
      case r: TableChange.RenameColumn if r.fieldNames().length > 1 =>
        lake.renameNestedField(name, r.fieldNames().toSeq, r.newName())
      case d: TableChange.DeleteColumn if d.fieldNames().length > 1 =>
        lake.dropNestedField(name, d.fieldNames().toSeq)
      case a: TableChange.AddColumn if a.fieldNames().length > 1 =>
        lake.addNestedField(name, a.fieldNames().toSeq, a.dataType(),
          Option(a.defaultValue()).map { dv =>
            Option(dv.getSql).getOrElse(String.valueOf(dv.getValue))
          })
      case r: TableChange.RenameColumn =>
        lake.renameColumn(name, r.fieldNames().mkString("."), r.newName())
      case d: TableChange.DeleteColumn =>
        lake.dropColumn(name, d.fieldNames().mkString("."))
      case a: TableChange.AddColumn =>
        // DEFAULT <expr>: recorded as the column's initial_default —
        // pre-ALTER rows read it back (DuckLake spec semantics). NOT NULL
        // additions require one (rejected in the lake otherwise).
        val default = Option(a.defaultValue()).map { dv =>
          Option(dv.getSql).getOrElse(String.valueOf(dv.getValue))
        }
        lake.addColumn(name, a.fieldNames().mkString("."),
          TypeBridge.fromSpark(a.dataType()), default, nullable = a.isNullable)
      case t: TableChange.UpdateColumnType =>
        lake.alterColumnType(name, t.fieldNames().mkString("."),
          TypeBridge.fromSpark(t.newDataType()))
      case n: TableChange.UpdateColumnNullability =>
        if (n.nullable()) lake.dropNotNull(name, n.fieldNames().mkString("."))
        else lake.setNotNull(name, n.fieldNames().mkString("."))
      // COMMENT ON TABLE … IS '<c>' arrives as the reserved "comment"
      // property; IS NULL as an empty value (or a removal)
      case p: TableChange.SetProperty if p.property() == "comment" =>
        lake.commentOnTable(name, Option(p.value()).filter(_.nonEmpty))
      case p: TableChange.RemoveProperty if p.property() == "comment" =>
        lake.commentOnTable(name, None)
      case c: TableChange.UpdateColumnComment =>
        lake.commentOnColumn(name, c.fieldNames().mkString("."),
          Option(c.newComment()).filter(_.nonEmpty))
      // ALTER … SET DEFAULT <sql> / DROP DEFAULT (empty string) — the
      // CURRENT default for future inserts; initial_default is untouched
      case d: TableChange.UpdateColumnDefaultValue =>
        lake.setColumnDefault(name, d.fieldNames().mkString("."),
          Option(d.newDefaultValue()).map(_.trim).filter(_.nonEmpty))
      case other =>
        throw new UnsupportedOperationException(s"alterTable change: $other")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    try { lake.dropTable(fullName(ident)); true }
    catch { case _: graft.lake.DuckLakeException => false }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    lake.renameTable(fullName(oldIdent), fullName(newIdent))

  // ---- views (SQL CREATE/DROP VIEW; DuckLake spec ducklake_view) ----

  private val NameSep = ""

  private def schemaIdOf(ident: Identifier): Long = {
    val ns = if (ident.namespace().isEmpty) "main" else ident.namespace().mkString(".")
    lake.store.getSchemaByName(ns, lake.currentSnapshot)
      .getOrElse(throw new NoSuchNamespaceException(Array(ns))).schemaId
  }

  override def listViews(namespace: String*): Array[Identifier] = {
    val snap = lake.currentSnapshot
    lake.store.getSchemaByName(namespace.mkString("."), snap) match {
      case None => Array.empty
      case Some(sch) => lake.store.listViews(sch.schemaId, snap)
        .map(v => Identifier.of(namespace.toArray, v)).toArray
    }
  }

  override def loadView(ident: Identifier): View = {
    val rec = lake.store.getView(schemaIdOf(ident), ident.name(), lake.currentSnapshot)
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident))
    val (vName, sqlText, curCat, curNs, schemaJson, colNames) = rec
    new View {
      override def name(): String = vName
      override def query(): String = sqlText
      override def currentCatalog(): String = curCat
      override def currentNamespace(): Array[String] =
        if (curNs == null || curNs.isEmpty) Array.empty
        else curNs.split(NameSep.charAt(0))
      override def schema(): StructType =
        org.apache.spark.sql.types.DataType.fromJson(schemaJson).asInstanceOf[StructType]
      override def queryColumnNames(): Array[String] =
        if (colNames == null || colNames.isEmpty) Array.empty
        else colNames.split(NameSep.charAt(0))
      override def columnAliases(): Array[String] = Array.empty
      override def columnComments(): Array[String] = Array.empty
      override def properties(): util.Map[String, String] = new util.HashMap()
    }
  }

  /** Resolve a version string the way table time travel does: a snapshot
    * id, or a named tag.
    */
  private[connector] def snapshotForVersion(version: String): Option[Long] =
    (try Some(version.toLong) catch { case _: NumberFormatException => None })
      .orElse(lake.snapshotForTag(version))

  /** View definition AS OF a snapshot — (name, sql, currentCatalog,
    * currentNamespace); None when the view (or its schema) doesn't exist
    * at that snapshot. Powers `SELECT … FROM v AT (VERSION => n)`.
    */
  private[connector] def viewAt(ident: Identifier, snap: Long)
      : Option[(String, String, String, Array[String])] = {
    val ns = if (ident.namespace().isEmpty) "main" else ident.namespace().mkString(".")
    for {
      sch <- lake.store.getSchemaByName(ns, snap)
      rec <- lake.store.getView(sch.schemaId, ident.name(), snap)
    } yield {
      val (vName, sqlText, curCat, curNs, _, _) = rec
      val nsArr = if (curNs == null || curNs.isEmpty) Array.empty[String]
                  else curNs.split(NameSep.charAt(0))
      (vName, sqlText, curCat, nsArr)
    }
  }

  override def createView(info: ViewInfo): View = {
    try lake.store.createView(schemaIdOf(info.ident()), info.ident().name(), info.sql(),
      info.currentCatalog(), info.currentNamespace().mkString(NameSep),
      info.schema().json, info.queryColumnNames().mkString(NameSep))
    catch {
      case _: graft.lake.UnsupportedException =>
        throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(info.ident())
    }
    loadView(info.ident())
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View =
    throw new UnsupportedOperationException("alterView")

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    require(oldIdent.namespace().sameElements(newIdent.namespace()),
      "renameView cannot move a view across namespaces")
    lake.store.renameView(schemaIdOf(oldIdent), oldIdent.name(), newIdent.name())
  }

  override def dropView(ident: Identifier): Boolean =
    lake.store.dropView(schemaIdOf(ident), ident.name())
}

object DuckLakeV2Table {
  /** Table `fullName` at snapshot `snap`, for the catalog and the
    * facade's row-level verbs. The schema comes from the pinned catalog
    * columns (catalog nullability, so DESCRIBE shows NOT NULL and the
    * analyzer knows the constraint), with column comments, and column
    * defaults as the analyzer's metadata keys so INSERTs with a column
    * subset (or DEFAULT keyword) resolve them.
    */
  def at(lake: DuckLake, fullName: String, snap: Long): DuckLakeV2Table = {
    val tableSchema = lake.tableSchema(fullName, Some(snap))
    val defaults = lake.columnDefaultsOf(fullName, Some(snap))
    val comments = try lake.columnComments(fullName)
      catch { case _: graft.lake.DuckLakeException => Map.empty[String, String] }
    val schema = StructType(tableSchema.fields.map { f1 =>
      val f = comments.get(f1.name).fold(f1) { c =>
        f1.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f1.metadata).putString("comment", c).build())
      }
      defaults.get(f.name).fold(f) { sql =>
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putString("CURRENT_DEFAULT", sql)
          .putString("EXISTS_DEFAULT", sql)
          .build())
      }
    })
    new DuckLakeV2Table(lake, fullName, snap, schema)
  }
}

object DuckLakeSparkCatalog {
  /** One embedded-Derby lake handle per (metaDb, dataPath) per JVM. */
  private val lakes = TrieMap[(String, String), DuckLake]()

  /** The catalog-owned lake instance (tests introspect its scan counters). */
  private[lake] def cachedLake(metaDb: String, dataPath: String): Option[DuckLake] =
    lakes.get((metaDb, dataPath))

  /** Share an externally constructed lake handle with the catalog. The
    * metadata store is ONE embedded-Derby connection; API callers and the
    * SQL catalog must go through the same instance or an open
    * multi-statement transaction on one connection blocks (and is
    * invisible to) the other.
    */
  def adopt(lake: DuckLake): Unit =
    lakes.put((lake.metaDbPath, lake.dataPath), lake)

  /** Remove one adopted handle (callers that close per-test catalogs must
    * also unregister them, or the registry pins the closed connection).
    */
  def forget(lake: DuckLake): Unit =
    lakes.remove((lake.metaDbPath, lake.dataPath), lake)
}

/** DSv2 table: snapshot-pinned reads + V1 write fallback (the write path
  * commits through the transactional metadata store, reference A12-A15).
  * Every predicate DELETE, UPDATE and MERGE — SQL or the facade's — runs
  * the row-level delta plan (merge-on-read positional delete files);
  * `SupportsDelete` takes only the unconditional `DELETE FROM t`.
  */
final class DuckLakeV2Table(private[connector] val lake: DuckLake, fullName: String,
    private[connector] val snapshot: Long, tableSchema: StructType) extends Table with SupportsRead with SupportsWrite
    with SupportsDelete with SupportsRowLevelOperations
    with SupportsMetadataColumns {

  /** Row-address metadata columns (`_file_id`, `_pos`): the stable row id
    * that delta row-level operations join deletes back to; also
    * selectable directly (`SELECT _file_id, _pos, * FROM …`) for
    * debugging row lineage.
    */
  private def metaCol(colName: String, dt: org.apache.spark.sql.types.DataType,
      nullable: Boolean, desc: String): MetadataColumn = new MetadataColumn {
    override def name(): String = colName
    override def dataType(): org.apache.spark.sql.types.DataType = dt
    override def isNullable: Boolean = nullable
    override def comment(): String = desc
  }

  /** Row-address + DuckLake VIRTUAL columns (reference:
    * tests/sqllogictests/sql/virtualcolumns/): selectable by name, hidden
    * from `SELECT *`. `_file_id`/`_pos` form the delta row id;
    * `snapshot_id`/`filename`/`file_row_number` expose row provenance.
    */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    metaCol(DuckLake.VirtualFileId,
      org.apache.spark.sql.types.LongType, nullable = false,
      "DuckLake data file id (catalog)"),
    metaCol(DuckLake.VirtualPos,
      org.apache.spark.sql.types.LongType, nullable = false,
      "file-local row position"),
    metaCol(DuckLake.VirtualSnapshot,
      org.apache.spark.sql.types.LongType, nullable = true,
      "snapshot that committed this row (null while its txn is open)"),
    metaCol(DuckLake.VirtualFilename,
      org.apache.spark.sql.types.StringType, nullable = true,
      "physical data file path (null for inlined rows)"),
    metaCol(DuckLake.VirtualRowNumber,
      org.apache.spark.sql.types.LongType, nullable = true,
      "row number within the data file"),
    metaCol(DuckLake.VirtualRowId,
      org.apache.spark.sql.types.LongType, nullable = false,
      "stable per-table row id (file range start + local position)"),
    metaCol(DuckLake.VirtualFileIndex,
      org.apache.spark.sql.types.LongType, nullable = true,
      "index of the row's source within the scan (inlined storage = 0)"))

  /** Only `DELETE FROM t` (no filters, or the translated always-true):
    * a metadata-only TRUNCATE; every other DELETE is row-level.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])

  override def deleteWhere(filters: Array[Filter]): Unit = lake.truncateTable(fullName)

  /** `DELETE … WHERE`, `UPDATE` and `MERGE INTO` (SQL, and the facade's
    * `deleteWhere` / `update`) via Spark's DELTA row-level operation
    * rewrite (`SupportsDelta`): the operation's scan adds the row-address
    * metadata columns (`_file_id`, `_pos`) and reads the table's inlined
    * rows as one more input partition (`_file_id` =
    * [[DuckLake.InlinedFileId]], `_pos` = row id), Spark hands the writer
    * per-row insert/delete instructions, and the commit registers new
    * data files, refreshed positional delete files and ended inlined rows
    * in one snapshot — merge-on-read, cost O(changed rows). A group-based
    * copy-on-write would rewrite the whole table per UPDATE.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new org.apache.spark.sql.connector.write.RowLevelOperation
        with org.apache.spark.sql.connector.write.SupportsDelta {
      override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command =
        info.command()
      override def description(): String = s"DuckLake delta ${info.command()} $fullName"

      override def rowId(): Array[NamedReference] = Array(
        org.apache.spark.sql.connector.expressions.Expressions.column(
          DuckLake.VirtualFileId),
        org.apache.spark.sql.connector.expressions.Expressions.column(
          DuckLake.VirtualPos),
        // the row's STABLE id rides along so updates can keep it
        // (DuckLake: updated rows keep their rowid — corpus
        // rowid/ducklake_row_id.test)
        org.apache.spark.sql.connector.expressions.Expressions.column(
          DuckLake.VirtualRowId))

      // updates arrive as update() calls carrying the row id, so the
      // rewritten row keeps its stable id (delete+insert would lose it)
      override def representUpdateAsDeleteAndInsert(): Boolean = false

      // Spark appends the row-address columns it needs to the pruned
      // schema, and pushes the command's condition for file skipping
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        scanBuilder(options, spj = false)

      override def newWriteBuilder(writeInfo: LogicalWriteInfo)
          : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
        new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
          override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
            new DuckLakeDeltaWrite(lake, fullName, writeInfo.schema())
        }
    }

  override def name(): String = fullName
  override def schema(): StructType = tableSchema

  /** Catalog-derived stats surfaced to `DESCRIBE EXTENDED`. */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    val tbl = lake.resolveTable(fullName, snapshot)
    val files = lake.store.getDataFiles(tbl.tableId, snapshot)
    m.put("ducklake.snapshot", snapshot.toString)
    m.put("ducklake.file_count", files.size.toString)
    m.put("ducklake.record_count",
      (files.map(_.recordCount).sum -
        files.flatMap(_.deleteFile).map(_.recordCount).sum).toString)
    m.put("ducklake.size_bytes", files.map(_.fileSizeBytes).sum.toString)
    lake.store.getComment("table", tbl.tableId, None, snapshot)
      .foreach(m.put("comment", _))
    m
  }

  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    lake.partitionFieldsOf(fullName, Some(snapshot)).map { pf =>
      pf.transform match {
        case None          => Expressions.identity(pf.source)
        case Some("year")  => Expressions.years(pf.source)
        case Some("month") => Expressions.months(pf.source)
        case Some("day")   => Expressions.days(pf.source)
        case Some("hour")  => Expressions.hours(pf.source)
        case Some(graft.lake.PartTransform.BucketRe(n)) =>
          Expressions.bucket(n.toInt, pf.source)
        case Some(graft.lake.PartTransform.TruncateRe(n)) =>
          Expressions.apply("truncate",
            Expressions.literal(n.toInt), Expressions.column(pf.source))
        case Some(other) => Expressions.apply(other, Expressions.column(pf.source))
      }
    }.toArray
  }
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)

  /** The DSv2 read, left by [[ResolveLakeReads]] only for
    * storage-partitioned joins (and taken by `readStream`): plain reads
    * resolve to the facade's plan before any scan is built.
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    scanBuilder(options, spj = true)

  /** A [[DuckLakeBatchScan]] of the pruned columns, key-grouped when
    * `spj` and the pruned columns keep it [[storagePartitioned]], with the
    * pushed filters driving catalog-stats file skipping (all of them
    * residual: Spark re-applies them above the scan). Nested pruning
    * hands over pruned structs, but the scan reads top-level columns
    * whole: each keeps its full type, from which Spark derives the scan
    * output and `info._2`'s ordinal above it.
    */
  private def scanBuilder(options: CaseInsensitiveStringMap, spj: Boolean): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
      private var required: StructType = tableSchema
      private var filters: Array[Filter] = Array.empty
      override def pushFilters(f: Array[Filter]): Array[Filter] = { filters = f; f }
      override def pushedFilters(): Array[Filter] = filters
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = StructType(requiredSchema.map(f =>
          tableSchema.find(_.name == f.name).getOrElse(f)))
      override def build(): Scan =
        new DuckLakeBatchScan(lake, fullName, snapshot, required, filters.toSeq,
          spj && storagePartitioned(required.fieldNames.toSet),
          // streaming admission control read options
          Option(options.get("maxFilesPerTrigger")).map(_.toInt),
          Option(options.get("maxRowsPerTrigger")).map(_.toLong))
    }

  /** Whether a read using `columns` stays a storage-partitioned scan
    * (with v2 bucketing on): every partition field is an identity or
    * hash-bucket key whose source column the read uses, and the table
    * holds no inlined rows (they carry no partition key). The trade —
    * one whole-file partition per data file, without parquet filter
    * pushdown or split coalescing — is the right one exactly when the
    * user asks for it: exchange cost dominates scan cost for the big-big
    * joins SPJ targets.
    */
  private[connector] def storagePartitioned(columns: Set[String]): Boolean = {
    val pfs = lake.partitionFieldsOf(fullName, Some(snapshot))
    pfs.nonEmpty && pfs.forall(f => (f.transform.isEmpty ||
      f.transform.exists(graft.lake.PartTransform.BucketRe.matches)) && columns(f.source)) &&
      !lake.hasInlinedRows(fullName, snapshot)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          (data: DataFrame, _: Boolean) =>
            lake.insertInto(data, fullName,
              if (overwrite) WriteMode.Replace else WriteMode.Append)
        // `df.writeStream.toTable("ducklake.…")`: per-epoch appends with
        // replay-safe epoch tracking (append output mode)
        override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
          new DuckLakeStreamingWrite(lake, fullName, info.schema(), info.queryId())
      }
    }
}

/** Decides whether the aggregates of a filterless, ungrouped `Aggregate`
  * directly over a lake relation are answerable from DuckLake catalog
  * metadata alone, and computes the answer — O(metadata), zero data IO,
  * the scan-avoidance that makes `SELECT count(*) FROM t` instant on a
  * 100 TB table (reference roadmap gap — the reference reports only
  * table-level byte statistics, src/table.rs:544).
  *
  * Answerable, per aggregate expression (non-distinct, unfiltered):
  *  - `COUNT(*)`  → Σ file record_count − Σ delete-file positions
  *                  + inlined-row count (exact under MOR deletes).
  *  - `COUNT(col)` (non-distinct) → Σ (record_count − null_count); needs a
  *                  known null count for every file, no deletes, no
  *                  inlined rows.
  *  - `MIN/MAX(col)` → fold of per-file footer min/max; needs known stats
  *                  in every non-all-null file, no deletes (a delete may
  *                  remove the extreme row), no inlined rows, and a
  *                  numeric/date/timestamp/boolean column — strings are
  *                  excluded because footer bounds may be truncated.
  * Any other expression refuses the whole aggregate.
  */
private[connector] object MetaAgg {
  import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Literal, NamedExpression}
  import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Count, Max, Min}
  import org.apache.spark.sql.types._

  def answer(lake: DuckLake, fullName: String, snapshot: Long,
      aggs: Seq[NamedExpression]): Option[Seq[Literal]] = {
    val fns: Seq[AggregateFunction] = aggs.map {
      case Alias(AggregateExpression(fn @ (_: Count | _: Min | _: Max), _, false, None, _), _) => fn
      case _ => return None // before any catalog read
    }
    val tbl = lake.resolveTable(fullName, snapshot)
    val cols = lake.store.getTableColumns(tbl.tableId, snapshot)
    val files = lake.store.getDataFiles(tbl.tableId, snapshot)
    val inlinedCount = lake.store.getInlinedRows(tbl.tableId, snapshot).size
    val liveCount = files.map(_.recordCount).sum -
      files.flatMap(_.deleteFile).map(_.recordCount).sum + inlinedCount
    // column answers need every row in the footers: no deletes, no inlined rows
    val exact = inlinedCount == 0 && files.forall(_.deleteFile.isEmpty)
    lazy val stats = lake.store.getFileStats(tbl.tableId)

    def statRow(f: graft.lake.DataFileRec, columnId: Long) =
      stats.get((f.dataFileId, columnId))

    val answers: Seq[Option[Literal]] = fns.map {
      case Count(Seq(one: Literal)) if !one.nullable => Some(Literal(liveCount))
      case Count(Seq(column)) if exact => refColumn(column, cols).flatMap { cd =>
        val nonNulls = files.map(f => statRow(f, cd.columnId).flatMap(_._1).map(f.recordCount - _))
        Option.when(nonNulls.forall(_.isDefined))(Literal(nonNulls.flatten.sum))
      }
      case Min(column) if exact => foldMinMax(column, cols, files, statRow, isMin = true)
      case Max(column) if exact => foldMinMax(column, cols, files, statRow, isMin = false)
      case _ => None
    }
    if (answers.exists(_.isEmpty)) None else Some(answers.flatten)
  }

  private def refColumn(e: org.apache.spark.sql.catalyst.expressions.Expression,
      cols: Seq[ColumnDef]): Option[ColumnDef] = e match {
    case a: Attribute => cols.find(_.name == a.name)
    case _ => None
  }

  private def foldMinMax(column: org.apache.spark.sql.catalyst.expressions.Expression,
      cols: Seq[ColumnDef], files: Seq[graft.lake.DataFileRec],
      statRow: (graft.lake.DataFileRec, Long) => Option[(Option[Long], Option[String], Option[String])],
      isMin: Boolean): Option[Literal] = {
    val cd = refColumn(column, cols).getOrElse(return None)
    val dt = TypeBridge.toSpark(cd.dtype)
    if (!statable(dt)) return None
    // per non-empty file: Some(bound) to fold, or refuse; all-null files
    // contribute nothing (min/max ignore nulls)
    val bounds = scala.collection.mutable.ArrayBuffer.empty[String]
    files.foreach { f =>
      if (f.recordCount > 0) statRow(f, cd.columnId) match {
        case Some((nulls, mn, mx)) =>
          if (nulls.contains(f.recordCount)) () // all-null file
          else (if (isMin) mn else mx) match {
            case Some(b) => bounds += b
            case None => return None // stats unknown → scan
          }
        case None => return None
      }
    }
    if (bounds.isEmpty) return Some(Literal.create(null, dt))
    val best = bounds.reduce((a, b) =>
      if (isMin == (cmp(dt)(a, b) <= 0)) a else b)
    decode(dt, best)
  }

  private def statable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType | FloatType | DoubleType | BooleanType => true
    case _ => false // strings: footer bounds may be truncated
  }

  /** Exact comparator over the canonical stat encodings (integral kinds
    * compare as Long — no double rounding at int64 extremes).
    */
  private def cmp(dt: DataType)(a: String, b: String): Int = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType => java.lang.Long.compare(a.toLong, b.toLong)
    case FloatType | DoubleType => java.lang.Double.compare(a.toDouble, b.toDouble)
    case _ => a.compareTo(b)
  }

  /** Canonical stat string → literal (inverse of [[graft.lake.FileStats]]'
    * encodings: dates as epoch days, timestamps as µs — Catalyst's own
    * internal values).
    */
  private def decode(dt: DataType, s: String): Option[Literal] = Some(Literal(dt match {
    case ByteType => s.toLong.toByte
    case ShortType => s.toLong.toShort
    case IntegerType | DateType => s.toLong.toInt
    case LongType | TimestampType | TimestampNTZType => s.toLong
    case FloatType => s.toDouble.toFloat
    case DoubleType => s.toDouble
    case BooleanType => s == "1"
    case _ => return None
  }, dt))
}
