package graft.lake

import java.util.UUID

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteFromTable, LogicalPlan, Union, UpdateTable}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.longlong.Roaring64Bitmap

/** DuckLake-on-Spark session façade: a lakehouse whose metadata lives in
  * an embedded SQL catalog ([[MetadataStore]], Derby) and whose data lives
  * in Parquet files — queryable and writable through Spark SQL, with
  * Catalyst in the role DataFusion plays for the reference
  * (reference: src/lib.rs:1-36).
  *
  * Scale notes (100 TB mindset): the only driver-side state is catalog
  * metadata (file lists, column defs) — O(files), never O(rows). Scans are
  * ordinary multi-file parquet reads, so Catalyst's predicate pushdown,
  * column pruning and partition coalescing all apply; merge-on-read
  * deletes are dropped inside those scans by row index
  * ([[DuckLakeParquetFormat]]), each task loading only its own file's
  * delete positions.
  */
final class DuckLake(val spark: SparkSession, val metaDbPath: String, val dataPath: String,
    encrypted: Boolean = false, val inlineRowLimit: Int = 0,
    metadataSchema: Option[String] = None,
    overrideDataPath: Boolean = false) {
  import graft.lake.crypto.GraftCryptoFactory

  val store = new MetadataStore(metaDbPath, metadataSchema)
  // a catalog is bound to ONE data path; re-attaching with another is an
  // error unless explicitly overridden (never persisted — corpus:
  // attach/different_paths.test)
  if (!overrideDataPath)
    store.getMetadata("data_path")
      .filter(_.stripSuffix("/") != dataPath.stripSuffix("/"))
      .foreach { stored =>
        store.close()
        throw new InvalidConfigException(
          s"given DATA_PATH '$dataPath' does not match existing data path " +
            s"in the catalog ('$stored'); set OVERRIDE_DATA_PATH to use it anyway")
      }

  // physically unlink files that died inside an open transaction (written
  // and dropped/superseded before any snapshot could expose them) — only
  // relative paths, i.e. files this lake wrote; adopted absolute paths
  // are merely deregistered
  store.onTxnDeadFiles { dead =>
    val fs = FileSystem.get(new java.net.URI(dataPath), hconf)
    dead.foreach { case (s, t, p, rel) =>
      if (rel) fs.delete(new Path(s"${tableDirOf(s"$s.$t")}/$p"), false)
    }
  }
  // the catalog remembers its FIRST data path; a later attach with a
  // different path (OVERRIDE_DATA_PATH) is effective but never persisted
  // (corpus: general/data_path_tag.test)
  if (store.getMetadata("data_path").isEmpty)
    store.setMetadata("data_path", dataPath)

  // Spark's default TimestampType parquet encoding is INT96, which
  // carries NO column statistics — file skipping on timestamp columns
  // (the canonical time-range prune at 100 TB) would silently stop
  // working. The lake writes micros, like the reference engine, and
  // stamps parquet field_ids (DuckLake spec: column_id ≙ field_id).
  // Both confs are scoped to LAKE writes only via
  // [[withWriterSessionConf]] — constructing a DuckLake must never
  // change the output schema of an unrelated `df.write.parquet` in the
  // same session.
  private val lakeWriterConfs = Seq(
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "spark.sql.parquet.fieldId.write.enabled" -> "true")

  /** Run one staged lake write with the lake's parquet session confs
    * pinned, restoring the caller's values (or the Spark defaults)
    * afterwards. Spark's parquet writer reads these from the session
    * conf at job-planning time — there is no per-write option for them —
    * so the pin lives exactly as long as the staging job.
    */
  private def withWriterSessionConf[T](body: => T): T =
    // GLOBAL lock: the pinned confs are session-level, so two concurrent
    // lake stagings would otherwise interleave save/set/restore and leak
    // the pinned values into the session (or write one file unpinned).
    // Concurrent appends therefore serialize their STAGING jobs; the
    // optimistic CAS races on publish order, which is captured before
    // this lock — conflict semantics are unchanged.
    DuckLake.writerConfLock.synchronized {
      val saved = lakeWriterConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
      lakeWriterConfs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }

  /** JSON options for INLINED row storage, shared by every write
    * (to_json) and read (from_json) of `ducklake_inlined_data`: to_json's
    * default millisecond rendering silently truncated µs timestamps, and
    * its zone-less LTZ rendering didn't parse back inside arrays (corpus:
    * data_inlining/data_inlining_types.test) — pin micro-precision NTZ
    * and offset-bearing LTZ formats symmetric across both directions.
    */
  /** Test seam: runs after a write's staging, just before its publish
    * gate — concurrency specs inject a racing commit here to exercise
    * the CAS/conflict paths deterministically. No-op in production.
    */
  private[lake] var beforePublishHook: () => Unit = () => ()

  /** Test seam: runs after a maintenance rewrite has pinned and
    * materialized its input scan, before the Replace write begins — the
    * widest real race window (an append here must conflict at publish,
    * not be erased). No-op in production.
    */
  private[lake] var afterRewriteScanHook: () => Unit = () => ()

  private[lake] val inlineJsonOpts: Map[String, String] = Map(
    "allowNonNumericNumbers" -> "true",
    "timestampNTZFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")

  /** One JSON document per row, with [[inlineJsonOpts]] (Dataset.toJSON
    * takes no options, so inlining serializes through to_json).
    */
  private def inlineJson(df: DataFrame): org.apache.spark.sql.Dataset[String] = {
    import df.sparkSession.implicits._
    // backtick-escape each name (same quoting as annotateFieldIds):
    // col("a.b") would parse as a FIELD PATH, mis-resolving dotted or
    // backticked column names
    val fields = df.schema.fields.map(f => col(s"`${f.name.replace("`", "``")}`"))
    df.select(to_json(struct(fields.toIndexedSeq: _*), inlineJsonOpts).as("__j"))
      .as[String]
  }

  /** from_json read schema for inlined rows with every timestamp leaf
    * downgraded to STRING: Spark's JSON parser silently nulls
    * TIMESTAMP_LTZ values (even offset-tagged ones) when the session's
    * `spark.sql.timestampType` is NTZ, while a string→timestamp CAST is
    * conf-independent — the inlined-read projections already cast every
    * field to its true catalog type.
    */
  private def inlineReadType(dt: DataType): DataType = dt match {
    case TimestampType | TimestampNTZType => StringType
    case ArrayType(e, n)  => ArrayType(inlineReadType(e), n)
    case StructType(fs)   =>
      StructType(fs.map(f => f.copy(dataType = inlineReadType(f.dataType))))
    case MapType(k, v, n) => MapType(inlineReadType(k), inlineReadType(v), n)
    case other            => other
  }

  /** Lake-level Parquet Modular Encryption (reference: A5,
    * src/encryption.rs): sticky once enabled — reopening the lake without
    * the flag keeps encrypting, since existing files already need their
    * catalog keys. Every data/delete file gets a fresh AES-128 footer key,
    * stored in its `ducklake_data_file`/`ducklake_delete_file` row; scans
    * scope the keys to their own job conf via reader options.
    */
  val encryptionEnabled: Boolean =
    encrypted || store.getMetadata("encryption").contains("true")
  if (encryptionEnabled) store.setMetadata("encryption", "true")

  private val hconf = spark.sparkContext.hadoopConfiguration

  /** Parquet read options carrying decryption keys for exactly the files
    * of one scan (name → base64 key); empty when nothing is encrypted.
    */
  private[lake] def decryptOptions(keys: Iterable[(String, Option[String])]): Map[String, String] = {
    val m = keys.collect { case (name, Some(k)) => s"$name:$k" }.toSeq
    if (m.isEmpty) Map.empty
    else Map(GraftCryptoFactory.FactoryClass -> classOf[GraftCryptoFactory].getName,
      GraftCryptoFactory.DecryptKeys -> m.mkString(";"))
  }

  /** spark.read with [[decryptOptions]] for the files of one scan. */
  private def reader(keys: Iterable[(String, Option[String])]): org.apache.spark.sql.DataFrameReader =
    spark.read.options(decryptOptions(keys))

  /** A fresh session Hadoop conf with `options` set — the conf Spark's
    * file sources build for one relation.
    */
  private[lake] def hadoopConfWith(options: Map[String, String]): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConfWithOptions(options)

  /** Pin a snapshot for whole-query consistency (reference:
    * src/catalog.rs:31-64); None = latest at call time.
    */
  def currentSnapshot: Long = store.currentSnapshot

  // ------------------------------------------------------------------
  // Write path (reference: A12-A15, src/table_writer.rs + insert_exec.rs)
  // ------------------------------------------------------------------

  private def parse(name: String): (String, String) = name.split('.') match {
    case Array(s, t) => (s, t)
    case Array(t)    => ("main", t)
    case _           => throw new InvalidConfigException(s"bad table name: $name")
  }

  /** Create-table-as-select (reference: A3 `SchemaProvider::register_table`,
    * src/schema.rs:176-224). Replace semantics if the table exists.
    * `partitionBy` (creation only): hive-partition the data files by
    * these columns — at 100 TB the partition→file map in the catalog
    * turns a partition-filtered scan into an O(matching files) read.
    */
  def createTableAs(df: DataFrame, name: String, partitionBy: Seq[String] = Nil): Long =
    write(df, name, WriteMode.Replace, partitionBy, redefine = true)

  /** CTAS with range-clustering: rows are range-partitioned and sorted on
    * `clusterBy` before writing, so each data file covers a TIGHT,
    * near-disjoint min/max range on those columns — catalog stats then
    * prune point/range lookups to O(1) files without hive partitioning's
    * directory explosion (the lakehouse "cluster by" / linear z-order).
    * `numFiles` bounds the file count (range shuffle width).
    */
  def createTableClustered(df: DataFrame, name: String, clusterBy: Seq[String],
      numFiles: Int = 0, partitionBy: Seq[String] = Nil): Long = {
    require(clusterBy.nonEmpty, "clusterBy columns required")
    val cols = clusterBy.map(col)
    val ranged =
      if (numFiles > 0) df.repartitionByRange(numFiles, cols: _*)
      else df.repartitionByRange(cols: _*)
    write(ranged.sortWithinPartitions(cols: _*), name, WriteMode.Replace, partitionBy)
  }

  /** INSERT INTO …: append or replace (reference: A12/A15). Appends to a
    * partitioned table re-use the table's catalog-recorded partition keys.
    */
  def insertInto(df: DataFrame, name: String, mode: WriteMode.Value = WriteMode.Append): Long =
    write(df, name, mode)

  /** Column name → CURRENT default SQL at `snap` (empty when none) —
    * rendered from the stored `(default_value, default_value_type)` pair,
    * which ALTER … SET/DROP DEFAULT versions independently of the
    * initial default pre-existing rows read.
    */
  def columnDefaultsOf(name: String, snapshot: Option[Long] = None): Map[String, String] =
    pinned(name, snapshot).fold(Map.empty[String, String])(_.defaults)

  /** ALTER TABLE … ALTER <col> SET DEFAULT <sql> (None = DROP DEFAULT):
    * future inserts resolve the new default; existing rows are untouched.
    */
  def setColumnDefault(name: String, column: String, sql: Option[String]): Long = {
    val (dv, dt) = sql.map(ColumnDefaults.classify).getOrElse((None, "literal"))
    store.setColumnDefault(pin(name).tableId, column, dv, dt)
  }

  /** The table's partition keys at `snap` as (source column, transform)
    * fields in key order (empty = unpartitioned or table absent).
    */
  def partitionFieldsOf(name: String, snapshot: Option[Long] = None): Seq[PartField] =
    pinned(name, snapshot).fold(Seq.empty[PartField])(_.partFields)

  /** The table's partition key SPECS at `snap` — identity keys render as
    * the bare column name, transforms as `month(col)` etc.
    */
  def partitionColumnsOf(name: String, snapshot: Option[Long] = None): Seq[String] =
    partitionFieldsOf(name, snapshot).map(_.spec)

  /** ALTER TABLE … SET PARTITIONED BY (post-create): register a new
    * partition scheme — future writes hive-partition under it, existing
    * files keep their layout (DuckLake partitioning evolution; corpus:
    * partitioning/basic_partitioning.test). Empty `partitionBy` = RESET.
    */
  def setPartitionedBy(name: String, partitionBy: Seq[String]): Long = {
    val t = pin(name)
    val keys = partitionBy.map(PartTransform.parse).map { pf =>
      val cdef = t.cols.find(_.name.equalsIgnoreCase(pf.source)).getOrElse(
        throw new InvalidConfigException(s"partition column not found: ${pf.source}"))
      pf.transform.foreach(tf =>
        PartTransform.validate(tf, TypeBridge.toSpark(cdef.dtype), pf.source))
      (cdef.columnId, pf.transform)
    }
    // SET PARTITIONED BY with the scheme already in force — or RESET on
    // an already-unpartitioned table — is a no-op: no new scheme id, no
    // snapshot (corpus: partitioning/partition_nop.test)
    val live = t.partCols.sortBy(_._1).map { case (_, cid, tf) => (cid, tf) }
    if (keys == live) t.snap
    else store.setPartitionedBy(t.tableId, keys)
  }

  /** CTAS with Z-ORDER clustering on two numeric columns: each value is
    * min/max-normalized to 16 bits, Morton-interleaved (codegen'd
    * [[graft.functions.InterleaveBits16]]), and rows are range-partitioned
    * + sorted on the z-value — every data file then covers a compact
    * RECTANGLE in (a,b) space, so stats pruning works on filters over
    * EITHER column (single-column clustering only helps its own column).
    * One extra aggregation job computes the normalization bounds. With
    * `numFiles`, one more computes the `numFiles - 1` cut points from the
    * rows (quantiles whose rank error is at most 1/10000 of a file's
    * rows), and file k is written by write partition k, so the file
    * boundaries do not depend on the input's row order, as
    * `repartitionByRange`'s sampled bounds do.
    */
  def createTableZOrdered(df: DataFrame, name: String, zColA: String, zColB: String,
      numFiles: Int = 0): Long = {
    val Seq(minA, maxA, minB, maxB) = df.agg(
      min(col(zColA)).cast("double"), max(col(zColA)).cast("double"),
      min(col(zColB)).cast("double"), max(col(zColB)).cast("double"))
      .head().toSeq.map(v => Option(v).map(_.asInstanceOf[Double]).getOrElse(0.0))
    def norm(c: String, lo: Double, hi: Double): Column = {
      val span = if (hi > lo) hi - lo else 1.0
      least(greatest(((col(c).cast("double") - lit(lo)) / lit(span) * lit(65535.0))
        .cast("int"), lit(0)), lit(65535))
    }
    val z = graft.functions.VectorExpressions.zorder16(
      norm(zColA, minA, maxA), norm(zColB, minB, maxB))
    val zed = df.withColumn("__z", z)
    val clustered =
      if (numFiles > 1) {
        // null for no rows; rows with a null z-value go to file 0
        val cuts = Option(zed.agg(percentile_approx(col("__z"),
            lit((1 until numFiles).map(_.toDouble / numFiles).toArray),
            lit(numFiles * 10000))).head().getSeq[Long](0)).getOrElse(Nil)
        val keyed = zed.withColumn("__file",
          cuts.foldLeft(lit(0))((n, c) => n + when(col("__z") > c, 1).otherwise(0)))
        val at = keyed.schema.fieldIndex("__file")
        spark.createDataFrame(keyed.rdd.keyBy(_.getInt(at))
          .partitionBy(new DuckLake.IndexPartitioner(numFiles)).values, keyed.schema)
          .drop("__file")
      } else if (numFiles == 1) zed.repartition(1)
      else zed.repartitionByRange(col("__z"))
    write(clustered.sortWithinPartitions("__z").drop("__z"), name, WriteMode.Replace)
  }

  /** Effective data-inlining row limit for a table: the scoped
    * `data_inlining_row_limit` option when set, else the constructor
    * default.
    */
  private def effectiveInlineLimit(name: String): Int =
    try getOption("data_inlining_row_limit", name).map(_.toInt)
      .getOrElse(inlineRowLimit)
    catch { case _: Exception => inlineRowLimit }

  /** Per-column stats of a SMALL DataFrame about to inline (one
    * aggregate pass over ≤ inline-limit rows): canonical min/max for
    * bounded types, presence counts for all — feeds the same cumulative
    * ducklake_table_column_stats the file writers feed, so `stats()`
    * stays exact across inlined inserts and updates (reference:
    * tests/sqllogictests/sql/data_inlining/data_inlining_update.test).
    */
  private def inlineStats(df: DataFrame, cols: Seq[ColumnDef]): Seq[ColumnStatRec] = {
    import org.apache.spark.sql.functions.{count, lit, max => smax, min => smin}
    import org.apache.spark.sql.types._
    def bounded(dt: DataType): Boolean = dt match {
      case _: StructType | _: MapType | _: ArrayType | BinaryType => false
      case _ => true
    }
    val typed = cols.map(c => c -> TypeBridge.toSpark(c.dtype))
    // backtick-escape: df("a.b") parses as a field path, df("c`d") as a
    // syntax error — same quoting as inlineJson/annotateFieldIds
    def qc(name: String) = df(s"`${name.replace("`", "``")}`")
    val aggs = typed.zipWithIndex.flatMap { case ((c, dt), i) =>
      count(qc(c.name)).as(s"__c_$i") +:
        (if (bounded(dt))
          Seq(smin(qc(c.name)).as(s"__mn_$i"), smax(qc(c.name)).as(s"__mx_$i"))
        else Nil)
    } :+ count(lit(1)).as("__n")
    val r = df.agg(aggs.head, aggs.tail: _*).collect().head
    val n = r.getAs[Long]("__n")
    typed.zipWithIndex.map { case ((c, dt), i) =>
      val nonNull = r.getAs[Long](s"__c_$i")
      val (mn, mx) =
        if (bounded(dt))
          (Option(r.getAs[Any](s"__mn_$i")).flatMap(FileStats.canonicalValue(dt, _)),
            Option(r.getAs[Any](s"__mx_$i")).flatMap(FileStats.canonicalValue(dt, _)))
        else (None, None)
      ColumnStatRec(c.name, n, Some(n - nonNull), mn, mx)
    }
  }

  /** Optimistic-concurrency retry budget for concurrent appends to one
    * table (the DuckLake `ducklake_max_retry_count` setting — corpus:
    * settings/max_retry_count.test). A writer whose base snapshot
    * advanced at publish time re-runs its whole write (restage included)
    * from a fresh base, up to this many retries.
    */
  @volatile var maxRetryCount: Int = 10
  /** Wait before a CAS re-publish, growing `retryBackoff`× per attempt
    * (capped at 1 s) — the DuckLake `ducklake_retry_wait_ms` /
    * `ducklake_retry_backoff` settings.
    */
  @volatile var retryWaitMs: Long = 100
  @volatile var retryBackoff: Double = 1.5

  private def write(df: DataFrame, name: String, mode: WriteMode.Value,
      partitionBy: Seq[String] = Nil, flushInlined: Boolean = false,
      redefine: Boolean = false, replaceBase: Option[Long] = None): Long = {
    // optimistic-concurrency driver: a SnapshotCasRetry from the publish
    // gate re-runs the WHOLE write from a fresh base snapshot, up to the
    // retry budget, then surfaces the reference's retry-exhaustion error.
    // Re-running includes the staging job — the transaction's view of the
    // catalog (partition spec, inline eligibility, schema epoch) was read
    // at the stale base and must be re-derived. (Reusing already-staged
    // files across retries is a possible future optimization for huge
    // appends whose plan provably doesn't depend on the base.)
    var attempt = 0
    while (true) {
      try return writeOnce(df, name, mode, partitionBy, flushInlined, redefine,
        replaceBase)
      catch {
        case _: MetadataStore.SnapshotCasRetry =>
          attempt += 1
          val budget = maxRetryCount
          if (attempt > budget)
            throw new TransactionConflictException(
              s"Exceeded the maximum retry count of $budget set by the " +
                "ducklake_max_retry_count setting.")
          Thread.sleep(math.min(1000.0,
            retryWaitMs * math.pow(retryBackoff, (attempt - 1).toDouble)).toLong)
      }
    }
    -1L // unreachable
  }

  private def writeOnce(df: DataFrame, name: String, mode: WriteMode.Value,
      partitionBy: Seq[String], flushInlined: Boolean,
      redefine: Boolean, replaceBase: Option[Long] = None): Long = {
    val (schemaName, tableName) = parse(name)
    // path hardening BEFORE any filesystem work (same order as the
    // reference, src/metadata_writer.rs:17-36): an invalid name must not
    // leave staged or renamed files behind
    PathResolver.validateEntityName(schemaName)
    PathResolver.validateEntityName(tableName)
    // partition keys are fixed at creation (CREATE OR REPLACE redefines);
    // appends inherit them
    val existingSpecs = partitionColumnsOf(name)
    val tableIsNew = !tableExists(name) || redefine
    // optimistic base for concurrent appends to an EXISTING table (CTAS
    // and replaces publish unconditionally — their internal bootstrap may
    // legitimately advance the snapshot mid-write): captured before any
    // staging, validated atomically at publish time
    val casBase: Option[Long] =
      if (mode == WriteMode.Append && !tableIsNew && !flushInlined)
        Some(store.currentSnapshot) else None
    // Replace of an EXISTING table (compact/sort/zorder/insert-overwrite;
    // redefine=false, so not the CREATE OR REPLACE drop+create path): a
    // concurrent append committing between this write's table read and
    // its publish would be silently erased by a last-wins publish. The
    // reference surfaces a transaction conflict instead — so does this
    // gate. No retry: the staged content was derived from the stale
    // snapshot, so re-running could only repeat the erasure.
    // The base is the snapshot the rewrite's INPUT was pinned at
    // (`replaceBase`, passed by compact and friends), not the snapshot at
    // this method's entry: a rewrite materializes its scan BEFORE calling
    // write, so an append landing in that gap must still conflict.
    val replaceCasBase: Option[Long] =
      if (mode == WriteMode.Replace && !tableIsNew && !redefine && !flushInlined)
        Some(replaceBase.getOrElse(store.currentSnapshot)) else None
    val requestedSpecs = partitionBy.map(PartTransform.parse(_).spec)
    if (!tableIsNew && partitionBy.nonEmpty && requestedSpecs != existingSpecs)
      throw new UnsupportedException(
        s"partitioning mismatch for $name: table has [${existingSpecs.mkString(",")}]")
    val partSpecs = if (tableIsNew) requestedSpecs else existingSpecs
    val partFields = partSpecs.map(PartTransform.parse)
    partFields.foreach { pf =>
      val f = df.schema.fields.find(_.name == pf.source).getOrElse(
        throw new InvalidConfigException(s"partition column ${pf.source} not in dataframe"))
      pf.transform.foreach(t => PartTransform.validate(t, f.dataType, pf.source))
    }
    // data inlining (DuckLake spec): appends at or below the limit live
    // in the catalog as JSON rows — no parquet file, no storage round
    // trip. Only for appends whose schema matches the table exactly
    // (inlined rows skip the evolution machinery); partitioned tables
    // inline too — flushing writes the rows out hive-partitioned.
    val inlineLimit = effectiveInlineLimit(name)
    // reference parity (corpus: geo/ducklake_geometry_inlining.test):
    // GEOMETRY columns don't inline — the bbox summary-stats machinery is
    // file-based; the reference errors at bind time rather than silently
    // spilling. Only APPENDS can take the inlined branch (the condition
    // two blocks below), so only appends are rejected — Replace-mode
    // maintenance (compact/sort/zorder rewrites) never inlines and must
    // keep working on geometry tables under an inline limit.
    if (inlineLimit > 0 && mode == WriteMode.Append && !flushInlined &&
        !tableIsNew &&
        pinned(name).exists(_.cols.exists(c => TypeBridge.isGeometry(c.dtype))))
      throw new UnsupportedTypeException(
        "DuckLake does not yet support data-inlining of 'GEOMETRY' columns")
    if (inlineLimit > 0 && mode == WriteMode.Append && !tableIsNew &&
        !flushInlined && schemaMatchesCurrent(name, df)) {
      val sample = inlineJson(df).limit(inlineLimit + 1).collect()
      if (sample.length <= inlineLimit) {
        val t = pin(name)
        val curCols = t.cols
        // NOT NULL also holds for inlined rows (toJSON omits null fields,
        // so a missing key IS a null)
        curCols.filterNot(_.nullsAllowed).foreach { c =>
          if (sample.exists(j => !j.contains("\"" + c.name + "\":")))
            throw new ConstraintViolationException(
              s"NOT NULL constraint failed: column ${c.name} of $name")
        }
        return store.withSnapshotCas(casBase)(
          store.commitInlined(t.tableId, sample.toSeq,
            inlineStats(df, curCols)))
      }
    }
    // CTAS at or under the inline limit: table registration + inlined
    // rows in ONE snapshot, zero files (matches the reference —
    // tests/sqllogictests/sql/data_inlining/data_inlining_delete.test)
    if (inlineLimit > 0 && tableIsNew && !flushInlined && partFields.isEmpty) {
      val sample = inlineJson(df).limit(inlineLimit + 1).collect()
      if (sample.length <= inlineLimit) {
        val cols = df.schema.fields.zipWithIndex.map { case (f, i) =>
          ColumnDef(i.toLong, i.toLong, f.name, TypeBridge.fromSpark(f.dataType),
            f.nullable, None)
        }.toSeq
        cols.filterNot(_.nullsAllowed).foreach { c =>
          if (sample.exists(j => !j.contains("\"" + c.name + "\":")))
            throw new ConstraintViolationException(
              s"NOT NULL constraint failed: column ${c.name} of $name")
        }
        return store.commitWriteWithInlined(TableWriteSpec(schemaName, tableName,
          cols, mode, Nil, Nil, flushInlined = false, redefine = redefine),
          sample.toSeq, inlineStats(df, cols))
      }
    }
    val (spec, renamed) = stageWrite(df, name, mode,
      if (tableIsNew) partSpecs else Nil, partFields, flushInlined, redefine)
    val snap =
      try {
        beforePublishHook()
        store.withSnapshotCas(casBase) {
          replaceCasBase.foreach { base =>
            if (store.currentSnapshot != base)
              throw new TransactionConflictException(
                s"transaction conflict replacing $name: a concurrent " +
                  "transaction committed after this write began")
          }
          store.commitWrites(Seq(spec.copy(redefine = redefine)))
        }
      }
      catch { case e: Throwable => cleanupRenamed(renamed); throw e }
    // auto_compact: merge adjacent small files right after the append
    // (scoped option; DuckLake default behavior on small inserts)
    if (mode == WriteMode.Append && !flushInlined &&
        getOption("auto_compact", name).exists(_.equalsIgnoreCase("true")))
      try mergeAdjacentOne(name, Int.MaxValue) catch { case _: Exception => () }
    snap
  }

  /** Spark-stage `df` and move its files into the table directory; the
    * catalog registration is NOT committed — callers commit one or many
    * staged specs atomically ([[write]], [[transaction]]).
    */
  /** Scoped parquet tuning options (the DuckLake settings surface —
    * corpus: tests/sqllogictests/sql/settings/) rendered as Spark/
    * parquet-mr writer options. Resolution is most-specific-first:
    * table > schema > global, over one read of the option rows
    * (store.optionsOf).
    */
  private def writerTuning(name: String): Map[String, String] = {
    val (schemaName, tableName) = parse(name)
    val option = store.optionsOf(schemaName, tableName)
    val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
    option("parquet_compression").foreach { c =>
      m += "compression" -> (c.toLowerCase match {
        case "lz4" => "lz4_raw" // duck lz4 ≙ parquet LZ4_RAW
        case other => other
      })
    }
    option("parquet_compression_level").foreach { l =>
      m += "parquet.compression.codec.zstd.level" -> l
    }
    option("parquet_version").foreach { v =>
      m += "parquet.writer.version" ->
        (if (v.trim == "2") "PARQUET_2_0" else "PARQUET_1_0")
    }
    option("parquet_row_group_size").foreach(n =>
      m += "parquet.block.row.count.limit" -> n.trim)
    option("parquet_row_group_size_bytes").flatMap(parseByteSize)
      .foreach { b =>
        m += "parquet.block.size" -> b.toString
        // small row groups need matching page granularity to take effect
        m += "parquet.page.size" -> math.max(1024L, b / 8).toString
      }
    // Bloom filters: beyond-reference writer extension — the reference's
    // scan path already consumes blooms "if available"
    // (reference src/table.rs:593) but its writer never produces them.
    // At 100 TB an equality/IN predicate on a high-cardinality UNSORTED
    // key (user id, doc id) gets no min/max pruning; a per-row-group
    // bloom skips those row groups at the reader. CSV of column names;
    // optional shared false-positive rate.
    option("parquet_bloom_filter_columns").foreach { cols =>
      val fpp = option("parquet_bloom_filter_fpp")
      cols.split(",").map(_.trim).filter(_.nonEmpty).foreach { c =>
        m += s"parquet.bloom.filter.enabled#$c" -> "true"
        fpp.foreach(f => m += s"parquet.bloom.filter.fpp#$c" -> f)
      }
    }
    m.toMap
  }

  /** Every option a lake parquet file of `name` is written with: the
    * table's [[writerTuning]] plus, for an encrypted write, the crypto
    * factory and the file's key. Staged appends hand them to
    * `DataFrameWriter`; executor-side writers get them through
    * [[parquetOutput]].
    */
  private def writeOptions(name: String, keyOpt: Option[String]): Map[String, String] =
    writerTuning(name) ++ keyOpt.toSeq.flatMap(k => Seq(
      GraftCryptoFactory.FactoryClass -> classOf[GraftCryptoFactory].getName,
      GraftCryptoFactory.EncryptKey -> k))

  /** Spark's parquet writer for the executor-side files of one write to
    * table `name` (delta and streaming writes), prepared like a staged
    * append: the [[writeOptions]], read once, and the lake's session
    * confs. One preparation and one broadcast conf serve every file of
    * the write, whatever its schema ([[ParquetOutput.newWriter]]).
    */
  private[lake] def parquetOutput(name: String, keyOpt: Option[String]): ParquetOutput = {
    val opts = writeOptions(name, keyOpt)
    val job = org.apache.hadoop.mapreduce.Job.getInstance(hadoopConfWith(opts))
    val factory = withWriterSessionConf(
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
        .prepareWrite(spark, job, opts, new StructType()))
    ParquetOutput(factory, spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(job.getConfiguration)))
  }

  /** Catalog column ids of the CURRENT shape (empty when absent). */
  private[lake] def fieldIdsOf(name: String): Map[String, Long] =
    pinned(name).fold(Map.empty[String, Long])(_.fieldIds)

  /** Annotate the outgoing schema with parquet FIELD IDS (DuckLake spec:
    * column_id ≙ parquet field_id, so field-id-based readers resolve
    * columns without name mappings — reference src/types.rs:440-498).
    * Top-level fields carry their CATALOG column ids; Spark's writer has
    * no channel for NESTED field ids (array/map elements), so subtrees
    * stay unannotated — our own reader projects by catalog epoch and
    * never needs them.
    */
  private def annotateFieldIds(df: DataFrame, name: String,
      redefine: Boolean = false): DataFrame = {
    val existing = pinned(name)
    // ids run DEPTH-FIRST through nested nodes (spec numbering, mirrors
    // registerWrite): the stamped top-level field id is the root node id
    def depthFirst(base: Long): Map[String, Long] = {
      var cid = base + 1L
      df.schema.fields.map { f =>
        val id = cid
        cid += (try TypeBridge.nodeCount(TypeBridge.fromSpark(f.dataType))
          catch { case _: Exception => 1 })
        f.name -> id
      }.toMap
    }
    val ids: Map[String, Long] = existing match {
      case Some(t) if redefine =>
        // CREATE OR REPLACE assigns FRESH ids past every NODE id the
        // table ever occupied — the files must carry those
        depthFirst(store.maxColumnId(t.tableId))
      case Some(t) => t.fieldIds
      case None =>
        // first write of a CTAS: mirror the 1-based numbering the
        // catalog rows land with at commit
        depthFirst(0L)
    }
    df.select(df.schema.fields.map { f =>
      val q = s"`${f.name.replace("`", "``")}`"
      ids.get(f.name).fold(col(q)) { id =>
        col(q).as(f.name,
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("parquet.field.id", id).build())
      }
    }: _*)
  }

  private def stageWrite(df: DataFrame, name: String, mode: WriteMode.Value,
      partColsForCreate: Seq[String], partCols: Seq[PartField],
      flushInlined: Boolean, redefine: Boolean = false): (TableWriteSpec, Seq[Path]) = {
    val (schemaName, tableName) = parse(name)
    val cols = df.schema.fields.zipWithIndex.map { case (f, i) =>
      ColumnDef(i.toLong, i.toLong, f.name, TypeBridge.fromSpark(f.dataType), f.nullable)
    }.toSeq
    val staging = s"$dataPath/.staging-${UUID.randomUUID()}"
    val fs = FileSystem.get(new java.net.URI(staging), hconf)
    // every key partitions by a derived `__pt_i` value column (the hive
    // dir segment); the SOURCE column always stays physically in the
    // parquet — reference behavior: full rows in files, the directory
    // layout is naming only (corpus: partitioning/disable_hive_partitioning
    // .test reads part_key straight out of a partition's files)
    val dirCols = partCols.indices.map(i => s"__pt_$i")
    val toStage = partCols.zipWithIndex.foldLeft(annotateFieldIds(df, name, redefine)) {
      case (d, (pf, i)) =>
        d.withColumn(s"__pt_$i",
          pf.transform.fold(col(pf.source))(t => PartTransform.valueExpr(t, col(pf.source))))
    }
    // one fresh key per commit; each registered file row carries it
    val keyOpt = if (encryptionEnabled) Some(GraftCryptoFactory.newKeyB64()) else None
    // per_thread_output: explicit true fans the write out across cores
    // (one file per task); explicit false forces a single file
    // (corpus: settings/per_thread_output.test)
    val shaped = getOption("per_thread_output", name).map(_.toLowerCase) match {
      case Some("true")  => toStage.repartition(
        math.min(8, math.max(2, spark.sparkContext.defaultParallelism)))
      case Some("false") => toStage.coalesce(1)
      case _             => toStage
    }
    val writer0 = shaped.write.mode("overwrite").options(writeOptions(name, keyOpt))
    // with a target_file_size set, large writes split at parquet
    // row-group granularity (DuckLake insert splitting — corpus:
    // insert/insert_file_size.test); tiny writes stay one file
    val writer = getOption("target_file_size", name).flatMap(parseByteSize)
      .fold(writer0)(_ => writer0.option("maxRecordsPerFile", 122880L))
    withWriterSessionConf(
      (if (dirCols.nonEmpty) writer.partitionBy(dirCols: _*) else writer).parquet(staging))
    // full rows land in the files — partition keys included
    val dataSchema = df.schema
    try {
      val stagingPath = new Path(staging)
      val parts = {
        val it = fs.listFiles(stagingPath, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
        while (it.hasNext) {
          val st = it.next()
          if (st.getPath.getName.endsWith(".parquet")) buf += st.getPath
        }
        buf.sortBy(_.toString).toSeq
      }
      val stagingUri = fs.makeQualified(stagingPath).toUri
      val staged = parts.map { part =>
        // hive dir segments between staging root and the file = the
        // partition values, in partitionBy order
        val rel = stagingUri.relativize(fs.makeQualified(part).toUri).getPath
        val segs = rel.split('/').dropRight(1)
        val partValues = segs.toSeq.map { seg =>
          val v = unescapePathName(seg.substring(seg.indexOf('=') + 1))
          if (v == "__HIVE_DEFAULT_PARTITION__") None else Some(v)
        }
        if (partValues.size != partCols.size)
          throw new InternalException(s"bad staging layout for $part: $rel")
        part -> partValues
      }
      val (files, renamed) = stageIntoTableDir(schemaName, tableName, staged,
        dataSchema, keyOpt, hiveNamesFor(name, partCols))
      (TableWriteSpec(schemaName, tableName, cols, mode, files, partColsForCreate,
        flushInlined), renamed)
    } finally fs.delete(new Path(staging), true)
  }

  /** Rename staged parquet files into the table directory and capture
    * footer stats; returns the registrations plus the moved paths (for
    * cleanup if the later commit fails).
    */
  private def stageIntoTableDir(schemaName: String, tableName: String,
      staged: Seq[(Path, Seq[Option[String]])], dataSchema: StructType,
      keyOpt: Option[String],
      hiveNames: => Seq[String] = Nil): (Seq[FileToRegister], Seq[Path]) = {
    if (staged.isEmpty) return (Nil, Nil)
    val fs = FileSystem.get(new java.net.URI(dataPath), hconf)
    val tableDir = tableDirOf(s"$schemaName.$tableName")
    fs.mkdirs(new Path(tableDir))
    // GEOMETRY-typed catalog columns get a bbox/type `extra_stats`
    // summary per file (corpus: geo/ducklake_geometry.test) — computed
    // by one distributed pass over the staged file's WKB column
    val geoCols: Seq[String] = pinned(s"$schemaName.$tableName")
      .fold(Seq.empty[String])(_.cols.filter(c => TypeBridge.isGeometry(c.dtype)).map(_.name))
      .filter(n => dataSchema.fieldNames.contains(n))
    val renamed = scala.collection.mutable.ArrayBuffer.empty[Path]
    val placed = staged.map { case (part, partValues) =>
      val fileName = s"ducklake-${UUID.randomUUID()}.parquet"
      // hive layout: key=value directory per partition key (DuckLake
      // default file pattern; names are the transform or source column)
      val relName =
        if (hiveNames.isEmpty || partValues.isEmpty) fileName
        else hiveNames.zip(partValues).map { case (n, v) =>
          s"$n=${v.map(escapePathName).getOrElse("__HIVE_DEFAULT_PARTITION__")}"
        }.mkString("", "/", s"/$fileName")
      val dest = new Path(s"$tableDir/$relName")
      fs.mkdirs(dest.getParent)
      if (!fs.rename(part, dest))
        throw new InternalException(s"rename failed: $part -> $dest")
      renamed += dest
      (dest, relName, partValues)
    }
    // ONE distributed pass over every staged file for the geometry
    // summaries (never a Spark job per file — a partitioned write
    // staging hundreds of files would otherwise pay hundreds of
    // job-scheduling round trips at commit)
    val geoByFile: Map[String, Map[String, Geo.GeoStats]] =
      if (geoCols.isEmpty) Map.empty
      else geoFileStatsMulti(placed.map(_._1), geoCols, keyOpt)
    val files = placed.map { case (dest, relName, partValues) =>
      val st = fs.getFileStatus(dest)
      val (footer, records, footerLen) = stagedFooter(st, keyOpt)
      val footerStats = FileStats.fromFooter(footer, dataSchema)
      val stats =
        if (geoCols.isEmpty) footerStats
        else {
          val geo = geoByFile.getOrElse(dest.getName, Map.empty)
          footerStats.map { s =>
            if (geoCols.contains(s.columnName))
              s.copy(minValue = None, maxValue = None,
                extraStats = geo.get(s.columnName)
                  .filter(_.types.nonEmpty).map(_.toJson))
            else s
          }
        }
      FileToRegister(relName, records, st.getLen, footerLen, stats, keyOpt, partValues)
    }
    (files, renamed.toSeq)
  }

  /** One distributed pass over SEVERAL staged files' geometry columns:
    * file name → column → merged bbox + type tags. Partial per-partition
    * accumulators keyed by `input_file_name`, tiny driver merge.
    */
  private def geoFileStatsMulti(paths: Seq[Path], geoCols: Seq[String],
      keyOpt: Option[String]): Map[String, Map[String, Geo.GeoStats]] = {
    if (paths.isEmpty) return Map.empty
    val df = reader(paths.map(p => p.getName -> keyOpt))
      .parquet(paths.map(_.toString): _*)
      .select(input_file_name().as("__f") +: geoCols.map(col): _*)
    val n = geoCols.length
    val partials = df.rdd.mapPartitions { it =>
      val acc = scala.collection.mutable.Map.empty[String, Array[Geo.GeoStats]]
      it.foreach { r =>
        val f = r.getString(0)
        val a = acc.getOrElseUpdate(f, Array.fill(n)(Geo.emptyStats))
        var i = 0
        while (i < n) {
          if (!r.isNullAt(i + 1))
            Geo.statsOfWkb(r.getAs[Array[Byte]](i + 1))
              .foreach(s => a(i) = a(i).merge(s))
          i += 1
        }
      }
      Iterator.single(acc.toMap)
    }.fold(Map.empty[String, Array[Geo.GeoStats]]) { (m1, m2) =>
      (m1.keySet ++ m2.keySet).map { k =>
        k -> ((m1.get(k), m2.get(k)) match {
          case (Some(a), Some(b)) => a.zip(b).map { case (x, y) => x.merge(y) }
          case (a, b)             => a.orElse(b).get
        })
      }.toMap
    }
    partials.map { case (uri, arr) =>
      uri.substring(uri.lastIndexOf('/') + 1) -> geoCols.zip(arr).toMap
    }
  }

  /** One distributed pass over a staged file's geometry columns: per
    * column, the merged bbox + type-tag set. Partial aggregation per
    * partition, tiny merge on the driver — O(one extra columnar read of
    * the new file), never a per-row collect.
    */
  private def geoFileStats(dest: Path, geoCols: Seq[String],
      keyOpt: Option[String]): Map[String, Geo.GeoStats] = {
    val df = reader(Seq(dest.getName -> keyOpt))
      .parquet(dest.toString).select(geoCols.map(col): _*)
    val n = geoCols.length
    val zero = Array.fill(n)(Geo.emptyStats)
    val agg = df.rdd.mapPartitions { it =>
      val acc = Array.fill(n)(Geo.emptyStats)
      it.foreach { r =>
        var i = 0
        while (i < n) {
          if (!r.isNullAt(i))
            Geo.statsOfWkb(r.getAs[Array[Byte]](i))
              .foreach(s => acc(i) = acc(i).merge(s))
          i += 1
        }
      }
      Iterator.single(acc)
    }.fold(zero)((a, b) => a.zip(b).map { case (x, y) => x.merge(y) })
    geoCols.zip(agg).toMap
  }

  /** Hive on-disk layout directory names for a table's partition keys
    * (DuckLake default; the scoped `hive_file_pattern false` option keeps
    * partitioned files flat — partition values live in the catalog either
    * way, so pruning is identical). Empty = flat.
    */
  private def hiveNamesFor(name: String, pcs: Seq[PartField]): Seq[String] =
    // an ENCRYPTED lake never leaks partition values into paths —
    // files stay partitioned (values in the catalog), names opaque
    // (corpus: encryption/partitioning_encryption.test)
    if (pcs.nonEmpty && !encryptionEnabled &&
        getOption("hive_file_pattern", name).forall(v => !v.equalsIgnoreCase("false")))
      pcs.map(pf => pf.transform.map(_.takeWhile(_ != '[')).getOrElse(pf.source))
    else Nil

  /** Hive partition-path escaping (%xx per special char) — must stay the
    * exact inverse of [[unescapePathName]].
    */
  private def escapePathName(s: String): String = {
    val needs = "%/\\:=?#'\"<>|;"
    if (!s.exists(c => needs.contains(c) || c < ' ')) s
    else s.flatMap { c =>
      if (needs.contains(c) || c < ' ') f"%%${c.toInt}%02X" else c.toString
    }
  }

  private def cleanupRenamed(renamed: Seq[Path]): Unit = {
    val fs = FileSystem.get(new java.net.URI(dataPath), hconf)
    renamed.foreach(p => try fs.delete(p, false) catch { case _: Throwable => () })
  }

  /** Rename staged parquet files into the table directory, capture footer
    * stats, and commit — used by the native BatchWrite (SQL UPDATE/MERGE
    * rewrites) and StreamingWrite. `staged`: (stagingFile,
    * partitionValues); all files carry `keyOpt` when encryption is on.
    */
  private[lake] def commitStaged(schemaName: String, tableName: String,
      cols: Seq[ColumnDef], mode: WriteMode.Value,
      staged: Seq[(Path, Seq[Option[String]])], dataSchema: StructType,
      keyOpt: Option[String], partColsForCreate: Seq[String],
      flushInlined: Boolean = false): Long = {
    // DSv2 writes (MERGE/UPDATE rewrites, streaming epochs) keep the
    // table's hive directory layout — the writer already split rows by
    // partition value (corpus: merge/merge_partition_update.test GLOBs
    // the year=… directories MERGE wrote)
    val hiveNames =
      try hiveNamesFor(s"$schemaName.$tableName",
        partitionFieldsOf(s"$schemaName.$tableName"))
      catch { case _: DuckLakeException => Nil }
    val (files, renamed) = stageIntoTableDir(schemaName, tableName, staged,
      dataSchema, keyOpt, hiveNames)
    try store.commitWrite(schemaName, tableName, cols, mode, files, partColsForCreate,
      flushInlined)
    catch { case e: Throwable =>
      // failed commit (e.g. incompatible evolution) must not leave
      // orphan data files in the live table directory
      cleanupRenamed(renamed)
      throw e
    }
  }

  /** BEGIN: open a multi-statement transaction. Every subsequent mutation
    * (DDL, INSERT, DELETE, MERGE …) joins ONE shared snapshot riding the
    * metadata store's own SQL transaction; [[commitTransaction]] makes it
    * all visible atomically and [[rollbackTransaction]] discards it —
    * including the physical data files written meanwhile (reference:
    * tests/sqllogictests/sql/transaction/basic_transaction.test).
    */
  def beginTransaction(): Unit = store.beginTransaction()

  def commitTransaction(): Unit = store.commitTransaction()

  /** Mark the open transaction aborted after an engine-level statement
    * failure (DuckDB semantics: mutations error until ROLLBACK).
    */
  def abortTransaction(): Unit = store.markTransactionAborted()

  def rollbackTransaction(): Unit = {
    // resolve the transaction's file paths while its catalog rows are
    // still visible on this connection, then discard metadata + bytes.
    // Only relative paths — files this transaction WROTE under the table
    // dir; absolute paths are adopted pre-existing files (add_files) that
    // a rollback must merely deregister, never delete.
    val paths = store.openTxnFiles().collect {
      case (s, t, p, true) => s"${tableDirOf(s"$s.$t")}/$p"
    }
    store.rollbackTransaction()
    val fs = FileSystem.get(new java.net.URI(dataPath), hconf)
    paths.foreach(p => fs.delete(new Path(p), false))
  }

  /** Cross-table ATOMIC transaction: every `tx.write` stages immediately,
    * and all registrations commit in ONE snapshot — all tables' rows
    * become visible together, or none do (the multi-table atomicity a
    * SQL-backed catalog affords that per-table-pointer catalogs cannot).
    * Inlining is bypassed inside transactions.
    */
  def transaction(body: LakeTransaction => Unit): Long = {
    val tx = new LakeTransaction(this)
    try {
      body(tx)
      store.commitWrites(tx.specs.toSeq)
    } catch { case e: Throwable =>
      cleanupRenamed(tx.renamed.toSeq)
      throw e
    }
  }

  private[lake] def stageForTransaction(tx: LakeTransaction, df: DataFrame,
      name: String, mode: WriteMode.Value, partitionBy: Seq[String]): Unit = {
    val (schemaName, tableName) = parse(name)
    PathResolver.validateEntityName(schemaName)
    PathResolver.validateEntityName(tableName)
    val existingSpecs = partitionColumnsOf(name)
    val tableIsNew = !tableExists(name)
    val requestedSpecs = partitionBy.map(PartTransform.parse(_).spec)
    if (!tableIsNew && partitionBy.nonEmpty && requestedSpecs != existingSpecs)
      throw new UnsupportedException(
        s"partitioning mismatch for $name: table has [${existingSpecs.mkString(",")}]")
    val partSpecs = if (tableIsNew) requestedSpecs else existingSpecs
    val (spec, renamed) = stageWrite(df, name, mode,
      if (tableIsNew) partSpecs else Nil, partSpecs.map(PartTransform.parse),
      flushInlined = false)
    tx.specs += spec
    tx.renamed ++= renamed
  }

  private def schemaMatchesCurrent(name: String, df: DataFrame): Boolean = {
    pin(name).cols.map(c => (c.name, c.dtype)) ==
      df.schema.fields.toSeq.map(f => (f.name, TypeBridge.normalize(TypeBridge.fromSpark(f.dataType))))
  }

  /** Undo Spark/Hive's partition-path escaping (`%xx` per special ASCII
    * char — ExternalCatalogUtils.escapePathName's inverse).
    */
  private def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try { sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Parquet footer size from the file tail: 4-byte little-endian footer
    * length at [len-8, len-4) before the "PAR1" magic (port of reference
    * src/table_writer.rs:319-338).
    */
  private def footerSize(in: org.apache.parquet.io.SeekableInputStream, p: Path,
      len: Long): Long = {
    in.seek(len - 8)
    val b = new Array[Byte](8)
    in.readFully(b)
    // "PAR1" plaintext footer; "PARE" PME encrypted footer
    if (!(b(4) == 'P' && b(5) == 'A' && b(6) == 'R' && (b(7) == '1' || b(7) == 'E')))
      throw new InternalException(s"not a parquet file: $p")
    val footerLen = (b(0) & 0xffL) | ((b(1) & 0xffL) << 8) | ((b(2) & 0xffL) << 16) | ((b(3) & 0xffL) << 24)
    footerLen + 8 // include length+magic, as the reference hint does
  }

  /** A staged file's footer, record count and [[footerSize]] from ONE
    * open of the file (decrypting with `key` when set).
    */
  private def stagedFooter(st: FileStatus, key: Option[String])
      : (org.apache.parquet.hadoop.metadata.ParquetMetadata, Long, Long) = {
    val file = HadoopInputFile.fromStatus(st, hconf)
    val in = file.newStream()
    val opts = org.apache.parquet.HadoopReadOptions.builder(hconf, st.getPath)
    key.foreach(k => opts.withDecryption(GraftCryptoFactory.decryptionProps(k)))
    val (reader, size) =
      try {
        val size = footerSize(in, st.getPath, st.getLen)
        (org.apache.parquet.hadoop.ParquetFileReader.open(file, opts.build(), in), size)
      } catch { case e: Throwable => in.close(); throw e }
    try (reader.getFooter, reader.getRecordCount, size) finally reader.close()
  }

  /** The Spark schema of a parquet file from its read footer, as
    * `spark.read.parquet` infers it (the schema Spark wrote into the
    * footer, else the session's parquet type conversion) — without the
    * schema-inference job.
    */
  private def footerSchema(p: Path,
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata): StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    ParquetFileFormat.readSchemaFromFooter(new org.apache.parquet.hadoop.Footer(p, footer),
      new ParquetToSparkSchemaConverter(org.apache.spark.sql.internal.SQLConf.get))
  }

  // ------------------------------------------------------------------
  // Read path (reference: A4 table scan planner, src/table.rs:369-653)
  // ------------------------------------------------------------------

  /** Table `name` at snapshot `snap` (default: the current one) as a
    * [[PinnedTable]]: its schema and table rows, resolved by name at
    * `snap`, and its columns there. A read of files live before `snap`
    * (change feeds) passes the first snapshot it reads, `from`.
    */
  private[lake] def pin(name: String, snap: Long = store.currentSnapshot,
      from: Option[Long] = None): PinnedTable = {
    val (schemaName, tableName) = parse(name)
    val schema = store.getSchemaByName(schemaName, snap)
      .getOrElse(throw new SchemaNotFoundException(schemaName))
    val table = store.getTableByName(schema.schemaId, tableName, snap)
      .getOrElse(throw new TableNotFoundException(name))
    val t = new PinnedTable(store, dataPath, name, schema, table, snap, from.getOrElse(snap))
    if (t.cols.isEmpty) throw new TableNotFoundException(s"$name (no columns at snapshot $snap)")
    t
  }

  /** [[pin]] at `snapshot` (default: the current one), None when the
    * table does not exist there.
    */
  private def pinned(name: String, snapshot: Option[Long] = None): Option[PinnedTable] =
    try Some(pin(name, snapshot.getOrElse(store.currentSnapshot)))
    catch { case _: SchemaNotFoundException | _: TableNotFoundException => None }

  /** The snapshot a read at `snapshot` pins: the current one, or an
    * explicit one, which must still exist (not expired).
    */
  private[lake] def snapshotOf(snapshot: Option[Long]): Long = snapshot match {
    case Some(s) if !store.snapshotExists(s) =>
      throw new InvalidSnapshotException(s"snapshot $s does not exist (expired?)")
    case Some(s) => s
    case None => store.currentSnapshot
  }

  /** Physical directory of a table, resolved through the catalog's table
    * path (A23 model: relative paths chain catalog→schema→table). Normal
    * tables store `"<tableName>/"`; zero-copy clones store the SOURCE's
    * path, so shared files resolve without any byte movement. Falls back
    * to the name-derived default for tables not yet committed (first
    * write stages files before the catalog row exists).
    */
  private def tableDirOf(name: String): String = {
    val (s0, t0) = parse(name)
    val schOpt = store.getSchemaByName(s0, store.currentSnapshot)
    // directory segments come from the catalog's ESCAPED paths (names
    // may hold any characters); fall back to escaping the name for
    // entities whose catalog row doesn't exist yet (first write stages
    // files before the commit)
    val schSeg = schOpt.map(_.path.stripSuffix("/"))
      .getOrElse(PathResolver.safeSegment(s0))
    schOpt.flatMap(s => store.getTableByName(s.schemaId, t0, store.currentSnapshot))
      .map { tr =>
        val tp = tr.path.stripSuffix("/")
        if (tr.pathIsRelative) s"$dataPath/$schSeg/$tp" else tp
      }
      .getOrElse(s"$dataPath/$schSeg/${PathResolver.safeSegment(t0)}")
  }

  /** A catalog file path under table directory `dir`: relative paths
    * (files we wrote) resolve there; adopted files keep their absolute
    * path.
    */
  private def under(dir: => String, path: String, relative: Boolean): String =
    if (relative) s"$dir/$path" else path

  /** The rows of a MOR delete file of the table in `dir`, read with its
    * schema (no inference job).
    */
  private def deleteRows(dir: => String, d: DeleteFileRec): DataFrame =
    reader(Seq(d.path -> d.encryptionKey)).schema(DeletePositions.Schema)
      .parquet(under(dir, d.path, d.pathIsRelative))

  /** Physical column defs for one file's epoch: what each pinned catalog
    * column was named/typed when the file was written (column_id ≙
    * parquet field_id, reference src/types.rs:440-498).
    */
  private def epochOf(cols: Seq[ColumnDef],
      history: Seq[(ColumnDef, Long, Option[Long])],
      f: DataFileRec): Seq[(ColumnDef, Option[ColumnDef])] =
    cols.map(c => c -> history.find { case (h, begin, end) =>
      h.columnId == c.columnId && begin <= f.epoch &&
        end.forall(_ > f.epoch)
    }.map(_._1))

  /** Physical column resolution of one file: adopted files
    * (`mapping_id`) resolve through their name mapping — the column's
    * name/type as physically written by the OUTSIDE writer; our own files
    * resolve through the rename-epoch history. Both shapes feed the same
    * [[readGroup]] projection.
    */
  private def physOf(ctx: PinnedTable, f: DataFileRec): Seq[(ColumnDef, Option[ColumnDef])] =
    f.mappingId.flatMap(ctx.mappings.get) match {
      case Some(entries) =>
        val byId = entries.filterNot(_.isPartition).map(e => e.columnId -> e).toMap
        ctx.cols.map(c => c -> byId.get(c.columnId).map { e =>
          // the @file suffix marks "this is the FILE's physical INT64
          // encoding" (adopted TIME(MICROS) / TIMESTAMP(NANOS) columns,
          // which Spark's parquet reader refuses): readGroup reads the
          // column as BIGINT and rescales. Distinct from a NATIVE file
          // of a time/ns-typed column, whose parquet is whatever µs
          // encoding Spark itself wrote and reads back natively.
          val src = e.sourceType match {
            case "time"         => "time@file"
            case "timestamp_ns" => "timestamp_ns@file"
            case d              => d
          }
          ColumnDef(c.columnId, c.order, e.sourceName, src, nullsAllowed = true)
        })
      case None => epochOf(ctx.cols, ctx.history, f)
    }

  /** Raw identity partition values of one file, by column id: catalog
    * identity partition values plus, for adopted files, hive `key=value`
    * segments parsed from the file's own registered path (the
    * name-mapping hive model — the path IS the per-file value store).
    */
  private def injectedValues(ctx: PinnedTable, f: DataFileRec): Map[Long, Option[String]] = {
    val hive = f.mappingId.flatMap(ctx.mappings.get) match {
      case Some(entries) => entries.filter(_.isPartition)
        .map(e => e.columnId -> hivePathValue(f.path, e.sourceName)).toMap
      case None => Map.empty[Long, Option[String]]
    }
    ctx.partValues(f) ++ hive
  }

  /** First `key=value` segment of `path` matching `key` → its unescaped
    * value (None = absent or the hive null-default marker).
    */
  private def hivePathValue(path: String, key: String): Option[String] =
    path.split('/').collectFirst {
      case seg if seg.length > key.length && seg.startsWith(key) &&
          seg.charAt(key.length) == '=' =>
        val v = unescapePathName(seg.substring(key.length + 1))
        if (v == "__HIVE_DEFAULT_PARTITION__") None else Some(v)
    }.flatten

  /** Plan-time column for rows that predate a column's ADD: its declared
    * constant initial default, or typed null when none was declared.
    */
  private def defaultColumn(c: ColumnDef): Column = c.initialDefault match {
    case Some(sql) => expr(sql).cast(TypeBridge.toSpark(c.dtype))
    case None      => lit(null).cast(TypeBridge.toSpark(c.dtype))
  }

  /** The one relation constructor of every facade read: read group `g`
    * as a `HadoopFsRelation` over a [[LakeFileIndex]] of its catalog
    * files, partitioned by the group's identity partition columns, read
    * by [[DuckLakeParquetFormat]] and projected onto the pinned catalog
    * columns, then `extra` columns over the group's first file and its
    * per-file values (`field(name)`: a [[LakeFile.Fields]] field or
    * [[LakeFile.RowIndex]], from the scan's `_metadata`). With `skipping`,
    * the index skips files by the data filters Spark's planner hands it.
    */
  private def readGroup(g: LakeReadGroup,
      extra: (DataFileRec, String => Column) => Seq[Column] = (_, _) => Nil,
      skipping: Option[FileSkipping] = None): DataFrame = {
    val index = LakeFileIndex(g.files.map(_._2), g.partitionSchema)(
      skipping.fold(LakeFileIndex.KeepAll)(_.skipper(g)))
    val base = spark.baseRelationToDataFrame(
      org.apache.spark.sql.execution.datasources.HadoopFsRelation(index, g.partitionSchema,
        g.physSchema, None, new DuckLakeParquetFormat(index.files.exists(_.hidesRows)),
        decryptOptions(g.files.map { case (f, _) => f.path -> f.encryptionKey }))(spark))
    base.select(g.projection.map(_._2) ++
      extra(g.files.head._1, n => col(s"${DuckLake.MetadataColumn}.$n")): _*)
  }

  /** [[readGroup]] over every read group of `files` ([[readGroups]]),
    * in one n-ary union.
    */
  private def readAll(ctx: PinnedTable, files: Seq[DataFileRec], liveAt: Option[Long],
      provenance: Boolean = false,
      extra: (DataFileRec, String => Column) => Seq[Column] = (_, _) => Nil,
      skipping: Option[FileSkipping] = None): DataFrame =
    unionAll(readGroups(ctx, files, liveAt, provenance).map(readGroup(_, extra, skipping)))

  /** `frames`, which project the same columns in the same order, as one
    * n-ary `Union`: the analyzer sees one node, not a chain of pairs.
    */
  private def unionAll(frames: Seq[DataFrame]): DataFrame = {
    val names = frames.head.columns.toSeq
    require(frames.forall(_.columns.toSeq == names),
      s"a union of lake frames with other columns: ${frames.map(_.columns.mkString(", "))}")
    if (frames.size == 1) frames.head
    else ColumnBridge.ofRows(spark, Union(frames.map(_.queryExecution.analyzed)))
  }

  /** The column mapping of one read group: the physical columns its
    * files are read with, and the projection from them onto the pinned
    * catalog columns (`projection(i)` is `epoch(i)`'s column, under its
    * current name) — rename-safe and promotion-cast; the `partitioned`
    * columns read their partition field ([[DuckLake.partitionField]]),
    * not the parquet, and columns added after the files' epoch read their
    * initial default. `withRowIdCol` also reads the explicit row-id
    * column of UPDATE-written files (absent in legacy files: null).
    */
  private def groupMapping(epoch: Seq[(ColumnDef, Option[ColumnDef])],
      partitioned: Set[Long], withRowIdCol: Boolean,
      history: Seq[(ColumnDef, Long, Option[Long])],
      nestedDefaults: Map[Long, Map[String, String]]): (StructType, Seq[Column]) = {
    // a column NOT NULL both in the catalog and at the files' epoch reads
    // non-nullable, so filters on it translate for the parquet reader
    val physSchema0 = StructType(epoch.collect {
      case (cur, Some(phys)) if !partitioned(cur.columnId) =>
        StructField(phys.name, DuckLake.physReadType(phys.dtype),
          nullable = cur.nullsAllowed || phys.nullsAllowed)
    })
    val physSchema = if (withRowIdCol)
      physSchema0.add(DuckLake.RowIdPhysCol, LongType, nullable = true)
    else physSchema0
    val projection = epoch.map {
      case (cur, _) if partitioned(cur.columnId) =>
        col(DuckLake.partitionField(cur.columnId)).as(cur.name)
      case (cur, Some(phys)) =>
        // raw-INT64 temporals (adopted TIME / NANOS files, read as
        // BIGINT — see physOf) rescale FIRST, then conform as their
        // logical duck type
        val (physCol0, physDuck) = phys.dtype match {
          case "time@file" =>
            (graft.functions.RawTemporal.microsOfDayToTime(col(phys.name)), "time")
          case "timestamp_ns@file" =>
            (graft.functions.RawTemporal.nanosToTimestampNtz(col(phys.name)), "timestamp")
          case d => (col(phys.name), d)
        }
        // conform along the column's VERSION CHAIN when the history has
        // it: stepwise conformance sees each single ALTER, so a nested
        // RENAME (field dropped + field added at the same position, same
        // type, in ONE version step) keeps its values, while drop-then-
        // re-add across versions correctly reads NULL (corpus:
        // alter/struct_evolution_alter.test vs struct_evolution_reuse.test)
        val defaults = nestedDefaults.getOrElse(cur.columnId, Map.empty)
          .map { case (p, sql) => p.split('.').toSeq -> expr(sql) }
        val versions = history.filter(_._1.columnId == cur.columnId)
          .sortBy(_._2).map(_._1.dtype)
        val start = versions.indexWhere(TypeBridge.normalize(_) == TypeBridge.normalize(physDuck))
        val end = versions.lastIndexWhere(TypeBridge.normalize(_) == TypeBridge.normalize(cur.dtype))
        val projected0 =
          if (start >= 0 && end > start)
            versions.slice(start, end + 1).map(TypeBridge.toSpark)
              .sliding(2).foldLeft(physCol0) {
                case (c, Seq(a, b)) => DuckLake.conformStep(c, a, b, defaults)
                case (c, _)         => c
              }
          else DuckLake.conform(physCol0, TypeBridge.toSpark(physDuck),
            TypeBridge.toSpark(cur.dtype), defaults)
        // declared-precision enforcement on read: a TIMESTAMP_S/MS
        // column truncates finer-grained file values to its unit, the
        // reference's adoption semantics (add_files_type_check_timestamp
        // expects '12:23:34' from a µs file in a TIMESTAMP_S table).
        // Arithmetic floor on the physical micros (r14 advice): the
        // earlier date_trunc formulation round-tripped the zone-less
        // value through session-zone TIMESTAMP, which shifts wall times
        // inside a DST spring-forward gap — this runs on EVERY read of
        // such columns, so it must be zone-free
        val projected = TypeBridge.normalize(cur.dtype) match {
          case "timestamp_s" =>
            graft.functions.RawTemporal.truncNtz(projected0, 1000000L)
          case "timestamp_ms" =>
            graft.functions.RawTemporal.truncNtz(projected0, 1000L)
          case _ => projected0
        }
        projected.as(cur.name)
      case (cur, None) => // column added after this file was written:
        // rows get the column's initial default (null when none declared)
        defaultColumn(cur).as(cur.name)
    }
    (physSchema, projection)
  }

  /** The read groups of `files` (catalog rows of the table `ctx`),
    * for every lake reader — the facade's scans, CDC and rewrites, the
    * connector's Batch (UPDATE, MERGE, row-level DELETE, SPJ) and its
    * micro-batch stream: files of one physical epoch share one
    * [[groupMapping]], so every reader of the lake maps columns the same
    * way, and each file's [[LakeFile]] carries its per-file values (its
    * index is its position in `files`). Identity partition columns are
    * the group's partition schema, and each file's values its typed
    * partition row: the raw catalog (or hive path) string cast once, as
    * SQL casts a string literal in the session time zone (null for the
    * null partition). Files that store a partition column (written before
    * the table was partitioned) form groups of their own. A read that
    * asks for row provenance (`rowid`, `snapshot_id`) splits off the
    * UPDATE-written files, which also read the explicit row-id column,
    * and gives each merged file a group of its own: its segment map is a
    * per-file expression. `liveAt = Some(snap)` hides the rows not live at `snap`
    * (MOR deletes, the merged-file visible-row limit) inside the scan;
    * None keeps every physical row (CDC, merge_adjacent).
    */
  private[lake] def readGroups(ctx: PinnedTable, files: Seq[DataFileRec], liveAt: Option[Long],
      provenance: Boolean): Seq[LakeReadGroup] = {
    val index = files.iterator.map(_.dataFileId).zipWithIndex.toMap
    val tz = Some(spark.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key))
    files.map(f => f -> injectedValues(ctx, f)).groupBy { case (f, pv) => (physOf(ctx, f),
        pv.keySet, provenance && f.rowIdStart.isEmpty && f.segments.isEmpty,
        Option.when(provenance && f.segments.nonEmpty)(f.dataFileId)) }
      .toSeq.map { case ((phys, partitioned, explicitIds, _), fs) =>
        val parts = ctx.cols.filter(c => partitioned(c.columnId))
        val partitionSchema = StructType(parts.map(c =>
          StructField(DuckLake.partitionField(c.columnId), TypeBridge.toSpark(c.dtype))))
        val casts = partitionSchema.map(p =>
          Cast(BoundReference(0, StringType, nullable = true), p.dataType, tz))
        val (physSchema, projection) =
          groupMapping(phys, partitioned, explicitIds, ctx.history, ctx.nestedDefaults)
        LakeReadGroup(physSchema, partitionSchema, ctx.cols.map(_.name).zip(projection),
          phys.collect { case (cur, Some(p)) if !partitioned(cur.columnId) => p.name -> cur.name }
            .toMap,
          fs.map { case (f, pv) => f -> lakeFile(ctx.dir, f, liveAt, index(f.dataFileId),
            InternalRow.fromSeq(parts.zip(casts).map { case (c, cast) =>
              cast.eval(InternalRow(pv(c.columnId).map(UTF8String.fromString).orNull)) })) })
      }.sortBy(_.files.head._2.fileIndex)
  }

  /** `f` as a [[LakeFileIndex]] entry, its paths under the table directory
    * `dir` (no filesystem call: the scan resolves them as it opens them):
    * path, catalog size, per-file values and typed `partition` row; with
    * `liveAt`, its delete file and its visible-row limit there.
    */
  private def lakeFile(dir: => String, f: DataFileRec, liveAt: Option[Long], index: Long,
      partition: InternalRow = InternalRow.empty): LakeFile = {
    val del = liveAt.flatMap(_ => f.deleteFile)
    LakeFile(under(dir, f.path, f.pathIsRelative), f.fileSizeBytes, f.dataFileId,
      index, f.rowIdStart, f.beginSnapshot, partition,
      del.map(d => under(dir, d.path, d.pathIsRelative)), del.flatMap(_.encryptionKey),
      liveAt.map(f.visibleRowsAt).filter(_ < f.recordCount))
  }

  /** The inlined catalog rows `t` pins, parsed with the column names of
    * each row's write epoch and projected (by column_id) to the pinned
    * columns — the inline counterpart of the per-file epoch projection.
    */
  private def inlinedDF(t: PinnedTable, withRowId: Boolean = false, virtual: Seq[String] = Nil,
      txnSnap: Option[Long] = None, txnBase: Long = 0L): Option[DataFrame] = {
    val rows = t.inlinedRows
    if (rows.isEmpty) return None
    import spark.implicits._
    // rows REPLACED inside the open txn (same row_id ended at the txn
    // snapshot) are updated VERSIONS: they keep their stable id in the
    // rowid virtual, never the provisional 1e18 form (reference:
    // data_inlining/data_inlining_update.test)
    val updatedIds: Set[Long] = txnSnap
      .map(s => store.inlinedRowIdsEndedAt(t.tableId, s).toSet)
      .getOrElse(Set.empty)
    val dfs = rows.groupBy(_._2).toSeq.sortBy(_._1).map { case (beginSnap, group) =>
      val txnLocal = txnSnap.contains(beginSnap)
      val epochCols = t.history.collect {
        case (c, begin, end) if begin <= beginSnap && end.forall(_ > beginSnap) => c
      }.sortBy(_.order)
      val epochSchema = StructType(epochCols.map(c =>
        StructField(c.name, inlineReadType(TypeBridge.toSpark(c.dtype)),
          nullable = true)))
      val byId = epochCols.map(c => c.columnId -> c).toMap
      val parsed = group.sortBy(_._1).zipWithIndex
        .map { case (g, i) => (g._1, g._3, i.toLong) }
        .toDF("__row_id", "__json", "__frn")
        .withColumn("__p", from_json(col("__json"), epochSchema, inlineJsonOpts))
      val projection = t.cols.map { c =>
        byId.get(c.columnId) match {
          case Some(e) => col("__p").getField(e.name)
            .cast(TypeBridge.toSpark(c.dtype)).as(c.name)
          case None => defaultColumn(c).as(c.name)
        }
      } ++ virtual.map { v =>
        // inlined rows live in the catalog: commit snapshot and stable
        // row id are real; txn-local rows show provisional ids and the
        // reference's inlined pseudo-filenames
        if (v == DuckLake.VirtualSnapshot)
          (if (txnLocal) lit(null).cast(LongType) else lit(beginSnap)).as(v)
        else if (v == DuckLake.VirtualRowId)
          (if (txnLocal && updatedIds.isEmpty)
            lit(DuckLake.TxnLocalRowIdBase - txnBase) + col("__row_id")
          else if (txnLocal)
            when(col("__row_id").isInCollection(updatedIds), col("__row_id"))
              .otherwise(lit(DuckLake.TxnLocalRowIdBase - txnBase) + col("__row_id"))
          else col("__row_id")).as(v)
        else if (v == DuckLake.VirtualFilename)
          lit(if (txnLocal) "__ducklake_inlined_transaction_local_data"
              else s"ducklake_inlined_data_${t.tableId}_1").as(v)
        else if (v == DuckLake.VirtualRowNumber) col("__frn").as(v)
        else if (v == DuckLake.VirtualFileIndex)
          lit(if (txnLocal) 1L else 0L).as(v)
        else lit(null).cast(DuckLake.virtualType(v)).as(v)
      }
      if (withRowId) parsed.select(projection :+ col("__row_id"): _*)
      else parsed.select(projection: _*)
    }
    Some(unionAll(dfs))
  }

  /** The inlined rows `t` pins in a row-level scan's `required` columns,
    * collected on the driver (the inline limit bounds them); `_file_id`
    * is [[DuckLake.InlinedFileId]], `_pos` the row id.
    */
  private[lake] def inlinedScanRows(t: PinnedTable, required: StructType): Array[InternalRow] = {
    val virtual = required.fieldNames.toSet.intersect(DuckLake.VirtualNames.toSet) --
      Seq(DuckLake.VirtualFileId, DuckLake.VirtualPos)
    inlinedDF(t, withRowId = true, virtual = virtual.toSeq)
      .fold(Array.empty[InternalRow]) { df =>
        df.select(required.fieldNames.toSeq.map {
          case DuckLake.VirtualFileId => lit(DuckLake.InlinedFileId)
          case DuckLake.VirtualPos => col("__row_id")
          case n => df(s"`${n.replace("`", "``")}`")
        }: _*).queryExecution.executedPlan.executeCollect()
      }
  }

  /** Snapshot-pinned scan: one multi-file parquet read per read group
    * ([[readGroups]]: a physical epoch, its identity partition columns
    * Spark partitions; plan shape parity with reference
    * src/table.rs:611-649), whether or not its files carry deletes, and
    * the inlined rows, in one n-ary union. MOR delete files and
    * merged-file visible-row limits apply inside the scan
    * ([[DuckLakeParquetFormat]], the counterpart of the reference's
    * DeleteFilterExec, src/delete_filter.rs), so the plan holds no join.
    * Virtual columns (reference: tests/sqllogictests/sql/virtualcolumns/)
    * are expressions over each file's `_metadata` values and the row
    * index ([[DuckLake.virtualColumn]]), so they read in the same scans;
    * only a merged file asked for row provenance reads alone.
    */
  def table(name: String, snapshot: Option[Long] = None,
      pushedFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
      virtualCols: Seq[String] = Nil): DataFrame =
    read(pin(name, snapshotOf(snapshot)), virtualCols, pushedFilters)

  /** [[table]]'s read of the table `t` pins. */
  private[lake] def read(t: PinnedTable, virtualCols: Seq[String],
      pushedFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil): DataFrame = {
    val snap = t.snap
    val virtual = virtualCols.distinct
    val outSchema = virtual.foldLeft(t.sparkSchema) { (s, v) =>
      s.add(v, DuckLake.virtualType(v), nullable = true)
    }
    val skipping = new FileSkipping(t)
    val files = skipping.keep(t.files, pushedFilters)
    scanned = files
    // rows born inside the OPEN transaction present provisional
    // transaction-local row ids (1e18-based) and a null snapshot until
    // COMMIT makes their final ids visible (DuckLake semantics)
    val txnSnap = store.openTransactionSnapshot.filter(_ == snap)
    val txnBase: Long = txnSnap.map { s =>
      val fileMin = files.filter(_.beginSnapshot == s).flatMap(_.rowIdStart)
      // updated VERSIONS of pre-existing rows keep stable ids — they
      // neither get nor anchor the provisional txn-local id range
      val replaced = store.inlinedRowIdsEndedAt(t.tableId, s).toSet
      val inlMin = t.inlinedRows.filter(r => r._2 == s && !replaced(r._1)).map(_._1)
      (fileMin ++ inlMin).minOption.getOrElse(0L)
    }.getOrElse(0L)
    // inlined catalog rows are always included (never stats-pruned)
    val inlined = inlinedDF(t, withRowId = false, virtual = virtual,
      txnSnap = txnSnap, txnBase = txnBase)
    if (files.isEmpty)
      return inlined.getOrElse(
        spark.createDataFrame(new java.util.ArrayList[Row](), outSchema))

    val txn = txnSnap.map(_ -> (DuckLake.TxnLocalRowIdBase - txnBase))
    unionAll(readGroups(t, files, Some(snap), DuckLake.asksProvenance(virtual.toSet))
      .map(readGroup(_, (head, field) =>
        virtual.map(v => DuckLake.virtualColumn(v, head, field, txn).as(v)), Some(skipping))) ++
      inlined)
  }

  /** [[table]]'s schema from the pinned catalog columns alone (catalog
    * nullability), for callers that need no scan.
    */
  def tableSchema(name: String, snapshot: Option[Long] = None): StructType =
    pin(name, snapshotOf(snapshot)).sparkSchema

  /** Files kept by the last `table()` call (after stats pruning) — test/
    * introspection hook for the file-skipping path.
    */
  @volatile private var scanned: Seq[DataFileRec] = Nil
  def lastScanFileCount: Int = scanned.size

  /** Min/max file skipping of one read against source filters on its
    * catalog columns (SURVEY.md §4.1 "natural cheap extension";
    * conservative — any uncertainty keeps the file). Files with delete
    * files are never skipped on IsNull-style reasoning alone since stats
    * describe pre-delete contents; the row-level filters are re-applied
    * by Spark after the scan regardless (Inexact pushdown, reference
    * src/table.rs:584-598). The table's file stats load once, on the
    * first filtered call, for every group of the read.
    */
  private final class FileSkipping(ctx: PinnedTable) {
    private val schema = ctx.sparkSchema
    private lazy val allStats = ctx.stats
    // name → column_id from the PINNED snapshot's defs (ctx.cols), not
    // currentSnapshot: renames between the pinned snapshot and now must
    // not attach another column's stats to a time-travel filter
    private val idByName = ctx.cols.map(c => c.name -> c.columnId).toMap

    def keep(files: Seq[DataFileRec],
        filters: Seq[org.apache.spark.sql.sources.Filter]): Seq[DataFileRec] =
      if (filters.isEmpty) files else files.filter(mightMatch(_, filters))

    /** The [[LakeFileIndex]] skip of read group `g`: Spark's data filters
      * over the group's physical columns, mapped back to catalog columns
      * through `g.names` (physical → catalog name; a filter on any other
      * column, or one Spark cannot translate, skips nothing).
      */
    def skipper(g: LakeReadGroup)
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] => LakeFile => Boolean = {
      lazy val recs = g.files.map { case (f, lf) => lf.fileIndex -> f }.toMap
      dataFilters =>
        import org.apache.spark.sql.catalyst.expressions.{AttributeReference, KnownNotNull}
        val filters = dataFilters.filter(_.references.forall(a => g.names.contains(a.name)))
          .flatMap(e => ColumnBridge.sourceFilter(e.transformUp {
            case KnownNotNull(c) => c // the catalog's NOT NULL tag on a read column
            case a: AttributeReference => a.withName(g.names(a.name))
          }))
        if (filters.isEmpty) _ => true else lf => mightMatch(recs(lf.fileIndex), filters)
    }

    private def mightMatch(f: DataFileRec,
        filters: Seq[org.apache.spark.sql.sources.Filter]): Boolean = {
      val byCol: Map[String, (Option[Long], Option[String], Option[String])] =
        idByName.flatMap { case (n, cid) => allStats.get((f.dataFileId, cid)).map(n -> _) }
      // partition values enter as synthetic min=max stats rows: a value
      // partition has zero nulls and a point range; a null partition is
      // all-null with no range — mightMatch then prunes both uniformly
      val partEntries = ctx.partValues(f).flatMap { case (cid, vOpt) =>
        ctx.cols.find(_.columnId == cid).map { cdef =>
          vOpt match {
            case Some(raw) =>
              val canon = FileStats.canonicalPartition(TypeBridge.toSpark(cdef.dtype), raw)
              cdef.name -> ((Some(0L): Option[Long]), canon, canon)
            case None =>
              cdef.name -> ((Some(f.recordCount): Option[Long]),
                (None: Option[String]), (None: Option[String]))
          }
        }
      }
      // transform keys invert each file's value into a range constraint
      // on the SOURCE column (month "2024-03" → source ∈ that month);
      // footer stats for the source, when present, are tighter — merge
      // field-wise, preferring the footer
      val tvs = ctx.transformValues(f)
      val transformEntries = tvs.map { case (cdef, t, vOpt) =>
        val entry = vOpt match {
          case None => ((Some(f.recordCount): Option[Long]),
            (None: Option[String]), (None: Option[String]))
          case Some(raw) =>
            PartTransform.sourceRange(t, TypeBridge.toSpark(cdef.dtype), raw) match {
              case Some((lo, hi)) => ((Some(0L): Option[Long]), Some(lo), Some(hi))
              case None           => ((Some(0L): Option[Long]), None, None)
            }
        }
        val mergedEntry = byCol.get(cdef.name) match {
          case Some((bn, bmn, bmx)) =>
            (bn.orElse(entry._1),
              if (bmn.isDefined && bmx.isDefined) bmn else entry._2,
              if (bmn.isDefined && bmx.isDefined) bmx else entry._3)
          case None => entry
        }
        cdef.name -> mergedEntry
      }.toMap
      // hash-bucket keys prune equality predicates: a literal hashing to
      // a different bucket cannot appear in this file
      val bucketOk = tvs.forall {
        case (cdef, PartTransform.BucketRe(n), Some(raw)) =>
          raw.toIntOption.forall(b =>
            filters.forall(PartTransform.mightMatchBucket(_, cdef.name, n.toInt, b)))
        case _ => true
      }
      val merged = byCol ++ transformEntries ++ partEntries
      bucketOk && filters.forall(FileStats.mightMatch(_, schema, f.recordCount, merged))
    }
  }

  // ------------------------------------------------------------------
  // Merge-on-read deletes and updates: Spark's row-level delta plan, one
  // positional delete file per data file (reference src/delete_filter.rs)
  // ------------------------------------------------------------------

  /** Unconditional `DELETE FROM t`: a metadata-only truncate — every live
    * file/inlined row ends at one snapshot, nothing is scanned and no
    * delete parquet is written. At 100 TB this is the difference between
    * an O(1) catalog update and writing positional deletes for every row.
    */
  def truncateTable(name: String): Long = store.truncateTable(pin(name).tableId)

  /** DELETE … WHERE `cond` (virtual columns allowed) in one snapshot, by
    * SQL DELETE's row-level plan; the snapshot after the call.
    */
  def deleteWhere(name: String, cond: Column): Long =
    rowLevel(name)(DeleteFromTable(_, ColumnBridge.expression(spark, cond)))

  /** UPDATE … SET … WHERE `cond` in one snapshot, by SQL UPDATE's
    * row-level plan (updated rows keep their row ids), each SET value
    * cast to its column's type; the snapshot after the call.
    */
  def update(name: String, cond: Column, set: Map[String, Column]): Long =
    rowLevel(name) { relation =>
      val schema = relation.table.schema()
      UpdateTable(relation, set.toSeq.map { case (k, v) =>
        if (!schema.fieldNames.contains(k))
          throw new InvalidConfigException(s"unknown column in SET: $k")
        Assignment(UnresolvedAttribute.quoted(k),
          ColumnBridge.expression(spark, v.cast(schema(k).dataType)))
      }, Some(ColumnBridge.expression(spark, cond)))
    }

  /** Run `command` over table `name`'s relation at the current snapshot
    * (with its metadata columns if the command names a virtual column,
    * as SQL resolution adds them); the snapshot after it.
    */
  private def rowLevel(name: String)(command: DataSourceV2Relation => LogicalPlan): Long = {
    val (schemaName, tableName) = parse(name)
    val relation = DataSourceV2Relation.create(
      connector.DuckLakeV2Table.at(this, s"$schemaName.$tableName", None), None, None)
    val plan = command(relation)
    val virtual = plan.expressions.exists(_.exists {
      case a: UnresolvedAttribute => DuckLake.VirtualNames.contains(a.nameParts.last)
      case _ => false
    })
    ColumnBridge.ofRows(spark,
      if (virtual) plan.withNewChildren(Seq(relation.withMetadataColumns())) else plan)
    store.currentSnapshot
  }

  /** Catalog-stats file skipping for an external (native Batch) scan of
    * the table `t` pins: same conservative machinery as [[table]] — at
    * 100 TB, an UPDATE or MERGE whose condition touches one partition
    * must not read the lake.
    */
  private[lake] def pruneDataFiles(t: PinnedTable, files: Seq[DataFileRec],
      filters: Seq[org.apache.spark.sql.sources.Filter]): Seq[DataFileRec] =
    new FileSkipping(t).keep(files, filters)

  /** Commit a row-level DELTA staged by the native delta writers
    * (DELETE / UPDATE / MERGE, merge-on-read): appended-row files plus the
    * tasks' PARTIAL delete-position parquets (`deletePartials`: data file
    * id → one partial of its positions, written executor-side; commit
    * messages carry file names, never positions). [[mergeDeleteFiles]]
    * folds each touched data file's partials and live delete file into
    * one cumulative delete parquet in one narrow Spark job, written with
    * the write's prepared parquet writer `output`, and ONE
    * snapshot registers them with the new data files and ends the deleted
    * inlined rows `endInlined`; the store refuses the commit if a merged
    * data file ended, or its delete file changed, in the meantime. Cost
    * is O(changed rows) of cluster work and O(files) of driver state;
    * never a table rewrite.
    */
  private[lake] def commitDeltaStaged(schemaName: String, tableName: String,
      cols: Seq[ColumnDef], stagedNew: Seq[(Path, Seq[Option[String]])],
      dataSchema: StructType, keyOpt: Option[String], output: ParquetOutput,
      deletePartials: Seq[(Long, Path)], stagedRowId: Seq[(Path, Seq[Option[String]])],
      endInlined: Set[Long]): Long = {
    val t = pin(s"$schemaName.$tableName")
    val delRegs =
      if (deletePartials.isEmpty) Nil else mergeDeleteFiles(t, keyOpt, output, deletePartials)
    lazy val hiveNames = hiveNamesFor(t.name, t.partFields)
    val (newFiles, renamed) = stageIntoTableDir(schemaName, tableName, stagedNew,
      dataSchema, keyOpt, hiveNames)
    // UPDATE-written files carry each row's stable id as an explicit
    // column; they register with NULL row_id_start (DuckLake marker)
    val (rowIdFiles, renamed2) = stageIntoTableDir(schemaName, tableName, stagedRowId,
      dataSchema, keyOpt, hiveNames)
    try store.commitRowDelta(schemaName, tableName, cols,
      newFiles ++ rowIdFiles.map(_.copy(explicitRowIds = true)), delRegs,
      endInlined.toSeq.sorted)
    catch { case e: Throwable =>
      cleanupRenamed(renamed)
      cleanupRenamed(renamed2)
      cleanupRenamed(delRegs.map(d => new Path(s"${t.dir}/${d._3.path}")))
      throw e
    }
  }

  /** One cumulative `(file_path, pos)` delete parquet per data file of
    * `partials` (data file id → one partial of its positions) of table
    * `t`, pinned at the current snapshot: the union of the file's
    * partials and its live delete file, written ascending into the table
    * directory by the write's prepared parquet writer `output` with its
    * key `keyOpt`. One narrow Spark job — a task per
    * slice of files, no query plan, no shuffle — and each task holds one
    * file's positions at a time. Returns, per data file, its id, the id
    * of the delete file merged from and the new file's registration.
    */
  private def mergeDeleteFiles(t: PinnedTable, keyOpt: Option[String], output: ParquetOutput,
      partials: Seq[(Long, Path)]): Seq[(Long, Option[Long], FileToRegister)] = {
    val name = t.name
    val filesById = t.files.map(f => f.dataFileId -> f).toMap
    val dir = t.dir
    val work = partials.groupMap(_._1)(_._2.toString).toSeq.sortBy(_._1).map { case (fid, ps) =>
      val f = filesById.getOrElse(fid, throw new TransactionConflictException(
        s"data file $fid of $name ended while rows of it were being deleted"))
      (fid, under(dir, f.path, f.pathIsRelative),
        f.deleteFile.map(d => (under(dir, d.path, d.pathIsRelative), d.encryptionKey)), ps)
    }
    spark.sparkContext
      .parallelize(work, math.min(work.size, spark.sparkContext.defaultParallelism))
      .map { case (fid, dataFile, previous, ps) =>
        val conf = output.conf.value.value
        val positions = previous.fold(new Roaring64Bitmap) { case (p, k) =>
          DeletePositions.load(p, k, conf)
        }
        ps.foreach(p => positions.or(DeletePositions.load(p, keyOpt, conf)))
        // reference delete-file naming: ducklake-<uuid>-delete.parquet
        val file = s"ducklake-${UUID.randomUUID()}-delete.parquet"
        val dest = new Path(s"$dir/$file")
        val fs = dest.getFileSystem(conf)
        val w = output.newWriter(dest.toString, DeletePositions.Schema)
        try {
          val row = new GenericInternalRow(Array[Any](UTF8String.fromString(dataFile), 0L))
          val it = positions.getLongIterator
          while (it.hasNext) { row.setLong(1, it.next()); w.write(row) }
          w.close()
        } catch { case e: Throwable =>
          try { w.close(); fs.delete(dest, false) } catch { case _: Throwable => () }
          throw e
        }
        (fid, file, positions.getLongCardinality, fs.getFileStatus(dest).getLen)
      }
      .collect().toSeq
      .map { case (fid, file, count, size) =>
        (fid, filesById(fid).deleteFile.map(_.deleteFileId),
          FileToRegister(file, count, size, 0L, Nil, keyOpt))
      }
  }

  /** Adopt pre-existing parquet files into a table WITHOUT rewriting a
    * byte (reference: `ducklake_add_data_files`,
    * tests/sqllogictests/sql/add_files/add_files.test) — at 100 TB,
    * adoption-in-place is a metadata transaction where CTAS/INSERT would
    * be a cluster-month of copying. Each path may be a file, a directory
    * (recursed for `*.parquet`), or a glob. Every file registers under a
    * duplicate-eliminated NAME MAPPING (catalog column_id → the column's
    * physical name/type in the file): column order is irrelevant, types
    * must be equal or promotable along the TypeBridge lattice, and hive
    * `key=value` path segments satisfy columns missing from the file's
    * pages (auto-detected; `hivePartitioning = Some(false)` disables).
    * Stats are captured from footers (+ point-range synthetic stats for
    * hive keys) so file skipping prunes adopted files like native ones.
    * All files commit in ONE snapshot; nothing moves on disk.
    */
  def addFiles(name: String, paths: Seq[String], allowMissing: Boolean = false,
      ignoreExtraColumns: Boolean = false,
      hivePartitioning: Option[Boolean] = None): Long = {
    val cols = pin(name).cols
    val (schemaName, tableName) = parse(name)
    val fs = FileSystem.get(new java.net.URI(dataPath), hconf)
    val hiveOn = hivePartitioning.getOrElse(true)

    val resolved: Seq[Path] = paths.flatMap { raw =>
      val p = new Path(raw)
      val matches =
        if (fs.exists(p)) Seq(fs.getFileStatus(p))
        else if (raw.contains("**")) {
          // recursive glob (Hadoop globs are single-level): walk from the
          // prefix before `**`, keep files matching the final segment.
          // A wildcard INSIDE the prefix (hive dirs: `key=*/**`) expands
          // through a single-level glob first (corpus:
          // add_files/add_files_hive.test).
          val prefix = raw.substring(0, raw.indexOf("**")).stripSuffix("/")
          val bases: Seq[Path] =
            if (prefix.contains("*"))
              Option(fs.globStatus(new Path(prefix)))
                .map(_.toSeq.map(_.getPath)).getOrElse(Nil)
            else Seq(new Path(prefix)).filter(fs.exists)
          val leaf = raw.substring(raw.lastIndexOf('/') + 1)
          val leafRe = java.util.regex.Pattern.compile(
            leaf.replace(".", "\\.").replace("*", ".*"))
          bases.flatMap { base =>
            val it = fs.listFiles(base, true)
            val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
            while (it.hasNext) {
              val f = it.next()
              if (leafRe.matcher(f.getPath.getName).matches()) buf += f
            }
            buf.sortBy(_.getPath.toString).toSeq
          }
        } else Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
      if (matches.isEmpty)
        throw new InvalidConfigException(s"Failed to add data files: $raw does not exist")
      matches.flatMap { st =>
        if (st.isDirectory) {
          val it = fs.listFiles(st.getPath, true)
          val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
          while (it.hasNext) {
            val f = it.next()
            if (f.getPath.getName.endsWith(".parquet")) buf += f.getPath
          }
          if (buf.isEmpty)
            throw new InvalidConfigException(
              s"Failed to add data files: no parquet files under $raw")
          buf.sortBy(_.toString).toSeq
        } else Seq(st.getPath)
      }
    }

    def hasHiveKey(path: String, key: String): Option[String] =
      path.split('/').collectFirst {
        case seg if seg.length > key.length && seg.charAt(key.length) == '=' &&
            seg.substring(0, key.length).equalsIgnoreCase(key) =>
          seg.substring(0, key.length) // the path's own spelling
      }

    val regs = resolved.map { p0 =>
      val p = fs.makeQualified(p0)
      val st = fs.getFileStatus(p)
      // plain filesystem path — resolved Hadoop paths carry a `file:`
      // scheme that must not leak into the catalog (cleanup and scans
      // resolve the stored string)
      val pathStr =
        if (p.toUri.getScheme == "file") p.toUri.getPath else p.toString
      // the file's ONE open: footer, record count and footer size (which
      // also validates the magic)
      val (footer, rc, fSize) = stagedFooter(st, None)
      // Spark's schema conversion REFUSES some foreign annotations before
      // the type gate can speak (TIME: UNSUPPORTED_TIME_TYPE; TIMESTAMP
      // with NANOS — the pandas/arrow-era default): fall back to a direct
      // footer conversion so those files adopt through the raw-INT64
      // read path; an unmappable footer rethrows Spark's original error
      val fileSchema = try footerSchema(p, footer) catch {
        case e: Exception => FileStats.footerSparkSchema(footer).getOrElse(throw e)
      }
      // logical annotations Spark's schema erases (unsigned, JSON, UUID)
      // refine the type-gate comparison
      val duckRefined = FileStats.footerDuckTypes(footer)
      def fileField(n: String) = fileSchema.fields.find(_.name == n)
        .orElse(fileSchema.fields.find(_.name.equalsIgnoreCase(n)))
      if (!ignoreExtraColumns) {
        val known = cols.map(_.name.toLowerCase).toSet
        fileSchema.fields.find(f => !known.contains(f.name.toLowerCase)).foreach { f =>
          throw new InvalidConfigException(
            s"""Column "${f.name}" exists in file $pathStr but not in table "$tableName" (pass ignoreExtraColumns = true to skip it)""")
        }
      }
      // nested field audit: fields of the table's struct types that the
      // file lacks (→ NULL-filled, gated on allowMissing) and file
      // fields the table lacks (gated on ignoreExtraColumns)
      def nestedDiff(file: org.apache.spark.sql.types.DataType,
          table: org.apache.spark.sql.types.DataType,
          prefix: String): (Seq[String], Seq[String]) = (file, table) match {
        case (f: org.apache.spark.sql.types.StructType,
              t: org.apache.spark.sql.types.StructType) =>
          val miss = t.fields.toSeq.flatMap { tf =>
            f.fields.find(_.name.equalsIgnoreCase(tf.name)) match {
              case Some(sf) => nestedDiff(sf.dataType, tf.dataType, s"$prefix.${tf.name}")._1
              case None => Seq(s"$prefix.${tf.name}")
            }
          }
          val extra = f.fields.toSeq.flatMap { sf =>
            t.fields.find(_.name.equalsIgnoreCase(sf.name)) match {
              case Some(tf) => nestedDiff(sf.dataType, tf.dataType, s"$prefix.${sf.name}")._2
              case None => Seq(s"$prefix.${sf.name}")
            }
          }
          (miss, extra)
        case (f: org.apache.spark.sql.types.ArrayType,
              t: org.apache.spark.sql.types.ArrayType) =>
          nestedDiff(f.elementType, t.elementType, prefix)
        case _ => (Nil, Nil)
      }
      val entries: Seq[NameMapEntry] = cols.flatMap { c =>
        fileField(c.name) match {
          case Some(f) =>
            val ft = duckRefined.getOrElse(f.name.toLowerCase,
              TypeBridge.fromSpark(f.dataType))
            if (!TypeBridge.typesCompatible(ft, c.dtype))
              throw new UnsupportedTypeException(
                s"""Failed to add data files: column "${c.name}" in file $pathStr has type $ft — expected ${c.dtype} or a type promotable to it""")
            val (miss, extra) = nestedDiff(f.dataType, TypeBridge.toSpark(c.dtype), c.name)
            if (miss.nonEmpty && !allowMissing)
              throw new InvalidConfigException(
                s"""Column "${miss.head}" exists in table "$tableName" but was not found in file $pathStr (pass allowMissing = true to fill with NULL)""")
            if (extra.nonEmpty && !ignoreExtraColumns)
              throw new InvalidConfigException(
                s"""Column "${extra.head}" exists in file $pathStr but not in table "$tableName" (pass ignoreExtraColumns = true to skip it)""")
            Some(NameMapEntry(c.columnId, f.name, TypeBridge.normalize(ft),
              isPartition = false))
          case None =>
            hasHiveKey(pathStr, c.name).filter(_ => hiveOn) match {
              case Some(key) =>
                Some(NameMapEntry(c.columnId, key, "varchar", isPartition = true))
              case None if !c.nullsAllowed =>
                throw new InvalidConfigException(
                  s"""Column "${c.name}" is NOT NULL in table "$tableName" but was not found in file $pathStr""")
              case None if allowMissing => None
              case None =>
                throw new InvalidConfigException(
                  s"""Column "${c.name}" exists in table "$tableName" but was not found in file $pathStr (pass allowMissing = true to fill with NULL)""")
            }
        }
      }
      // footer stats under the FILE's physical names/types, re-keyed to
      // the table's column names; timestamp min/max are dropped — a
      // foreign writer's time unit is not re-verified here, and absent
      // stats only cost pruning, never correctness
      val physSchema = StructType(entries.filterNot(_.isPartition).map(e =>
        StructField(e.sourceName, TypeBridge.toSpark(e.sourceType), nullable = true)))
      val colById = cols.map(c => c.columnId -> c).toMap
      val srcToCol = entries.filterNot(_.isPartition)
        .map(e => e.sourceName -> colById(e.columnId).name).toMap
      val isTs = entries.filterNot(_.isPartition).filter(e =>
        TypeBridge.toSpark(e.sourceType) match {
          case TimestampType | TimestampNTZType => true
          case _: org.apache.spark.sql.types.TimeType => true
          case _ => false
        }).map(_.sourceName).toSet
      val fileStats0 = FileStats.fromFooter(footer, physSchema).map { s =>
        val renamed = s.copy(columnName = srcToCol.getOrElse(s.columnName, s.columnName))
        if (isTs(s.columnName)) renamed.copy(minValue = None, maxValue = None)
        else renamed
      }
      // nested LEAF stats (spec depth-first node ids): per-leaf min/max
      // from the footer's inner chunks, keyed table-side so the store
      // resolves them through statIdMap (corpus:
      // add_files/add_files_complex_nested_stats_mre.test)
      val nestedLeafStats: Seq[ColumnStatRec] = {
        val colBySrc = srcToCol // file name -> table name
        val wanted: Seq[(String, (String, DataType))] = for {
          c <- cols.toSeq
          leaf <- TypeBridge.leafNodes(c.name, c.dtype)
          src <- colBySrc.collectFirst { case (s0, t0) if t0 == c.name => s0 }.toSeq
        } yield {
          val suffix = leaf._1.stripPrefix(c.name)
          (s"$src$suffix", (leaf._1, TypeBridge.toSpark(leaf._3)))
        }
        if (wanted.isEmpty) Nil
        else {
          val byFilePath = wanted.toMap
          FileStats.fromFooterNested(footer,
            byFilePath.map { case (fp, (_, dt)) => fp -> dt })
            .map { s =>
              val (tablePath, dt) = byFilePath(s.columnName)
              val renamed = s.copy(columnName = tablePath)
              dt match { // foreign writers' time units are not re-verified
                case TimestampType | TimestampNTZType =>
                  renamed.copy(minValue = None, maxValue = None)
                case _ => renamed
              }
            }
        }
      }
      // adopted geometry columns get the same bbox/type summary a native
      // write computes (corpus: geo/ducklake_geometry_add_files.test)
      val adoptedGeoCols = cols.filter(c => TypeBridge.isGeometry(c.dtype))
        .map(_.name).filter(n => srcToCol.values.exists(_ == n))
      val fileStats =
        if (adoptedGeoCols.isEmpty) fileStats0
        else {
          val bySrc = srcToCol.map(_.swap) // table name -> file name
          val geo = geoFileStats(p, adoptedGeoCols.map(bySrc), None)
            .map { case (src, st) => srcToCol(src) -> st }
          fileStats0.map { s =>
            if (adoptedGeoCols.contains(s.columnName))
              s.copy(minValue = None, maxValue = None,
                extraStats = geo.get(s.columnName)
                  .filter(_.types.nonEmpty).map(_.toJson))
            else s
          }
        }
      // adopted data must already satisfy NOT NULL declarations: the
      // footer's null counts make the check free
      cols.filter(!_.nullsAllowed).foreach { c =>
        fileStats.find(_.columnName == c.name).foreach { s =>
          if (s.nullCount.exists(_ > 0))
            throw new InvalidConfigException(
              s"""Failed to add data files: column "${c.name}" is NOT NULL but file $pathStr contains ${s.nullCount.get} null values""")
        }
      }
      val hiveStats = entries.filter(_.isPartition).map { e =>
        val c = colById(e.columnId)
        hivePathValue(pathStr, e.sourceName) match {
          case Some(raw) =>
            val sparkT = TypeBridge.toSpark(c.dtype)
            val canon = FileStats.canonicalPartition(sparkT, raw)
            // a hive value of a parseable type that fails to parse is a
            // TYPE mismatch, not a missing stat (corpus:
            // add_files/add_files_hive_mismatch.test); exotic partition
            // types never canonicalize and are not errors
            val parseable = sparkT match {
              case ByteType | ShortType | IntegerType | LongType |
                   BooleanType | DateType | FloatType | DoubleType => true
              case _ => false
            }
            if (canon.isEmpty && parseable)
              throw new UnsupportedTypeException(
                s"""Failed to add data files: hive value "$raw" of partition column "${c.name}" cannot be cast to the column type ${c.dtype}""")
            ColumnStatRec(c.name, rc, Some(0L), canon, canon)
          case None =>
            if (!c.nullsAllowed)
              throw new InvalidConfigException(
                s"""Failed to add data files: column "${c.name}" is NOT NULL but file $pathStr carries the null hive partition""")
            ColumnStatRec(c.name, rc, Some(rc), None, None)
        }
      }
      (FileToRegister(pathStr, rc, st.getLen, fSize,
        fileStats ++ nestedLeafStats ++ hiveStats,
        None, Nil, pathIsRelative = false), entries)
    }
    store.commitAddFiles(schemaName, tableName, regs)
  }

  /** UPDATE over a table whose LIVE rows are all inlined: applied in the
    * catalog, same row ids, one snapshot — never a flush. Returns None
    * when the table has data files (caller falls back to the SQL delta
    * path). `assignments` are (column, SQL expression) pairs; `cond` a
    * SQL predicate.
    */
  def updateInlinedRows(name: String, assignments: Seq[(String, String)],
      cond: Option[String]): Option[Long] = {
    val t = pin(name)
    if (t.files.nonEmpty) return None
    val cols = t.cols
    val base = inlinedDF(t, withRowId = true).getOrElse(return Some(t.snap))
    val matched = cond.fold(base)(base.filter(_))
    val applied = assignments.foldLeft(matched) { case (d, (c, e)) =>
      d.withColumn(c, expr(e).cast(
        TypeBridge.toSpark(cols.find(_.name.equalsIgnoreCase(c))
          .getOrElse(throw new InvalidConfigException(s"no such column: $c")).dtype)))
    }
    val pairs = applied.select(col("__row_id"),
        to_json(struct(cols.map(c => col(c.name)): _*), inlineJsonOpts))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    Some(store.commitInlinedUpdate(t.tableId, pairs,
      inlineStats(applied.select(cols.map(c => col(c.name)): _*), cols)))
  }

  /** Move the table's inlined catalog rows into a parquet data file —
    * registered and ended in ONE snapshot, so no reader ever sees rows
    * twice (DuckLake `ducklake_flush_inlined_data`). No-op without
    * inlined rows.
    */
  def flushInlined(name: String): Long = {
    val t = pin(name)
    val (cols, rows) = (t.cols, t.inlinedRows)
    if (rows.isEmpty) return t.snap
    // partitioned tables flush through the hive write path (rows fan out
    // across partition files, so contiguous segment maps don't apply —
    // fresh row ids, file begins at the flush snapshot)
    if (t.partCols.nonEmpty)
      return write(inlinedDF(t).get.coalesce(1), name, WriteMode.Append, flushInlined = true)
    // unpartitioned: ONE file in row-id order, registered at the earliest
    // inlined snapshot with a segment map that preserves every row's
    // stable id and commit snapshot — post-flush reads, time travel and
    // CDC are indistinguishable from pre-flush (reference semantics:
    // tests/sqllogictests/sql/data_inlining/data_inlining_flush.test)
    val df = inlinedDF(t, withRowId = true).get
    val (schemaName, tableName) = parse(name)
    val keyOpt = if (encryptionEnabled) Some(GraftCryptoFactory.newKeyB64()) else None
    val staging = s"$dataPath/.staging-fl-${UUID.randomUUID()}"
    val fs = FileSystem.get(new java.net.URI(staging), hconf)
    try {
      val ordered = df.repartition(1).sortWithinPartitions(col("__row_id"))
        .select(cols.map(c => col(c.name)): _*)
      val w = ordered.write.mode("overwrite").options(writeOptions(name, keyOpt))
      withWriterSessionConf(w.parquet(staging))
      val part = fs.listStatus(new Path(staging))
        .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
      val (files, renamed) = stageIntoTableDir(schemaName, tableName,
        Seq(part -> Seq.empty), t.sparkSchema, keyOpt)
      // compress ordered (row id, snapshot) pairs into contiguous runs
      val segs = scala.collection.mutable.ArrayBuffer.empty[FileSegment]
      rows.sortBy(_._1).zipWithIndex.foreach { case ((rid, bs, _), pos) =>
        segs.lastOption match {
          case Some(s) if s.beginSnapshot == bs &&
              s.rowIdStart.contains(rid - (pos - s.startPos)) =>
            segs(segs.length - 1) = s.copy(rowCount = s.rowCount + 1)
          case _ => segs += FileSegment(bs, pos.toLong, 1L, Some(rid))
        }
      }
      try store.commitFlushInlined(schemaName, tableName, files.head, segs.toSeq,
        cols.map(c => c.name -> c.columnId).toMap)
      catch { case e: Throwable => cleanupRenamed(renamed); throw e }
    } finally fs.delete(new Path(staging), true)
  }

  /** `ducklake_flush_inlined_data`: flush inlined catalog rows to parquet
    * for one table, one schema, or the whole lake; unknown scopes error
    * (corpus: data_inlining/data_inlining_flush_schema.test).
    */
  def flushInlinedScope(table: Option[String] = None,
      schema: Option[String] = None): Int = {
    val snap = store.currentSnapshot
    val targets: Seq[String] = table match {
      case Some(t) =>
        val sn = schema.getOrElse("main")
        val sch = store.getSchemaByName(sn, snap)
          .getOrElse(throw new SchemaNotFoundException(sn))
        if (store.getTableByName(sch.schemaId, t, snap).isEmpty)
          throw new TableNotFoundException(s"$sn.$t")
        Seq(s"$sn.$t")
      case None =>
        val schemas = schema match {
          case Some(s) => Seq(store.getSchemaByName(s, snap)
            .getOrElse(throw new SchemaNotFoundException(s)))
          case None => store.listSchemas(snap)
        }
        schemas.flatMap(s => store.listTables(s.schemaId, snap)
          .map(t => s"${s.name}.${t.name}"))
    }
    targets.count { t =>
      // an EXPLICIT auto_compact=false scope defers flushing for that
      // table (corpus: data_inlining/inlining_global_options.test)
      if (getOption("auto_compact", t).exists(_.equalsIgnoreCase("false"))) false
      else {
        val before = store.currentSnapshot
        flushInlined(t) != before
      }
    }
  }

  /** `ducklake_expire_snapshots`: expire an explicit version list, or
    * everything older than a timestamp; with neither, the scoped
    * `expire_older_than` interval option applies (it must be set).
    */
  def expireSnapshotsCall(olderThan: Option[java.sql.Timestamp] = None,
      versions: Seq[Long] = Nil, dryRun: Boolean = false): Seq[Long] = {
    if (versions.nonEmpty) {
      if (dryRun) versions.distinct.filter(v =>
        v < store.currentSnapshot && store.snapshotExists(v))
      else store.expireSnapshotIds(versions)
    } else {
      val cutoffTs = olderThan.getOrElse {
        val iv = store.getOption("expire_older_than", "main", "")
          .getOrElse(throw new InvalidConfigException(
            "expire_snapshots needs older_than, versions, or the expire_older_than option"))
        new java.sql.Timestamp(System.currentTimeMillis() - DuckLake.parseIntervalMillis(iv))
      }
      val ids = store.snapshots.filter(_._2.before(cutoffTs)).map(_._1)
        .filter(_ < store.currentSnapshot)
      if (dryRun) ids else store.expireSnapshotIds(ids)
    }
  }

  def renameColumn(name: String, oldName: String, newName: String): Long =
    store.renameColumn(pin(name).tableId, oldName, newName)

  /** ALTER TABLE … RENAME TO …: catalog-only; the table keeps its id and
    * directory, so files and time travel are untouched.
    */
  def renameTable(name: String, newName: String): Long = {
    val (schemaName, _) = parse(name)
    val (newSchema, newTable) = parse(newName)
    if (newSchema != schemaName)
      throw new UnsupportedException("cross-schema rename is not supported")
    store.renameTable(pin(name).tableId, newTable)
  }

  def dropTable(name: String): Long =
    store.dropTable(pin(name).tableId)

  /** Compaction: rewrite the table's current visible rows (deletes
    * applied) into `numFiles` fresh files and commit as a Replace
    * snapshot. Old files stay readable at earlier snapshots — the
    * DuckLake compaction model (reference corpus:
    * tests/sqllogictests/sql/compaction/).
    */
  def compact(name: String, numFiles: Int = 1): Long = {
    // pin the input snapshot and hand it to the publish gate as the CAS
    // base: anything committing after THIS read — including in the gap
    // between materialization and the write call — conflicts instead of
    // being erased by the stale rewrite
    val base = store.currentSnapshot
    val current = table(name, Some(base))
    // materialize before the Replace commit so the scan doesn't race the
    // rewrite (single snapshot swap, atomic in the metadata txn)
    val rows = current.repartition(numFiles).cache()
    try {
      rows.count()
      afterRewriteScanHook()
      write(rows, name, WriteMode.Replace, replaceBase = Some(base))
    } finally rows.unpersist()
  }

  /** DuckLake `merge_adjacent_files`: per partition group, rewrite runs of
    * row-id-adjacent files (no MOR deletes) into one file that REPLACES
    * them across all history — the new file keeps the first source's
    * begin_snapshot and a segment map, so rowid, snapshot_id and time
    * travel stay exact per row while old files go to the deletion
    * schedule. Scope: one table, one schema, or the whole lake. Returns
    * the number of merge commits.
    */
  def mergeAdjacentFiles(table: Option[String] = None,
      schema: Option[String] = None,
      maxCompactedFiles: Option[Int] = None): Int = {
    maxCompactedFiles.foreach { n =>
      if (n <= 0) throw new InvalidConfigException(
        "The max_compacted_files option must be greater than zero.")
    }
    val snap = store.currentSnapshot
    val targets: Seq[String] = table match {
      case Some(t) =>
        val qualified = if (t.contains(".")) t else s"${schema.getOrElse("main")}.$t"
        val (sn, tn) = parse(qualified)
        // scope must resolve before we touch anything
        val sch = store.getSchemaByName(sn, snap)
          .getOrElse(throw new SchemaNotFoundException(sn))
        if (store.getTableByName(sch.schemaId, tn, snap).isEmpty)
          throw new TableNotFoundException(qualified)
        Seq(qualified)
      case None =>
        val schemas = schema match {
          case Some(s) => Seq(store.getSchemaByName(s, snap)
            .getOrElse(throw new SchemaNotFoundException(s)))
          case None => store.listSchemas(snap)
        }
        // lake/schema-wide sweeps honor the most-specific auto_compact
        // scope (table > schema > global); an explicit table call merges
        // unconditionally (corpus: compaction/merge_adjacent_global_option)
        schemas.flatMap(s => store.listTables(s.schemaId, snap)
          .map(t => s"${s.name}.${t.name}"))
          .filterNot(t => getOption("auto_compact", t).exists(_.equalsIgnoreCase("false")))
    }
    var budget = maxCompactedFiles.getOrElse(Int.MaxValue)
    targets.count { t =>
      if (budget <= 0) false
      else {
        val merged = mergeAdjacentOne(t, budget)
        budget -= merged
        merged > 0
      }
    }
  }

  /** Merge one table's adjacent files (at most `maxRuns` merged outputs);
    * returns the number of merge commits.
    */
  private def mergeAdjacentOne(name: String, maxRuns: Int): Int = {
    val ctx = pin(name)
    val (snap, cols, history) = (ctx.snap, ctx.cols, ctx.history)
    val maxBytes = getOption("target_file_size", name)
      .flatMap(parseByteSize).getOrElse(Long.MaxValue)
    val identityIds = ctx.partCols.collect { case (_, cid, None) => cid }.toSet
    // physical column set a file was written under (minus identity
    // partition keys, which live in the directory, not the pages)
    def colsAt(epoch: Long): Seq[ColumnDef] =
      history.collect { case (c, b, e) if b <= epoch && e.forall(_ > epoch) => c }
        .filterNot(c => identityIds(c.columnId)).sortBy(_.order)
    def sig(f: DataFileRec): Seq[(Long, String, String)] =
      colsAt(f.epoch).map(c => (c.columnId, c.name, TypeBridge.normalize(c.dtype)))
    // mergeable: no MOR deletes, not adopted, stable row range known
    // (sources that are themselves merged carry it in their segment map)
    // packing unit is an estimate of the file's CONTENT size (parquet
    // metadata dominates small files; ~4:1 is the observed overhead+
    // compression factor); with a target set, files at or above it never
    // merge
    def logical(f: DataFileRec): Long = math.max(f.fileSizeBytes / 4, 1L)
    val candidates = ctx.files.filter(f =>
      f.deleteFile.isEmpty && logical(f) < maxBytes &&
        (f.rowIdStart.isDefined || f.segments.exists(_.rowIdStart.isDefined)))
    def firstRowId(f: DataFileRec): Long =
      f.segments.headOption.flatMap(_.rowIdStart).orElse(f.rowIdStart).get
    // files never merge across ALTERs (different physical schemas must
    // stay separately readable for time travel) or partition values;
    // adopted files (name mappings) group by their add-time projection —
    // the merge reads them LOGICALLY and writes our own physical schema
    val groups = candidates.groupBy(f => (ctx.partTuple(f), sig(f))).toSeq
      .flatMap { case ((pv, _), gfs) =>
        // bin-pack in row-id order under the size cap; only runs of ≥2 merge
        val sorted = gfs.sortBy(firstRowId)
        val runs = scala.collection.mutable.ArrayBuffer(
          scala.collection.mutable.ArrayBuffer.empty[DataFileRec])
        sorted.foreach { f =>
          val run = runs.last
          if (run.nonEmpty && run.map(logical).sum + logical(f) > maxBytes)
            runs += scala.collection.mutable.ArrayBuffer(f)
          else run += f
        }
        runs.filter(_.size >= 2).map(r => (pv, r.toSeq))
      }.take(maxRuns)
    if (groups.isEmpty) return 0
    val (schemaName, tableName) = parse(name)
    val keyOpt = if (encryptionEnabled) Some(GraftCryptoFactory.newKeyB64()) else None
    val staging = s"$dataPath/.staging-ma-${UUID.randomUUID()}"
    val fs = FileSystem.get(new java.net.URI(staging), hconf)
    try {
      val staged = groups.zipWithIndex.map { case ((pv, run), gi) =>
        // raw physical read + ordered single-file write per run: the
        // merged file keeps the sources' epoch schema byte-for-byte, so
        // time travel under later ALTERs projects exactly as before.
        // Runs holding ADOPTED files read through their name mappings
        // (logical projection) and write under the current epoch.
        val hasAdopted = run.exists(_.mappingId.isDefined)
        val epoch = if (hasAdopted) snap else run.head.epoch
        val physCols =
          if (hasAdopted) cols.filterNot(c => identityIds(c.columnId)).sortBy(_.order)
          else colsAt(epoch)
        val physSchema = StructType(physCols.map(c =>
          StructField(c.name, TypeBridge.toSpark(c.dtype), nullable = true)))
        val order = (_: DataFileRec, field: String => Column) =>
          Seq(field(LakeFile.FileIndex).as("__mf"), field(LakeFile.RowIndex).as("__pos"))
        val rows =
          if (hasAdopted) readAll(ctx, run, None, extra = order)
          else readGroup(LakeReadGroup(physSchema, new StructType(),
            physCols.map(c => c.name -> col(c.name)),
            Map.empty, run.zipWithIndex.map { case (f, i) => f -> lakeFile(ctx.dir, f, None, i) }),
            order)
        val ordered = rows.repartition(1)
          .sortWithinPartitions(col("__mf"), col("__pos"))
          .select(physCols.map(c => col(c.name)): _*)
        val w = ordered.write.mode("overwrite").options(writeOptions(name, keyOpt))
        withWriterSessionConf(w.parquet(s"$staging/g$gi"))
        val part = fs.listStatus(new Path(s"$staging/g$gi"))
          .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
        val (files, renamed) = stageIntoTableDir(schemaName, tableName,
          Seq(part -> pv), physSchema, keyOpt, hiveNamesFor(name, ctx.partFields))
        // segment map: inherit the sources' own segments (re-based), one
        // segment per plain source file
        var off = 0L
        val segments = run.flatMap { f =>
          val segs =
            if (f.segments.nonEmpty)
              f.segments.map(s => s.copy(startPos = s.startPos - f.segments.head.startPos + off))
            else Seq(FileSegment(f.beginSnapshot, off, f.recordCount, f.rowIdStart))
          off += f.recordCount
          segs
        }
        (run, files.head, segments, epoch,
          physCols.map(c => c.name -> c.columnId).toMap, renamed)
      }
      // ONE snapshot for the whole call, however many runs merged
      // (reference per-call accounting)
      try store.commitMergeAdjacentAll(schemaName, tableName,
        staged.map { case (run, file, segments, epoch, colIds, _) =>
          (run, file, segments.map(_.beginSnapshot).min, segments, epoch, colIds)
        })
      catch { case e: Throwable =>
        staged.foreach { case (_, _, _, _, _, renamed) => cleanupRenamed(renamed) }
        throw e
      }
      groups.size
    } finally fs.delete(new Path(staging), true)
  }

  /** DuckLake `ducklake_cleanup_old_files`: physically delete files no
    * retained snapshot can reference — expired catalog rows are purged and
    * scheduled first, then the schedule (which also holds merge-replaced
    * files) is drained. `olderThan` bounds the schedule timestamps;
    * `cleanupAll` ignores it. Dry run reports without deleting.
    */
  /** `ducklake_delete_orphaned_files`: files under the data path that NO
    * metadata row (any snapshot, data or delete file) references —
    * typically crash leftovers or hand-copied files. Distinct from
    * [[cleanupOldFiles]], which removes files the catalog scheduled for
    * deletion (corpus: tests/sqllogictests/sql/remove_orphans/).
    */
  def deleteOrphanedFiles(cleanupAll: Boolean = false, dryRun: Boolean = false,
      olderThan: Option[java.sql.Timestamp] = None): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val known: Set[String] = (store.allRegisteredFiles().map {
      case (sp, tp, tRel, fp, fRel) =>
        val tableDir =
          if (tRel) s"$dataPath/${sp.stripSuffix("/")}/${tp.stripSuffix("/")}"
          else tp.stripSuffix("/")
        if (fRel) s"$tableDir/$fp" else fp
    } ++ // files awaiting scheduled deletion are still catalog-known
      store.scheduledDeletions(java.sql.Timestamp.valueOf("9999-01-01 00:00:00"))
        .map(rel => if (rel.startsWith("/") || rel.contains(":/")) rel
        else s"$dataPath/$rel"))
      .map(p => java.nio.file.Paths.get(p).normalize.toString).toSet
    val cutoff: Long =
      if (cleanupAll) Long.MaxValue
      else olderThan.map(_.getTime).getOrElse {
        store.getOption("delete_older_than", "main", "")
          .filter(_.nonEmpty)
          .map(iv => System.currentTimeMillis() - DuckLake.parseIntervalMillis(iv))
          .getOrElse(Long.MaxValue)
      }
    val root = java.nio.file.Paths.get(dataPath)
    if (!java.nio.file.Files.isDirectory(root)) return Nil
    val walked = java.nio.file.Files.walk(root)
    val orphans = try walked.iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .filter { p =>
        val n = p.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }
      .filterNot(p => known.contains(p.normalize.toString))
      .filter(p => java.nio.file.Files.getLastModifiedTime(p).toMillis < cutoff)
      .map(_.toString).toList
    finally walked.close()
    if (!dryRun) orphans.foreach(p =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p)))
    orphans
  }

  /** DuckDB `CHECKPOINT` on a DuckLake catalog — the maintenance bundle
    * (corpus: tests/sqllogictests/sql/checkpoint/): flush inlined data,
    * rewrite delete-heavy files at each table's effective threshold,
    * then — only when the retention options say so — expire old
    * snapshots and remove scheduled + orphaned files. Inside an open
    * transaction it is a no-op (DuckDB checkpoints skip active txns).
    */
  def checkpoint(): Unit = {
    if (store.inTransaction) { store.noteCheckpointDuringTransaction(); return }
    flushInlinedScope(None, None)
    val snap = store.currentSnapshot
    for {
      sch <- store.listSchemas(snap)
      tbl <- store.listTables(sch.schemaId, snap)
    } {
      val name = s"${sch.name}.${tbl.name}"
      val thr = getOption("rewrite_delete_threshold", name)
        .map(_.toDouble).getOrElse(0.95)
      rewriteFiles(name, thr)
    }
    getOption("expire_older_than", "main").foreach { iv =>
      expireSnapshotsCall(Some(new java.sql.Timestamp(
        System.currentTimeMillis() - DuckLake.parseIntervalMillis(iv))))
    }
    getOption("delete_older_than", "main").foreach { iv =>
      val cutoff = new java.sql.Timestamp(
        System.currentTimeMillis() - DuckLake.parseIntervalMillis(iv))
      cleanupOldFiles(olderThan = Some(cutoff))
      deleteOrphanedFiles(olderThan = Some(cutoff))
    }
  }

  def cleanupOldFiles(cleanupAll: Boolean = false, dryRun: Boolean = false,
      olderThan: Option[java.sql.Timestamp] = None): Seq[String] = {
    val cutoff =
      if (cleanupAll) java.sql.Timestamp.valueOf("9999-01-01 00:00:00")
      else olderThan.getOrElse {
        // the scoped delete_older_than retention option is the default
        val iv = store.getOption("delete_older_than", "main", "")
          .getOrElse(throw new InvalidConfigException(
            "either cleanup_all or older_than must be given"))
        new java.sql.Timestamp(
          System.currentTimeMillis() - DuckLake.parseIntervalMillis(iv))
      }
    if (dryRun) store.scheduledDeletions(cutoff)
    else {
      val fsys = FileSystem.get(new java.net.URI(dataPath), hconf)
      store.scheduledDeletions(cutoff).filter { rel =>
        // absolute entries (plain or URI-form) are adopted files
        // replaced by a merge
        val target =
          if (rel.startsWith("/") || rel.contains(":/")) rel
          else s"$dataPath/$rel"
        val gone =
          try { val p = new Path(target); fsys.delete(p, false) || !fsys.exists(p) }
          catch { case _: java.io.IOException => false }
        if (gone) store.unschedule(rel)
        gone
      }
    }
  }

  /** Scoped lake option (DuckLake `ducklake.set_option`): table scope
    * beats schema scope beats global.
    */
  def setOption(key: String, value: String, schema: Option[String] = None,
      table: Option[String] = None): Unit = {
    if (!DuckLake.KnownOptions(key))
      throw new InvalidConfigException(s"unknown option: $key")
    // retention options must hold a parseable interval (empty clears)
    if (key.endsWith("_older_than") && value.nonEmpty)
      try DuckLake.parseIntervalMillis(value)
      catch {
        case _: DuckLakeException => throw new InvalidConfigException(
          s"$key is not a valid interval value.")
      }
    // writer options validate EAGERLY, at set time — the reference
    // refuses an unknown codec / non-numeric value in set_option itself
    // (corpus: settings/parquet_compression.test), not at the first
    // write that would otherwise fail far from the misconfiguration
    if (key == "parquet_compression" &&
        !DuckLake.SupportedCodecs(value.trim.toLowerCase))
      throw new InvalidConfigException(
        s"Unsupported compression codec '$value' for $key")
    if (key == "parquet_version") {
      val v = scala.util.Try(value.trim.toInt).getOrElse(
        throw new InvalidConfigException(
          s"Could not convert '$value' to a parquet version"))
      if (v != 1 && v != 2)
        throw new InvalidConfigException(
          s"Unsupported parquet version $v (expected 1 or 2)")
    }
    if ((key == "parquet_compression_level" || key == "parquet_row_group_size") &&
        scala.util.Try(value.trim.toLong).isFailure)
      throw new InvalidConfigException(
        s"Could not convert '$value' to a number for $key")
    // byte-size options normalize to plain byte counts in the catalog
    // (reference: '10KB' reads back as 10000)
    val stored =
      if (key.endsWith("_size_bytes") || key == "target_file_size")
        parseByteSize(value).map(_.toString).getOrElse(value)
      else value
    // scoped options must name EXISTING entities
    // (corpus: settings/per_table_settings.test)
    val snap = store.currentSnapshot
    val schemaName = schema.getOrElse("main")
    if (schema.isDefined || table.isDefined) {
      val sch = store.getSchemaByName(schemaName, snap).getOrElse(
        throw new SchemaNotFoundException(s"no such schema: $schemaName"))
      table.foreach { t =>
        if (store.getTableByName(sch.schemaId, t, snap).isEmpty)
          throw new TableNotFoundException(s"no such table: $schemaName.$t")
      }
    }
    store.setOption(key, stored, schema, table)
  }

  def getOption(key: String, table: String): Option[String] = {
    val (s, t) = parse(table)
    store.getOption(key, s, t)
  }

  /** Parse '512', '1KB', '2MB', '1GB' style sizes. */
  private def parseByteSize(s: String): Option[Long] = {
    val m = """(?i)\s*(\d+)\s*(B|KB|KIB|MB|MIB|GB|GIB|TB|TIB)?\s*""".r
    s match {
      case m(n, unit) =>
        // DuckDB units: KB/MB/… are SI (10KB = 10000), KiB/… binary
        val mult = Option(unit).map(_.toUpperCase) match {
          case None | Some("B") => 1L
          case Some("KB")       => 1000L
          case Some("MB")       => 1000000L
          case Some("GB")       => 1000000000L
          case Some("TB")       => 1000000000000L
          case Some("KIB")      => 1L << 10
          case Some("MIB")      => 1L << 20
          case Some("GIB")      => 1L << 30
          case _                => 1L << 40
        }
        Some(n.toLong * mult)
      case _ => None
    }
  }

  /** Targeted maintenance rewrite (Iceberg `rewrite_data_files`-style):
    * rewrite ONLY files whose delete ratio reaches `minDeleteRatio`, or
    * that are smaller than `smallFileBytes` — merging MOR deletes into
    * fresh files and bin-packing small ones (per partition-value group) —
    * and commit the swap in one snapshot. Untouched files are untouched:
    * at 100 TB, maintenance cost tracks the churned fraction, not the
    * table ([[compact]] rewrites everything). Returns the new snapshot,
    * or the current one when nothing qualifies.
    */
  def rewriteFiles(name: String, minDeleteRatio: Double = 0.1,
      smallFileBytes: Long = 0L): Long = {
    if (minDeleteRatio < 0 || minDeleteRatio > 1)
      throw new InvalidConfigException(
        "The delete_threshold option must be between 0 and 1")
    val ctx = pin(name)
    val (snap, cols) = (ctx.snap, ctx.cols)
    val candidates = ctx.files.filter { f =>
      val delRatio = f.deleteFile
        .map(_.recordCount.toDouble / math.max(f.recordCount, 1L)).getOrElse(0.0)
      (f.deleteFile.isDefined && delRatio >= minDeleteRatio) ||
        (smallFileBytes > 0 && f.fileSizeBytes < smallFileBytes)
    }
    // a lone small file with no deletes has nothing to merge with
    if (candidates.isEmpty ||
      (candidates.size == 1 && candidates.head.deleteFile.isEmpty)) return snap
    val (schemaName, tableName) = parse(name)
    val dataSchema = ctx.sparkSchema
    val dataColNames = dataSchema.fieldNames.toSeq
    val keyOpt = if (encryptionEnabled) Some(GraftCryptoFactory.newKeyB64()) else None
    val staging = s"$dataPath/.staging-rw-${UUID.randomUUID()}"
    val fs = FileSystem.get(new java.net.URI(staging), hconf)
    try {
      // one merged file per partition-tuple group (bin-packing unit;
      // the tuple covers identity AND transform keys, so a rewrite never
      // merges across partition boundaries)
      val groups = candidates.groupBy(ctx.partTuple).toSeq
      val staged = groups.zipWithIndex.map { case ((pv, gfs), i) =>
        val df = readAll(ctx, gfs, Some(snap)).select(dataColNames.map(col): _*)
        val w = df.coalesce(1).write.mode("overwrite").options(writeOptions(name, keyOpt))
        withWriterSessionConf(w.parquet(s"$staging/g$i"))
        val part = fs.listStatus(new Path(s"$staging/g$i"))
          .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
        (part, pv)
      }
      val (newFiles, renamed) = stageIntoTableDir(schemaName, tableName, staged,
        dataSchema, keyOpt, hiveNamesFor(name, ctx.partFields))
      try store.commitFileRewrites(schemaName, tableName, cols,
        candidates.map(_.dataFileId), newFiles)
      catch { case e: Throwable => cleanupRenamed(renamed); throw e }
    } finally fs.delete(new Path(staging), true)
  }

  /** Roll a table back to the state `snapshot` saw, as a NEW snapshot —
    * nothing between then and now is erased (time travel still resolves
    * every intermediate snapshot). Catalog-only: revived files are new
    * rows pointing at the old paths, with their write epochs preserved so
    * rename projection keeps resolving. Returns the rollback snapshot id.
    */
  def rollbackTo(name: String, snapshot: Long): Long =
    store.rollbackTable(pin(name).tableId, snapshot)

  /** Zero-copy clone `src` → `dst` ("shallow clone"): the new table's
    * initial snapshot references the source's current data/delete files
    * without copying a byte — both tables then evolve independently.
    * [[vacuum]] deletes a shared physical file only when NO live catalog
    * row (from either table) references its path.
    */
  def cloneTable(src: String, dst: String): Long = {
    val (dstSchema, dstTable) = parse(dst)
    store.cloneTable(dstSchema, pin(src).tableId, dstTable)
  }

  /** Tag a snapshot with a stable name, resolvable in SQL time travel as
    * `VERSION AS OF '<tag>'` — the human-readable ref layer over snapshot
    * ids (retagging moves the ref; Iceberg-tag-style, an extension over
    * the reference). Purely numeric names are rejected: they would shadow
    * snapshot ids in time-travel resolution.
    */
  def tagSnapshot(tag: String, snapshot: Long): Unit = {
    PathResolver.validateName(tag)
    if (tag.forall(_.isDigit))
      throw new InvalidConfigException(s"tag name must not be numeric: $tag")
    if (!store.snapshotExists(snapshot))
      throw new InvalidSnapshotException(s"snapshot $snapshot does not exist")
    store.tagSnapshot(tag, snapshot)
  }

  /** Resolve a tag to its snapshot id. */
  def snapshotForTag(tag: String): Option[Long] = store.snapshotForTag(tag)

  /** Drop a tag; true if it existed. The snapshot itself is untouched. */
  def dropTag(tag: String): Boolean = store.dropTag(tag)

  /** Expire time travel below `before` (newest snapshot always kept).
    * Expired snapshots stop resolving; [[vacuum]] may then delete files
    * only those snapshots could see.
    */
  def expireSnapshots(before: Long): Seq[Long] = store.expireSnapshots(before)

  /** Expire every snapshot committed before `ts` (age-based retention —
    * `ducklake_expire_snapshots(older_than := …)` semantics).
    */
  def expireSnapshotsOlderThan(ts: java.sql.Timestamp): Seq[Long] = {
    val cutoff = store.snapshots.filter(_._2.before(ts)).map(_._1)
      .maxOption.map(_ + 1).getOrElse(return Nil)
    store.expireSnapshots(cutoff)
  }

  /** Delete physical files that no retained snapshot can see (their
    * catalog rows are purged in the same transaction). Returns the number
    * of files removed from storage — at 100 TB this is the reclamation
    * path that keeps Replace/compaction churn from accumulating forever.
    */
  /** One-shot vacuum: schedule expired files, then purge immediately
    * (retention 0) — the single-process convenience form.
    */
  def vacuum(): Int = {
    scheduleVacuum()
    purgeScheduled(java.time.Duration.ZERO)
  }

  /** Two-phase vacuum, phase 1 (DuckLake spec
    * `ducklake_files_scheduled_for_deletion`): expired catalog rows are
    * purged and their unreferenced physical files recorded with a
    * schedule timestamp — no bytes are deleted yet, so scans that pinned
    * a pre-expiry snapshot keep resolving. Returns files scheduled.
    */
  def scheduleVacuum(): Int = store.scheduleExpiredFiles()

  /** Two-phase vacuum, phase 2: physically delete files scheduled at
    * least `retention` ago; a failed delete keeps its schedule row for
    * the next run. Returns files deleted (missing files count as done).
    */
  def purgeScheduled(retention: java.time.Duration): Int = {
    val fs = FileSystem.get(new java.net.URI(dataPath), hconf)
    val cutoff = new java.sql.Timestamp(System.currentTimeMillis() - retention.toMillis)
    store.scheduledDeletions(cutoff).count { rel =>
      val gone =
        try { val p = new Path(s"$dataPath/$rel"); fs.delete(p, false) || !fs.exists(p) }
        catch { case _: java.io.IOException => false }
      if (gone) store.unschedule(rel)
      gone
    }
  }

  def tableExists(name: String): Boolean = pinned(name).nonEmpty

  def dropColumn(name: String, colName: String): Long =
    store.dropColumn(pin(name).tableId, colName)

  /** ALTER TABLE … ADD COLUMN (nullable; earlier files read as the
    * initial default when one is declared, else null). `default` is a
    * constant SQL expression ('pending', 5, CAST('2024-01-01' AS DATE));
    * it is validated (parse + constant-fold + cast) before the metadata
    * commit so a bad default fails the ALTER, never a later scan. The
    * DuckLake spec stores this as `ducklake_column.initial_default`;
    * the reference is read-only and has no ALTER surface at all.
    */
  def addColumn(name: String, colName: String, dtype: String,
      default: Option[String] = None, nullable: Boolean = true): Long = {
    // ADD COLUMN takes LITERAL defaults only (the value becomes the
    // initial_default every pre-existing row reads); expressions need an
    // explicit SET DEFAULT (reference: default/default_expressions.test)
    default.filter(sql => ColumnDefaults.classify(sql)._2 == "expression")
      .foreach { sql =>
        throw new UnsupportedException(
          "We cannot add a column with a non-literal default value. Add the " +
            "column and then explicitly set the default for new values using " +
            "\"ALTER ... SET DEFAULT\"" + s" (got: $sql)")
      }
    default.foreach(sql => DuckLake.evalDefault(sql, TypeBridge.toSpark(dtype)))
    store.addColumn(pin(name).tableId, colName, dtype,
      default.map(_.trim), nullable)
  }

  /** ALTER COLUMN … SET DATA TYPE (widening only — the promotion lattice). */
  /** Rewrite a nested position inside a type: `path` addresses struct
    * fields by name and array elements by the literal `element` segment
    * (Spark's TableChange convention). The edited ROOT type then flows
    * through [[alterColumnType]], so old files project structurally on
    * read (DuckLake nested evolution — corpus: alter/add_column_nested
    * .test, struct_evolution_list_alter.test).
    */
  private def editNested(dt: org.apache.spark.sql.types.DataType, path: Seq[String])(
      leaf: (org.apache.spark.sql.types.StructType, String) => org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    dt match {
      case ArrayType(e, n) if path.headOption.exists(_.equalsIgnoreCase("element")) =>
        if (path.length == 1)
          throw new UnsupportedException("cannot alter the array element itself")
        ArrayType(editNested(e, path.tail)(leaf), n)
      // map traversal uses the literal `key`/`value` segments (Spark's
      // TableChange convention; corpus: alter/struct_evolution_map_alter
      // .test evolves the struct inside a map's VALUE)
      case MapType(k, v, n) if path.headOption.exists(_.equalsIgnoreCase("value")) =>
        if (path.length == 1)
          throw new UnsupportedException("cannot alter the map value itself")
        MapType(k, editNested(v, path.tail)(leaf), n)
      case MapType(k, v, n) if path.headOption.exists(_.equalsIgnoreCase("key")) =>
        if (path.length == 1)
          throw new UnsupportedException("cannot alter the map key itself")
        MapType(editNested(k, path.tail)(leaf), v, n)
      case st: StructType if path.length == 1 => leaf(st, path.head)
      case st: StructType =>
        st.fields.find(_.name.equalsIgnoreCase(path.head)) match {
          case Some(f) => StructType(st.fields.map(x =>
            if (x eq f) x.copy(dataType = editNested(x.dataType, path.tail)(leaf)) else x))
          case None => throw new InvalidConfigException(
            s"field ${path.head} does not exist")
        }
      case _ =>
        throw new UnsupportedException("a field can only be added to structs")
    }
  }

  private def alterNested(name: String, path: Seq[String],
      nestedAdd: Option[(String, String, String)] = None,
      nestedEnd: Seq[String] = Nil,
      nestedRename: Seq[(String, String)] = Nil)(
      leaf: (org.apache.spark.sql.types.StructType, String) => org.apache.spark.sql.types.StructType): Long = {
    val t = pin(name)
    val root = t.cols.find(_.name.equalsIgnoreCase(path.head))
      .getOrElse(throw new InvalidConfigException(s"column ${path.head} does not exist"))
    val edited = editNested(TypeBridge.toSpark(root.dtype), path.tail)(leaf)
    store.alterColumnType(t.tableId, root.name, TypeBridge.fromSpark(edited),
      nestedAdd, nestedEnd, nestedRename)
  }

  def addNestedField(name: String, path: Seq[String],
      dtype: org.apache.spark.sql.types.DataType,
      default: Option[String] = None): Long = {
    // nested ADD with DEFAULT: LITERAL only (same rule as top-level —
    // the value fills the field for every pre-existing row)
    default.foreach { sql =>
      if (ColumnDefaults.classify(sql)._2 == "expression")
        throw new UnsupportedException(
          "We cannot add a column with a non-literal default value. Add the " +
            "column and then explicitly set the default for new values using " +
            "\"ALTER ... SET DEFAULT\"")
      DuckLake.evalDefault(sql, dtype)
    }
    alterNested(name, path,
      nestedAdd = default.map(d =>
        (path.tail.mkString("."), TypeBridge.fromSpark(dtype), d))) { (st, fname) =>
      if (st.fields.exists(_.name.equalsIgnoreCase(fname)))
        throw new UnsupportedException(s"field $fname already exists")
      st.add(org.apache.spark.sql.types.StructField(fname, dtype, nullable = true))
    }
  }

  def dropNestedField(name: String, path: Seq[String]): Long =
    alterNested(name, path, nestedEnd = Seq(path.tail.mkString("."))) { (st, fname) =>
      if (!st.fields.exists(_.name.equalsIgnoreCase(fname)))
        throw new InvalidConfigException(s"field $fname does not exist")
      org.apache.spark.sql.types.StructType(
        st.fields.filterNot(_.name.equalsIgnoreCase(fname)))
    }

  def renameNestedField(name: String, path: Seq[String], newName: String): Long =
    alterNested(name, path,
      nestedRename = Seq((path.tail.mkString("."),
        (path.tail.dropRight(1) :+ newName).mkString(".")))) { (st, fname) =>
      if (!st.fields.exists(_.name.equalsIgnoreCase(fname)))
        throw new InvalidConfigException(s"field $fname does not exist")
      org.apache.spark.sql.types.StructType(st.fields.map(f =>
        if (f.name.equalsIgnoreCase(fname)) f.copy(name = newName) else f))
    }

  def alterColumnType(name: String, colName: String, dtype: String): Long =
    store.alterColumnType(pin(name).tableId, colName, dtype)

  /** Refine a column's LOGICAL duck type in place, no snapshot: for
    * duck types richer than their Spark mapping (json ≙ string,
    * uint8 ≙ int16 …) that SQL DDL cannot spell. The physical Spark
    * type must stay identical, so every scan/write keeps working.
    */
  def refineColumnType(name: String, colName: String, dtype: String): Unit = {
    val t = pin(name)
    val cur = t.cols.find(_.name.equalsIgnoreCase(colName)).getOrElse(
      throw new InvalidConfigException(s"no such column: $colName"))
    if (TypeBridge.toSpark(cur.dtype) != TypeBridge.toSpark(dtype))
      throw new UnsupportedTypeException(
        s"refinement must keep the physical type: ${cur.dtype} -> $dtype")
    store.refineColumnType(t.tableId, cur.name, TypeBridge.normalize(dtype))
  }

  /** ALTER … SET NOT NULL: validated against the CURRENT data first — a
    * single distributed existence scan; stats-pruned, so files with a
    * known zero null count are never read (reference:
    * constraints/not_null.test "cannot SET NOT NULL on a table that has
    * NULL values").
    */
  def setNotNull(name: String, colName: String): Long = {
    val t = pin(name)
    val cdef = t.cols.find(_.name == colName).getOrElse(
      throw new InvalidConfigException(s"column not found: $colName"))
    if (!cdef.nullsAllowed)
      throw new InvalidConfigException(
        s"column $colName already has a NOT NULL constraint")
    val hasNull = !table(name, None,
      Seq(org.apache.spark.sql.sources.IsNull(colName)))
      .filter(col(colName).isNull).isEmpty
    if (hasNull)
      throw new ConstraintViolationException(
        s"NOT NULL constraint failed: column $colName of $name contains null values")
    store.alterColumnNullability(t.tableId, colName, nullsAllowed = false)
  }

  /** ALTER … DROP NOT NULL (always safe). */
  def dropNotNull(name: String, colName: String): Long = {
    val t = pin(name)
    val cdef = t.cols.find(_.name == colName).getOrElse(
        throw new InvalidConfigException(s"column not found: $colName"))
    if (cdef.nullsAllowed)
      throw new InvalidConfigException(
        s"column $colName has no NOT NULL constraint")
    store.alterColumnNullability(t.tableId, colName, nullsAllowed = true)
  }

  // ------------------------------------------------------------------
  // CDC (reference: A20-A22, src/table_changes.rs + table_deletions.rs)
  // ------------------------------------------------------------------

  /** Rows inserted in snapshot range (from, to]: each data file added in
    * the range, extended with `snapshot_id` and `change_type='insert'`
    * (reference: src/table_changes.rs:283-605 — `withColumn(lit)` replaces
    * the custom AppendCDCColumnsExec).
    */
  /** Resolve a snapshot ref: numeric string = snapshot id, anything else
    * a tag name (tags are non-numeric by construction).
    */
  private def resolveRef(ref: String): Long =
    ref.toLongOption.orElse(snapshotForTag(ref)).getOrElse(
      throw new InvalidSnapshotException(s"unknown snapshot ref: $ref"))

  /** CDC over named refs: `tableChanges("main.t", "v1.0", "v1.1")` —
    * tags resolve through the snapshot-tag table.
    */
  def tableChanges(name: String, from: String, to: String): DataFrame =
    tableChanges(name, resolveRef(from), resolveRef(to))

  def tableDeletions(name: String, from: String, to: String): DataFrame =
    tableDeletions(name, resolveRef(from), resolveRef(to))

  def tableChanges(name: String, from: Long, to: Long): DataFrame = {
    if (from > to) throw new InvalidSnapshotException(s"start $from > end $to")
    val t = pin(name, to, Some(from))
    val outSchema = t.sparkSchema
      .add("snapshot_id", LongType, nullable = false)
      .add("change_type", StringType, nullable = false)
    val files = store.getDataFilesAddedBetween(t.tableId, from, to)
    if (files.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[Row](), outSchema)
    readAll(t, files, None, extra = (_, field) =>
      Seq(field(LakeFile.BeginSnapshot).as("snapshot_id"), lit("insert").as("change_type")))
  }

  /** Rows deleted in snapshot range (from, to]: per delete file, position
    * delta vs the previous delete file (full-file deletes = all positions),
    * joined back onto the data files' rows by (file id, position)
    * (reference: src/table_deletions.rs:59-664; delta :545-554, full-file
    * :498-513).
    */
  def tableDeletions(name: String, from: Long, to: Long): DataFrame = {
    if (from > to) throw new InvalidSnapshotException(s"start $from > end $to")
    val ctx = pin(name, to, Some(from))
    val cols = ctx.cols
    val outSchema = ctx.sparkSchema
      .add("snapshot_id", LongType, nullable = false)
      .add("change_type", StringType, nullable = false)
    val entries = store.getDeleteFilesAddedBetween(ctx.tableId, from, to)
    if (entries.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[Row](), outSchema)
    // a replaced file's end snapshot is by construction in range
    val deleted = deletedPositions(ctx.dir, entries, _ => to)
    addressedRows(ctx, entries.map(_._3), Nil)
      .join(broadcast(deleted), Seq("__fid", "__pos"))
      .select(cols.map(c => col(c.name)) :+ col("__dsnap").as("snapshot_id") :+
        lit("delete").as("change_type"): _*)
  }

  /** The positions each of `entries` (delete files added in a range, see
    * `getDeleteFilesAddedBetween`) newly deletes — all of them for a
    * full-file delete, else those not in the previous delete file — as
    * `(__fid, __pos, __dsnap)` over the table in `dir`; `__dsnap` is the
    * delete file's snapshot, or `replacedAt` of a fully deleted file.
    */
  private def deletedPositions(dir: => String,
      entries: Seq[(Option[DeleteFileRec], Option[DeleteFileRec], DataFileRec)],
      replacedAt: DataFileRec => Long): DataFrame =
    unionAll(entries.map { case (delOpt, prevOpt, dataFile) =>
      val current: DataFrame = delOpt match {
        case Some(d) => deleteRows(dir, d).select("pos")
        case None => spark.range(dataFile.recordCount).select(col("id").as("pos"))
      }
      prevOpt.fold(current)(p => current.except(deleteRows(dir, p).select("pos")))
        .select(lit(dataFile.dataFileId).as("__fid"), col("pos").as("__pos"),
          lit(delOpt.fold(replacedAt(dataFile))(_.beginSnapshot)).as("__dsnap"))
    })

  /** Every physical row of `files` (distinct by id) in the pinned catalog
    * columns, addressed by `(__fid, __pos)`, plus virtual columns `v`.
    */
  private def addressedRows(ctx: PinnedTable, files: Seq[DataFileRec], v: Seq[String]): DataFrame =
    readAll(ctx, files.distinctBy(_.dataFileId), None, DuckLake.asksProvenance(v.toSet),
      (head, field) => v.map(n => DuckLake.virtualColumn(n, head, field).as(n)) ++
        Seq(field(LakeFile.FileId).as("__fid"), field(LakeFile.RowIndex).as("__pos")))

  /** Reference-shaped CDC (`ducklake.table_changes(t, from, to)`):
    * `(snapshot_id, rowid, change_type, cols…)` over the INCLUSIVE
    * snapshot range, with a delete+insert of the same rowid in one
    * snapshot classified as `update_preimage`/`update_postimage`
    * (reference: src/table_changes.rs; corpus: table_changes/,
    * add_files/add_files_table_changes.test). Flush-inlined snapshots are
    * physical reorganization, not logical change — excluded.
    */
  def tableChangesFull(name: String, from: Long, to: Long): DataFrame = {
    if (from > to) throw new InvalidSnapshotException(s"start $from > end $to")
    // a file deleted whole at `from` was last live just before it
    val ctx = pin(name, to, Some(from - 1))
    val (tr, cols) = (ctx.table, ctx.cols)
    val colExprs = cols.map(c => col(c.name))
    val head = Seq(col("snapshot_id"), col("rowid"), col("change_type"))
    val outSchema = StructType(
      Seq(StructField("snapshot_id", LongType), StructField("rowid", LongType),
        StructField("change_type", StringType)) ++ ctx.sparkSchema.fields)
    val flushSnaps = store.snapshotsWithChanges.collect {
      case (id, _, _, changes, _, _, _)
        if changes.exists(e => e._1 == "flushed_inlined" && e._2 == tr.tableId.toString) => id
    }.toSet

    // files' rows with their stable rowid and birth snapshot
    def rowsOf(files: Seq[DataFileRec]): Option[DataFrame] =
      Option.when(files.nonEmpty)(addressedRows(ctx, files,
        Seq(DuckLake.VirtualRowId, DuckLake.VirtualSnapshot)))

    // inlined rows parsed at the range-end schema
    def inlineRows(rows: Seq[(Long, Long, String)]): Option[DataFrame] = {
      if (rows.isEmpty) return None
      import spark.implicits._
      val schema = inlineReadType(ctx.sparkSchema)
        .asInstanceOf[StructType]
      Some(rows.toSeq.toDF("rowid", "snapshot_id", "__json")
        .withColumn("__p", from_json(col("__json"), schema, inlineJsonOpts))
        .select(Seq(col("snapshot_id"), col("rowid")) ++
          cols.map(c => col("__p").getField(c.name)
            .cast(TypeBridge.toSpark(c.dtype)).as(c.name)): _*))
    }
    val rawInlined = store.getInlinedRowsRaw(tr.tableId)

    // --- inserted rows: files + inlined, born inside [from, to] ---
    val segsMap = store.getFileSegments(tr.tableId)
    def withSegs(f: DataFileRec): DataFileRec =
      f.copy(segments = segsMap.getOrElse(f.dataFileId, Nil))
    val insFileDfs = rowsOf(store.getDataFilesAddedBetween(tr.tableId, from - 1, to)
        .filterNot(f => flushSnaps(f.beginSnapshot)).map(withSegs))
      .map(_.filter(col("snapshot_id") >= from && col("snapshot_id") <= to)
        .select(Seq(col("snapshot_id"), col("rowid")) ++ colExprs: _*))
    val insInline = inlineRows(rawInlined
      .filter(r => r._2 >= from && r._2 <= to).map(r => (r._1, r._2, r._4)))
    val inserts = (insFileDfs ++ insInline).reduceOption(_ unionByName _)

    // --- deleted rows: delete-file deltas + ended inlined rows ---
    val delEntries = store.getDeleteFilesAddedBetween(tr.tableId, from - 1, to)
    val delFileDfs = rowsOf(delEntries.map(e => withSegs(e._3))).map { rows =>
      // full-file deletes happen at the file's END snapshot, not `to`
      val deleted = deletedPositions(ctx.dir, delEntries,
        f => store.dataFileEndSnapshot(f.dataFileId).getOrElse(to))
      rows.join(broadcast(deleted), Seq("__fid", "__pos"))
        .select(Seq(col("__dsnap").as("snapshot_id"), col("rowid")) ++ colExprs: _*)
    }
    val delInline = inlineRows(rawInlined
      .filter(r => r._3.exists(e => e >= from && e <= to && !flushSnaps(e)))
      .map(r => (r._1, r._3.get, r._4)))
    val deletes = (delFileDfs ++ delInline).reduceOption(_ unionByName _)

    // --- classify: delete+insert of one rowid in one snapshot = update ---
    (inserts, deletes) match {
      case (None, None) =>
        spark.createDataFrame(new java.util.ArrayList[Row](), outSchema)
      case (Some(i), None) =>
        i.withColumn("change_type", lit("insert")).select(head ++ colExprs: _*)
      case (None, Some(d)) =>
        d.withColumn("change_type", lit("delete")).select(head ++ colExprs: _*)
      case (Some(i), Some(d)) =>
        val dk = d.select(col("snapshot_id").as("__ds"), col("rowid").as("__dr")).distinct()
        val ik = i.select(col("snapshot_id").as("__ds"), col("rowid").as("__dr")).distinct()
        val insOut = i.join(broadcast(dk),
          col("snapshot_id") === col("__ds") && col("rowid") === col("__dr"), "left")
          .withColumn("change_type",
            when(col("__ds").isNotNull, "update_postimage").otherwise(lit("insert")))
          .select(head ++ colExprs: _*)
        val delOut = d.join(broadcast(ik),
          col("snapshot_id") === col("__ds") && col("rowid") === col("__dr"), "left")
          .withColumn("change_type",
            when(col("__ds").isNotNull, "update_preimage").otherwise(lit("delete")))
          .select(head ++ colExprs: _*)
        insOut.unionByName(delOut)
    }
  }

  /** [[tableChangesFull]] over timestamp bounds: the inclusive snapshot
    * range whose commit times fall inside [tsFrom, tsTo].
    */
  def tableChangesFull(name: String, tsFrom: java.sql.Timestamp,
      tsTo: java.sql.Timestamp): DataFrame = {
    val snaps = store.snapshots
    val from = snaps.collectFirst { case (id, t) if !t.before(tsFrom) => id }
      .getOrElse(Long.MaxValue)
    val to = snaps.reverse.collectFirst { case (id, t) if !t.after(tsTo) => id }
      .getOrElse(-1L)
    if (from > to) {
      val outSchema = StructType(
        Seq(StructField("snapshot_id", LongType), StructField("rowid", LongType),
          StructField("change_type", StringType)) ++
          pin(name).sparkSchema.fields)
      spark.createDataFrame(new java.util.ArrayList[Row](), outSchema)
    } else tableChangesFull(name, from, to)
  }

  // ------------------------------------------------------------------
  // information_schema + UDTF equivalents (reference: A16-A19,
  // src/information_schema.rs, src/table_functions.rs)
  // ------------------------------------------------------------------

  /** Per-table change history (DESCRIBE HISTORY-style): every snapshot
    * that touched the table, with its commit time when still retained —
    * the entry points for `table(name, Some(snapshot))` time travel.
    */
  def history(name: String): DataFrame = {
    import spark.implicits._
    val times = store.snapshots.toMap
    store.tableHistory(pin(name).tableId)
      .map(s => (s, times.get(s).map(_.toLocalDateTime).orNull, times.contains(s)))
      .toDF("snapshot_id", "snapshot_time", "retained")
  }

  def snapshotsDF: DataFrame = {
    import spark.implicits._
    store.snapshotsWithChanges.map { case (id, ts, ver, changes, a, m, x) =>
      (id, ts.toLocalDateTime, ver, DuckLake.renderChanges(changes), a, m, x)
    }.toDF("snapshot_id", "snapshot_time", "schema_version", "changes",
      "author", "commit_message", "commit_extra_info")
  }

  def listFilesDF: DataFrame = {
    import spark.implicits._
    val snap = store.currentSnapshot
    val rows = for {
      sch <- store.listSchemas(snap)
      tbl <- store.listTables(sch.schemaId, snap)
      f <- store.getDataFiles(tbl.tableId, snap)
    } yield (sch.name, tbl.name, f.path, f.recordCount, f.fileSizeBytes, f.footerSize,
      f.beginSnapshot, f.deleteFile.map(_.path))
    rows.toDF("schema_name", "table_name", "path", "record_count",
      "file_size_bytes", "footer_size", "begin_snapshot", "delete_file_path")
  }

  /** `ducklake_list_files('cat', table, schema =>, snapshot_version =>,
    * snapshot_time =>)`: reference-shaped per-table file listing with
    * RESOLVED physical paths (readable by `read_parquet` / re-adoptable
    * by `add_files`), optionally pinned to a snapshot (reference:
    * tests/sqllogictests/sql/list_files/ducklake_list_files.test).
    */
  def listFilesAt(table: String, schema: String = "main",
      snapshot: Option[Long] = None): DataFrame = {
    import spark.implicits._
    snapshot.foreach { s =>
      if (!store.snapshotExists(s))
        throw new InvalidSnapshotException(s"No snapshot found at version $s")
    }
    val snap = snapshot.getOrElse(store.currentSnapshot)
    val sch = store.getSchemaByName(schema, snap).getOrElse(
      throw new SchemaNotFoundException(s"schema $schema does not exist"))
    val tbl = store.getTableByName(sch.schemaId, table, snap).getOrElse(
      throw new TableNotFoundException(s"table $schema.$table does not exist"))
    val dir = DuckLake.tableDir(dataPath, sch.path, tbl)
    store.getDataFiles(tbl.tableId, snap).map { f =>
      (under(dir, f.path, f.pathIsRelative), f.fileSizeBytes, f.footerSize,
        f.deleteFile.map(d => s"$dir/${d.path}"),
        f.deleteFile.map(_.fileSizeBytes))
    }.toDF("data_file", "data_file_size_bytes", "data_file_footer_size",
      "delete_file", "delete_file_size_bytes")
  }

  /** DuckDB `stats(col)` text from the CUMULATIVE catalog stats:
    * `[Min: m, Max: M][Has Null: b, Has No Null: b]` — bounds widen with
    * every insert/update and never shrink on delete (optimizer-stat
    * semantics; reference: tests/sqllogictests/sql/stats/global_stats
    * .test, data_inlining/data_inlining_update.test). None when the
    * column's bounds aren't tracked (nested types) — callers fall back
    * to an exact scan.
    */
  def columnStatsText(name: String, colName: String): Option[String] = {
    val t = pin(name)
    val cdef = t.cols.find(_.name.equalsIgnoreCase(colName)).getOrElse(return None)
    store.globalColumnStats(t.tableId, cdef.columnId).map {
      case (mn, mx, hasNull, hasNotNull) =>
        val dt = TypeBridge.toSpark(cdef.dtype)
        def disp(v: Option[String]): String =
          v.map(DuckLake.displayStat(dt, _)).getOrElse("NULL")
        s"[Min: ${disp(mn)}, Max: ${disp(mx)}]" +
          s"[Has Null: $hasNull, Has No Null: $hasNotNull]"
    }
  }

  def tableInfoDF: DataFrame = {
    import spark.implicits._
    val snap = store.currentSnapshot
    val rows = for {
      sch <- store.listSchemas(snap)
      tbl <- store.listTables(sch.schemaId, snap)
    } yield {
      val files = store.getDataFiles(tbl.tableId, snap)
      val deletes = files.flatMap(_.deleteFile)
      (sch.name, tbl.name, tbl.tableId, files.size.toLong,
        files.map(_.fileSizeBytes).sum, files.map(_.recordCount).sum,
        deletes.size.toLong, deletes.map(_.recordCount).sum)
    }
    rows.toDF("schema_name", "table_name", "table_id", "file_count",
      "file_size_bytes", "record_count", "delete_file_count", "delete_count")
  }

  // ------------------------------------------------------------------
  // COMMENT ON table/view/column (reference:
  // tests/sqllogictests/sql/comments/comments.test) — snapshot-versioned
  // catalog rows, surfaced through information_schema and DESCRIBE
  // ------------------------------------------------------------------

  /** COMMENT ON TABLE … IS '<comment>' | NULL. Rejects views. */
  def commentOnTable(name: String, comment: Option[String]): Long = {
    val (schemaName, tableName) = parse(name)
    val snap = store.currentSnapshot
    val sch = store.getSchemaByName(schemaName, snap)
      .getOrElse(throw new SchemaNotFoundException(schemaName))
    if (store.getViewId(sch.schemaId, tableName, snap).isDefined)
      throw new UnsupportedException(s"$name is not a table (COMMENT ON VIEW?)")
    store.setComment("table", pin(name, snap).tableId, None, comment)
  }

  /** COMMENT ON VIEW … IS '<comment>' | NULL. Rejects tables. */
  def commentOnView(name: String, comment: Option[String]): Long = {
    val (schemaName, viewName) = parse(name)
    val snap = store.currentSnapshot
    val sch = store.getSchemaByName(schemaName, snap)
      .getOrElse(throw new SchemaNotFoundException(schemaName))
    store.getViewId(sch.schemaId, viewName, snap) match {
      case Some(vid) => store.setComment("view", vid, None, comment)
      case None if tableExists(name) =>
        throw new UnsupportedException(s"$name is not a view (COMMENT ON TABLE?)")
      case None => throw new TableNotFoundException(s"view $name")
    }
  }

  /** COMMENT ON COLUMN t.c — keyed by column_id, so it survives renames. */
  def commentOnColumn(name: String, colName: String, comment: Option[String]): Long = {
    val t = pin(name)
    val c = t.cols.find(_.name == colName)
      .getOrElse(throw new InvalidConfigException(s"column not found: $colName"))
    store.setComment("column", t.tableId, Some(c.columnId), comment)
  }

  def tableComment(name: String): Option[String] = {
    val t = pin(name)
    store.getComment("table", t.tableId, None, t.snap)
  }

  def viewComment(name: String): Option[String] = {
    val (schemaName, viewName) = parse(name)
    val snap = store.currentSnapshot
    store.getSchemaByName(schemaName, snap)
      .flatMap(s => store.getViewId(s.schemaId, viewName, snap))
      .flatMap(vid => store.getComment("view", vid, None, snap))
  }

  /** column name → comment at the current snapshot. */
  def columnComments(name: String): Map[String, String] =
    pin(name).comments

  def informationSchema(which: String): DataFrame = {
    import spark.implicits._
    val snap = store.currentSnapshot
    which match {
      case "snapshots" => snapshotsDF
      case "schemata" =>
        store.listSchemas(snap).map(s => (s.schemaId, s.name, s.path))
          .toDF("schema_id", "schema_name", "path")
      case "tables" =>
        (for {
          sch <- store.listSchemas(snap); tbl <- store.listTables(sch.schemaId, snap)
        } yield (tbl.tableId, sch.schemaId, sch.name, tbl.name, tbl.path,
          store.getComment("table", tbl.tableId, None, snap)))
          .toDF("table_id", "schema_id", "schema_name", "table_name", "path",
            "comment")
      case "columns" =>
        (for {
          sch <- store.listSchemas(snap); tbl <- store.listTables(sch.schemaId, snap)
          comments = store.getColumnComments(tbl.tableId, snap)
          c <- store.getTableColumns(tbl.tableId, snap)
        } yield (sch.name, tbl.name, c.columnId, c.order, c.name, c.dtype,
          c.nullsAllowed, comments.get(c.columnId)))
          .toDF("schema_name", "table_name", "column_id", "column_order",
            "column_name", "column_type", "nulls_allowed", "comment")
      case "table_info" => tableInfoDF
      case "files" => listFilesDF
      case "partitions" =>
        (for {
          sch <- store.listSchemas(snap)
          tbl <- store.listTables(sch.schemaId, snap)
          defs = store.getTableColumns(tbl.tableId, snap)
          (idx, cid, t) <- store.getPartitionColumns(tbl.tableId, snap)
          cdef <- defs.find(_.columnId == cid)
        } yield (sch.name, tbl.name, idx.toLong, cdef.name, cdef.dtype,
          t.getOrElse("identity")))
          .toDF("schema_name", "table_name", "partition_key_index",
            "column_name", "column_type", "transform")
      case "metadata" =>
        store.listMetadata().toDF("meta_key", "meta_value")
      case other => throw new UnsupportedException(s"information_schema.$other")
    }
  }

  // ------------------------------------------------------------------
  // SQL surface (v0 per SURVEY.md §2.A A1: session-view registration; the
  // full `TableCatalog`/`CatalogPlugin` connector is the planned phase-5
  // form). Views are snapshot-pinned at registration time, mirroring the
  // reference's catalog-construction pinning (src/catalog.rs:48-64).
  // ------------------------------------------------------------------

  /** Register every table of the current snapshot as `<prefix>_<schema>_
    * <table>` temp views, so `spark.sql` queries run against the lake.
    * Re-call after writes to re-pin (the hybrid runner refreshes the same
    * way, reference tests/hybrid_asyncdb.rs:147). Catalog-persisted SQL
    * views are registered after the tables (they may reference them).
    */
  def registerViews(prefix: String = "lake"): Unit = {
    val snap = store.currentSnapshot
    for {
      sch <- store.listSchemas(snap)
      tbl <- store.listTables(sch.schemaId, snap)
    } table(s"${sch.name}.${tbl.name}", Some(snap))
      .createOrReplaceTempView(s"${prefix}_${sch.name}_${tbl.name}")
    for {
      sch <- store.listSchemas(snap)
      v <- store.listViews(sch.schemaId, snap)
    } view(s"${sch.name}.$v").createOrReplaceTempView(s"${prefix}_${sch.name}_$v")
  }

  // ------------------------------------------------------------------
  // SQL views persisted in the catalog (DuckLake spec ducklake_view).
  // Vanilla Spark's analyzer has no hook for V2 ViewCatalog resolution,
  // so views resolve through this facade (and the ViewCatalog interface
  // on the connector serves API consumers).
  // ------------------------------------------------------------------

  /** Persist a SQL view definition in the catalog. The text is resolved
    * at READ time against whatever the session then sees (classic
    * late-binding views).
    */
  def createView(name: String, sqlText: String): Long = {
    val (schemaName, viewName) = parse(name)
    val sch = store.getSchemaByName(schemaName, store.currentSnapshot)
      .getOrElse(throw new SchemaNotFoundException(schemaName))
    // resolve NOW to capture the schema (and fail fast on bad SQL)
    val df = spark.sql(sqlText)
    store.createView(sch.schemaId, viewName, sqlText, "", "", df.schema.json,
      df.schema.fieldNames.mkString(""))
  }

  /** Resolve a catalog view to a DataFrame. */
  def view(name: String): DataFrame = {
    val (schemaName, viewName) = parse(name)
    val snap = store.currentSnapshot
    val sch = store.getSchemaByName(schemaName, snap)
      .getOrElse(throw new SchemaNotFoundException(schemaName))
    val (_, sqlText, _, _, _, _) = store.getView(sch.schemaId, viewName, snap)
      .getOrElse(throw new TableNotFoundException(s"view $name"))
    spark.sql(sqlText)
  }

  def dropView(name: String): Boolean = {
    val (schemaName, viewName) = parse(name)
    store.getSchemaByName(schemaName, store.currentSnapshot)
      .exists(sch => store.dropView(sch.schemaId, viewName))
  }

  /** Run SQL against the registered lake views. */
  def sql(query: String): DataFrame = spark.sql(query)

  def close(): Unit = store.close()
}

/** One read group of a lake scan, as [[DuckLake.readGroups]] hands it to
  * every reader: the physical columns its files are read with, its
  * identity partition columns (each file's [[LakeFile.partition]] holds
  * their values), the facade's projection from both onto each pinned
  * catalog column (by name), the catalog name of each physical data
  * column (for file skipping), and every file with its [[LakeFile]] entry.
  */
private[lake] final case class LakeReadGroup(physSchema: StructType,
    partitionSchema: StructType,
    projection: Seq[(String, Column)], names: Map[String, String],
    files: Seq[(DataFileRec, LakeFile)])

/** Table `name` pinned at snapshot `snap`, the one value every reader of
  * one table read takes (the catalog's table, the analysis rule, the
  * facade's scan, the connector's Batch and stream, metadata answers):
  * the schema and table rows of that snapshot, which also give the table
  * directory, and the columns there ([[DuckLake.pin]] loads them); the
  * rest loads on first use, once: partition keys, column history and
  * comments, name mappings, nested defaults, file partition values,
  * data files, inlined rows and file stats. A read of files live before
  * `snap` (change feeds, stream batches) starts at `from`. File lists
  * and stats come through the store's cache, which checks the current
  * snapshot: a backdated rewrite changes the files an older snapshot
  * reads.
  */
private[lake] final class PinnedTable(store: MetadataStore, dataPath: String,
    val name: String, val schema: SchemaRec, val table: TableRec, val snap: Long,
    val from: Long) {
  def tableId: Long = table.tableId
  val cols: Seq[ColumnDef] = store.getTableColumns(tableId, snap)
  lazy val partCols: Seq[(Int, Long, Option[String])] = store.getPartitionColumns(tableId, snap)
  lazy val history: Seq[(ColumnDef, Long, Option[Long])] = store.getColumnHistory(tableId)
  lazy val mappings: Map[Long, Seq[NameMapEntry]] = store.getNameMappings(tableId)
  lazy val nestedDefaults: Map[Long, Map[String, String]] = store.getNestedDefaults(tableId, snap)
  lazy val partValsByFile: Map[Long, Map[Int, Option[String]]] =
    if (partCols.isEmpty) Map.empty else store.getFilePartitionValues(tableId, snap, from)
  lazy val files: Seq[DataFileRec] = store.getDataFiles(tableId, snap)
  lazy val inlinedRows: Seq[(Long, Long, String)] = store.getInlinedRows(tableId, snap)
  lazy val stats: Map[(Long, Long), (Option[Long], Option[String], Option[String])] =
    store.getFileStats(tableId)
  lazy val dir: String = DuckLake.tableDir(dataPath, schema.path, table)

  /** Column name → comment. */
  lazy val comments: Map[String, String] = {
    val byId = store.getColumnComments(tableId, snap)
    cols.flatMap(c => byId.get(c.columnId).map(c.name -> _)).toMap
  }

  /** Column name → current default SQL (none when the column has none). */
  def defaults: Map[String, String] =
    cols.flatMap(c => ColumnDefaults.render(c.defaultValue, c.defaultType, c.dtype)
      .map(c.name -> _)).toMap

  /** The partition keys as (source column, transform) fields in key order. */
  def partFields: Seq[PartField] = partCols.flatMap { case (_, cid, t) =>
    cols.find(_.columnId == cid).map(c => PartField(c.name, t)) }

  /** Column name → catalog column id (the parquet field id). */
  def fieldIds: Map[String, Long] = cols.map(c => c.name -> c.columnId).toMap

  /** The columns as a Spark schema (catalog nullability). */
  def sparkSchema: StructType =
    StructType(cols.map(c => StructField(c.name, TypeBridge.toSpark(c.dtype), c.nullsAllowed)))

  /** The same table rows at snapshot `at`, reading files live from `start`. */
  def at(at: Long, start: Long): PinnedTable =
    new PinnedTable(store, dataPath, name, schema, table, at, start)

  /** column_id → raw hive value of IDENTITY partition keys for one file —
    * the values read as partition columns (transform keys' sources live
    * in the parquet itself, nothing to read).
    */
  def partValues(f: DataFileRec): Map[Long, Option[String]] = {
    val byIdx = partValsByFile.getOrElse(f.dataFileId, Map.empty)
    partCols.flatMap { case (idx, cid, t) =>
      if (t.isDefined) None else byIdx.get(idx).map(cid -> _) }.toMap
  }

  /** Full partition tuple for one file in key-index order (identity AND
    * transform values) — the rewrite/registration grouping key.
    */
  def partTuple(f: DataFileRec): Seq[Option[String]] = {
    val byIdx = partValsByFile.getOrElse(f.dataFileId, Map.empty)
    partCols.sortBy(_._1).map { case (idx, _, _) => byIdx.getOrElse(idx, None) }
  }

  /** Transform partition entries for one file: (source column def,
    * transform, value) — pruning metadata only.
    */
  def transformValues(f: DataFileRec): Seq[(ColumnDef, String, Option[String])] = {
    val byIdx = partValsByFile.getOrElse(f.dataFileId, Map.empty)
    partCols.flatMap { case (idx, cid, t) =>
      for (tr <- t; cdef <- cols.find(_.columnId == cid))
        yield (cdef, tr, byIdx.getOrElse(idx, None))
    }
  }
}

/** Write collector for [[DuckLake.transaction]]: each `write` stages its
  * parquet files immediately; the enclosing transaction commits every
  * staged registration in one snapshot.
  */
final class LakeTransaction private[lake] (lake: DuckLake) {
  private[lake] val specs = scala.collection.mutable.ArrayBuffer.empty[TableWriteSpec]
  private[lake] val renamed = scala.collection.mutable.ArrayBuffer.empty[Path]

  def write(df: DataFrame, name: String,
      mode: WriteMode.Value = WriteMode.Append,
      partitionBy: Seq[String] = Nil): Unit =
    lake.stageForTransaction(this, df, name, mode, partitionBy)
}

object DuckLake {
  /** Key k (an int in `0 until n`) goes to partition k — unlike a hash
    * exchange, which may put two keys in one partition.
    */
  private final class IndexPartitioner(n: Int) extends org.apache.spark.Partitioner {
    override def numPartitions: Int = n
    override def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** `schema` with the catalog column ids `ids` (name → id) as its
    * top-level parquet field ids, for [[ParquetOutput.newWriter]].
    * Parquet field ids are 32-bit, so a larger id is never stamped.
    */
  private[lake] def withFieldIds(schema: StructType, ids: Map[String, Long]): StructType =
    StructType(schema.map(f =>
      ids.get(f.name).filter(_ <= Int.MaxValue).fold(f)(id => f.copy(metadata =
        new MetadataBuilder().withMetadata(f.metadata).putLong("parquet.field.id", id).build()))))

  /** Serializes [[DuckLake.withWriterSessionConf]] save/set/restore
    * across every lake in the JVM (the pinned confs are session-global).
    */
  private[lake] val writerConfLock = new Object

  /** Parquet READ type for a physical duck type: the raw-INT64 temporal
    * encodings (adopted TIME / NANOS files — see `physOf`'s @file
    * marking) read as BIGINT and rescale in the projection; everything
    * else reads as its bridged Spark type.
    */
  private[lake] def physReadType(d: String): org.apache.spark.sql.types.DataType =
    d match {
      case "time@file" | "timestamp_ns@file" => LongType
      case _ => TypeBridge.toSpark(d)
    }

  /** Recognized `set_option` keys (DuckLake option surface; unknown keys
    * error — corpus: merge_adjacent_options.test 'parquet_bla').
    */
  final val KnownOptions: Set[String] = Set(
    "auto_compact", "data_inlining_row_limit", "delete_older_than",
    "expire_older_than", "hive_file_pattern", "parquet_bloom_filter_columns",
    "parquet_bloom_filter_fpp", "parquet_compression",
    "parquet_compression_level", "parquet_row_group_size",
    "parquet_row_group_size_bytes", "parquet_version", "per_thread_output",
    "require_commit_message", "rewrite_delete_threshold", "target_file_size")

  /** Codecs `parquet_compression` accepts — the intersection DuckLake's
    * option surface names and parquet-mr can write ('lz4' maps to
    * LZ4_RAW in writerTuning, matching duck lz4's block format). Kept to
    * codecs the classpath can actually encode (r15 advice: 'brotli'
    * passed the eager set_option validation but failed at the first
    * write for want of a codec dependency, defeating the eager contract;
    * 'none' is not in the reference's accepted set — 'uncompressed' is
    * the spelled form).
    */
  final val SupportedCodecs: Set[String] = Set(
    "uncompressed", "snappy", "gzip", "zstd", "lz4", "lz4_raw")

  /** Parse a DuckDB-style interval literal ('1 millisecond', '2 hours',
    * '1 week') to milliseconds.
    */
  def parseIntervalMillis(s: String): Long = {
    val m = """(?i)\s*(\d+)\s*(millisecond|second|minute|hour|day|week|month|year)s?\s*""".r
    s match {
      case m(n, unit) =>
        val mult = unit.toLowerCase match {
          case "millisecond" => 1L
          case "second"      => 1000L
          case "minute"      => 60000L
          case "hour"        => 3600000L
          case "day"         => 86400000L
          case "week"        => 7L * 86400000L
          case "month"       => 30L * 86400000L
          case _             => 365L * 86400000L
        }
        n.toLong * mult
      case _ => throw new InvalidConfigException(s"cannot parse interval: $s")
    }
  }

  /** Hidden queryable VIRTUAL columns (reference:
    * tests/sqllogictests/sql/virtualcolumns/): selectable by name, never
    * part of `SELECT *` — surfaced to SQL as DSv2 metadata columns.
    */
  /** Canonical stat value (epoch-number dates/timestamps, 1/0 booleans)
    * → DuckDB's display form for `stats()` text.
    */
  private[lake] def displayStat(dt: org.apache.spark.sql.types.DataType,
      v: String): String = dt match {
    case org.apache.spark.sql.types.DateType =>
      java.time.LocalDate.ofEpochDay(v.toLong).toString
    case org.apache.spark.sql.types.TimestampNTZType |
         org.apache.spark.sql.types.TimestampType =>
      val micros = v.toLong
      java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(micros, 1000000L),
        (Math.floorMod(micros, 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC).toString.replace('T', ' ')
    case org.apache.spark.sql.types.BooleanType =>
      if (v == "1") "true" else "false"
    case _ => v
  }

  final val VirtualSnapshot  = "snapshot_id"
  final val VirtualFilename  = "filename"
  final val VirtualRowNumber = "file_row_number"
  final val VirtualRowId     = "rowid"
  final val VirtualFileIndex = "file_index"
  final val VirtualFileId    = "_file_id"
  final val VirtualPos       = "_pos"
  final val VirtualNames: Seq[String] =
    Seq(VirtualSnapshot, VirtualFilename, VirtualRowNumber, VirtualRowId,
      VirtualFileIndex, VirtualFileId, VirtualPos)

  /** `_file_id` of an inlined catalog row in a row-level scan; its `_pos`
    * is the row's catalog row id. Data file ids are never negative.
    */
  final val InlinedFileId = -1L

  /** First provisional row id of rows born in a still-open transaction
    * (DuckLake constant; corpus: rowid/ducklake_row_id.test).
    */
  final val TxnLocalRowIdBase = 1000000000000000000L

  /** DuckDB's emission order for snapshot-change kinds (`snapshots()`
    * renders `{kind=[v, …], …}` — corpus: functions/ducklake_snapshots.test).
    */
  private val ChangeKindOrder = Seq(
    "schemas_created", "schemas_dropped", "tables_created", "views_created",
    "scalar_macros_created", "table_macros_created",
    "tables_dropped", "views_dropped",
    "scalar_macros_dropped", "table_macros_dropped",
    "tables_altered", "views_altered",
    "tables_inserted_into", "tables_deleted_from",
    "inlined_insert", "flushed_inlined").zipWithIndex.toMap

  /** Render journal entries the way DuckDB's `snapshots()` does:
    * `{tables_created=[main.a], tables_inserted_into=[1]}`.
    */
  def renderChanges(entries: Seq[(String, String)]): String = {
    // `_`-prefixed kinds are INTERNAL journal entries (physical
    // reorganization intents the conflict detector consumes) — DuckDB's
    // snapshots() never shows reorganizations, so neither do we
    val grouped = entries.filterNot(_._1.startsWith("_")).groupBy(_._1).toSeq
      .sortBy { case (k, _) => ChangeKindOrder.getOrElse(k, 99) }
      .map { case (k, vs) => s"$k=[${vs.map(_._2).distinct.mkString(", ")}]" }
    grouped.mkString("{", ", ", "}")
  }

  /** Project a physically-read value onto the CURRENT catalog type —
    * plain `cast` for scalars, structural rebuild for nested types:
    * struct fields resolve by name (added fields read NULL, dropped
    * fields vanish, shared fields conform recursively), lists map their
    * elements, maps their values (DuckLake nested evolution — corpus:
    * alter/struct_evolution.test and friends). At 100 TB this stays a
    * per-row expression — no rewrite of old files on ALTER, ever.
    */
  def conform(c: Column, from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType,
      defaults: Map[Seq[String], Column] = Map.empty,
      path: Seq[String] = Nil): Column = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    (from, to) match {
      case (f, t) if f == t => c
      case (f: StructType, t: StructType) =>
        val fields = t.fields.map { tf =>
          f.fields.find(_.name.equalsIgnoreCase(tf.name)) match {
            case Some(sf) =>
              conform(c.getField(sf.name), sf.dataType, tf.dataType,
                defaults, path :+ tf.name).as(tf.name)
            case None =>
              // field added after this file's epoch: its declared nested
              // initial default when one exists, null otherwise
              // (corpus: default/struct_field_default.test)
              defaults.getOrElse(path :+ tf.name, lit(null))
                .cast(tf.dataType).as(tf.name)
          }
        }
        when(c.isNull, lit(null).cast(t))
          .otherwise(org.apache.spark.sql.functions.struct(fields.toSeq: _*))
      case (f: ArrayType, t: ArrayType) =>
        org.apache.spark.sql.functions.transform(c,
          x => conform(x, f.elementType, t.elementType, defaults, path))
      case (f: MapType, t: MapType) =>
        org.apache.spark.sql.functions.transform_values(c,
          (_, v) => conform(v, f.valueType, t.valueType, defaults, path))
      case (_, t) => c.cast(t)
    }
  }

  /** One VERSION-STEP of structural conformance: like [[conform]], but a
    * target struct field with no name match may claim the source field at
    * the SAME ordinal with the same type when neither name survives on
    * the other side — a single-ALTER rename, whose values must carry over
    * (field-identity semantics; safe only between CONSECUTIVE catalog
    * versions, where exactly one change happened).
    */
  def conformStep(c: Column, from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType,
      defaults: Map[Seq[String], Column] = Map.empty,
      path: Seq[String] = Nil): Column = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    (from, to) match {
      case (f, t) if f == t => c
      case (f: StructType, t: StructType) =>
        val fields = t.fields.zipWithIndex.map { case (tf, ti) =>
          f.fields.find(_.name.equalsIgnoreCase(tf.name)) match {
            case Some(sf) =>
              conformStep(c.getField(sf.name), sf.dataType, tf.dataType,
                defaults, path :+ tf.name).as(tf.name)
            case None =>
              f.fields.lift(ti).filter { sf =>
                sf.dataType == tf.dataType &&
                  !t.fields.exists(_.name.equalsIgnoreCase(sf.name)) &&
                  !f.fields.exists(_.name.equalsIgnoreCase(tf.name))
              } match {
                case Some(sf) => c.getField(sf.name).as(tf.name)
                case None =>
                  defaults.getOrElse(path :+ tf.name, lit(null))
                    .cast(tf.dataType).as(tf.name)
              }
          }
        }
        when(c.isNull, lit(null).cast(t))
          .otherwise(org.apache.spark.sql.functions.struct(fields.toSeq: _*))
      case (f: ArrayType, t: ArrayType) =>
        org.apache.spark.sql.functions.transform(c,
          x => conformStep(x, f.elementType, t.elementType, defaults, path))
      case (f: MapType, t: MapType) =>
        org.apache.spark.sql.functions.transform_values(c,
          (_, v) => conformStep(v, f.valueType, t.valueType, defaults, path))
      case (_, t) => c.cast(t)
    }
  }

  /** Physical column holding explicit per-row stable ids in files written
    * by row-level UPDATE (catalog row_id_start NULL).
    */
  final val RowIdPhysCol = "_ducklake_row_id"

  /** A partition column's field in a read group's partition schema,
    * named by column id: no physical field can shadow it (after a rename,
    * an older epoch may still hold the column's name for another column).
    */
  def partitionField(columnId: Long): String = s"__ducklake_partition_$columnId"

  /** The `_metadata` column of a file relation. */
  private val MetadataColumn = org.apache.spark.sql.execution.datasources.FileFormat.METADATA_NAME

  /** Provenance of the rows of a read group whose first file is `f`:
    * each row's stable row id and the snapshot that committed it, over
    * the group's per-file values (`field(name)`: a [[LakeFile.Fields]]
    * field or [[LakeFile.RowIndex]], the row's file position). A merged
    * file (its own group) maps the position through its segment map
    * (each span keeps its original commit and ids); a file with a row-id
    * range adds the position to the range start; an UPDATE-written file
    * reads its explicit id column — never shifted, its rows are updated
    * versions keeping their ids. `shift` moves range ids into the
    * transaction-local form.
    */
  def provenanceAt(f: DataFileRec, field: String => Column,
      shift: Option[Column] = None): (Column, Column) = {
    val pos = field(LakeFile.RowIndex)
    def shifted(start: Column): Column = shift.fold(start)(start + _)
    def bySegment(value: FileSegment => Column): Column =
      f.segments.foldRight(lit(null).cast(LongType)) { (s, acc) =>
        when(pos >= s.startPos && pos < s.startPos + s.rowCount, value(s)).otherwise(acc)
      }
    if (f.segments.nonEmpty)
      (bySegment(s => s.rowIdStart.map(r => shifted(lit(r)) + (pos - s.startPos))
        .getOrElse(lit(null).cast(LongType))), bySegment(s => lit(s.beginSnapshot)))
    else if (f.rowIdStart.isDefined)
      (shifted(field(LakeFile.RowIdStart)) + pos, field(LakeFile.BeginSnapshot))
    else (col(RowIdPhysCol).cast(LongType), field(LakeFile.BeginSnapshot))
  }

  /** Whether a read of virtual columns `v` asks for row provenance. */
  def asksProvenance(v: Set[String]): Boolean = v(VirtualRowId) || v(VirtualSnapshot)

  /** Virtual column `v` of the rows of a read group whose first file is
    * `head`, over its per-file values `field` (as in [[provenanceAt]]).
    * Rows of files born in the open transaction `txn` (its snapshot, and
    * the shift into provisional ids) read provisional row ids and a null
    * snapshot.
    */
  def virtualColumn(v: String, head: DataFileRec, field: String => Column,
      txn: Option[(Long, Long)] = None): Column = v match {
    case VirtualFileId => field(LakeFile.FileId)
    case VirtualFileIndex => field(LakeFile.FileIndex)
    case VirtualFilename => field(LakeFile.Filename)
    case VirtualPos | VirtualRowNumber => field(LakeFile.RowIndex)
    case VirtualRowId | VirtualSnapshot =>
      val local = txn.map { case (s, _) => field(LakeFile.BeginSnapshot) === s }
      val (rowId, born) = provenanceAt(head, field,
        txn.map { case (_, shift) => when(local.get, shift).otherwise(0L) })
      if (v == VirtualRowId) rowId else local.fold(born)(l => when(!l, born))
  }

  def virtualType(v: String): DataType = v match {
    case VirtualFilename => StringType
    case _               => LongType
  }

  /** Catalog-driven physical directory of a table (A23 path chain):
    * relative table paths resolve under the schema dir; zero-copy clones
    * carry their source's path so shared files resolve byte-free.
    */
  def tableDir(dataPath: String, schemaSeg: String, tr: TableRec): String = {
    val tp = tr.path.stripSuffix("/")
    if (tr.pathIsRelative) s"$dataPath/${schemaSeg.stripSuffix("/")}/$tp" else tp
  }

  /** Evaluate a column's `initial_default` SQL text to a Catalyst internal
    * value of `dt` (UTF8String/Long/Decimal/…). Only constant-foldable
    * expressions are accepted — the value must be computable at plan time
    * (no row context exists for pre-ALTER files). Evaluated once on the
    * driver per scan; throws `UnsupportedException` on anything else.
    */
  def evalDefault(sql: String, dt: DataType): Any =
    try {
      val parsed = org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(sql)
      if (!parsed.foldable)
        throw new UnsupportedException(s"default must be a constant expression: $sql")
      org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          parsed.eval(null), parsed.dataType),
        dt, Some("UTC")).eval(null)
    } catch {
      case e: DuckLakeException => throw e
      case e: Exception =>
        throw new UnsupportedException(s"cannot evaluate column default '$sql': ${e.getMessage}")
    }
}
