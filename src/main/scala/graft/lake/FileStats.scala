package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Per-file column min/max statistics: captured from parquet footers at
  * write time, stored in `ducklake_file_column_stats`, and used at scan
  * time to skip whole files against pushed-down filters. The reference
  * lists min/max file skipping as a roadmap gap (README.md "Roadmap");
  * at 100 TB this is the single highest-leverage scan optimization — a
  * selective predicate touches only the files whose range intersects it.
  *
  * Canonical encodings (sortable within type): integral/date/timestamp →
  * decimal long string; float/double → `toString`; string → raw (dropped
  * when > 200 chars — Derby column limit; parquet-mr already truncates
  * with valid bounds); boolean → "0"/"1".
  */
object FileStats {

  /** Per-column stats from one parquet file's read footer. */
  def fromFooter(footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      schema: StructType): Seq[ColumnStatRec] = {
    import scala.jdk.CollectionConverters._
    val blocks = footer.getBlocks.asScala
    schema.fields.toSeq.flatMap { field =>
      val chunks = blocks.flatMap(_.getColumns.asScala
        .filter(_.getPath.toDotString == field.name))
      if (chunks.isEmpty) None
      else Some(statsOfChunks(field.name, field.dataType, chunks.toSeq))
    }
  }

  /** Fold one column's chunk footers into a stats row. Null count is
    * valid independently of min/max: an all-null chunk has no min/max
    * but a perfectly known (and crucial — `WHERE x IS NULL` pruning)
    * null count; record None (unknown) when any chunk's footer doesn't
    * carry it, never a fake 0.
    */
  private def statsOfChunks(name: String, dt: DataType,
      chunks: Seq[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData]): ColumnStatRec = {
    val valueCount = chunks.map(_.getValueCount).sum
    val nullCounts = chunks.map(c => Option(c.getStatistics)
      .filter(_.isNumNullsSet).map(_.getNumNulls).getOrElse(-1L))
    val nullCount = if (nullCounts.exists(_ < 0)) None else Some(nullCounts.sum)
    if (chunks.exists(c => c.getStatistics == null || !c.getStatistics.hasNonNullValue))
      ColumnStatRec(name, valueCount, nullCount, None, None)
    else {
      val mins = chunks.map(c => decode(dt, c.getStatistics.genericGetMin))
      val maxs = chunks.map(c => decode(dt, c.getStatistics.genericGetMax))
      val (mn, mx) =
        if (mins.contains(None) || maxs.contains(None)) (None, None)
        else (mins.flatten.reduceOption(minOf(dt)),
          maxs.flatten.reduceOption(maxOf(dt)))
      ColumnStatRec(name, valueCount, nullCount, mn, mx)
    }
  }

  /** Parquet footer value → canonical string, per logical Spark type. */
  private def decode(dt: DataType, v: Any): Option[String] = (dt, v) match {
    case (_, null) => None
    case (ByteType | ShortType | IntegerType | LongType | DateType |
          TimestampType | TimestampNTZType, n: Number) => Some(n.longValue().toString)
    case (d: DecimalType, n: Number) => // footer stores the unscaled value
      Some(java.math.BigDecimal.valueOf(n.longValue(), d.scale).toPlainString)
    case (d: DecimalType, b: org.apache.parquet.io.api.Binary) =>
      Some(new java.math.BigDecimal(new java.math.BigInteger(b.getBytes), d.scale)
        .toPlainString)
    case (FloatType, n: Number)  => Some(n.floatValue().toDouble.toString)
    case (DoubleType, n: Number) => Some(n.doubleValue().toString)
    case (BooleanType, b: java.lang.Boolean) => Some(if (b) "1" else "0")
    case (StringType, b: org.apache.parquet.io.api.Binary) =>
      val s = b.toStringUsingUTF8
      if (s.length <= 200) Some(s) else None
    case _ => None
  }

  private def isNumericLike(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType | FloatType | DoubleType | BooleanType => true
    case _: DecimalType => true
    case _ => false
  }

  private def cmp(dt: DataType)(a: String, b: String): Int =
    if (isNumericLike(dt)) java.lang.Double.compare(a.toDouble, b.toDouble)
    else a.compareTo(b)

  private def minOf(dt: DataType)(a: String, b: String): String = if (cmp(dt)(a, b) <= 0) a else b
  private def maxOf(dt: DataType)(a: String, b: String): String = if (cmp(dt)(a, b) >= 0) a else b

  /** Typed pick of the smaller/larger canonical stat value — the global
    * column-stats merge folds per-write bounds with these.
    */
  private[lake] def least(dt: DataType, a: String, b: String): String = minOf(dt)(a, b)
  private[lake] def greatest(dt: DataType, a: String, b: String): String = maxOf(dt)(a, b)

  /** Canonical stat encoding of a DRIVER-side value (collect() result) —
    * same encodings [[decode]] produces from parquet footers.
    */
  private[lake] def canonicalValue(dt: DataType, v: Any): Option[String] =
    canonical(dt, v)

  /** Footer stats of NESTED leaf chunks, keyed by the catalog's node
    * dot-path: parquet's structural `list`/`key_value` (and legacy
    * `bag`/`array`) segments are dropped, so `data_array.list.element`
    * keys as `data_array.element` — the spec's depth-first node naming.
    * Only paths in `wanted` (path → leaf Spark type) are returned; the
    * per-leaf stats rows the adoption path registers key by node id
    * (corpus: add_files/add_files_complex_nested_stats_mre.test).
    */
  def fromFooterNested(footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      wanted: Map[String, DataType]): Seq[ColumnStatRec] = {
    if (wanted.isEmpty) return Nil
    import scala.jdk.CollectionConverters._
    val blocks = footer.getBlocks.asScala
    // STRUCTURAL canonicalization: walk the file schema and name each
    // primitive's path in catalog node terms — a LIST group's repeated
    // wrapper level disappears and its element is `element`, a MAP's
    // key_value level disappears with `key`/`value` children. Dropping
    // by NAME would break user columns literally called list/key_value.
    val canonicalByChunk: Map[String, String] = {
      import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, Type}
      val out = Map.newBuilder[String, String]
      def walk(t: Type, phys: String, canon: String): Unit =
        if (t.isPrimitive) out += (phys -> canon)
        else {
          val g = t.asGroupType()
          t.getLogicalTypeAnnotation match {
            case _: LogicalTypeAnnotation.ListLogicalTypeAnnotation
                if g.getFieldCount == 1 =>
              val c0 = g.getType(0)
              if (c0.isPrimitive) // legacy 2-level list, primitive element
                walk(c0, s"$phys.${c0.getName}", s"$canon.element")
              else {
                val rep = c0.asGroupType()
                if (rep.getFieldCount == 1) // standard 3-level list
                  walk(rep.getType(0),
                    s"$phys.${rep.getName}.${rep.getType(0).getName}",
                    s"$canon.element")
                else // legacy 2-level list, group element
                  walk(c0, s"$phys.${c0.getName}", s"$canon.element")
              }
            case _: LogicalTypeAnnotation.MapLogicalTypeAnnotation
                if g.getFieldCount == 1 && !g.getType(0).isPrimitive =>
              val kv = g.getType(0).asGroupType()
              kv.getFields.asScala.foreach(f =>
                walk(f, s"$phys.${kv.getName}.${f.getName}", s"$canon.${f.getName}"))
            case _ =>
              g.getFields.asScala.foreach(f =>
                walk(f, s"$phys.${f.getName}", s"$canon.${f.getName}"))
          }
        }
      footer.getFileMetaData.getSchema.getFields.asScala
        .foreach(f => walk(f, f.getName, f.getName))
      out.result()
    }
    // one pass over the chunks, grouped by canonical path — never a
    // rescan per requested leaf
    val chunksByLeaf = blocks.flatMap(_.getColumns.asScala)
      .groupBy(c => canonicalByChunk.getOrElse(
        c.getPath.toArray.mkString("."), c.getPath.toArray.mkString(".")))
    wanted.toSeq.sortBy(_._1).flatMap { case (leafPath, dt) =>
      chunksByLeaf.get(leafPath).filter(_.nonEmpty)
        .map(chunks => statsOfChunks(leafPath, dt, chunks.toSeq))
    }
  }

  /** DuckDB-refined logical types of TOP-LEVEL primitive columns, read
    * straight from the parquet footer: annotations Spark's reader erases
    * (unsigned int widths, JSON, UUID). The add_files type gate needs
    * them — a UINT_8 file must not pass as int16 (reference:
    * tests/sqllogictests/sql/add_files/add_files_type_check_integer.test).
    */
  def footerDuckTypes(path: Path, conf: Configuration,
      decryptKey: Option[String] = None): Map[String, String] = {
    val opts = org.apache.parquet.HadoopReadOptions.builder(conf, path)
    decryptKey.foreach(k =>
      opts.withDecryption(graft.lake.crypto.GraftCryptoFactory.decryptionProps(k)))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf), opts.build())
    try footerDuckTypes(reader.getFooter) finally reader.close()
  }

  /** [[footerDuckTypes]] of a read footer. */
  def footerDuckTypes(footer: org.apache.parquet.hadoop.metadata.ParquetMetadata)
      : Map[String, String] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import scala.jdk.CollectionConverters._
    val meta = footer.getFileMetaData
    // GeoParquet v1 files carry a "geo" file-metadata document naming
    // their geometry columns — those columns must NOT silently adopt as
    // native geometry (the encodings differ; the reference refuses them
    // — corpus: geo/ducklake_geometry_add_files.test)
    // only the keys of the "columns" OBJECT name geometry columns —
    // other keys (covering, bbox, crs…) are metadata. Parsed with a
    // real JSON parser (Jackson, shipped with Spark): hand-counting
    // braces mis-scoped when a string VALUE contained '{'/'}' — e.g. a
    // PROJJSON crs document embedded inside the columns object.
    val geoDoc = Option(meta.getKeyValueMetaData.get("geo"))
    val parsedGeoCols: Option[Set[String]] =
      geoDoc.flatMap { doc =>
        try {
          // lenient: some GeoParquet writers emit NaN in bbox arrays
          // and other non-strict JSON that strict Jackson rejects
          val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
            .enable(com.fasterxml.jackson.core.JsonParser.Feature.ALLOW_NON_NUMERIC_NUMBERS)
            .enable(com.fasterxml.jackson.core.JsonParser.Feature.ALLOW_SINGLE_QUOTES)
            .enable(com.fasterxml.jackson.core.JsonParser.Feature.ALLOW_UNQUOTED_FIELD_NAMES)
            .build()
          val root = mapper.readTree(doc)
          Option(root.get("columns")).filter(_.isObject).map { cols =>
            val it = cols.fieldNames()
            val b = Set.newBuilder[String]
            while (it.hasNext) b += it.next().toLowerCase
            b.result()
          }
        } catch { case _: Exception => None }
      }
    val geoCols: Set[String] = parsedGeoCols.getOrElse(Set.empty)
    // a PRESENT-but-unparseable "geo" document (or one without a
    // well-formed "columns" object) is still a GeoParquet claim: we
    // can't tell WHICH columns are geometry, so every unannotated
    // binary column is conservatively refused ('geoparquet') rather
    // than silently adopted — the refusal the comment above promises
    val refuseAllBinary = geoDoc.isDefined && parsedGeoCols.isEmpty
    meta.getSchema.getFields.asScala.flatMap { f =>
      if (!f.isPrimitive) None
      else if (geoCols.contains(f.getName.toLowerCase) ||
          (refuseAllBinary &&
            f.asPrimitiveType().getPrimitiveTypeName ==
              org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.BINARY &&
            f.asPrimitiveType().getLogicalTypeAnnotation == null))
        Some(f.getName.toLowerCase -> "geoparquet")
      else f.asPrimitiveType().getLogicalTypeAnnotation match {
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation if !i.isSigned =>
          Some(f.getName.toLowerCase -> s"uint${i.getBitWidth}")
        case _: LogicalTypeAnnotation.JsonLogicalTypeAnnotation =>
          Some(f.getName.toLowerCase -> "json")
        case _: LogicalTypeAnnotation.UUIDLogicalTypeAnnotation =>
          Some(f.getName.toLowerCase -> "uuid")
        // temporal annotations Spark's schema read REFUSES (TIME) or
        // erases/rejects (NANOS timestamps): the refined duck type
        // drives adoption type-gating and the raw-INT64 read path
        // (DuckLake TIME = µs-of-day; TIMESTAMP_NS = ns since epoch —
        // pandas/arrow-era files commonly carry NANOS).
        // Unit-gated (r14 advice): only INT64 TIME(MICROS) is the
        // µs-of-day encoding the raw read path rescales — a TIME(MILLIS)
        // file is INT32 (BIGINT read fails) and TIME(NANOS) values
        // would read 1000× off; both stay UNREFINED so the adoption
        // gate refuses them instead of silently corrupting (the
        // reference likewise maps only Time64(Microsecond),
        // src/types.rs:46)
        case t: LogicalTypeAnnotation.TimeLogicalTypeAnnotation
            if t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS &&
              f.asPrimitiveType().getPrimitiveTypeName ==
                org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64 =>
          Some(f.getName.toLowerCase -> (if (t.isAdjustedToUTC) "timetz" else "time"))
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
            if !ts.isAdjustedToUTC &&
              ts.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS =>
          Some(f.getName.toLowerCase -> "timestamp_ns")
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
            if !ts.isAdjustedToUTC &&
              ts.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS =>
          Some(f.getName.toLowerCase -> "timestamp_ms")
        case _ => None
      }
    }.toMap
  }

  /** Spark schema of a parquet footer built WITHOUT Spark's converter —
    * the adoption fallback for files whose annotations Spark's reader
    * refuses outright (TIME) or rejects at schema time (TIMESTAMP with
    * NANOS): `spark.read.parquet(..).schema` throws before the type gate
    * can even speak. Top-level primitives only (the refused annotations
    * are primitive; nested shapes that Spark can read never reach this
    * fallback) — None when a field cannot be mapped, and the caller
    * rethrows Spark's original error.
    */
  def footerSparkSchema(footer: org.apache.parquet.hadoop.metadata.ParquetMetadata)
      : Option[StructType] = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation => L}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    try {
      import scala.jdk.CollectionConverters._
      val fields = footer.getFileMetaData.getSchema.getFields.asScala
      val out = fields.map { f =>
        if (!f.isPrimitive) return None
        val p = f.asPrimitiveType()
        val anno = p.getLogicalTypeAnnotation
        val dt: DataType = (p.getPrimitiveTypeName, anno) match {
          case (BOOLEAN, _) => BooleanType
          case (INT32, _: L.DateLogicalTypeAnnotation) => DateType
          case (INT32, i: L.IntLogicalTypeAnnotation) if i.isSigned =>
            i.getBitWidth match {
              case 8 => ByteType; case 16 => ShortType; case _ => IntegerType
            }
          case (INT32, d: L.DecimalLogicalTypeAnnotation) =>
            DecimalType(d.getPrecision, d.getScale)
          // TIME(MILLIS) rides INT32 physical and must be refused BEFORE
          // the generic INT32 case (r15 advice: the generic case mapped a
          // TIME(MILLIS) file to IntegerType, so adoption into an
          // integer-typed table passed the type gate without any raw-read
          // marking — the adopt-then-misread failure the TIME unit gate
          // below exists to close)
          case (INT32, _: L.TimeLogicalTypeAnnotation) => return None
          case (INT32, _) => IntegerType
          // unit-gated (r14 advice): UTC-adjusted NANOS has no safe
          // mapping — TimestampType here would pass the adoption gate as
          // 'timestamptz' WITHOUT the @file raw-INT64 marking, and every
          // later scan would throw when Spark's parquet reader hits the
          // NANOS annotation; refuse at adoption instead (None → the
          // caller rethrows Spark's original error). NTZ NANOS maps to
          // NTZ and rides the raw-INT64 rescale path ('timestamp_ns').
          case (INT64, t: L.TimestampLogicalTypeAnnotation) =>
            if (t.getUnit == L.TimeUnit.NANOS && t.isAdjustedToUTC) return None
            else if (t.isAdjustedToUTC) TimestampType else TimestampNTZType
          // only INT64 TIME(MICROS) is readable via the raw-µs-of-day
          // path; MILLIS (INT32 physical) and NANOS are refused rather
          // than silently mapped by the generic INT32/INT64 cases below
          case (_, t: L.TimeLogicalTypeAnnotation) =>
            if (t.getUnit == L.TimeUnit.MICROS &&
                p.getPrimitiveTypeName == INT64) TimeType(6)
            else return None
          case (INT64, d: L.DecimalLogicalTypeAnnotation) =>
            DecimalType(d.getPrecision, d.getScale)
          case (INT64, _) => LongType
          case (FLOAT, _) => FloatType
          case (DOUBLE, _) => DoubleType
          case (BINARY, _: L.StringLogicalTypeAnnotation) => StringType
          case (BINARY, _: L.JsonLogicalTypeAnnotation) => StringType
          case (BINARY, _) => BinaryType
          case (FIXED_LEN_BYTE_ARRAY, d: L.DecimalLogicalTypeAnnotation) =>
            DecimalType(d.getPrecision, d.getScale)
          case (FIXED_LEN_BYTE_ARRAY, _: L.UUIDLogicalTypeAnnotation) => StringType
          case _ => return None
        }
        StructField(f.getName, dt, nullable = true)
      }
      Some(StructType(out.toSeq))
    } catch {
      case _: Exception => None
    }
  }

  /** Canonical form of a *filter literal* (DSv1 `sources.Filter` value). */
  private def canonical(dt: DataType, v: Any): Option[String] = (dt, v) match {
    case (_, null) => None
    case (ByteType | ShortType | IntegerType | LongType, n: Number) =>
      Some(n.longValue().toString)
    case (FloatType | DoubleType, n: Number) => Some(n.doubleValue().toString)
    case (_: DecimalType, d: java.math.BigDecimal) => Some(d.toPlainString)
    case (_: DecimalType, d: org.apache.spark.sql.types.Decimal) =>
      Some(d.toJavaBigDecimal.toPlainString)
    case (DateType, d: java.sql.Date) => Some(d.toLocalDate.toEpochDay.toString)
    case (DateType, d: java.time.LocalDate) => Some(d.toEpochDay.toString)
    case (TimestampNTZType, t: java.time.LocalDateTime) =>
      Some((t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
        + t.getNano / 1000L).toString)
    case (TimestampType, t: java.sql.Timestamp) =>
      Some((t.getTime * 1000L + (t.getNanos / 1000) % 1000).toString)
    case (TimestampType, t: java.time.Instant) =>
      Some((t.getEpochSecond * 1000000L + t.getNano / 1000L).toString)
    case (StringType, s: String) => Some(s)
    case (BooleanType, b: java.lang.Boolean) => Some(if (b) "1" else "0")
    case _ => None
  }

  /** Canonical form of a hive partition-path value string, per logical
    * type — lets partition values enter [[mightMatch]] as synthetic
    * min=max stats rows so partition pruning reuses the same conservative
    * range logic as footer-stats skipping. None on parse failure ⇒ the
    * file is kept.
    */
  def canonicalPartition(dt: DataType, raw: String): Option[String] =
    try dt match {
      case ByteType | ShortType | IntegerType | LongType => Some(raw.toLong.toString)
      case BooleanType => Some(if (raw.toBoolean) "1" else "0")
      case DateType => Some(java.time.LocalDate.parse(raw).toEpochDay.toString)
      case FloatType | DoubleType => Some(raw.toDouble.toString)
      case StringType => Some(raw)
      case _ => None
    } catch { case _: RuntimeException => None }

  /** Conservative file-skip decision: false ⇒ no row in the file can match
    * `filter`. Any uncertainty (unknown attr, type, or filter shape) keeps
    * the file.
    */
  def mightMatch(filter: Filter, schema: StructType, recordCount: Long,
      stats: Map[String, (Option[Long], Option[String], Option[String])]): Boolean = {

    def field(attr: String): Option[StructField] = schema.fields.find(_.name == attr)

    def range(attr: String): Option[(DataType, String, String)] = for {
      f <- field(attr)
      (_, mnO, mxO) <- stats.get(attr)
      mn <- mnO; mx <- mxO
    } yield (f.dataType, mn, mx)

    // a column known to be entirely null can't satisfy any value
    // comparison (SQL three-valued logic: null cmp v is never true)
    def allNull(attr: String): Boolean =
      stats.get(attr).exists { case (nulls, _, _) => nulls.exists(_ >= recordCount) }

    filter match {
      case EqualTo(a, v) => !allNull(a) && range(a).forall { case (dt, mn, mx) =>
        canonical(dt, v).forall(c => cmp(dt)(mn, c) <= 0 && cmp(dt)(c, mx) <= 0) }
      // null-safe equality: <=> null is IS NULL; <=> v behaves like = v
      case EqualNullSafe(a, v) if v == null =>
        stats.get(a).forall { case (nulls, _, _) => nulls.forall(_ > 0) }
      case EqualNullSafe(a, v) => !allNull(a) && range(a).forall { case (dt, mn, mx) =>
        canonical(dt, v).forall(c => cmp(dt)(mn, c) <= 0 && cmp(dt)(c, mx) <= 0) }
      case GreaterThan(a, v) => !allNull(a) && range(a).forall { case (dt, _, mx) =>
        canonical(dt, v).forall(c => cmp(dt)(c, mx) < 0) }
      case GreaterThanOrEqual(a, v) => !allNull(a) && range(a).forall { case (dt, _, mx) =>
        canonical(dt, v).forall(c => cmp(dt)(c, mx) <= 0) }
      case LessThan(a, v) => !allNull(a) && range(a).forall { case (dt, mn, _) =>
        canonical(dt, v).forall(c => cmp(dt)(mn, c) < 0) }
      case LessThanOrEqual(a, v) => !allNull(a) && range(a).forall { case (dt, mn, _) =>
        canonical(dt, v).forall(c => cmp(dt)(mn, c) <= 0) }
      case In(a, vs) => !allNull(a) && range(a).forall { case (dt, mn, mx) =>
        vs.exists(v => canonical(dt, v).forall(c =>
          cmp(dt)(mn, c) <= 0 && cmp(dt)(c, mx) <= 0)) }
      // strings with prefix p form the interval [p, p○maxchar); the file
      // range [min,max] overlaps it iff max >= p and min's p-length
      // prefix <= p
      case StringStartsWith(a, p) if p != null => !allNull(a) &&
        range(a).forall { case (dt, mn, mx) =>
          dt != StringType || (mx >= p && mn.take(p.length) <= p)
        }
      // an unknown null count (None) must keep the file — pruning on a
      // fabricated 0 would silently drop all-null files from IS NULL scans
      case IsNull(a) =>
        stats.get(a).forall { case (nulls, _, _) => nulls.forall(_ > 0) }
      case IsNotNull(a) =>
        stats.get(a).forall { case (nulls, _, _) => nulls.forall(_ < recordCount) }
      case And(l, r) =>
        mightMatch(l, schema, recordCount, stats) && mightMatch(r, schema, recordCount, stats)
      case Or(l, r) =>
        mightMatch(l, schema, recordCount, stats) || mightMatch(r, schema, recordCount, stats)
      // != v prunes files whose every non-null row IS v (min=max=v; null
      // rows don't satisfy != either, so they change nothing)
      case Not(EqualTo(a, v)) =>
        !range(a).exists { case (dt, mn, mx) =>
          canonical(dt, v).exists(c => cmp(dt)(mn, c) == 0 && cmp(dt)(mx, c) == 0)
        }
      case _ => true
    }
  }
}
