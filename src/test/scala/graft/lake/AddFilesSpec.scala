package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** File adoption (`addFiles` ≙ the reference's `ducklake_add_data_files`,
  * tests/sqllogictests/sql/add_files/): parquet written by OUTSIDE writers
  * registers without a rewrite, under a duplicate-eliminated name mapping —
  * column order is irrelevant, types promote along the lattice, hive
  * `key=value` path segments satisfy path-partitioned columns, and the
  * whole thing stays consistent under rename / time travel / deletes.
  */
class AddFilesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.lake.connector.GraftSparkExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.catalog.dladd",
      classOf[graft.lake.connector.DuckLakeSparkCatalog].getName)
    .config("spark.sql.catalog.dladd.metaDb", s"$root/meta")
    .config("spark.sql.catalog.dladd.dataPath", s"$root/data")
    .getOrCreate()

  private lazy val root = Files.createTempDirectory("dladd-add").toString
  private lazy val lake = new DuckLake(spark, s"$root/meta", s"$root/data")

  override def afterAll(): Unit = { lake.close(); spark.stop() }

  import spark.implicits._

  private var n = 0
  private def ext(df: org.apache.spark.sql.DataFrame): String = {
    n += 1
    val dir = s"$root/ext$n"
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  test("adopt files in place; reversed column order maps by name; mappings dedupe") {
    lake.createTableAs(Seq((1, "a"), (2, "b")).toDF("col1", "col2").coalesce(1), "main.adopt")
    val f1 = ext(Seq((3, "c")).toDF("col1", "col2"))
    val f2 = ext(Seq(("d", 4)).toDF("col2", "col1")) // reversed order
    lake.addFiles("main.adopt", Seq(f1, f2))
    assert(lake.table("main.adopt").orderBy("col1").collect().map(r =>
      (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")))
    // by-name resolution is order-independent -> ONE mapping for both
    // files (reference asserts COUNT(ducklake_column_mapping) = 1)
    val tid = lake.store.getSchemaByName("main", lake.currentSnapshot)
      .flatMap(s => lake.store.getTableByName(s.schemaId, "adopt", lake.currentSnapshot))
      .get.tableId
    assert(lake.store.countColumnMappings(tid) == 1)
    // no data was copied: adopted rows still live under the external dir
    assert(lake.listFilesDF.filter(col("table_name") === "adopt")
      .filter(col("path").contains("/ext")).count() == 2)
  }

  test("missing column: rejected without allowMissing, NULL-filled with it") {
    lake.createTableAs(Seq((1, "x")).toDF("i", "j").coalesce(1), "main.miss")
    val f = ext(Seq(Tuple1(2)).toDF("i"))
    val e = intercept[InvalidConfigException](lake.addFiles("main.miss", Seq(f)))
    assert(e.getMessage.contains("\"j\"") && e.getMessage.contains("not found in file"))
    lake.addFiles("main.miss", Seq(f), allowMissing = true)
    assert(lake.table("main.miss").filter(col("i") === 2)
      .select("j").collect().head.isNullAt(0))
  }

  test("extra column: rejected without ignoreExtraColumns, skipped with it") {
    lake.createTableAs(Seq((1, "x")).toDF("i", "j").coalesce(1), "main.extra")
    val f = ext(Seq((2, "y", 9.5)).toDF("i", "j", "surplus"))
    val e = intercept[InvalidConfigException](lake.addFiles("main.extra", Seq(f)))
    assert(e.getMessage.contains("\"surplus\"") && e.getMessage.contains("exists in file"))
    lake.addFiles("main.extra", Seq(f), ignoreExtraColumns = true)
    assert(lake.table("main.extra").orderBy("i").select("i", "j").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "x"), (2, "y")))
  }

  test("type check: narrowing rejected, widening promoted on read") {
    lake.createTableAs(Seq(Tuple1(1)).toDF("v").coalesce(1), "main.typed") // int32
    val wide = ext(Seq(Tuple1(5L)).toDF("v")) // int64 into int32: rejected
    val e = intercept[UnsupportedTypeException](lake.addFiles("main.typed", Seq(wide)))
    assert(e.getMessage.contains("int64") && e.getMessage.contains("int32"))
    // int32 file into an int64 table: accepted, cast on read
    lake.createTableAs(Seq(Tuple1(1L)).toDF("v").coalesce(1), "main.typed64")
    val narrow = ext(Seq(Tuple1(7)).toDF("v"))
    lake.addFiles("main.typed64", Seq(narrow))
    assert(lake.table("main.typed64").orderBy("v").as[Long].collect().toSeq == Seq(1L, 7L))
  }

  test("hive dirs: values from the path, stats prune to matching files") {
    lake.createTableAs( // Option[_] keeps the partition columns nullable
      Seq((Option(1), Option(10), "seed")).toDF("part_key", "part_key2", "val")
        .coalesce(1), "main.hive")
    Seq((1, 10, "hello"), (2, 10, "world"), (2, 20, "abc"))
      .toDF("part_key", "part_key2", "val")
      .write.mode("overwrite").partitionBy("part_key", "part_key2")
      .parquet(s"$root/hivedir")
    // hive_partitioning off: the columns are genuinely missing
    val e = intercept[InvalidConfigException](lake.addFiles("main.hive",
      Seq(s"$root/hivedir"), hivePartitioning = Some(false)))
    assert(e.getMessage.contains("allowMissing"))
    lake.addFiles("main.hive", Seq(s"$root/hivedir")) // auto-detected
    assert(lake.table("main.hive").orderBy("part_key", "part_key2", "val").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSeq ==
      Seq((1, 10, "hello"), (1, 10, "seed"), (2, 10, "world"), (2, 20, "abc")))
    // point-range synthetic stats: part_key=1 scan touches 2 of 4 files
    lake.table("main.hive", None, Seq(EqualTo("part_key", 1))).collect()
    assert(lake.lastScanFileCount == 2)
  }

  test("rename before and after adoption keeps resolving (column_id mapping)") {
    lake.createTableAs(Seq((1, "a")).toDF("old_name", "v").coalesce(1), "main.ren")
    val f1 = ext(Seq((2, "b")).toDF("old_name", "v"))
    lake.addFiles("main.ren", Seq(f1))
    lake.renameColumn("main.ren", "old_name", "new_name")
    // the adopted file still resolves through its mapping after the rename
    assert(lake.table("main.ren").orderBy("new_name").select("new_name", "v").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "a"), (2, "b")))
    // a file written by an outside writer AFTER the rename maps the new name
    val f2 = ext(Seq((3, "c")).toDF("new_name", "v"))
    lake.addFiles("main.ren", Seq(f2))
    assert(lake.table("main.ren").count() == 3)
  }

  test("adoption is snapshot-versioned: time travel, rollback, CDC") {
    lake.createTableAs(Seq((1, "a")).toDF("k", "v").coalesce(1), "main.tt")
    val before = lake.currentSnapshot
    val f = ext(Seq((2, "b")).toDF("k", "v"))
    val added = lake.addFiles("main.tt", Seq(f))
    assert(lake.table("main.tt", Some(before)).count() == 1)
    assert(lake.table("main.tt").count() == 2)
    // CDC reports the adopted rows as inserts at the add snapshot
    val changes = lake.tableChanges("main.tt", before, added)
      .select("k", "change_type", "snapshot_id").collect()
    assert(changes.map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((2, "insert", added)))
    lake.rollbackTo("main.tt", before)
    assert(lake.table("main.tt").count() == 1)
  }

  test("MOR deletes apply to adopted files through the mapping projection") {
    lake.createTableAs(Seq((1, "a")).toDF("k", "v").coalesce(1), "main.moradopt")
    val f = ext(Seq((2, "b"), (3, "c"), (4, "d")).toDF("k", "v"))
    lake.addFiles("main.moradopt", Seq(f))
    lake.deleteWhere("main.moradopt", col("k") === 3)
    assert(lake.table("main.moradopt").orderBy("k").select("k").as[Int].collect()
      .toSeq == Seq(1, 2, 4))
    // the adopted file itself was NOT rewritten by the MOR delete
    assert(lake.listFilesDF.filter(col("table_name") === "moradopt")
      .filter(col("path").contains("/ext")).count() == 1)
  }

  test("SQL row-level DELETE reads adopted files by their absolute path") {
    lake.createTableAs(Seq((1, "a")).toDF("k", "v").coalesce(1), "main.deladopt")
    val f = ext(Seq((2, "b"), (3, "c"), (4, "d"), (6, "f")).toDF("k", "v"))
    lake.addFiles("main.deladopt", Seq(f))
    graft.lake.connector.DuckLakeSparkCatalog.adopt(lake)
    // `k % 2 = 0` has no source-filter form, so the DELETE runs through
    // the row-level scan, which reads every file; the second DELETE also
    // reads the delete file the first one wrote for the adopted file
    spark.sql("DELETE FROM dladd.main.deladopt WHERE k % 2 = 0")
    spark.sql("DELETE FROM dladd.main.deladopt WHERE k % 3 = 0")
    assert(lake.table("main.deladopt").select("k").as[Int].collect().toSeq == Seq(1))
    // the adopted file itself stays in place
    assert(lake.listFilesDF.filter(col("table_name") === "deladopt")
      .filter(col("path").contains("/ext")).count() == 1)
  }

  test("NOT NULL columns: missing or null-carrying files are rejected") {
    // Seq.toDF marks primitive columns non-nullable -> k is NOT NULL
    lake.createTableAs(Seq((1, "a")).toDF("k", "v").coalesce(1), "main.nn")
    val missing = ext(Seq(Tuple1("b")).toDF("v"))
    val e1 = intercept[InvalidConfigException](
      lake.addFiles("main.nn", Seq(missing), allowMissing = true))
    assert(e1.getMessage.contains("NOT NULL"))
    val withNulls = ext(Seq((Some(2), "b"), (None, "c")).toDF("k", "v"))
    val e2 = intercept[InvalidConfigException](lake.addFiles("main.nn", Seq(withNulls)))
    assert(e2.getMessage.contains("null values"))
  }

  test("nonexistent path fails loudly; CALL surface registers a snapshot") {
    lake.createTableAs(Seq((1, "a")).toDF("k", "v").coalesce(1), "main.proc")
    val e = intercept[InvalidConfigException](
      lake.addFiles("main.proc", Seq(s"$root/nope.parquet")))
    assert(e.getMessage.contains("Failed to add data files"))
    spark.conf.set("spark.sql.catalog.dladd",
      classOf[graft.lake.connector.DuckLakeSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.dladd.metaDb", lake.metaDbPath)
    spark.conf.set("spark.sql.catalog.dladd.dataPath", lake.dataPath)
    val f = ext(Seq((2, "b")).toDF("k", "v"))
    spark.sql(s"CALL dladd.system.add_files('main.proc', '$f')").collect()
    assert(spark.sql("SELECT * FROM dladd.main.proc").count() == 2)
  }

  /** One-column INT64 parquet with an explicit logical annotation —
    * the foreign-writer fixtures (arrow/pandas NANOS timestamps, DuckDB
    * TIME) whose annotations Spark's own reader refuses.
    */
  private def extInt64(colName: String,
      anno: org.apache.parquet.schema.LogicalTypeAnnotation,
      values: Seq[Long]): String = {
    import org.apache.parquet.schema.{Types => PT}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    n += 1
    val target = s"$root/extraw$n/part-0.parquet"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(target).getParent)
    val msg = PT.buildMessage()
      .addField(PT.optional(INT64).as(anno).named(colName))
      .named("duckdb_schema")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(target))
      .withConf(spark.sparkContext.hadoopConfiguration).withType(msg).build()
    val f = new SimpleGroupFactory(msg)
    try values.foreach { v => val g = f.newGroup(); g.add(colName, v); w.write(g) }
    finally w.close()
    target
  }

  test("TIMESTAMP(NANOS) parquet adopts into a timestamp column with floor truncation") {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    lake.createTableAs(
      Seq(java.time.LocalDateTime.parse("2000-01-01T00:00:00")).toDF("ts")
        .coalesce(1), "main.nsadopt")
    val nsFile = extInt64("ts",
      LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS),
      // 2020-02-03T12:23:34.123456789 and a pre-epoch value whose ns
      // tail must floor toward -inf (-1999 ns -> -2 us), the reference's
      // ns->us conversion semantics (src/types.rs:53-55)
      Seq(1580732614123456789L, -1999L))
    lake.addFiles("main.nsadopt", Seq(nsFile))
    val got = lake.table("main.nsadopt").orderBy("ts").collect()
      .map(_.getAs[java.time.LocalDateTime]("ts").toString)
    assert(got.toSeq == Seq("1969-12-31T23:59:59.999998",
      "2000-01-01T00:00", "2020-02-03T12:23:34.123456"))
  }

  test("NANOS is rejected by coarse timestamp_s columns; MILLIS adopts with truncation") {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    lake.createTableAs(
      Seq(java.time.LocalDateTime.parse("2000-01-01T00:00:00")).toDF("ts")
        .coalesce(1), "main.tssec")
    val tid = lake.store.getSchemaByName("main", lake.currentSnapshot)
      .flatMap(s => lake.store.getTableByName(s.schemaId, "tssec", lake.currentSnapshot))
      .get.tableId
    lake.store.refineColumnType(tid, "ts", "timestamp_s")
    val nsFile = extInt64("ts",
      LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS),
      Seq(1580732614123456789L))
    intercept[UnsupportedTypeException](lake.addFiles("main.tssec", Seq(nsFile)))
    // MILLIS accepted (coarse family), and the declared second precision
    // truncates the .123 on read
    val msFile = extInt64("ts",
      LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.MILLIS),
      Seq(1580732614123L))
    lake.addFiles("main.tssec", Seq(msFile))
    val got = lake.table("main.tssec").orderBy("ts").collect()
      .map(_.getAs[java.time.LocalDateTime]("ts").toString)
    assert(got.toSeq == Seq("2000-01-01T00:00", "2020-02-03T12:23:34"))
  }

  test("TIME(MICROS) parquet adopts into a TIME table; cross-family adoption rejects") {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    // Spark's analyzer blanket-rejects TimeType in DSv2 CREATE TABLE
    // ([UNSUPPORTED_TIME_TYPE] in CheckAnalysis) while allowing it in
    // queries — so a TIME table is born through the catalog commit
    // directly, the same call the connector's createTable makes
    lake.store.commitWrite("main", "times",
      Seq(ColumnDef(0L, 0L, "t", "time", nullsAllowed = true)),
      WriteMode.Append, Nil)
    val timeFile = extInt64("t",
      LogicalTypeAnnotation.timeType(false, LogicalTypeAnnotation.TimeUnit.MICROS),
      Seq((20L * 3600 + 12 * 60 + 24) * 1000000L)) // 20:12:24
    lake.addFiles("main.times", Seq(timeFile))
    // TimeType cannot ride Spark 4.1's row encoder yet (collect() hits
    // UNSUPPORTED_TIME_TYPE in SerializerBuildHelper) — assert through a
    // string cast, which exercises the same scan + rescale path
    val got = lake.table("main.times").select(col("t").cast("string"))
      .collect().map(_.getString(0))
    assert(got.toSeq == Seq("20:12:24"))
    // a timestamp file never adopts into a TIME column, nor a time file
    // into a timestamp column
    val tsFile = ext(Seq(java.time.LocalDateTime.parse("2020-02-03T12:23:34")).toDF("t"))
    intercept[UnsupportedTypeException](lake.addFiles("main.times", Seq(tsFile)))
    lake.createTableAs(
      Seq(java.time.LocalDateTime.parse("2000-01-01T00:00:00")).toDF("t")
        .coalesce(1), "main.notime")
    val timeFile2 = extInt64("t",
      LogicalTypeAnnotation.timeType(false, LogicalTypeAnnotation.TimeUnit.MICROS),
      Seq(1000000L))
    intercept[UnsupportedTypeException](lake.addFiles("main.notime", Seq(timeFile2)))
  }

  /** One-column INT32 parquet with a logical annotation — the
    * TIME(MILLIS) physical shape (per the parquet spec MILLIS time is
    * INT32, not INT64).
    */
  private def extInt32(colName: String,
      anno: org.apache.parquet.schema.LogicalTypeAnnotation,
      values: Seq[Int]): String = {
    import org.apache.parquet.schema.{Types => PT}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    n += 1
    val target = s"$root/extraw$n/part-0.parquet"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(target).getParent)
    val msg = PT.buildMessage()
      .addField(PT.optional(INT32).as(anno).named(colName))
      .named("duckdb_schema")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(target))
      .withConf(spark.sparkContext.hadoopConfiguration).withType(msg).build()
    val f = new SimpleGroupFactory(msg)
    try values.foreach { v => val g = f.newGroup(); g.add(colName, v); w.write(g) }
    finally w.close()
    target
  }

  test("non-µs TIME units are refused at adoption, not read 1000x off (r14 advice)") {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    lake.store.commitWrite("main", "timesu",
      Seq(ColumnDef(0L, 0L, "t", "time", nullsAllowed = true)),
      WriteMode.Append, Nil)
    // TIME(NANOS) is INT64 like MICROS — without the unit gate it would
    // pass the type gate and read values 1000x off (silent corruption)
    val nanosTime = extInt64("t",
      LogicalTypeAnnotation.timeType(false, LogicalTypeAnnotation.TimeUnit.NANOS),
      Seq((20L * 3600 + 12 * 60 + 24) * 1000000000L))
    intercept[Exception](lake.addFiles("main.timesu", Seq(nanosTime)))
    // TIME(MILLIS) is INT32 — without the gate the BIGINT raw read of an
    // INT32 column fails at scan time, AFTER adoption succeeded
    val millisTime = extInt32("t",
      LogicalTypeAnnotation.timeType(false, LogicalTypeAnnotation.TimeUnit.MILLIS),
      Seq(((20 * 3600 + 12 * 60 + 24) * 1000)))
    intercept[Exception](lake.addFiles("main.timesu", Seq(millisTime)))
    // the µs shape still adopts — and the single result row proves the
    // two refusals registered nothing (an empty TIME frame can't be
    // built directly: Spark's row converter rejects TimeType)
    val microsTime = extInt64("t",
      LogicalTypeAnnotation.timeType(false, LogicalTypeAnnotation.TimeUnit.MICROS),
      Seq((20L * 3600 + 12 * 60 + 24) * 1000000L))
    lake.addFiles("main.timesu", Seq(microsTime))
    assert(lake.table("main.timesu").select(col("t").cast("string"))
      .collect().map(_.getString(0)).toSeq == Seq("20:12:24"))
  }

  test("UTC-adjusted NANOS is refused at adoption (r14 advice)") {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    // without the refusal this adopts as 'timestamptz' WITHOUT the @file
    // raw-INT64 marking, and every later scan of the table throws when
    // Spark's parquet reader hits the NANOS annotation
    lake.createTableAs(
      Seq(java.time.Instant.parse("2000-01-01T00:00:00Z")).toDF("ts")
        .coalesce(1), "main.utcns")
    val utcNs = extInt64("ts",
      LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.NANOS),
      Seq(1580732614123456789L))
    intercept[Exception](lake.addFiles("main.utcns", Seq(utcNs)))
    // the table stays fully readable after the refusal
    assert(lake.table("main.utcns").count() == 1)
  }

  test("timestamp_s truncation is zone-free across a DST gap (r14 advice)") {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    lake.createTableAs(
      Seq(java.time.LocalDateTime.parse("2000-01-01T00:00:00")).toDF("ts")
        .coalesce(1), "main.dstsec")
    val tid = lake.store.getSchemaByName("main", lake.currentSnapshot)
      .flatMap(s => lake.store.getTableByName(s.schemaId, "dstsec", lake.currentSnapshot))
      .get.tableId
    lake.store.refineColumnType(tid, "ts", "timestamp_s")
    // 2020-03-08T02:30:00.123456 lies inside America/Los_Angeles'
    // spring-forward gap: the old date_trunc round trip through the
    // session zone rendered it 03:30:00 — a full-hour shift on a
    // zone-LESS type whose value must not depend on the session zone
    val gap = java.time.LocalDateTime.parse("2020-03-08T02:30:00.123456")
    val micros = gap.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
      gap.getNano / 1000L
    val usFile = extInt64("ts",
      LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.MICROS),
      Seq(micros))
    lake.addFiles("main.dstsec", Seq(usFile))
    val prevZone = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      val got = lake.table("main.dstsec").orderBy("ts").collect()
        .map(_.getAs[java.time.LocalDateTime]("ts").toString)
      assert(got.toSeq == Seq("2000-01-01T00:00", "2020-03-08T02:30"))
    } finally spark.conf.set("spark.sql.session.timeZone", prevZone)
  }
}
