package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, IsNull}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Regressions for the round-1 review findings: stats-based pruning must
  * stay conservative on unknown/all-null stats, every per-file read path
  * (deleteWhere, CDC) must apply the rename-epoch projection table() uses,
  * pruning maps names at the PINNED snapshot, failed commits leave no
  * orphan data files, and the streaming reader handles INT96 timestamps.
  */
class AdviceRegressionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.lake.connector.GraftSparkExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val root = Files.createTempDirectory("dladv-reg").toString
  private lazy val lake = new DuckLake(spark, s"$root/meta", s"$root/data")

  override def afterAll(): Unit = { lake.close(); spark.stop() }

  test("IS NULL pushdown keeps all-null files (null_count never fabricated as 0)") {
    import spark.implicits._
    // file 1: x entirely null; file 2: x entirely non-null
    lake.createTableAs(
      (1L to 5L).map(i => (i, None: Option[Long])).toDF("id", "x").coalesce(1),
      "main.nulls")
    lake.insertInto(
      (6L to 10L).map(i => (i, Some(i * 10))).toDF("id", "x").coalesce(1),
      "main.nulls")
    // IS NULL must keep the all-null file (its rows are exactly the answer)
    // and may prune the no-null file (null_count known to be 0)
    val kept = lake.table("main.nulls", None, Seq(IsNull("x")))
    assert(kept.filter(col("x").isNull).count() == 5)
    assert(lake.lastScanFileCount == 1)
    // sanity: min/max pruning is unaffected by the all-null file
    assert(lake.table("main.nulls", None, Seq(EqualTo("x", 70L)))
      .filter(col("x") === 70L).count() == 1)
  }

  test("deleteWhere applies the rename-epoch projection (predicate sees current names)") {
    import spark.implicits._
    lake.createTableAs(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("user_id", "v").coalesce(1),
      "main.delren")
    lake.renameColumn("main.delren", "user_id", "uid")
    // pre-fix: the old file was read under the NEW name -> all nulls ->
    // the delete silently no-opped
    lake.deleteWhere("main.delren", col("uid") === 2L)
    assert(lake.table("main.delren").orderBy("uid").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // and an isNull predicate must not nuke the whole file
    lake.deleteWhere("main.delren", col("uid").isNull)
    assert(lake.table("main.delren").count() == 2)
  }

  test("CDC tableChanges/tableDeletions apply the rename-epoch projection") {
    import spark.implicits._
    lake.createTableAs(Seq((1L, "a")).toDF("old_name", "v").coalesce(1), "main.cdcren")
    val s0 = 0L
    lake.renameColumn("main.cdcren", "old_name", "neu")
    lake.insertInto(Seq((2L, "b")).toDF("neu", "v").coalesce(1), "main.cdcren")
    val inserts = lake.tableChanges("main.cdcren", s0, lake.currentSnapshot)
      .orderBy("neu").collect()
    // pre-fix: the pre-rename file's column came back null
    assert(inserts.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    val sBefore = lake.currentSnapshot
    lake.deleteWhere("main.cdcren", col("neu") === 1L)
    val dels = lake.tableDeletions("main.cdcren", sBefore, lake.currentSnapshot).collect()
    assert(dels.map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("time-travel pruning maps column names at the pinned snapshot (rename swap)") {
    import spark.implicits._
    // x in [1,10], y in [100,200]
    lake.createTableAs(
      (1L to 10L).map(i => (i, 100L + 10 * i)).toDF("x", "y").coalesce(1),
      "main.swap")
    val pinned = lake.currentSnapshot
    // reuse the name: x -> tmp, y -> x
    lake.renameColumn("main.swap", "x", "tmp")
    lake.renameColumn("main.swap", "y", "x")
    // at `pinned`, x is the ORIGINAL column (range 1..10); value 5 matches.
    // pre-fix the filter was checked against the new x's (=y's) stats
    // [100,200] and wrongly skipped the file.
    val got = lake.table("main.swap", Some(pinned), Seq(EqualTo("x", 5L)))
    assert(lake.lastScanFileCount == 1)
    assert(got.filter(col("x") === 5L).count() == 1)
  }

  test("failed commit deletes renamed files; bad names rejected before any file work") {
    import spark.implicits._
    lake.createTableAs(Seq((1L, 10)).toDF("id", "v").coalesce(1), "main.orph")
    val dir = new java.io.File(s"$root/data/main/orph")
    val before = dir.listFiles().map(_.getName).toSet
    // int32 -> varchar is not promotable: commitWrite throws AFTER the
    // staged file was renamed into the table dir; it must be cleaned up
    intercept[UnsupportedTypeException] {
      lake.insertInto(Seq((2L, "oops")).toDF("id", "v").coalesce(1), "main.orph")
    }
    assert(dir.listFiles().map(_.getName).toSet == before,
      "orphan data files left behind by a failed commit")
    // special-character names are ACCEPTED (reference parity — corpus
    // general/paths.test creates schema "asd/fgh" and an emoji table) but
    // their physical directories PERCENT-ESCAPE the separators, so no
    // name can nest or traverse; traversal names stay rejected outright
    lake.createTableAs(Seq((1L, 1L)).toDF("a", "b").coalesce(1), "main.bad/tbl")
    assert(new java.io.File(s"$root/data/main/bad%2Ftbl").isDirectory,
      "slash in a table name must escape to one directory segment")
    assert(!new java.io.File(s"$root/data/main/bad").exists,
      "slash in a table name must not create a nested directory")
    intercept[InvalidConfigException](
      graft.lake.PathResolver.safeSegment(".."))
    intercept[InvalidConfigException](
      graft.lake.PathResolver.validate("a/../b"))
    val stray = new java.io.File(s"$root/data").listFiles()
      .filter(f => f.getName.startsWith(".staging-"))
    assert(stray.isEmpty, s"staging dirs left behind: ${stray.mkString(",")}")
  }

  test("readStream handles INT96 timestamp columns and inherits the session Hadoop conf") {
    import spark.implicits._
    val ts1 = java.sql.Timestamp.valueOf("2024-06-01 12:30:00")
    val ts2 = java.sql.Timestamp.valueOf("2025-01-15 23:59:59")
    lake.createTableAs(Seq((1L, ts1), (2L, ts2)).toDF("k", "ts").coalesce(1),
      "main.ts_stream")
    spark.conf.set("spark.sql.catalog.reglake",
      classOf[graft.lake.connector.DuckLakeSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.reglake.metaDb", s"$root/meta")
    spark.conf.set("spark.sql.catalog.reglake.dataPath", s"$root/data")
    val q = spark.readStream.table("reglake.main.ts_stream")
      .writeStream.outputMode("append").format("memory")
      .queryName("ts_stream_rows").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("ts_stream_rows").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1)))
    assert(got.toSeq == Seq((1L, ts1), (2L, ts2)))
  }

  test("wide multi-file delete stays distributed (positions never on the driver)") {
    import spark.implicits._
    // 200k rows across 8 files; delete half of every file in one call —
    // the delete-position set (100k) is written by executor tasks
    // (the writers' partials, merged by DuckLake.mergeDeleteFiles); the
    // driver only commits O(files) registrations
    lake.createTableAs(
      spark.range(200000L).select(col("id"), (col("id") % 1000).as("bucket"))
        .repartition(8), "main.wide_del")
    lake.deleteWhere("main.wide_del", col("id") % 2 === 0)
    assert(lake.table("main.wide_del").count() == 100000L)
    assert(lake.table("main.wide_del").filter(col("id") % 2 === 0).count() == 0L)
    // every data file carries its own cumulative delete parquet
    val dels = lake.listFilesDF.filter(col("table_name") === "wide_del")
      .select("delete_file_path").collect()
    assert(dels.length == 8 && dels.forall(!_.isNullAt(0)))
    // second wave merges with the first (cumulative), again distributed
    lake.deleteWhere("main.wide_del", col("id") % 3 === 0)
    assert(lake.table("main.wide_del").count() ==
      (1L to 200000L).count(i => (i - 1) % 2 != 0 && (i - 1) % 3 != 0))
    // SQL UPDATE routes deletes through executor-side partial files too
    spark.conf.set("spark.sql.catalog.dladv",
      classOf[graft.lake.connector.DuckLakeSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.dladv.metaDb", lake.metaDbPath)
    spark.conf.set("spark.sql.catalog.dladv.dataPath", lake.dataPath)
    spark.sql("UPDATE dladv.main.wide_del SET bucket = -1 WHERE id % 5 = 1")
    assert(spark.sql(
      "SELECT count(*) FROM dladv.main.wide_del WHERE bucket = -1").head.getLong(0) ==
      (0L until 200000L).count(i => i % 2 != 0 && i % 3 != 0 && i % 5 == 1))
  }

  test("ADD COLUMN allocates past a nested column's reserved leaf-id range") {
    import spark.implicits._
    // docs STRUCT<a,b> occupies node ids 2..4 (root 2, leaves 3/4) after
    // id INT at 1; a later ADD COLUMN must NOT land inside that range —
    // leaf stats and parquet field ids key into it
    val df = spark.range(3).select(col("id"),
      org.apache.spark.sql.functions.struct(
        col("id").as("a"), (col("id") * 2).as("b")).as("docs"))
    lake.createTableAs(df.coalesce(1), "main.leafids")
    lake.addColumn("main.leafids", "extra", "int64")
    val snap = lake.currentSnapshot
    val tid = lake.store.getTableByName(
      lake.store.getSchemaByName("main", snap).get.schemaId, "leafids", snap)
      .get.tableId
    val cols = lake.store.getTableColumns(tid, snap)
    val byName = cols.map(c => c.name -> c.columnId).toMap
    assert(byName("id") == 1 && byName("docs") == 2,
      s"depth-first root ids: $byName")
    assert(byName("extra") >= 5,
      s"ADD COLUMN id ${byName("extra")} collides with docs' leaf range 3..4")
  }

  test("constructing a DuckLake never changes an unrelated write's parquet schema") {
    // r5 regression: the constructor used to spark.conf.set the session's
    // outputTimestampType/fieldId confs, silently flipping the schema of
    // every LATER plain parquet write in the session. The confs are now
    // pinned per lake write and restored.
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

    def tsPhysicalType(dir: String): PrimitiveTypeName = {
      val f = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f.toString), new Configuration()))
      try r.getFooter.getFileMetaData.getSchema
        .getType(Seq("ts"): _*).asPrimitiveType().getPrimitiveTypeName
      finally r.close()
    }

    val s2 = spark.newSession()
    import s2.implicits._
    val keys = Seq("spark.sql.parquet.outputTimestampType",
      "spark.sql.parquet.fieldId.write.enabled")
    val before = keys.map(k => k -> s2.conf.get(k))
    val croot = Files.createTempDirectory("dladv-conf").toString
    val df = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "ts")
    df.write.parquet(s"$croot/plain-before")

    val l2 = new DuckLake(s2, s"$croot/meta", s"$croot/data")
    l2.createTableAs(df, "main.tconf")
    assert(keys.map(k => k -> s2.conf.get(k)) == before,
      "lake constructor/write mutated session parquet confs")
    df.write.parquet(s"$croot/plain-after")
    // a plain session write has the same physical encoding before & after
    assert(tsPhysicalType(s"$croot/plain-after") ==
      tsPhysicalType(s"$croot/plain-before"))
    // …while the lake's own file carries stats-bearing INT64 micros
    val lakeFile = {
      def walk(d: java.io.File): Seq[java.io.File] =
        d.listFiles().toSeq.flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
      walk(new java.io.File(s"$croot/data"))
        .filter(_.getName.endsWith(".parquet")).head.getParentFile.toString
    }
    assert(tsPhysicalType(lakeFile) == PrimitiveTypeName.INT64)
    l2.close()
  }

  test("geometry table under an inline limit: Replace-mode maintenance still works") {
    // the inlining rejection is an APPEND bind-time gate (reference
    // parity); compact()'s Replace rewrite never inlines and must not
    // be rejected on a geometry table with data_inlining_row_limit set
    val enc = org.apache.spark.sql.Encoders.BINARY
    lake.createTableAs(
      spark.createDataset(Seq(Geo.wktToWkb("POINT (1 2)")))(enc).toDF("g")
        .coalesce(1), "main.geo_maint")
    lake.refineColumnType("main.geo_maint", "g", "geometry")
    lake.insertInto(
      spark.createDataset(Seq(Geo.wktToWkb("POINT (3 4)")))(enc).toDF("g")
        .coalesce(1), "main.geo_maint")
    lake.setOption("data_inlining_row_limit", "8", table = Some("geo_maint"))
    // appends must still be rejected while the limit is on…
    intercept[UnsupportedTypeException] {
      lake.insertInto(
        spark.createDataset(Seq(Geo.wktToWkb("POINT (5 6)")))(enc).toDF("g")
          .coalesce(1), "main.geo_maint")
    }
    // …but the Replace rewrite goes through and keeps every row
    lake.compact("main.geo_maint")
    assert(lake.table("main.geo_maint").count() == 2)
  }

  test("delete-carrying files batch into ONE scan per epoch group (plan stays O(groups))") {
    import spark.implicits._
    // three separate appends -> three data files; one delete touches all
    (1 to 3).foreach { i =>
      val df = ((i * 100L) until (i * 100L + 50L)).map(v => (v, s"t$v")).toDF("id", "tag")
      if (i == 1) lake.createTableAs(df.coalesce(1), "main.morgrp")
      else lake.insertInto(df.coalesce(1), "main.morgrp")
    }
    lake.deleteWhere("main.morgrp", col("id") % 10 === 0)
    val scan = lake.table("main.morgrp")
    // results first: MOR semantics intact across the grouped read
    assert(scan.count() == 135)
    assert(scan.filter(col("id") % 10 === 0).count() == 0)
    assert(scan.agg(sum("id")).head().getLong(0) ==
      (100L until 150L).sum + (200L until 250L).sum + (300L until 350L).sum -
        Seq(100L, 110L, 120L, 130L, 140L, 200L, 210L, 220L, 230L, 240L,
          300L, 310L, 320L, 330L, 340L).sum)
    // plan shape: ONE multi-file relation that applies the deletes in its
    // scan — not one per delete-carrying file, and no join (counted on
    // the optimized logical plan; AQE hides the physical scans)
    val plan = scan.queryExecution.optimizedPlan
    val rels = plan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }
    assert(rels.size == 1, s"expected 1 parquet relation, got ${rels.size}:\n$plan")
    assert(plan.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.isEmpty,
      s"MOR read plans a join:\n$plan")
  }

  test("grouped MOR read drops deletes under URI-ENCODED paths (escapable chars in table dir)") {
    import spark.implicits._
    // a space in the table name -> safeSegment stores the dir with a
    // percent-escape -> the physical path contains '%', which a URI
    // renders as '%25'; each file must still find its own delete file,
    // or deleted rows resurface
    val name = "main.mor grp uri"
    (1 to 3).foreach { i =>
      val df = ((i * 100L) until (i * 100L + 20L)).map(v => (v, v * 2.0)).toDF("id", "x")
      if (i == 1) lake.createTableAs(df.coalesce(1), name)
      else lake.insertInto(df.coalesce(1), name)
    }
    lake.deleteWhere(name, col("id") % 4 === 0)
    val scan = lake.table(name)
    assert(scan.count() == 45, "grouped MOR read must drop all deleted rows")
    assert(scan.filter(col("id") % 4 === 0).count() == 0)
  }

  test("inlined writes serialize dotted/backticked column names correctly") {
    import spark.implicits._
    val df = Seq((1L, "x"), (2L, "y")).toDF("a.b", "c`d")
    lake.setOption("data_inlining_row_limit", "8", None)
    try {
      lake.createTableAs(df.coalesce(1), "main.dotted")
      lake.insertInto(Seq((3L, "z")).toDF("a.b", "c`d").coalesce(1), "main.dotted")
      val got = lake.table("main.dotted").orderBy(col("`a.b`"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got == Seq((1L, "x"), (2L, "y"), (3L, "z")))
    } finally lake.setOption("data_inlining_row_limit", "0", None)
  }

  test("present-but-unparseable GeoParquet 'geo' metadata refuses binary columns") {
    import org.apache.parquet.schema.{LogicalTypeAnnotation => L, Types => PTypes}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    // a file CLAIMING GeoParquet (the 'geo' footer key exists) whose
    // document doesn't parse: we can't tell which columns are geometry,
    // so every unannotated binary column must surface as 'geoparquet'
    // (refused for adoption) — never silently adopt as a native type
    val msg = PTypes.buildMessage()
      .addField(PTypes.optional(INT64).named("id"))
      .addField(PTypes.optional(BINARY).named("g"))
      .addField(PTypes.optional(BINARY).as(L.stringType()).named("label"))
      .named("m")
    val dir = Files.createTempDirectory("badgeo")
    val target = new org.apache.hadoop.fs.Path(s"$dir/f.parquet")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(target)
      .withConf(spark.sparkContext.hadoopConfiguration).withType(msg)
      .withExtraMetaData(java.util.Map.of("geo", "{this is not json"))
      .build()
    val gf = new org.apache.parquet.example.data.simple.SimpleGroupFactory(msg)
    val row = gf.newGroup()
    row.add("id", 7L)
    row.add("g", org.apache.parquet.io.api.Binary.fromConstantByteArray(Array[Byte](1, 2)))
    row.add("label", "x")
    w.write(row); w.close()
    val types = FileStats.footerDuckTypes(target, spark.sparkContext.hadoopConfiguration)
    assert(types.get("g").contains("geoparquet"),
      "unannotated binary column must be refused under an unparseable geo doc")
    assert(!types.get("label").contains("geoparquet")) // strings unaffected
    assert(!types.get("id").contains("geoparquet"))
    // a geo doc whose 'columns' key is missing/not-an-object is the same
    // refusal (a non-conforming GeoParquet claim)
    val t2 = new org.apache.hadoop.fs.Path(s"$dir/f2.parquet")
    val w2 = org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(t2)
      .withConf(spark.sparkContext.hadoopConfiguration).withType(msg)
      .withExtraMetaData(java.util.Map.of("geo", """{"version":"1.1.0","columns":[]}"""))
      .build()
    w2.write(row); w2.close()
    assert(FileStats.footerDuckTypes(t2, spark.sparkContext.hadoopConfiguration)
      .get("g").contains("geoparquet"))
    // and a WELL-FORMED doc still refuses exactly the named columns
    val t3 = new org.apache.hadoop.fs.Path(s"$dir/f3.parquet")
    val w3 = org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(t3)
      .withConf(spark.sparkContext.hadoopConfiguration).withType(msg)
      .withExtraMetaData(java.util.Map.of("geo",
        """{"version":"1.1.0","primary_column":"g","columns":{"g":{"encoding":"WKB"}}}"""))
      .build()
    w3.write(row); w3.close()
    val t3types = FileStats.footerDuckTypes(t3, spark.sparkContext.hadoopConfiguration)
    assert(t3types.get("g").contains("geoparquet"))
    assert(!t3types.contains("id"))
  }
}
