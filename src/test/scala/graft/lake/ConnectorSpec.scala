package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** End-to-end DSv2 connector behavior: `spark.sql` through the registered
  * `dlconn` catalog — SELECT with pushdown, INSERT INTO, CTAS, DROP —
  * plus min/max file skipping from catalog stats.
  */
class ConnectorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val root = Files.createTempDirectory("dlconn-conn").toString

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.lake.connector.GraftSparkExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.catalog.dlconn",
      classOf[graft.lake.connector.DuckLakeSparkCatalog].getName)
    .config("spark.sql.catalog.dlconn.metaDb", s"$root/meta")
    .config("spark.sql.catalog.dlconn.dataPath", s"$root/data")
    .getOrCreate()

  private lazy val lake = {
    import spark.implicits._
    val l = new DuckLake(spark, s"$root/meta", s"$root/data")
    l.createTableAs(
      (1 to 100).map(i => (i.toLong, s"name_$i", i * 1.5, i % 7))
        .toDF("id", "name", "amount", "grp").coalesce(1), "main.items")
    l
  }

  override def afterAll(): Unit = spark.stop()

  test("SELECT through the catalog plugin") {
    lake // force fixture
    val got = spark.sql(
      "SELECT grp, count(*) AS n, round(sum(amount), 2) AS total " +
        "FROM dlconn.main.items GROUP BY grp ORDER BY grp")
    assert(got.count() == 7)
    assert(got.agg(sum("n")).head.getLong(0) == 100L)
  }

  test("filter + projection pushdown reach the connector") {
    lake
    val got = spark.sql(
      "SELECT name FROM dlconn.main.items WHERE id <= 3 ORDER BY name")
    assert(got.collect().map(_.getString(0)).toSeq == Seq("name_1", "name_2", "name_3"))
  }

  test("COUNT(*) zero-column scan") {
    lake
    assert(spark.sql("SELECT count(*) FROM dlconn.main.items").head.getLong(0) == 100L)
  }

  test("INSERT INTO through SQL appends a snapshot") {
    lake
    val before = lake.currentSnapshot
    spark.sql("INSERT INTO dlconn.main.items VALUES (101, 'name_101', 5.0, 3)")
    assert(lake.currentSnapshot > before)
    assert(spark.sql("SELECT count(*) FROM dlconn.main.items").head.getLong(0) == 101L)
    // pre-insert snapshot still intact via the programmatic API
    assert(lake.table("main.items", Some(before)).count() == 100L)
  }

  test("INSERT OVERWRITE replaces visible data") {
    import spark.implicits._
    lake.createTableAs(Seq((1L, "x")).toDF("k", "v").coalesce(1), "main.ow")
    spark.sql("INSERT OVERWRITE dlconn.main.ow VALUES (2, 'y')")
    val rows = spark.sql("SELECT k, v FROM dlconn.main.ow").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((2L, "y")))
  }

  test("CTAS through SQL") {
    lake
    spark.sql(
      "CREATE TABLE dlconn.main.big_items AS " +
        "SELECT id, amount FROM dlconn.main.items WHERE amount > 100")
    val got = spark.sql("SELECT count(*), round(min(amount), 2) FROM dlconn.main.big_items").head
    assert(got.getLong(0) == spark.sql(
      "SELECT count(*) FROM dlconn.main.items WHERE amount > 100").head.getLong(0))
  }

  test("CALL dlconn.system.<proc>: maintenance procedures via SQL") {
    import spark.implicits._
    val l = lake
    l.createTableAs((1 to 40).map(i => (i.toLong, s"p$i")).toDF("k", "v")
      .repartition(4), "main.proctbl")
    val preCompact = l.currentSnapshot
    // compact to one file, via CALL
    val snap = spark.sql("CALL dlconn.system.compact('main.proctbl')")
      .head.getLong(0)
    assert(snap > preCompact)
    assert(l.listFilesDF.filter(col("table_name") === "proctbl").count() == 1)
    // tag + time travel to the tag
    spark.sql(s"CALL dlconn.system.tag_snapshot('precompact', $preCompact)")
    assert(spark.sql(
      "SELECT count(*) FROM dlconn.main.proctbl VERSION AS OF 'precompact'")
      .head.getLong(0) == 40L)
    // rollback via CALL restores the 4-file layout
    spark.sql(s"CALL dlconn.system.rollback('main.proctbl', $preCompact)")
    assert(l.listFilesDF.filter(col("table_name") === "proctbl").count() == 4)
    // expire + two-phase vacuum via CALL (procedure defaults exercised)
    spark.sql(s"CALL dlconn.system.expire_snapshots(${l.currentSnapshot})")
    // expiry schedules its orphans itself (DuckLake two-phase semantics);
    // an extra schedule pass finds nothing new, the purge reclaims bytes
    assert(spark.sql("CALL dlconn.system.schedule_vacuum()").head.getInt(0) == 0)
    assert(spark.sql("CALL dlconn.system.purge_scheduled()").head.getInt(0) >= 1)
    assert(spark.sql("SELECT count(*) FROM dlconn.main.proctbl").head.getLong(0) == 40L)
    // multi-row procedure: per-table snapshot history
    val hist = spark.sql("CALL dlconn.system.table_history('main.proctbl')")
    assert(hist.columns.toSeq == Seq("snapshot_id", "snapshot_time", "retained"))
    assert(hist.count() >= 2) // post-expiry snapshots (rollback + latest)
  }

  test("fully-pushed aggregates answer from catalog metadata, no file scan") {
    import spark.implicits._
    val l = lake
    l.createTableAs((1 to 500).map(i => (i.toLong, i * 1.5)).toDF("k", "x")
      .repartition(2), "main.metaagg")
    val df = spark.sql("SELECT count(*), count(x), min(k), max(k) FROM dlconn.main.metaagg")
    val plan = df.queryExecution.executedPlan.toString
    // the whole aggregation folded into a one-row metadata scan: no
    // parquet reader anywhere in the physical plan
    assert(!plan.contains("FileScan") && !plan.contains("parquet"), plan.take(500))
    assert(df.head.toSeq == Seq(500L, 500L, 1L, 500L))
    // MOR deletes invalidate per-column pushdown (an extreme row may be
    // gone) but COUNT(*) stays metadata-exact; either way values stay right
    l.deleteWhere("main.metaagg", col("k") === 500L)
    val after = spark.sql("SELECT count(*), max(k) FROM dlconn.main.metaagg").head
    assert(after.toSeq == Seq(499L, 499L))
  }

  test("DROP TABLE ends visibility, keeps earlier snapshots readable") {
    import spark.implicits._
    lake.createTableAs(Seq((1L, "a")).toDF("k", "v").coalesce(1), "main.dropme")
    val snapBefore = lake.currentSnapshot
    spark.sql("DROP TABLE dlconn.main.dropme")
    assert(!lake.tableExists("main.dropme"))
    assert(lake.table("main.dropme", Some(snapBefore)).count() == 1)
  }

  test("SHOW TABLES lists lake tables") {
    lake
    val names = spark.sql("SHOW TABLES IN dlconn.main").collect().map(_.getString(1)).toSet
    assert(names.contains("items"))
  }

  test("DESCRIBE EXTENDED surfaces catalog-derived table stats") {
    lake
    val props = spark.sql("DESCRIBE TABLE EXTENDED dlconn.main.items")
      .filter(col("col_name") === "Table Properties").head.getString(1)
    assert(props.contains("ducklake.file_count"))
    assert(props.contains("ducklake.record_count"))
  }

  test("min/max file skipping prunes non-matching files") {
    import spark.implicits._
    // three files with disjoint id ranges (fixture A5 shape,
    // reference tests/sqllogictests/sql/stats/filter_pushdown.test)
    val l = lake
    l.createTableAs((0 until 1000).map(i => (i.toLong, i * 2.0))
      .toDF("id", "v").coalesce(1), "main.ranged")
    l.insertInto((100000 until 101000).map(i => (i.toLong, i * 2.0))
      .toDF("id", "v").coalesce(1), "main.ranged")
    l.insertInto((500000 until 501000).map(i => (i.toLong, i * 2.0))
      .toDF("id", "v").coalesce(1), "main.ranged")

    import org.apache.spark.sql.sources.{EqualTo, GreaterThan, LessThan, And}
    // pushed filters prune FILES; the kept files' rows come back whole
    // (Spark re-applies row filters on the DSv2 path — Inexact semantics)
    assert(l.table("main.ranged", None, Seq(EqualTo("id", 100500L))).count() == 1000)
    assert(l.lastScanFileCount == 1)
    // range straddling two files
    assert(l.table("main.ranged", None,
      Seq(GreaterThan("id", 500L), LessThan("id", 100500L))).count() == 2000)
    assert(l.lastScanFileCount == 2)
    // no filter -> all files
    l.table("main.ranged").count()
    assert(l.lastScanFileCount == 3)
    // impossible predicate -> zero files
    assert(l.table("main.ranged", None,
      Seq(And(GreaterThan("id", 2000L), LessThan("id", 50000L)))).count() == 0)
    assert(l.lastScanFileCount == 0)
    // SQL through the connector also skips: the query's filter reaches
    // the scan's file index, as its files-read metric shows
    val viaSql = spark.sql("SELECT count(*) FROM dlconn.main.ranged WHERE id = 100500")
    assert(viaSql.head.getLong(0) == 1L)
    assert(graft.ScanMetrics.filesRead(viaSql) == 1)
  }

  test("a facade DataFrame filter skips files in the scan") {
    // main.ranged (three files with disjoint id ranges) is the fixture of
    // the test above; no source filters are pushed here, Spark's own
    // filter reaches the scan's file index
    val df = lake.table("main.ranged").filter(col("id") === 100500L)
    assert(graft.ScanMetrics.filesRead(df) == 1)
    assert(df.collect().map(_.getDouble(1)).toSeq == Seq(201000.0))
    assert(graft.ScanMetrics.filesRead(lake.table("main.ranged")) == 3)
  }

  test("string min/max skipping") {
    import org.apache.spark.sql.sources.EqualTo
    import spark.implicits._
    val l = lake
    l.createTableAs(Seq(("apple", 1), ("banana", 2)).toDF("s", "n").coalesce(1), "main.strs")
    l.insertInto(Seq(("melon", 3), ("peach", 4)).toDF("s", "n").coalesce(1), "main.strs")
    assert(l.table("main.strs", None, Seq(EqualTo("s", "peach"))).count() == 2)
    assert(l.lastScanFileCount == 1)
    // 'cherry' falls in the gap between file 1's [apple,banana] and
    // file 2's [melon,peach] -> both files skipped
    assert(l.table("main.strs", None, Seq(EqualTo("s", "cherry"))).count() == 0)
    assert(l.lastScanFileCount == 0)
  }

  test("lake-to-lake join broadcasts the small side in the static plan (A10)") {
    import spark.implicits._
    val l = lake
    l.createTableAs((1 to 5).map(i => (i.toLong, s"dim$i")).toDF("id", "label")
      .coalesce(1), "main.stat_dim")
    l.createTableAs((1 to 2000).map(i => (i.toLong, (i % 5 + 1).toLong)).toDF("rowid", "dim_id")
      .coalesce(1), "main.stat_fact")
    val joined = spark.sql("""
      SELECT f.rowid, d.label FROM dlconn.main.stat_fact f
      JOIN dlconn.main.stat_dim d ON f.dim_id = d.id""")
    // the spliced parquet scans carry their file sizes to the static
    // planner: the initial plan, before anything runs, already
    // broadcasts the 5-row dim side
    val initial = joined.queryExecution.executedPlan.toString
    assert(initial.contains("isFinalPlan=false"), initial)
    assert(initial.contains("BroadcastHashJoin") && !initial.contains("SortMergeJoin"),
      s"expected a static broadcast of the dim side, got:\n$initial")
    assert(joined.collect().length == 2000)
  }

  test("struct and array<struct> subfields read through the catalog (nested pruning)") {
    import spark.implicits._
    val l = lake
    l.createTableAs((1 to 6).map(i => (i.toLong, (i, s"s$i"), Seq((i * 10, s"a$i"))))
      .toDF("id", "info", "items").coalesce(1), "main.nested")
    assert(spark.conf.get("spark.sql.optimizer.nestedSchemaPruning.enabled") == "true")
    // each query reads ONE field of a struct, so Spark prunes the struct
    // type it hands the scan; non-leading fields must keep their ordinal
    def strings(q: String) = spark.sql(q).collect().map(_.get(0)).toSeq
    assert(strings("SELECT info._2 FROM dlconn.main.nested WHERE id <= 3 ORDER BY id") ==
      Seq("s1", "s2", "s3"))
    assert(strings("SELECT info._1 FROM dlconn.main.nested WHERE id <= 2 ORDER BY id") ==
      Seq(1, 2))
    assert(strings("SELECT id FROM dlconn.main.nested WHERE info._2 = 's5'") == Seq(5L))
    assert(strings("SELECT items._2 FROM dlconn.main.nested WHERE id <= 2 ORDER BY id") ==
      Seq(Seq("a1"), Seq("a2")))
    assert(strings("SELECT items[0]._1 FROM dlconn.main.nested WHERE id = 4") == Seq(40))
  }

  test("loadTable's catalog-derived schema equals the facade scan's") {
    import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
    import org.apache.spark.sql.connector.catalog.Identifier
    import org.apache.spark.sql.types._
    import spark.implicits._
    val sroot = Files.createTempDirectory("dlconn-schema").toString
    val l = new DuckLake(spark, s"$sroot/meta", s"$sroot/data", inlineRowLimit = 10)
    graft.lake.connector.DuckLakeSparkCatalog.adopt(l)
    val cat = new graft.lake.connector.DuckLakeSparkCatalog()
    cat.initialize("dlschema", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("metaDb", s"$sroot/meta", "dataPath", s"$sroot/data")))
    try {
      // list, struct, decimal and timestamp columns over two files of
      // different epochs: a rename and a column added with a default
      val rows = (1 to 20).map(i => (i.toLong, Seq(s"t$i"), (i, s"s$i"),
        BigDecimal(i) / 4, java.sql.Timestamp.valueOf(s"2024-01-01 00:00:$i")))
      l.createTableAs(rows.toDF("id", "tags", "info", "amt", "ts")
        .withColumn("amt", col("amt").cast(DecimalType(10, 2))).coalesce(1), "main.typed")
      l.renameColumn("main.typed", "amt", "amount")
      l.addColumn("main.typed", "status", TypeBridge.fromSpark(StringType), Some("'new'"))
      l.insertInto(spark.range(12).select((col("id") + 100).as("id"),
        array(lit("z")).as("tags"), struct(lit(2).as("_1"), lit("w").as("_2")).as("info"),
        lit(BigDecimal("2.50")).cast(DecimalType(10, 2)).as("amount"),
        lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00")).as("ts"),
        lit("x").as("status")), "main.typed")
      // an inlined-only table and a zero-file table
      l.createTableAs(Seq((1L, Seq(1.5))).toDF("k", "vals").limit(0), "main.inl_only")
      l.insertInto(Seq((2L, Seq(2.5))).toDF("k", "vals"), "main.inl_only")
      l.createTableAs(Seq((1L, "a")).toDF("k", "v").limit(0), "main.no_files")
      assert(l.listFilesDF.filter(col("table_name").isin("inl_only", "no_files")).count() == 0)
      assert(l.table("main.inl_only").count() == 1)
      def strip(s: StructType) = StructType(s.fields.map(_.copy(metadata = Metadata.empty)))
      // the facade widens top-level nullability; the catalog's is the
      // truth (`id` from a Long fixture is NOT NULL)
      Seq("typed", "inl_only", "no_files").foreach { t =>
        val loaded = cat.loadTable(Identifier.of(Array("main"), t)).schema()
        val facade = StructType(l.table(s"main.$t").schema.fields.map(f =>
          f.copy(nullable = loaded(f.name).nullable)))
        assert(strip(loaded) == strip(facade), s"main.$t")
      }
      val typed = cat.loadTable(Identifier.of(Array("main"), "typed")).schema()
      assert(typed.fieldNames.toSeq == Seq("id", "tags", "info", "amount", "ts", "status"))
      assert(!typed("id").nullable && typed("status").nullable)
      // a missing table and an expired snapshot map to NoSuchTableException
      intercept[NoSuchTableException](cat.loadTable(Identifier.of(Array("main"), "absent")))
      intercept[NoSuchTableException](
        cat.loadTable(Identifier.of(Array("main"), "typed"), "999999"))
    } finally { graft.lake.connector.DuckLakeSparkCatalog.forget(l); l.close() }
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF") {
    import spark.implicits._
    val l = lake
    l.createTableAs((1 to 30).map(i => (i.toLong, s"v1_$i")).toDF("id", "tag")
      .coalesce(1), "main.tt")
    val snapV1 = l.currentSnapshot
    l.insertInto((31 to 45).map(i => (i.toLong, s"v2_$i")).toDF("id", "tag")
      .coalesce(1), "main.tt")
    assert(spark.sql("SELECT count(*) FROM dlconn.main.tt").head().getLong(0) == 45)
    assert(spark.sql(
      s"SELECT count(*) FROM dlconn.main.tt VERSION AS OF $snapV1")
      .head().getLong(0) == 30)
    // a timestamp far in the future resolves to the newest snapshot
    assert(spark.sql(
      "SELECT count(*) FROM dlconn.main.tt TIMESTAMP AS OF '2100-01-01'")
      .head().getLong(0) == 45)
    // before the first snapshot -> no table
    intercept[Exception] {
      spark.sql("SELECT * FROM dlconn.main.tt TIMESTAMP AS OF '1990-01-01'").collect()
    }
  }

  test("snapshot-incremental readStream over a lake table (MicroBatchStream)") {
    import spark.implicits._
    val l = lake
    l.createTableAs((1 to 50).map(i => (i.toLong, i * 2.0)).toDF("k", "v")
      .coalesce(1), "main.stream_t")
    l.insertInto((51 to 60).map(i => (i.toLong, i * 2.0)).toDF("k", "v")
      .coalesce(1), "main.stream_t")
    // both snapshots consumed from offset 0
    val q = spark.readStream.table("dlconn.main.stream_t")
      .groupBy().agg(count(lit(1)).as("n"), sum("k").as("sum_k"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("stream_t_agg").start()
    try q.processAllAvailable() finally q.stop()
    val row = spark.table("stream_t_agg").head()
    assert(row.getLong(0) == 60L)
    assert(row.getLong(1) == (1 to 60).map(_.toLong).sum)
    // incremental: a running query picks up exactly the appended delta
    val q2 = spark.readStream.table("dlconn.main.stream_t")
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_t_rows").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("stream_t_rows").count() == 60)
      l.insertInto(Seq((61L, 122.0)).toDF("k", "v").coalesce(1), "main.stream_t")
      q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.table("stream_t_rows").count() == 61)
    assert(spark.table("stream_t_rows").agg(max("k")).head().getLong(0) == 61L)
  }

  test("readStream maxFilesPerTrigger paces the backfill (admission control)") {
    import spark.implicits._
    val l = lake
    // three separate appends -> three file-bearing snapshots
    (1 to 3).foreach { i =>
      val df = ((i * 100) until (i * 100 + 10)).map(v => (v.toLong, v * 1.0))
        .toDF("k", "v").coalesce(1)
      if (i == 1) l.createTableAs(df, "main.paced_t")
      else l.insertInto(df, "main.paced_t")
    }
    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream
      .option("maxFilesPerTrigger", "1")
      .table("dlconn.main.paced_t")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = b.count(); if (n > 0) batchSizes.add(n); ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    // the 30-row backfill arrives as THREE 10-row micro-batches, one per
    // file — never one table-sized batch
    import scala.jdk.CollectionConverters._
    val sizes = batchSizes.iterator().asScala.toSeq
    assert(sizes.size == 3, s"batches: $sizes")
    assert(sizes.forall(_ == 10L), s"batches: $sizes")
    assert(sizes.sum == 30L)

    // rows-based pacing: a 20-row budget takes two 10-row files per batch
    val batches2 = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q2 = spark.readStream
      .option("maxRowsPerTrigger", "20")
      .table("dlconn.main.paced_t")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = b.count(); if (n > 0) batches2.add(n); ()
      }
      .start()
    try q2.processAllAvailable() finally q2.stop()
    val sizes2 = batches2.iterator().asScala.toSeq
    assert(sizes2.sum == 30L, s"batches: $sizes2")
    assert(sizes2.forall(_ <= 20L), s"batches: $sizes2")
    assert(sizes2.size == 2, s"batches: $sizes2")

    // composite: files budget would allow 2 files/batch but the rows
    // budget (10) binds first -> three 1-file batches again
    val batches3 = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q3 = spark.readStream
      .option("maxFilesPerTrigger", "2")
      .option("maxRowsPerTrigger", "10")
      .table("dlconn.main.paced_t")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = b.count(); if (n > 0) batches3.add(n); ()
      }
      .start()
    try q3.processAllAvailable() finally q3.stop()
    val sizes3 = batches3.iterator().asScala.toSeq
    assert(sizes3 == Seq(10L, 10L, 10L), s"batches: $sizes3")

    // a checkpointed offset pointing into EXPIRED history fails loudly
    // instead of silently skipping purged rows
    val stream = new graft.lake.connector.DuckLakeMicroBatchStream(
      lake, "main.paced_t", lake.table("main.paced_t").schema)
    val mid = lake.currentSnapshot - 1
    lake.expireSnapshots(lake.currentSnapshot) // expire everything before head
    intercept[InvalidSnapshotException] {
      stream.planInputPartitions(graft.lake.connector.SnapshotOffset(mid),
        graft.lake.connector.SnapshotOffset(lake.currentSnapshot))
    }
  }

  test("SQL DELETE FROM maps to MOR positional deletes") {
    import spark.implicits._
    val l = lake
    l.createTableAs((1 to 40).map(i => (i.toLong, i % 4)).toDF("k", "m")
      .coalesce(1), "main.sqldel")
    val pre = l.currentSnapshot
    spark.sql("DELETE FROM dlconn.main.sqldel WHERE m = 0 AND k > 10")
    assert(spark.sql("SELECT count(*) FROM dlconn.main.sqldel").head.getLong(0) == 40 - 8)
    // time travel still sees the pre-delete rows (merge-on-read)
    assert(l.table("main.sqldel", Some(pre)).count() == 40)
    // unconditional DELETE clears the table
    spark.sql("DELETE FROM dlconn.main.sqldel")
    assert(spark.sql("SELECT count(*) FROM dlconn.main.sqldel").head.getLong(0) == 0)
  }

  test("SQL ALTER TABLE: rename, add nullable, drop") {
    import spark.implicits._
    val l = lake
    l.createTableAs(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "tag", "x")
      .coalesce(1), "main.sqlalter")
    spark.sql("ALTER TABLE dlconn.main.sqlalter RENAME COLUMN tag TO label")
    spark.sql("ALTER TABLE dlconn.main.sqlalter ADD COLUMN note STRING")
    spark.sql("ALTER TABLE dlconn.main.sqlalter DROP COLUMN x")
    val got = spark.sql(
      "SELECT id, label, note FROM dlconn.main.sqlalter ORDER BY id").collect()
    assert(got.map(_.getString(1)).toSeq == Seq("a", "b"))
    assert(got.forall(_.isNullAt(2)))
    assert(spark.table("dlconn.main.sqlalter").columns.toSeq == Seq("id", "label", "note"))
    // non-nullable add is rejected
    intercept[Exception] {
      spark.sql("ALTER TABLE dlconn.main.sqlalter ADD COLUMN hard STRING NOT NULL")
    }
  }

  test("ADD COLUMN DEFAULT: pre-ALTER rows read the default on every path") {
    import spark.implicits._
    val l = lake
    l.createTableAs(Seq((1L, "a"), (2L, "b")).toDF("id", "tag").coalesce(1),
      "main.defcol")
    val preAlter = l.currentSnapshot
    spark.sql("ALTER TABLE dlconn.main.defcol ADD COLUMN status STRING DEFAULT 'pending'")
    spark.sql("ALTER TABLE dlconn.main.defcol ADD COLUMN score INT DEFAULT 7")
    spark.sql("INSERT INTO dlconn.main.defcol VALUES (3, 'c', 'live', 1)")
    // spliced scan path: old rows materialize defaults, new row keeps values
    val got = spark.sql(
      "SELECT id, status, score FROM dlconn.main.defcol ORDER BY id").collect()
    assert(got.map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq ==
      Seq((1L, "pending", 7), (2L, "pending", 7), (3L, "live", 1)))
    // native row-reader path (row-level UPDATE scans via DuckLakeFilePartition):
    // the WHERE matches on a defaulted value of a pre-ALTER row
    spark.sql("UPDATE dlconn.main.defcol SET status = 'done' WHERE id = 1")
    val after = spark.sql(
      "SELECT id, status, score FROM dlconn.main.defcol ORDER BY id").collect()
    assert(after.map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq ==
      Seq((1L, "done", 7), (2L, "pending", 7), (3L, "live", 1)))
    // time travel to before the ALTER shows the original two columns
    assert(spark.sql(
      s"SELECT * FROM dlconn.main.defcol VERSION AS OF $preAlter").columns.toSeq ==
      Seq("id", "tag"))
    // non-constant defaults are rejected at ALTER time
    intercept[Exception] {
      l.addColumn("main.defcol", "bad", "int32", Some("id + 1"))
    }
  }

  test("CREATE TABLE column DEFAULT resolves INSERTs with missing columns") {
    spark.sql("""CREATE TABLE dlconn.main.defcreate (
      id BIGINT, status STRING DEFAULT 'open', score INT DEFAULT 3)""")
    // subset insert: missing columns fill from CURRENT_DEFAULT metadata
    spark.sql("INSERT INTO dlconn.main.defcreate (id) VALUES (1)")
    // DEFAULT keyword
    spark.sql("INSERT INTO dlconn.main.defcreate VALUES (2, DEFAULT, 9)")
    val got = spark.sql(
      "SELECT id, status, score FROM dlconn.main.defcreate ORDER BY id").collect()
    assert(got.map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq ==
      Seq((1L, "open", 3), (2L, "open", 9)))
  }

  test("SQL UPDATE rewrites matching rows (merge-on-read delta)") {
    import spark.implicits._
    val l = lake
    l.createTableAs((1 to 20).map(i => (i.toLong, i * 1.0, "keep")).toDF("k", "v", "tag")
      .coalesce(1), "main.squpd")
    val pre = l.currentSnapshot
    val preFiles = l.store.getDataFiles(
      l.store.getTableByName(l.store.getSchemaByName("main", pre).get.schemaId,
        "squpd", pre).get.tableId, pre)
    assert(preFiles.size == 1 && preFiles.head.deleteFile.isEmpty)
    spark.sql("UPDATE dlconn.main.squpd SET v = v * 10, tag = 'bumped' WHERE k <= 5")
    val got = spark.sql("SELECT k, v, tag FROM dlconn.main.squpd ORDER BY k").collect()
    assert(got.take(5).map(_.getDouble(1)).toSeq == Seq(10.0, 20.0, 30.0, 40.0, 50.0))
    assert(got.take(5).forall(_.getString(2) == "bumped"))
    assert(got.drop(5).forall(r => r.getDouble(1) == r.getLong(0) * 1.0 && r.getString(2) == "keep"))
    // pre-update snapshot intact
    assert(l.table("main.squpd", Some(pre)).filter(col("tag") === "bumped").count() == 0)
    // MERGE-ON-READ evidence: the original data file is NOT rewritten —
    // it survives with a positional delete file (5 positions) attached,
    // plus one new small file holding only the 5 updated rows
    val post = l.currentSnapshot
    val postFiles = l.store.getDataFiles(
      l.store.getTableByName(l.store.getSchemaByName("main", post).get.schemaId,
        "squpd", post).get.tableId, post)
    val orig = postFiles.find(_.path == preFiles.head.path)
    assert(orig.isDefined, "original data file must survive the update")
    assert(orig.get.deleteFile.exists(_.recordCount == 5),
      s"original file must carry a 5-position delete file: ${orig.get.deleteFile}")
    val fresh = postFiles.filter(_.path != preFiles.head.path)
    assert(fresh.map(_.recordCount).sum == 5,
      s"delta must add exactly the 5 updated rows: ${fresh.map(_.recordCount)}")
  }

  test("delta UPDATE pushes its condition into the scan and skips non-matching files") {
    import spark.implicits._
    val l = lake
    // three files with disjoint key ranges -> distinct min/max stats
    l.createTableAs((1 to 100).map(i => (i.toLong, 0.0)).toDF("k", "v")
      .coalesce(1), "main.dprune")
    l.insertInto((101 to 200).map(i => (i.toLong, 0.0)).toDF("k", "v")
      .coalesce(1), "main.dprune")
    l.insertInto((201 to 300).map(i => (i.toLong, 0.0)).toDF("k", "v")
      .coalesce(1), "main.dprune")
    // the condition reaches the native scan as a pushed filter
    val plan = spark.sql(
      "EXPLAIN UPDATE dlconn.main.dprune SET v = 1.0 WHERE k = 150")
      .head().getString(0)
    assert(plan.contains("DuckLakeBatchScan") && plan.contains("PushedFilters"),
      s"condition must reach the delta scan:\n$plan")
    spark.sql("UPDATE dlconn.main.dprune SET v = 1.0 WHERE k = 150")
    assert(spark.sql(
      "SELECT count(*) FROM dlconn.main.dprune WHERE v = 1.0").head().getLong(0) == 1)
    // only the middle file is touched: one delete file, 1 position
    val snap = l.currentSnapshot
    val files = l.store.getDataFiles(
      l.store.getTableByName(l.store.getSchemaByName("main", snap).get.schemaId,
        "dprune", snap).get.tableId, snap)
    assert(files.count(_.deleteFile.isDefined) == 1)
    assert(files.find(_.deleteFile.isDefined).get.deleteFile.get.recordCount == 1)
  }

  test("row-address metadata columns (_file_id, _pos) and delta DELETE via MERGE") {
    import spark.implicits._
    val l = lake
    l.createTableAs((1 to 10).map(i => (i.toLong, s"r$i")).toDF("k", "s")
      .coalesce(1), "main.rowaddr")
    Seq(2L, 4L).toDF("k").createOrReplaceTempView("raddr_src")
    spark.sql("""
      MERGE INTO dlconn.main.rowaddr t USING raddr_src s ON t.k = s.k
      WHEN MATCHED THEN DELETE""")
    assert(spark.sql("SELECT count(*) FROM dlconn.main.rowaddr").head().getLong(0) == 8)
    // MOR: single original data file remains, with a 2-position delete file
    val snap = l.currentSnapshot
    val files = l.store.getDataFiles(
      l.store.getTableByName(l.store.getSchemaByName("main", snap).get.schemaId,
        "rowaddr", snap).get.tableId, snap)
    assert(files.size == 1 && files.head.deleteFile.exists(_.recordCount == 2))
  }

  test("SQL MERGE INTO: matched update + not-matched insert") {
    import spark.implicits._
    val l = lake
    l.createTableAs(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "bal")
      .coalesce(1), "main.mtarget")
    Seq((2L, 5.0), (4L, 40.0)).toDF("id", "amt").createOrReplaceTempView("msource")
    spark.sql("""
      MERGE INTO dlconn.main.mtarget t USING msource s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET bal = t.bal + s.amt
      WHEN NOT MATCHED THEN INSERT (id, bal) VALUES (s.id, s.amt)""")
    val got = spark.sql("SELECT id, bal FROM dlconn.main.mtarget ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 10.0), (2L, 25.0), (3L, 30.0), (4L, 40.0)))
  }

  test("programmatic MOR update: delete+append, no table rewrite") {
    import spark.implicits._
    val l = lake
    l.createTableAs((1 to 30).map(i => (i.toLong, i % 3, i * 1.0)).toDF("k", "m", "v")
      .coalesce(1), "main.morupd")
    val filesBefore = l.listFilesDF.filter(col("table_name") === "morupd").count()
    l.update("main.morupd", col("m") === 0, Map("v" -> (col("v") + 1000)))
    val got = l.table("main.morupd")
    assert(got.count() == 30)
    assert(got.filter(col("m") === 0 && col("v") < 1000).count() == 0)
    assert(got.filter(col("v") > 1000).count() == 10)
    assert(got.agg(sum("v")).head.getDouble(0) == (1 to 30).map(_.toDouble).sum + 10 * 1000)
    // MOR: original file still visible (plus delete file + appended rows)
    assert(l.listFilesDF.filter(col("table_name") === "morupd").count() == filesBefore + 1)
    intercept[InvalidConfigException] {
      l.update("main.morupd", col("m") === 1, Map("nope" -> lit(1)))
    }
  }

  test("writeStream.toTable appends micro-batches into the lake (streaming sink)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val l = lake
    l.createTableAs(Seq((0L, "seed")).toDF("k", "s").coalesce(1), "main.stream_sink")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("k", "s").writeStream
      .option("checkpointLocation", s"$root/ckpt-sink")
      .toTable("dlconn.main.stream_sink")
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM dlconn.main.stream_sink").head.getLong(0) == 3)
      mem.addData((3L, "c"))
      q.processAllAvailable()
      val got = l.table("main.stream_sink").orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got == Seq((0L, "seed"), (1L, "a"), (2L, "b"), (3L, "c")))
      // each epoch committed one snapshot; files registered in catalog
      assert(l.listFilesDF.filter(col("table_name") === "stream_sink").count() >= 3)
    } finally q.stop()
  }

  test("catalog-persisted SQL views: facade + ViewCatalog interface") {
    import org.apache.spark.sql.connector.catalog.{Identifier, ViewCatalog}
    val l = lake
    val expect = spark.sql(
      "SELECT count(*) FROM dlconn.main.items WHERE amount > 100").head.getLong(0)
    l.createView("main.pricey",
      "SELECT id, name, amount FROM dlconn.main.items WHERE amount > 100")
    assert(l.view("main.pricey").count() == expect)
    // late binding: data appended after creation is visible
    spark.sql("INSERT INTO dlconn.main.items VALUES (9001, 'name_9001', 999.0, 1)")
    assert(l.view("main.pricey").count() == expect + 1)
    // registerViews exposes catalog views as temp views for lake.sql
    l.registerViews()
    assert(l.sql("SELECT count(*) FROM lake_main_pricey").head.getLong(0) == expect + 1)
    // the DSv2 ViewCatalog surface serves the same definitions
    val cat = spark.sessionState.catalogManager.catalog("dlconn")
      .asInstanceOf[ViewCatalog]
    val ident = Identifier.of(Array("main"), "pricey")
    assert(cat.viewExists(ident))
    assert(cat.loadView(ident).query().contains("amount > 100"))
    assert(cat.listViews("main").map(_.name()).contains("pricey"))
    // duplicates rejected; drop works
    intercept[Exception](l.createView("main.pricey", "SELECT 1"))
    assert(l.dropView("main.pricey"))
    assert(!cat.viewExists(ident))
    assertThrows[DuckLakeException](l.view("main.pricey"))
  }

  test("SQL view surface: CREATE / SELECT / CREATE OR REPLACE / DROP VIEW") {
    lake // force fixture
    spark.sql(
      """CREATE VIEW dlconn.main.vw_items AS
         SELECT grp, count(*) AS n, round(sum(amount), 2) AS amt
         FROM dlconn.main.items WHERE amount > 50 GROUP BY grp""")
    // SELECT resolves the view through the injected analyzer rule
    val viaView = spark.sql(
      "SELECT sum(n) FROM dlconn.main.vw_items").head.getLong(0)
    val direct = spark.sql(
      "SELECT count(*) FROM dlconn.main.items WHERE amount > 50").head.getLong(0)
    assert(viaView == direct)
    // late binding: new rows visible without recreating the view
    spark.sql("INSERT INTO dlconn.main.items VALUES (9101, 'name_9101', 500.0, 2)")
    assert(spark.sql("SELECT sum(n) FROM dlconn.main.vw_items")
      .head.getLong(0) == direct + 1)
    // view-on-view resolution
    spark.sql("CREATE VIEW dlconn.main.vw_grps AS " +
      "SELECT grp FROM dlconn.main.vw_items WHERE n > 1")
    assert(spark.sql("SELECT count(*) FROM dlconn.main.vw_grps").head.getLong(0) > 0)
    // CREATE without OR REPLACE on an existing view fails; OR REPLACE works
    intercept[Exception](spark.sql(
      "CREATE VIEW dlconn.main.vw_items AS SELECT 1 AS one"))
    spark.sql(
      """CREATE OR REPLACE VIEW dlconn.main.vw_items AS
         SELECT grp, count(*) AS n FROM dlconn.main.items GROUP BY grp""")
    assert(spark.sql("SELECT sum(n) FROM dlconn.main.vw_items").head.getLong(0) ==
      spark.table("dlconn.main.items").count())
    // IF NOT EXISTS no-ops on existing
    spark.sql("CREATE VIEW IF NOT EXISTS dlconn.main.vw_items AS SELECT 1 AS one")
    assert(spark.sql("SELECT * FROM dlconn.main.vw_items").columns.length == 2)
    spark.sql("DROP VIEW dlconn.main.vw_grps")
    spark.sql("DROP VIEW dlconn.main.vw_items")
    intercept[Exception](spark.sql("SELECT * FROM dlconn.main.vw_items"))
    // DROP VIEW IF EXISTS on a missing view is a no-op
    spark.sql("DROP VIEW IF EXISTS dlconn.main.vw_items")
  }

  test("atomic CREATE OR REPLACE TABLE AS via StagingTableCatalog") {
    lake
    spark.sql("CREATE TABLE dlconn.main.rt AS SELECT id, name FROM dlconn.main.items WHERE id <= 10")
    assert(spark.table("dlconn.main.rt").count() == 10)
    val before = lake.currentSnapshot
    // atomic replace: new contents, same table identity
    spark.sql("CREATE OR REPLACE TABLE dlconn.main.rt AS SELECT id, name FROM dlconn.main.items WHERE id <= 3")
    assert(spark.table("dlconn.main.rt").count() == 3)
    // time travel across the replace still resolves the old version
    assert(spark.sql(s"SELECT count(*) FROM dlconn.main.rt VERSION AS OF $before")
      .head().getLong(0) == 10)
    // REPLACE TABLE AS on an existing table
    spark.sql("REPLACE TABLE dlconn.main.rt AS SELECT id FROM dlconn.main.items WHERE id <= 5")
    assert(spark.table("dlconn.main.rt").count() == 5)
    // REPLACE TABLE of a missing table refuses; CREATE of an existing refuses
    intercept[Exception](spark.sql(
      "REPLACE TABLE dlconn.main.rt_missing AS SELECT 1 AS x"))
    intercept[Exception](spark.sql(
      "CREATE TABLE dlconn.main.rt AS SELECT 1 AS x"))
    spark.sql("DROP TABLE dlconn.main.rt")
  }

  test("CREATE/DROP NAMESPACE through the catalog") {
    lake
    spark.sql("CREATE NAMESPACE dlconn.staging")
    assert(spark.sql("SHOW NAMESPACES IN dlconn").collect()
      .map(_.getString(0)).contains("staging"))
    spark.sql("CREATE TABLE dlconn.staging.t (id BIGINT)")
    spark.sql("INSERT INTO dlconn.staging.t VALUES (1), (2)")
    assert(spark.sql("SELECT count(*) FROM dlconn.staging.t").head.getLong(0) == 2)
    // non-empty namespace cannot be dropped
    intercept[Exception](spark.sql("DROP NAMESPACE dlconn.staging"))
    spark.sql("DROP TABLE dlconn.staging.t")
    spark.sql("DROP NAMESPACE dlconn.staging")
    assert(!spark.sql("SHOW NAMESPACES IN dlconn").collect()
      .map(_.getString(0)).contains("staging"))
  }

  test("readStream over an encrypted lake table decrypts via catalog keys") {
    import spark.implicits._
    val eroot = Files.createTempDirectory("dlconn-enc-stream").toString
    val enc = new DuckLake(spark, s"$eroot/meta", s"$eroot/data", encrypted = true)
    try {
      enc.createTableAs((1 to 20).map(i => (i.toLong, s"s$i")).toDF("k", "s")
        .coalesce(1), "main.enc_stream")
      spark.conf.set("spark.sql.catalog.enclake",
        classOf[graft.lake.connector.DuckLakeSparkCatalog].getName)
      spark.conf.set("spark.sql.catalog.enclake.metaDb", s"$eroot/meta")
      spark.conf.set("spark.sql.catalog.enclake.dataPath", s"$eroot/data")
      val q = spark.readStream.table("enclake.main.enc_stream")
        .writeStream.outputMode("append").format("memory")
        .queryName("enc_stream_rows").start()
      try q.processAllAvailable() finally q.stop()
      assert(spark.table("enc_stream_rows").count() == 20)
    } finally enc.close()
  }

  test("storage-partitioned join: co-partitioned tables join with zero shuffle") {
    import spark.implicits._
    lake
    // two tables hive-partitioned on the same key (5 partitions each)
    lake.createTableAs((1 to 200).map(i => (i.toLong, i % 5, i * 1.0))
      .toDF("a_id", "k", "av").repartition(2), "main.spj_a", partitionBy = Seq("k"))
    lake.createTableAs((1 to 100).map(i => (i.toLong, i % 5, i * 2.0))
      .toDF("b_id", "k", "bv").repartition(2), "main.spj_b", partitionBy = Seq("k"))
    val sql = """SELECT a.k, count(*) AS n, round(sum(a.av + b.bv), 2) AS s
      FROM dlconn.main.spj_a a JOIN dlconn.main.spj_b b ON a.k = b.k
      GROUP BY a.k ORDER BY a.k"""
    // expected via the ordinary (shuffling) path
    val expected = spark.sql(sql).collect().map(_.toSeq).toSeq
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val df = spark.sql(sql)
      val got = df.collect().map(_.toSeq).toSeq
      assert(got == expected)
      // the join itself must be exchange-free: the only allowed shuffle is
      // the final single-partition ORDER BY/agg above the join
      val plan = df.queryExecution.executedPlan.toString
      val joinSection = plan.split("SortMergeJoin|ShuffledHashJoin").drop(1)
      assert(joinSection.nonEmpty, s"expected a shuffled-family join node:\n$plan")
      assert(!joinSection.exists(_.contains("Exchange hashpartitioning")),
        s"join inputs still shuffle:\n$plan")
      assert(plan.contains("DuckLakeBatchScan"), s"expected native scans:\n$plan")
    } finally spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
  }

  test("bucket SPJ: co-bucketed tables join on the source key with zero shuffle") {
    import spark.implicits._
    lake
    // both sides bucket(8, id): co-partitioned BY HASH — the join key is
    // the raw id column, resolvable only because the catalog exposes the
    // bucket function for Spark to match the two partitionings
    lake.createTableAs((1 to 300).map(i => (i.toLong, i * 1.0))
      .toDF("id", "av").repartition(2), "main.bspj_a",
      partitionBy = Seq("bucket(8, id)"))
    lake.createTableAs((1 to 150).map(i => (i.toLong, i * 2.0))
      .toDF("id", "bv").repartition(2), "main.bspj_b",
      partitionBy = Seq("bucket(8, id)"))
    val sql = """SELECT count(*) AS n, round(sum(a.av + b.bv), 2) AS s
      FROM dlconn.main.bspj_a a JOIN dlconn.main.bspj_b b ON a.id = b.id"""
    val expected = spark.sql(sql).collect().map(_.toSeq).toSeq
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val df = spark.sql(sql)
      assert(df.collect().map(_.toSeq).toSeq == expected)
      val plan = df.queryExecution.executedPlan.toString
      val joinSection = plan.split("SortMergeJoin|ShuffledHashJoin").drop(1)
      assert(joinSection.nonEmpty, s"expected a shuffled-family join node:\n$plan")
      assert(!joinSection.exists(_.contains("Exchange hashpartitioning")),
        s"join inputs still shuffle:\n$plan")
    } finally spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
  }

  test("the bucket partition function is callable as a catalog SQL function") {
    lake
    // same md5 bucketing the writers use — directly evaluable in SQL
    val b = spark.sql("SELECT dlconn.system.bucket(8, CAST(42 AS BIGINT))")
      .head.getInt(0)
    assert(b == graft.lake.PartTransform.bucketOf(java.lang.Long.valueOf(42L), 8).get)
  }

  test("SPJ scan falls back to the vectorized path when keys are pruned away") {
    import spark.implicits._
    lake
    lake.createTableAs((1 to 60).map(i => (i.toLong, i % 3, i * 1.0))
      .toDF("c_id", "k", "cv").coalesce(1), "main.spj_c", partitionBy = Seq("k"))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      // projection without the partition column: spliced vectorized path
      val df = spark.sql("SELECT sum(cv) FROM dlconn.main.spj_c")
      assert(df.head.getDouble(0) == (1 to 60).map(_ * 1.0).sum)
      assert(!df.queryExecution.executedPlan.toString.contains("DuckLakeBatchScan"))
      // with the key in the projection, the native SPJ scan serves the read
      val withKey = spark.sql("SELECT k, sum(cv) AS s FROM dlconn.main.spj_c GROUP BY k")
      assert(withKey.collect().map(_.getDouble(1)).sum == (1 to 60).map(_ * 1.0).sum)
      assert(withKey.queryExecution.executedPlan.toString.contains("DuckLakeBatchScan"))
    } finally spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
  }

  /** One column of every nested and wide type, as SQL over `id`; `salt`
    * shifts every value so updated rows differ in every column.
    */
  private def everyTypeCols(salt: Int): Seq[(String, String)] = Seq(
    "emb"  -> s"array(CAST(id + $salt AS FLOAT), CAST(id / 2 AS FLOAT))",
    "info" -> s"named_struct('a', CAST(id AS INT), 'b', concat('s', id, '_', $salt))",
    "m"    -> s"map(concat('k', id), CAST(id + $salt AS INT))",
    "d"    -> s"CAST(id * 1.5 + $salt AS DECIMAL(38,10))",
    "ts"   -> s"timestamp_seconds(1700000000 + id * 3600 + $salt)",
    "bin"  -> s"CAST(concat('b', id, '_', $salt) AS BINARY)")

  private def everyType(ids: Seq[Int], salt: Int = 0) = spark.sql(
    s"SELECT CAST(id AS BIGINT) AS id, " +
      everyTypeCols(salt).map { case (c, e) => s"$e AS $c" }.mkString(", ") +
      s" FROM VALUES ${ids.map(i => s"($i)").mkString(", ")} AS v(id)")

  private def assertRows(table: String, expected: org.apache.spark.sql.DataFrame): Unit = {
    val got = spark.sql(s"SELECT * FROM dlconn.main.$table ORDER BY id").collect().toSeq
    val want = expected.orderBy("id").collect().toSeq
    assert(got == want, s"\n got: ${got.mkString("\n      ")}\nwant: ${want.mkString("\n      ")}")
  }

  test("SQL UPDATE, MERGE and row-level DELETE keep every column type intact") {
    lake.createTableAs(everyType(1 to 6).coalesce(1), "main.every_upd")
    spark.sql("UPDATE dlconn.main.every_upd SET " +
      everyTypeCols(1).map { case (c, e) => s"$c = $e" }.mkString(", ") +
      " WHERE id IN (2, 4)")
    assertRows("every_upd", everyType(Seq(1, 3, 5, 6)).union(everyType(Seq(2, 4), 1)))

    lake.createTableAs(everyType(1 to 6).coalesce(1), "main.every_merge")
    everyType(Seq(3, 7), 1).createOrReplaceTempView("every_src")
    spark.sql("""MERGE INTO dlconn.main.every_merge t USING every_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    assertRows("every_merge", everyType(Seq(1, 2, 4, 5, 6)).union(everyType(Seq(3, 7), 1)))

    // a predicate on an array element cannot be pushed: row-level DELETE
    lake.createTableAs(everyType(1 to 6).coalesce(1), "main.every_del")
    spark.sql("DELETE FROM dlconn.main.every_del WHERE element_at(emb, 1) > 4")
    assertRows("every_del", everyType(1 to 4))
  }

  test("SQL UPDATE after INT→BIGINT and FLOAT→DOUBLE promotion") {
    import spark.implicits._
    lake.createTableAs(Seq((1, 1.5f, "a"), (2, 2.5f, "b"), (3, 3.5f, "c"))
      .toDF("id", "f", "tag").coalesce(1), "main.promoted")
    spark.sql("ALTER TABLE dlconn.main.promoted ALTER COLUMN id TYPE BIGINT")
    spark.sql("ALTER TABLE dlconn.main.promoted ALTER COLUMN f TYPE DOUBLE")
    spark.sql("UPDATE dlconn.main.promoted SET tag = 'u', f = f * 2 WHERE id = 2")
    val got = spark.sql("SELECT id, f, tag FROM dlconn.main.promoted ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    assert(got == Seq((1L, 1.5, "a"), (2L, 5.0, "u"), (3L, 3.5, "c")))
  }

  test("readStream delivers array columns") {
    lake.createTableAs(everyType(1 to 3).select("id", "emb").coalesce(1), "main.arr_stream")
    val q = spark.readStream.table("dlconn.main.arr_stream")
      .writeStream.outputMode("append").format("memory")
      .queryName("arr_stream_rows").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("arr_stream_rows").orderBy("id").collect().toSeq ==
      everyType(1 to 3).select("id", "emb").orderBy("id").collect().toSeq)
  }

  test("a stream whose table is dropped fails with TableNotFoundException") {
    import spark.implicits._
    lake.createTableAs(Seq((1L, "a")).toDF("k", "v").coalesce(1), "main.gone_stream")
    val q = spark.readStream.table("dlconn.main.gone_stream")
      .writeStream.outputMode("append").format("memory")
      .queryName("gone_stream_rows").start()
    try {
      q.processAllAvailable()
      spark.sql("DROP TABLE dlconn.main.gone_stream")
      val e = intercept[Exception](q.processAllAvailable())
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(_.isInstanceOf[TableNotFoundException]),
        s"expected TableNotFoundException in: ${chain.mkString(" <- ")}")
    } finally q.stop()
  }

  test("storage-partitioned join projecting an array column plans zero shuffle") {
    import spark.implicits._
    lake
    lake.createTableAs((1 to 40).map(i => (i.toLong, i % 4, Seq(i * 1.0f, i * 2.0f)))
      .toDF("a_id", "k", "emb").repartition(2), "main.spj_arr_a", partitionBy = Seq("k"))
    lake.createTableAs((1 to 20).map(i => (i.toLong, i % 4, i * 2.0))
      .toDF("b_id", "k", "bv").repartition(2), "main.spj_arr_b", partitionBy = Seq("k"))
    val sql = """SELECT a.a_id, b.b_id, a.emb FROM dlconn.main.spj_arr_a a
      JOIN dlconn.main.spj_arr_b b ON a.k = b.k ORDER BY a.a_id, b.b_id"""
    val expected = spark.sql(sql).collect().toSeq
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val df = spark.sql(sql)
      assert(df.collect().toSeq == expected)
      val plan = df.queryExecution.executedPlan.toString
      val joinSection = plan.split("SortMergeJoin|ShuffledHashJoin").drop(1)
      assert(joinSection.nonEmpty, s"expected a shuffled-family join node:\n$plan")
      assert(!joinSection.exists(_.contains("Exchange hashpartitioning")),
        s"join inputs still shuffle:\n$plan")
      assert(plan.contains("DuckLakeBatchScan"), s"expected the SPJ scan:\n$plan")
    } finally spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
  }
}
