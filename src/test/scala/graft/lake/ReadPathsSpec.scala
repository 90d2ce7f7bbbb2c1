package graft.lake

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Every lake reader maps columns the way the facade does: the
  * connector's Batch (SQL UPDATE, MERGE, row-level DELETE) and its
  * micro-batch stream read each file through the facade's per-group
  * projection, so each test checks a connector read or write against the
  * facade's own rows — on adopted hive files (keys in the path), an
  * adopted TIMESTAMP(NANOS) file, a timestamp identity partition, a
  * merged file's row provenance, and one table carrying every schema
  * evolution at once. Plus the Spark job count of `addFiles`.
  */
class ReadPathsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val root = Files.createTempDirectory("dlread-paths").toString

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.lake.connector.GraftSparkExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.catalog.dlrp",
      classOf[graft.lake.connector.DuckLakeSparkCatalog].getName)
    .config("spark.sql.catalog.dlrp.metaDb", s"$root/meta")
    .config("spark.sql.catalog.dlrp.dataPath", s"$root/data")
    .getOrCreate()

  private lazy val lake = new DuckLake(spark, s"$root/meta", s"$root/data")

  override def afterAll(): Unit = { lake.close(); spark.stop() }

  /** A table's rows as sorted strings (every column, nested ones too). */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def facade(table: String): Seq[String] = rows(lake.table(s"main.$table"))

  /** The rows a `readStream` of the table delivers, drained with
    * `Trigger.AvailableNow`.
    */
  private def streamed(table: String): Seq[String] = {
    val sink = s"${table}_sink"
    val q = spark.readStream.table(s"dlrp.main.$table")
      .writeStream.outputMode("append").format("memory").queryName(sink)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    rows(spark.table(sink))
  }

  /** `main.<table>` holding a lake-written seed row plus adopted files of
    * a hive directory `part_key=…/part_key2=…/` (keys only in the path).
    */
  private def hiveTable(table: String): Unit = {
    import spark.implicits._
    lake.createTableAs(Seq((Option(1), Option(10), "seed"))
      .toDF("part_key", "part_key2", "val").coalesce(1), s"main.$table")
    Seq((1, 10, "hello"), (2, 10, "world"), (2, 20, "abc"), (1, 40, "xyz"))
      .toDF("part_key", "part_key2", "val")
      .write.partitionBy("part_key", "part_key2").parquet(s"$root/$table-hive")
    lake.addFiles(s"main.$table", Seq(s"$root/$table-hive"))
    assert(facade(table).contains("2|10|world"))
  }

  /** One-file parquet of (k INT32, ts INT64 TIMESTAMP(NANOS)), the
    * encoding of arrow/pandas writers that Spark's reader refuses.
    */
  private def nanosFile(dir: String, values: Seq[(Int, Long)]): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types => PT}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
    val target = s"$root/$dir/part-0.parquet"
    val msg = PT.buildMessage()
      .addField(PT.optional(INT32).named("k"))
      .addField(PT.optional(INT64).as(LogicalTypeAnnotation.timestampType(false,
        LogicalTypeAnnotation.TimeUnit.NANOS)).named("ts"))
      .named("arrow_schema")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(target))
      .withConf(spark.sparkContext.hadoopConfiguration).withType(msg).build()
    val groups = new SimpleGroupFactory(msg)
    try values.foreach { case (k, ns) =>
      val g = groups.newGroup()
      g.add("k", k)
      g.add("ts", ns)
      w.write(g)
    } finally w.close()
    target
  }

  test("SQL UPDATE on adopted hive files keeps the key values") {
    hiveTable("hive_upd")
    val want = facade("hive_upd").map(_.replace("|world", "|WORLD"))
    spark.sql("UPDATE dlrp.main.hive_upd SET val = 'WORLD' WHERE val = 'world'")
    assert(facade("hive_upd") == want)
  }

  test("a non-pushable SQL DELETE on a hive key removes exactly the matching rows") {
    hiveTable("hive_del")
    val want = rows(lake.table("main.hive_del").filter(col("part_key2") % 20 =!= 0))
    spark.sql("DELETE FROM dlrp.main.hive_del WHERE part_key2 % 20 = 0")
    assert(facade("hive_del") == want)
    assert(want.size == 3)
  }

  test("readStream over adopted hive files delivers the keys") {
    hiveTable("hive_stream")
    assert(streamed("hive_stream") == facade("hive_stream"))
  }

  test("SQL UPDATE over an adopted TIMESTAMP(NANOS) file keeps the microsecond floor values") {
    import spark.implicits._
    lake.createTableAs(Seq((Option(1), java.time.LocalDateTime.parse("2000-01-01T00:00:00")))
      .toDF("k", "ts").coalesce(1), "main.nanos_upd")
    // 2020-02-03T12:23:34.123456789 and -1999 ns (floors to -2 µs)
    lake.addFiles("main.nanos_upd",
      Seq(nanosFile("nanos-upd", Seq(2 -> 1580732614123456789L, 3 -> -1999L))))
    val before = facade("nanos_upd")
    assert(before == Seq("1|2000-01-01T00:00", "2|2020-02-03T12:23:34.123456",
      "3|1969-12-31T23:59:59.999998").sorted)
    spark.sql("UPDATE dlrp.main.nanos_upd SET k = k + 10 WHERE k >= 2")
    assert(facade("nanos_upd") == Seq("1|2000-01-01T00:00", "12|2020-02-03T12:23:34.123456",
      "13|1969-12-31T23:59:59.999998").sorted)
  }

  test("SQL UPDATE and readStream work on a timestamp identity-partitioned table") {
    import spark.implicits._
    val ts = Seq("2021-03-04T05:06:07", "2022-01-01T00:00:00").map(java.time.LocalDateTime.parse)
    lake.createTableAs(Seq((Option(1), ts.head)).toDF("k", "ts").coalesce(1), "main.ts_part")
    lake.setPartitionedBy("main.ts_part", Seq("ts"))
    lake.insertInto(Seq((Option(2), ts.head), (Option(3), ts(1))).toDF("k", "ts").coalesce(1),
      "main.ts_part")
    assert(streamed("ts_part") == facade("ts_part"))
    val want = facade("ts_part").map(r => if (r.startsWith("3|")) "30" + r.drop(1) else r)
    spark.sql("UPDATE dlrp.main.ts_part SET k = 30 WHERE k = 3")
    assert(facade("ts_part") == want)
  }

  test("deleteWhere on snapshot_id removes only that snapshot's rows of a merged file") {
    import spark.implicits._
    lake.createTableAs((1L to 5L).toDF("id").coalesce(1), "main.merged_snap")
    val s1 = lake.currentSnapshot
    lake.insertInto((6L to 10L).toDF("id").coalesce(1), "main.merged_snap")
    assert(lake.mergeAdjacentFiles(Some("main.merged_snap")) == 1)
    lake.deleteWhere("main.merged_snap", col(DuckLake.VirtualSnapshot) === s1)
    assert(facade("merged_snap") == (6L to 10L).map(_.toString).sorted)
  }

  test("one table with every schema evolution reads the facade's rows on every path") {
    import spark.implicits._
    val t = "main.evolved"
    val ts0 = java.time.LocalDateTime.parse("2001-02-03T04:05:06")
    def lakeRows(ks: Seq[Int]) = ks.map(k => (Option(k), Option(s"v$k"),
      Option(Tuple1(Option(k * 10))), Option(k % 2), Option(ts0.plusHours(k))))
      .toDF("k", "v", "s", "pk", "ts")
      .withColumn("s", col("s").cast("struct<a:int>"))
    // two lake-written files merged into one (segment map), then a MOR delete
    lake.createTableAs(lakeRows(1 to 5).coalesce(1), t)
    lake.insertInto(lakeRows(6 to 10).coalesce(1), t)
    assert(lake.mergeAdjacentFiles(Some(t)) == 1)
    lake.deleteWhere(t, col("k") % 4 === 0)
    // adopted hive files (pk only in the path) and an adopted NANOS file
    lakeRows(11 to 14).write.partitionBy("pk").parquet(s"$root/evolved-hive")
    lake.addFiles(t, Seq(s"$root/evolved-hive"))
    lake.addFiles(t, Seq(nanosFile("evolved-nanos", Seq(15 -> 1580732614123456789L))),
      allowMissing = true)
    // rename, added column with a default, INT→BIGINT, a struct field add
    lake.renameColumn(t, "v", "val")
    lake.addColumn(t, "d", "int32", Some("7"))
    lake.alterColumnType(t, "k", "int64")
    lake.addNestedField(t, Seq("s", "b"), IntegerType)
    lake.insertInto(Seq((16L, "v16", Option(1), 1, ts0, 16)).toDF("k", "val", "pk", "sb", "ts", "d")
      .select(col("k"), col("val"), struct(lit(160).as("a"), col("sb").as("b")).as("s"),
        col("pk"), col("ts"), col("d")).coalesce(1), t)

    val before = facade("evolved")
    assert(before.size == 14 && before.exists(_.startsWith("15|null|null|null|2020-02-03T12:23")))
    assert(before.exists(_.startsWith("12|v12|[120,null]|0|")) && before.exists(_.endsWith("|7")))
    // readStream ignores deletes by design: it delivers every appended
    // file's rows, which the facade's CDC reads the same way
    val appended = rows(lake.tableChanges(t, 0L, lake.currentSnapshot)
      .drop("snapshot_id", "change_type"))
    assert(streamed("evolved") == appended)
    spark.sql("UPDATE dlrp.main.evolved SET val = val")
    assert(facade("evolved") == before)
  }

  test("the facade and the row-level Batch read the same row addresses and ids") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    // the evolved fixture's shape: a merged file with a MOR delete,
    // adopted hive and NANOS files, then a rename and a promotion
    val t = "main.evolved_ids"
    val ts0 = java.time.LocalDateTime.parse("2001-02-03T04:05:06")
    def lakeRows(ks: Seq[Int]) = ks.map(k => (Option(k), Option(s"v$k"), Option(k % 2),
      Option(ts0.plusHours(k)))).toDF("k", "v", "pk", "ts")
    lake.createTableAs(lakeRows(1 to 5).coalesce(1), t)
    lake.insertInto(lakeRows(6 to 10).coalesce(1), t)
    assert(lake.mergeAdjacentFiles(Some(t)) == 1)
    lake.deleteWhere(t, col("k") % 4 === 0)
    lakeRows(11 to 14).write.partitionBy("pk").parquet(s"$root/evolved-ids-hive")
    lake.addFiles(t, Seq(s"$root/evolved-ids-hive"))
    lake.addFiles(t, Seq(nanosFile("evolved-ids-nanos", Seq(15 -> 1580732614123456789L))),
      allowMissing = true)
    lake.renameColumn(t, "v", "val")
    lake.alterColumnType(t, "k", "int64")
    lake.insertInto(Seq((16L, "v16", 1, ts0)).toDF("k", "val", "pk", "ts").coalesce(1), t)
    spark.sql(s"UPDATE dlrp.$t SET val = 'u' WHERE k = 16")

    val ids = Seq(DuckLake.VirtualFileId, DuckLake.VirtualPos, DuckLake.VirtualRowId,
      DuckLake.VirtualSnapshot)
    val facadeIds = lake.table(t, None, Nil, ids).select(ids.map(col): _*).collect()
      .map(r => ids.indices.map(r.getLong)).toSeq.sortBy(_.mkString(","))
    val scan = new graft.lake.connector.DuckLakeBatchScan(lake, t, lake.currentSnapshot,
      StructType(ids.map(StructField(_, LongType))))
    val batchIds = scan.planInputPartitions().toSeq.flatMap { p =>
      val reader = scan.createReaderFactory().createReader(p)
      try Iterator.continually(reader.next()).takeWhile(identity)
        .map(_ => ids.indices.map(reader.get().getLong)).toList
      finally reader.close()
    }.sortBy(_.mkString(","))
    assert(facadeIds.size == 14)
    assert(batchIds == facadeIds)
  }

  test("a renamed or dropped clone still reads its files at an earlier snapshot") {
    import spark.implicits._
    lake.createTableAs(Seq((1L, "a"), (2L, "b")).toDF("id", "tag").coalesce(1), "main.clone_src")
    lake.cloneTable("main.clone_src", "main.clone_ren")
    lake.cloneTable("main.clone_src", "main.clone_drop")
    val before = lake.currentSnapshot
    lake.renameTable("main.clone_ren", "main.clone_ren2")
    lake.dropTable("main.clone_drop")
    Seq("clone_ren", "clone_drop").foreach { c =>
      assert(rows(lake.table(s"main.$c", Some(before))) == Seq("1|a", "2|b"), c)
    }
    assert(facade("clone_ren2") == Seq("1|a", "2|b"))
  }

  test("addFiles opens each adopted file on the driver and starts no Spark job") {
    import spark.implicits._
    lake.createTableAs(Seq((1L, "a")).toDF("id", "tag").coalesce(1), "main.adopt_jobs")
    val files = (1 to 3).map { i =>
      val dir = s"$root/adopt-jobs-$i"
      Seq((i.toLong + 1, s"t$i")).toDF("id", "tag").coalesce(1).write.parquet(dir)
      dir
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.sql.graftbridge.TestListeners.drain(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      lake.addFiles("main.adopt_jobs", files)
      org.apache.spark.sql.graftbridge.TestListeners.drain(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0)
    assert(facade("adopt_jobs") == Seq("1|a", "2|t1", "3|t2", "4|t3"))
  }
}
