package graft.lake

import java.nio.file.Files
import java.sql.DriverManager

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.TestListeners
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** One DELETE engine: every predicate DELETE and UPDATE, from SQL or from
  * the facade, runs Spark's row-level delta plan — one snapshot per
  * operation (none when nothing changes), stable row ids kept, inlined
  * rows read and ended inside the same plan — and the connector's Batch
  * serves partitioned tables, the `filename` / `file_index` virtuals and
  * storage-partitioned joins the facade's rows. Plus `Trigger.AvailableNow`
  * on the lake's stream.
  */
class RowLevelEngineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val root = Files.createTempDirectory("dlrl-engine").toString

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.lake.connector.GraftSparkExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.catalog.dlrl",
      classOf[graft.lake.connector.DuckLakeSparkCatalog].getName)
    .config("spark.sql.catalog.dlrl.metaDb", s"$root/meta")
    .config("spark.sql.catalog.dlrl.dataPath", s"$root/data")
    .getOrCreate()

  private lazy val lake = new DuckLake(spark, s"$root/meta", s"$root/data")

  override def afterAll(): Unit = { lake.close(); spark.stop() }

  private def keys(table: String): Seq[Long] =
    lake.table(s"main.$table").select("k").collect().map(_.getLong(0)).toSeq.sorted

  /** Each row's `k` → its stable row id. */
  private def rowIds(table: String): Map[Long, Long] =
    lake.table(s"main.$table", virtualCols = Seq(DuckLake.VirtualRowId))
      .select(col("k"), col(DuckLake.VirtualRowId)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def inlinedCount(table: String): Int = {
    val snap = lake.currentSnapshot
    val sch = lake.store.getSchemaByName("main", snap).get
    lake.store.getInlinedRows(
      lake.store.getTableByName(sch.schemaId, table, snap).get.tableId, snap).size
  }

  /** `main.<table>` with `n` file rows `(k, m = k % 3, v = k)`; with
    * `inlined`, further rows appended as inlined catalog rows.
    */
  private def mkTable(table: String, n: Int, inlined: Seq[Long] = Nil): Unit = {
    import spark.implicits._
    def rows(ks: Seq[Long]): DataFrame = ks.map(k => (k, (k % 3).toInt, k * 1.0)).toDF("k", "m", "v")
    lake.createTableAs(rows((1 to n).map(_.toLong)).coalesce(1), s"main.$table")
    if (inlined.nonEmpty) {
      lake.setOption("data_inlining_row_limit", "10", table = Some(table))
      lake.insertInto(rows(inlined), s"main.$table")
      assert(inlinedCount(table) == inlined.size)
    }
  }

  test("the facade's update commits one snapshot and keeps every row id") {
    mkTable("upd1", 30)
    val s0 = lake.currentSnapshot
    val ids = rowIds("upd1")
    val s1 = lake.update("main.upd1", col("m") === 0, Map("v" -> (col("v") + 1000)))
    assert(s1 == lake.currentSnapshot)
    assert(s1 == s0 + 1, "one snapshot")
    // no snapshot in between shows the updated rows missing
    (s0 to s1).foreach(s => assert(lake.table("main.upd1", Some(s)).count() == 30))
    assert(lake.table("main.upd1").filter(col("v") > 1000).count() == 10)
    assert(rowIds("upd1") == ids)
  }

  test("a facade deleteWhere over file and inlined rows commits one snapshot") {
    mkTable("del_inl", 100, inlined = Seq(101L, 102L, 103L))
    val s0 = lake.currentSnapshot
    assert(lake.deleteWhere("main.del_inl", col("k") === 101L || col("k") === 50L) == s0 + 1)
    assert(lake.currentSnapshot == s0 + 1)
    val want = (1L to 100L).filter(_ != 50L) ++ Seq(102L, 103L)
    assert(keys("del_inl") == want)
    assert(inlinedCount("del_inl") == 2)
    // time travel still sees both deleted rows
    assert(lake.table("main.del_inl", Some(s0)).count() == 103)
    // the untouched inlined rows are still inlined: a flush finds them
    lake.flushInlined("main.del_inl")
    assert(inlinedCount("del_inl") == 0)
    assert(keys("del_inl") == want)
  }

  test("SQL UPDATE and DELETE on a table with inlined rows each commit one snapshot") {
    mkTable("sql_inl", 20, inlined = Seq(21L, 22L))
    val ids = rowIds("sql_inl")
    val s0 = lake.currentSnapshot
    spark.sql("UPDATE dlrl.main.sql_inl SET v = v + 100 WHERE k IN (3, 21)")
    assert(lake.currentSnapshot == s0 + 1)
    val v = lake.table("main.sql_inl").collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(v(3L) == 103.0 && v(21L) == 121.0 && v(22L) == 22.0)
    // the updated inlined row keeps its row id; the other stays inlined
    assert(rowIds("sql_inl") == ids)
    assert(inlinedCount("sql_inl") == 1)
    spark.sql("DELETE FROM dlrl.main.sql_inl WHERE k % 7 = 1")
    assert(lake.currentSnapshot == s0 + 2)
    assert(keys("sql_inl") == (1L to 21L).filterNot(Set(1L, 8L, 15L)))
    assert(inlinedCount("sql_inl") == 0)
  }

  test("a row-level DELETE on a partitioned table (empty write schema)") {
    import spark.implicits._
    lake.createTableAs((1 to 40).map(i => (i.toLong, i % 4)).toDF("k", "p").repartition(2),
      "main.part_del", partitionBy = Seq("p"))
    spark.sql("DELETE FROM dlrl.main.part_del WHERE k % 5 = 0")
    assert(keys("part_del") == (1L to 40L).filterNot(_ % 5 == 0))
    lake.deleteWhere("main.part_del", col("k") % 3 === 0 && col("p") === 1)
    assert(keys("part_del") == (1L to 40L).filterNot(k => k % 5 == 0 || (k % 3 == 0 && k % 4 == 1)))
  }

  test("the row-level scan reads the facade's filename and file_index") {
    import spark.implicits._
    lake.createTableAs((1 to 10).map(i => (i.toLong, "")).toDF("k", "f").coalesce(1),
      "main.vdel")
    val filename = lake.table("main.vdel", virtualCols = Seq(DuckLake.VirtualFilename))
      .select(DuckLake.VirtualFilename).distinct().collect().map(_.getString(0)).toSeq
    assert(filename.size == 1)
    spark.sql("DELETE FROM dlrl.main.vdel WHERE length(filename) > 0 AND k % 2 = 0")
    assert(keys("vdel") == Seq(1L, 3L, 5L, 7L, 9L))
    spark.sql("DELETE FROM dlrl.main.vdel WHERE file_index = 0 AND k = 1")
    assert(keys("vdel") == Seq(3L, 5L, 7L, 9L))
    spark.sql("UPDATE dlrl.main.vdel SET f = filename WHERE k = 3")
    assert(lake.table("main.vdel").filter(col("k") === 3L).head.getString(1) == filename.head)
  }

  test("a storage-partitioned join reads the inlined rows of its tables") {
    import spark.implicits._
    lake.createTableAs((1 to 200).map(i => (i.toLong, i % 4)).toDF("k", "p").repartition(2),
      "main.spj_a", partitionBy = Seq("p"))
    lake.createTableAs((0 until 4).map(p => (p, p * 10.0)).toDF("p", "w").repartition(2),
      "main.spj_b", partitionBy = Seq("p"))
    lake.setOption("data_inlining_row_limit", "10", table = Some("spj_a"))
    lake.insertInto(Seq((201L, 2)).toDF("k", "p"), "main.spj_a")
    assert(inlinedCount("spj_a") == 1)
    val sql = "SELECT count(*), count_if(a.k = 201) " +
      "FROM dlrl.main.spj_a a JOIN dlrl.main.spj_b b ON a.p = b.p"
    val expected = spark.sql(sql).head()
    assert(expected.getLong(0) == 201L && expected.getLong(1) == 1L)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try assert(spark.sql(sql).head() == expected)
    finally spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
  }

  test("a row-level operation that changes nothing commits no snapshot") {
    mkTable("noop", 30, inlined = Seq(31L))
    val s0 = lake.currentSnapshot
    spark.sql("DELETE FROM dlrl.main.noop WHERE k % 1000 = 999")
    spark.sql("UPDATE dlrl.main.noop SET v = 0 WHERE k < 0")
    assert(lake.deleteWhere("main.noop", col("k") === -1L) == s0)
    assert(lake.update("main.noop", col("k") === -1L, Map("v" -> lit(0))) == s0)
    assert(lake.currentSnapshot == s0)
    assert(keys("noop") == (1L to 31L))
  }

  /** The stage count of each Spark job `body` runs, in start order. */
  private def jobsOf(body: => Unit): Seq[Int] = {
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = stages.add(e.stageInfos.size)
    }
    TestListeners.drain(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; TestListeners.drain(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    stages.asScala.toSeq
  }

  /** Number of live delete files of data file `fid`, read from the catalog. */
  private def liveDeleteFiles(fid: Long): Int = {
    val conn = DriverManager.getConnection(s"jdbc:derby:$root/meta")
    try {
      val ps = conn.prepareStatement(
        "SELECT COUNT(*) FROM ducklake_delete_file WHERE data_file_id = ? AND end_snapshot IS NULL")
      ps.setLong(1, fid)
      val rs = ps.executeQuery()
      rs.next()
      rs.getInt(1)
    } finally conn.close()
  }

  private def tableId(table: String): Long = {
    val snap = lake.currentSnapshot
    val sch = lake.store.getSchemaByName("main", snap).get
    lake.store.getTableByName(sch.schemaId, table, snap).get.tableId
  }

  test("a SQL DELETE over delete-carrying files merges them in one Spark job after its write job") {
    import spark.implicits._
    (0 until 3).foreach { f =>
      val df = ((f * 100L + 1) to (f * 100L + 100)).map(k => (k, (k % 3).toInt, k * 1.0))
        .toDF("k", "m", "v").coalesce(1)
      if (f == 0) lake.createTableAs(df, "main.del_jobs") else lake.insertInto(df, "main.del_jobs")
    }
    lake.deleteWhere("main.del_jobs", col("k") % 10 === 0)
    val files = lake.store.getDataFiles(tableId("del_jobs"), lake.currentSnapshot)
    assert(files.size == 3 && files.forall(_.deleteFile.isDefined))
    val jobs = jobsOf(spark.sql("DELETE FROM dlrl.main.del_jobs WHERE k % 10 = 5"))
    // the write job, then the merge: one job of one stage, no shuffle
    assert(jobs.size == 2, s"jobs (stages each): $jobs")
    assert(jobs.last == 1, s"jobs (stages each): $jobs")
    assert(keys("del_jobs") == (1L to 300L).filter(k => k % 10 != 0 && k % 10 != 5))
  }

  test("a MERGE over several writer tasks leaves one ascending cumulative delete file per data file") {
    import spark.implicits._
    mkTable("mrg_del", 400)
    lake.deleteWhere("main.mrg_del", col("k") % 10 === 0)
    val file = lake.store.getDataFiles(tableId("mrg_del"), lake.currentSnapshot).head
    val dir = s"$root/data/main/mrg_del"
    val dataPath = s"$dir/${file.path}"
    def positions(path: String): Seq[(String, Long)] =
      spark.read.schema(DeletePositions.Schema).parquet(path).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq
    val previous = positions(s"$dir/${file.deleteFile.get.path}").map(_._2)
    val posOf = spark.read.parquet(dataPath).select(col("k"), col("_metadata.row_index"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (Seq((3L, 0, -3.0), (13L, 1, -13.0)) ++ (2 to 39).map(i => (i * 10L + 3, 0, -1.0)) ++
      Seq((1001L, 2, -1001.0))).toDF("k", "m", "v").createOrReplaceTempView("mrg_src")
    // a shuffled join with every shuffle partition kept: the matched rows
    // of the one data file reach all four writer tasks
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try spark.sql("""MERGE INTO dlrl.main.mrg_del t USING mrg_src s ON t.k = s.k
                    |WHEN MATCHED THEN UPDATE SET v = s.v
                    |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    }
    val after = lake.store.getDataFiles(tableId("mrg_del"), lake.currentSnapshot)
      .find(_.dataFileId == file.dataFileId).get
    assert(liveDeleteFiles(file.dataFileId) == 1)
    val merged = positions(s"$dir/${after.deleteFile.get.path}")
    val added = (0 until 40).map(i => posOf(i * 10L + 3))
    assert(merged.map(_._2).sorted == (previous ++ added).sorted)
    assert(merged.map(_._2).sliding(2).forall { case Seq(a, b) => a < b })
    assert(merged.forall(_._1 == dataPath))
    val v = lake.table("main.mrg_del").collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(v.size == 361 && v(3L) == -3.0 && v(13L) == -13.0 && v(393L) == -1.0 &&
      v(1001L) == -1001.0 && v(5L) == 5.0)
  }

  test("a row-level commit conflicts when a merged data file ended or its delete file changed") {
    import spark.implicits._
    mkTable("cfl", 30)
    lake.insertInto((31L to 60L).map(k => (k, (k % 3).toInt, k * 1.0)).toDF("k", "m", "v")
      .coalesce(1), "main.cfl")
    lake.deleteWhere("main.cfl", col("k") === 1L)
    val tid = tableId("cfl")
    val cols = lake.store.getTableColumns(tid, lake.currentSnapshot)
    val Seq(first, second) = lake.store.getDataFiles(tid, lake.currentSnapshot)
    val reg = FileToRegister("ducklake-conflict-delete.parquet", 1L, 1L, 0L)
    def commit(fid: Long, mergedFrom: Option[Long]): Unit = {
      val s0 = lake.currentSnapshot
      intercept[TransactionConflictException](
        lake.store.commitRowDelta("main", "cfl", cols, Nil, Seq((fid, mergedFrom, reg)), Nil))
      assert(lake.currentSnapshot == s0)
    }
    // a delete committed after the merge read the first file's delete file
    lake.deleteWhere("main.cfl", col("k") === 2L || col("k") === 31L)
    commit(first.dataFileId, first.deleteFile.map(_.deleteFileId))
    commit(second.dataFileId, None)
    // a compaction ended both files after the merge read them
    val now = lake.store.getDataFiles(tid, lake.currentSnapshot)
    lake.compact("main.cfl")
    now.foreach(f => commit(f.dataFileId, f.deleteFile.map(_.deleteFileId)))
    assert(keys("cfl") == (3L to 60L).filter(_ != 31L))
  }

  // MERGE semantics with the target semi-joined on its source (the
  // PrefilterMergeTarget rule fires on these small temp-view sources)

  /** Each row's `(k, v)` of `main.<table>`, sorted. */
  private def kv(table: String): Seq[(Long, Double)] =
    lake.table(s"main.$table").select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSeq.sorted

  test("a MERGE matching one target row with two source rows fails its cardinality check") {
    import spark.implicits._
    mkTable("mrg_card", 20)
    Seq((5L, 0, -5.0), (5L, 0, -6.0), (7L, 1, -7.0)).toDF("k", "m", "v")
      .createOrReplaceTempView("card_src")
    val s0 = lake.currentSnapshot
    val e = intercept[Exception](spark.sql(
      "MERGE INTO dlrl.main.mrg_card t USING card_src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET v = s.v"))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("MERGE_CARDINALITY_VIOLATION")), e)
    assert(lake.currentSnapshot == s0, "no snapshot")
    assert(kv("mrg_card") == (1L to 20L).map(k => k -> k.toDouble))
  }

  test("a MERGE with WHEN NOT MATCHED BY SOURCE keeps its result") {
    import spark.implicits._
    mkTable("mrg_nmbs", 10)
    Seq((2L, 0, -2.0), (4L, 0, -4.0), (11L, 2, -11.0)).toDF("k", "m", "v")
      .createOrReplaceTempView("nmbs_src")
    spark.sql("""MERGE INTO dlrl.main.mrg_nmbs t USING nmbs_src s ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET v = s.v
                |WHEN NOT MATCHED THEN INSERT *
                |WHEN NOT MATCHED BY SOURCE AND t.k > 7 THEN DELETE
                |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 0""".stripMargin)
    assert(kv("mrg_nmbs") == Seq(1L -> 0.0, 2L -> -2.0, 3L -> 0.0, 4L -> -4.0, 5L -> 0.0,
      6L -> 0.0, 7L -> 0.0, 11L -> -11.0))
  }

  test("a MERGE keeps a null-keyed target row and inserts a null-keyed source row") {
    import spark.implicits._
    lake.createTableAs(Seq((Option(1L), 1.0), (None, 2.0), (Option(3L), 3.0)).toDF("k", "v")
      .coalesce(1), "main.mrg_null")
    Seq((Option(1L), -1.0), (None, -2.0), (Option(4L), -4.0)).toDF("k", "v")
      .createOrReplaceTempView("null_src")
    spark.sql("MERGE INTO dlrl.main.mrg_null t USING null_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *")
    val rows = lake.table("main.mrg_null").collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getDouble(1))).toSeq.sorted
    assert(rows == Seq((None, -2.0), (None, 2.0), (Some(1L), -1.0), (Some(3L), 3.0),
      (Some(4L), -4.0)))
  }

  test("a MERGE with a non-equi extra condition updates only the rows it matches") {
    import spark.implicits._
    mkTable("mrg_neq", 10)
    Seq((2L, 0, 5.0), (3L, 0, 1.0), (4L, 1, 4.0), (20L, 2, 20.0)).toDF("k", "m", "v")
      .createOrReplaceTempView("neq_src")
    spark.sql("MERGE INTO dlrl.main.mrg_neq t USING neq_src s ON t.k = s.k AND s.v > t.v " +
      "WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *")
    // 2 matches; 3 and 4 fail `s.v > t.v`, so their source rows are inserted
    val want = (1L to 10L).map(k => k -> (if (k == 2L) 5.0 else k.toDouble)) ++
      Seq(3L -> 1.0, 4L -> 4.0, 20L -> 20.0)
    assert(kv("mrg_neq") == want.sorted)
  }

  test("a MERGE over inlined rows and MOR files updates matched rows and keeps their row ids") {
    import spark.implicits._
    mkTable("mrg_inl", 20, inlined = Seq(21L, 22L, 23L))
    lake.deleteWhere("main.mrg_inl", col("k") % 5 === 0)
    val ids = rowIds("mrg_inl")
    Seq((3L, 0, -3.0), (10L, 1, -10.0), (22L, 1, -22.0), (30L, 0, -30.0)).toDF("k", "m", "v")
      .createOrReplaceTempView("inl_src")
    val s0 = lake.currentSnapshot
    spark.sql("MERGE INTO dlrl.main.mrg_inl t USING inl_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *")
    assert(lake.currentSnapshot == s0 + 1)
    // 10 was deleted, so its source row is inserted
    val want = ((1L to 23L).filter(_ % 5 != 0).map(k => k -> k.toDouble).toMap ++
      Map(3L -> -3.0, 22L -> -22.0, 10L -> -10.0, 30L -> -30.0)).toSeq.sorted
    assert(kv("mrg_inl") == want)
    val after = rowIds("mrg_inl")
    assert(ids.forall { case (k, id) => after(k) == id }, s"$ids vs $after")
    assert(inlinedCount("mrg_inl") == 2)
  }

  test("readStream under Trigger.AvailableNow paces the backlog and stops at its start") {
    import spark.implicits._
    def rows(from: Int) = (from until from + 10).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
      .coalesce(1)
    lake.createTableAs(rows(100), "main.avail")
    lake.insertInto(rows(200), "main.avail")
    lake.insertInto(rows(300), "main.avail")
    val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.option("maxFilesPerTrigger", "1").table("dlrl.main.avail")
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        val n = b.count(); if (n > 0) sizes.add(n)
        // committed after the query started: not part of its backlog
        if (id == 0) lake.insertInto(rows(400), "main.avail")
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    assert(sizes.asScala.toSeq == Seq(10L, 10L, 10L))
    assert(lake.table("main.avail").count() == 40)
  }
}
