package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Virtual columns (reference: tests/sqllogictests/sql/virtualcolumns/):
  * `snapshot_id`, `filename`, `file_row_number` (plus the `_file_id`/
  * `_pos` row address) are selectable by name on lake scans and hidden
  * from `SELECT *`.
  */
class VirtualColumnsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.lake.connector.GraftSparkExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val root = Files.createTempDirectory("dlvirt-vc").toString
  private lazy val lake = new DuckLake(spark, s"$root/meta", s"$root/data")

  override def afterAll(): Unit = { lake.close(); spark.stop() }

  import spark.implicits._

  private def sqlSetup(): Unit = {
    spark.conf.set("spark.sql.catalog.dlvirt",
      classOf[graft.lake.connector.DuckLakeSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.dlvirt.metaDb", lake.metaDbPath)
    spark.conf.set("spark.sql.catalog.dlvirt.dataPath", lake.dataPath)
  }

  test("snapshot_id tracks each row's committing snapshot") {
    sqlSetup()
    lake.createTableAs(Seq(1).toDF("i").coalesce(1), "main.vs")
    val s1 = lake.currentSnapshot
    lake.insertInto(Seq(2).toDF("i").coalesce(1), "main.vs")
    val s2 = lake.currentSnapshot
    lake.insertInto(Seq(3).toDF("i").coalesce(1), "main.vs")
    val s3 = lake.currentSnapshot
    val got = spark.sql("SELECT snapshot_id, i FROM dlvirt.main.vs ORDER BY i")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got == Seq((s1, 1), (s2, 2), (s3, 3)))
    // hidden from SELECT *
    assert(spark.sql("SELECT * FROM dlvirt.main.vs").columns.toSeq == Seq("i"))
  }

  test("file_row_number and filename; filter on a virtual column") {
    sqlSetup()
    lake.createTableAs(Seq(1, 2, 3).toDF("i").coalesce(1), "main.vf")
    val rows = spark.sql(
      "SELECT file_row_number, i FROM dlvirt.main.vf ORDER BY file_row_number")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(rows.map(_._1) == Seq(0L, 1L, 2L))
    assert(spark.sql(
      "SELECT i FROM dlvirt.main.vf WHERE file_row_number = 1").count() == 1)
    val files = spark.sql(
      "SELECT count(DISTINCT filename) FROM dlvirt.main.vf WHERE filename LIKE '%.parquet'")
      .head.getLong(0)
    assert(files == 1)
  }

  test("rowid is a stable per-table row id across appends, deletes and compaction-free ops") {
    sqlSetup()
    lake.createTableAs(Seq(0, 1, 2).toDF("i").coalesce(1), "main.vr")
    lake.insertInto(Seq(5, 6).toDF("i").coalesce(1), "main.vr")
    // sequential across commits: 0,1,2 then 3,4 (reference rowid/ducklake_row_id.test)
    val got = spark.sql("SELECT rowid, i FROM dlvirt.main.vr ORDER BY rowid")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got == Seq((0L, 0), (1L, 1), (2L, 2), (3L, 5), (4L, 6)))
    assert(spark.sql("SELECT i FROM dlvirt.main.vr WHERE rowid = 3")
      .head.getInt(0) == 5)
    // deletes keep survivors' ids; new appends never reuse id ranges
    lake.deleteWhere("main.vr", org.apache.spark.sql.functions.col("i") % 2 === 1)
    lake.insertInto(Seq(10).toDF("i").coalesce(1), "main.vr")
    val after = spark.sql("SELECT rowid, i FROM dlvirt.main.vr ORDER BY rowid")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(after == Seq((0L, 0), (2L, 2), (4L, 6), (5L, 10)))
  }

  test("virtual columns respect MOR deletes and inlined rows") {
    sqlSetup()
    lake.createTableAs(Seq(1, 2, 3, 4).toDF("i").coalesce(1), "main.vm")
    lake.deleteWhere("main.vm", org.apache.spark.sql.functions.col("i") === 2)
    // deleted row's position is gone; survivors keep their ORIGINAL positions
    val got = spark.sql(
      "SELECT file_row_number, i FROM dlvirt.main.vm ORDER BY i")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got == Seq((0L, 1), (2L, 3), (3L, 4)))

    val root2 = Files.createTempDirectory("dlvirt-vc-inl").toString
    val inl = new DuckLake(spark, s"$root2/meta", s"$root2/data", inlineRowLimit = 8)
    try {
      // seed must EXCEED the inline limit so it lands in a real file
      // (small CTAS is itself inlined since the reference-parity change)
      inl.createTableAs((1 to 9).toDF("i").coalesce(1), "main.vi")
      inl.insertInto(Seq(10).toDF("i"), "main.vi") // inlined into the catalog
      val snapInl = inl.currentSnapshot
      val vdf = inl.table("main.vi", None, Nil,
        Seq(DuckLake.VirtualSnapshot, DuckLake.VirtualFilename))
      val byI = vdf.collect().map(r => r.getInt(0) ->
        (r.getLong(1), Option(r.getString(2)))).toMap
      // inlined rows carry the reference's pseudo-filename, not a path
      assert(byI(10)._1 == snapInl &&
        byI(10)._2.exists(_.startsWith("ducklake_inlined_data_")))
      assert(byI(1)._2.exists(_.endsWith(".parquet")))
    } finally inl.close()
  }

  private val V = Seq(DuckLake.VirtualRowId, DuckLake.VirtualSnapshot,
    DuckLake.VirtualRowNumber, DuckLake.VirtualFileIndex, DuckLake.VirtualFilename)

  /** `(rowid, snapshot_id, file_row_number, file_index, file, value)` of
    * every row of `main.<t>` at `at`, by rowid: `file` is the position of
    * the row's `filename` among `listFilesAt`'s data files (-1 when it is
    * none of them), `value` the int column `c`. With `sql`, the SQL read
    * (`VERSION AS OF at`) must return the facade's rows.
    */
  private def virtualRows(t: String, at: Option[Long] = None, c: String = "i",
      sql: Boolean = true): Seq[(Long, Option[Long], Long, Long, Int, Int)] = {
    val paths = lake.listFilesAt(t, snapshot = at).collect().map(_.getString(0)).toSeq
    def read(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]), r.getLong(2), r.getLong(3),
        paths.indexOf(r.getString(4)), r.getInt(5))
    }.toSeq.sortBy(_._1)
    val facade = read(lake.table(s"main.$t", at, Nil, V).select((V :+ c).map(col): _*))
    if (sql) {
      sqlSetup()
      assert(read(spark.sql(s"SELECT ${(V :+ c).mkString(", ")} FROM dlvirt.main.$t" +
        at.fold("")(s => s" VERSION AS OF $s"))) == facade)
    }
    facade
  }

  test("virtual columns of a three-file table read one value per file and row") {
    lake.createTableAs(Seq(1, 2).toDF("i").coalesce(1), "main.v3")
    val s1 = lake.currentSnapshot
    lake.insertInto(Seq(3).toDF("i").coalesce(1), "main.v3")
    val s2 = lake.currentSnapshot
    lake.insertInto(Seq(4, 5).toDF("i").coalesce(1), "main.v3")
    val s3 = lake.currentSnapshot
    assert(virtualRows("v3") == Seq((0L, Some(s1), 0L, 0L, 0, 1), (1L, Some(s1), 1L, 0L, 0, 2),
      (2L, Some(s2), 0L, 1L, 1, 3), (3L, Some(s3), 0L, 2L, 2, 4), (4L, Some(s3), 1L, 2L, 2, 5)))
  }

  test("virtual columns across a column rename number files over both epochs") {
    lake.createTableAs(Seq(1, 2).toDF("i").coalesce(1), "main.vrn")
    val s1 = lake.currentSnapshot
    lake.insertInto(Seq(3).toDF("i").coalesce(1), "main.vrn")
    val s2 = lake.currentSnapshot
    lake.renameColumn("main.vrn", "i", "j")
    lake.insertInto(Seq(4).toDF("j").coalesce(1), "main.vrn")
    val s4 = lake.currentSnapshot
    assert(virtualRows("vrn", c = "j") == Seq((0L, Some(s1), 0L, 0L, 0, 1),
      (1L, Some(s1), 1L, 0L, 0, 2), (2L, Some(s2), 0L, 1L, 1, 3), (3L, Some(s4), 0L, 2L, 2, 4)))
  }

  test("virtual columns of a merged file keep each segment's ids and snapshots") {
    lake.createTableAs(Seq(1, 2, 3).toDF("i").coalesce(1), "main.vmg")
    val s1 = lake.currentSnapshot
    lake.insertInto(Seq(4, 5, 6).toDF("i").coalesce(1), "main.vmg")
    val s2 = lake.currentSnapshot
    assert(lake.mergeAdjacentFiles(Some("main.vmg")) == 1)
    lake.deleteWhere("main.vmg", col("i") === 2)
    assert(virtualRows("vmg") == Seq((0L, Some(s1), 0L, 0L, 0, 1), (2L, Some(s1), 2L, 0L, 0, 3),
      (3L, Some(s2), 3L, 0L, 0, 4), (4L, Some(s2), 4L, 0L, 0, 5), (5L, Some(s2), 5L, 0L, 0, 6)))
    // before the second insert only the first segment is visible
    assert(virtualRows("vmg", Some(s1)) == Seq((0L, Some(s1), 0L, 0L, 0, 1),
      (1L, Some(s1), 1L, 0L, 0, 2), (2L, Some(s1), 2L, 0L, 0, 3)))
  }

  test("an UPDATE-written file reads its explicit row ids") {
    lake.createTableAs(Seq(1, 2, 3).toDF("i").coalesce(1), "main.vup")
    val s1 = lake.currentSnapshot
    lake.update("main.vup", col("i") === 2, Map("i" -> lit(20)))
    val s2 = lake.currentSnapshot
    assert(virtualRows("vup") == Seq((0L, Some(s1), 0L, 0L, 0, 1),
      (1L, Some(s2), 0L, 1L, 1, 20), (2L, Some(s1), 2L, 0L, 0, 3)))
  }

  test("rows born in the open transaction read provisional row ids and no snapshot") {
    lake.createTableAs(Seq(1, 2).toDF("i").coalesce(1), "main.vtx")
    val s1 = lake.currentSnapshot
    lake.beginTransaction()
    try {
      lake.insertInto(Seq(3, 4).toDF("i").coalesce(1), "main.vtx")
      val base = DuckLake.TxnLocalRowIdBase
      assert(virtualRows("vtx", sql = false) == Seq((0L, Some(s1), 0L, 0L, 0, 1),
        (1L, Some(s1), 1L, 0L, 0, 2), (base, None, 0L, 1L, 1, 3), (base + 1, None, 1L, 1L, 1, 4)))
    } finally lake.rollbackTransaction()
  }

  test("VERSION AS OF an older snapshot reads that snapshot's files and deletes") {
    lake.createTableAs(Seq(1, 2).toDF("i").coalesce(1), "main.vtt")
    val s1 = lake.currentSnapshot
    lake.insertInto(Seq(3).toDF("i").coalesce(1), "main.vtt")
    val s2 = lake.currentSnapshot
    lake.deleteWhere("main.vtt", col("i") === 1)
    val s3 = lake.currentSnapshot
    lake.insertInto(Seq(4).toDF("i").coalesce(1), "main.vtt")
    val s4 = lake.currentSnapshot
    val all = Seq((0L, Some(s1), 0L, 0L, 0, 1), (1L, Some(s1), 1L, 0L, 0, 2),
      (2L, Some(s2), 0L, 1L, 1, 3), (3L, Some(s4), 0L, 2L, 2, 4))
    assert(virtualRows("vtt", Some(s2)) == all.take(3))
    assert(virtualRows("vtt", Some(s3)) == all.slice(1, 3))
    assert(virtualRows("vtt") == all.drop(1))
  }
}
