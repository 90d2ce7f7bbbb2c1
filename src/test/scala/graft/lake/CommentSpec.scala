package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** COMMENT ON table/view/column (reference:
  * tests/sqllogictests/sql/comments/comments.test): set, read back,
  * revert to NULL, object-kind checks, rename survival, DESCRIBE surface.
  */
class CommentSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.lake.connector.GraftSparkExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val root = Files.createTempDirectory("dlcmt-cmt").toString
  private lazy val lake = new DuckLake(spark, s"$root/meta", s"$root/data")

  override def afterAll(): Unit = { lake.close(); spark.stop() }

  import spark.implicits._

  test("table comment: set, read, revert to NULL; kind checks against views") {
    lake.createTableAs(Seq((1, 2)).toDF("i", "j").coalesce(1), "main.test")
    lake.commentOnTable("main.test", Some("very gezellige table"))
    assert(lake.tableComment("main.test").contains("very gezellige table"))
    lake.commentOnTable("main.test", None)
    assert(lake.tableComment("main.test").isEmpty)

    lake.createView("main.test_view", "SELECT 1 AS test_view_column")
    assert(lake.viewComment("main.test_view").isEmpty)
    lake.commentOnView("main.test_view", Some("very gezellige view"))
    assert(lake.viewComment("main.test_view").contains("very gezellige view"))
    val e1 = intercept[UnsupportedException](lake.commentOnView("main.test", Some("x")))
    assert(e1.getMessage.contains("not a view"))
    val e2 = intercept[UnsupportedException](
      lake.commentOnTable("main.test_view", Some("x")))
    assert(e2.getMessage.contains("not a table"))
  }

  test("view bodies bind bare table names in their HOME catalog, not the reader's") {
    spark.conf.set("spark.sql.catalog.dlcmt",
      classOf[graft.lake.connector.DuckLakeSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.dlcmt.metaDb", lake.metaDbPath)
    spark.conf.set("spark.sql.catalog.dlcmt.dataPath", lake.dataPath)
    lake.createTableAs(Seq((1, 2)).toDF("i", "j").coalesce(1), "main.vbind")
    spark.sql("USE dlcmt.main")
    try spark.sql("CREATE VIEW dlcmt.main.vbind_v AS SELECT i * 100 AS i FROM vbind")
    finally spark.sql("USE spark_catalog.default")
    // reading session sits in spark_catalog; `vbind` must still resolve
    assert(spark.sql("SELECT i FROM dlcmt.main.vbind_v").head.getInt(0) == 100)
  }

  test("column comments key by column_id and survive renames") {
    lake.createTableAs(Seq((1, "a")).toDF("k", "v").coalesce(1), "main.cc")
    lake.commentOnColumn("main.cc", "k", Some("the key"))
    assert(lake.columnComments("main.cc") == Map("k" -> "the key"))
    lake.renameColumn("main.cc", "k", "key_col")
    assert(lake.columnComments("main.cc") == Map("key_col" -> "the key"))
    lake.commentOnColumn("main.cc", "key_col", None)
    assert(lake.columnComments("main.cc").isEmpty)
    intercept[InvalidConfigException](lake.commentOnColumn("main.cc", "nope", Some("x")))
  }

  test("SQL surface: COMMENT ON TABLE + ALTER COLUMN COMMENT, DESCRIBE-visible") {
    spark.conf.set("spark.sql.catalog.dlcmt",
      classOf[graft.lake.connector.DuckLakeSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.dlcmt.metaDb", lake.metaDbPath)
    spark.conf.set("spark.sql.catalog.dlcmt.dataPath", lake.dataPath)
    lake.createTableAs(Seq((1, "a")).toDF("k", "v").coalesce(1), "main.sqlc")
    spark.sql("COMMENT ON TABLE dlcmt.main.sqlc IS 'sql table comment'")
    assert(lake.tableComment("main.sqlc").contains("sql table comment"))
    spark.sql("ALTER TABLE dlcmt.main.sqlc ALTER COLUMN v COMMENT 'sql col comment'")
    assert(lake.columnComments("main.sqlc") == Map("v" -> "sql col comment"))
    // DESCRIBE surfaces the column comment from field metadata
    val desc = spark.sql("DESCRIBE TABLE dlcmt.main.sqlc").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(desc("v") == "sql col comment")
    // DESCRIBE EXTENDED surfaces the table comment via properties
    val ext = spark.sql("DESCRIBE TABLE EXTENDED dlcmt.main.sqlc").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(ext.exists { case (k, v) =>
      k.toLowerCase.contains("comment") && v.contains("sql table comment") } ||
      ext.exists(_._2.contains("sql table comment")))
    spark.sql("COMMENT ON TABLE dlcmt.main.sqlc IS NULL")
    assert(lake.tableComment("main.sqlc").isEmpty)
  }

  private def commentsAt(table: String, snap: Long): Map[String, Option[String]] =
    spark.sql(s"SELECT * FROM dlcmt.main.$table VERSION AS OF $snap").schema.fields
      .map(f => f.name -> f.getComment()).toMap

  test("time travel reads the column comments of its snapshot across a rename") {
    spark.conf.set("spark.sql.catalog.dlcmt",
      classOf[graft.lake.connector.DuckLakeSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.dlcmt.metaDb", lake.metaDbPath)
    spark.conf.set("spark.sql.catalog.dlcmt.dataPath", lake.dataPath)
    lake.createTableAs(Seq((1, "x")).toDF("a", "b").coalesce(1), "main.ttc")
    spark.sql("ALTER TABLE dlcmt.main.ttc ALTER COLUMN a COMMENT 'the a'")
    val s1 = lake.currentSnapshot
    spark.sql("ALTER TABLE dlcmt.main.ttc RENAME COLUMN a TO a2")
    assert(commentsAt("ttc", s1) == Map("a" -> Some("the a"), "b" -> None))
    assert(commentsAt("ttc", lake.currentSnapshot) == Map("a2" -> Some("the a"), "b" -> None))
  }

  test("time travel to a dropped table reads its own comments, not its successor's") {
    spark.conf.set("spark.sql.catalog.dlcmt",
      classOf[graft.lake.connector.DuckLakeSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.dlcmt.metaDb", lake.metaDbPath)
    spark.conf.set("spark.sql.catalog.dlcmt.dataPath", lake.dataPath)
    lake.createTableAs(Seq((1, "x")).toDF("a", "b").coalesce(1), "main.ttd")
    spark.sql("ALTER TABLE dlcmt.main.ttd ALTER COLUMN a COMMENT 'old a'")
    val s1 = lake.currentSnapshot
    spark.sql("DROP TABLE dlcmt.main.ttd")
    lake.createTableAs(Seq((2, "y")).toDF("a", "b").coalesce(1), "main.ttd")
    spark.sql("ALTER TABLE dlcmt.main.ttd ALTER COLUMN b COMMENT 'new b'")
    assert(commentsAt("ttd", s1) == Map("a" -> Some("old a"), "b" -> None))
    assert(commentsAt("ttd", lake.currentSnapshot) == Map("a" -> None, "b" -> Some("new b")))
  }
}
