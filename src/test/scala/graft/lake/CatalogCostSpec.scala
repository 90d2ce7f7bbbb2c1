package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Catalog cost of warm lake SQL: the Derby statements
  * ([[MetadataStore.queryTally]]) one read, one join, one row-level
  * DELETE commit and one streaming-sink epoch run, with the file lists
  * and stats already in the store's cache. A table read loads the table
  * at its snapshot once (schema and table rows, columns), and every
  * reader of that read takes the same value; a commit reads its writer
  * options in one statement.
  */
class CatalogCostSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val root = Files.createTempDirectory("dl-catcost").toString

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.lake.connector.GraftSparkExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.catalog.dlcost",
      classOf[graft.lake.connector.DuckLakeSparkCatalog].getName)
    .config("spark.sql.catalog.dlcost.metaDb", s"$root/meta")
    .config("spark.sql.catalog.dlcost.dataPath", s"$root/data")
    .getOrCreate()

  private lazy val lake = {
    val l = new DuckLake(spark, s"$root/meta", s"$root/data")
    graft.lake.connector.DuckLakeSparkCatalog.adopt(l)
    l
  }

  override def afterAll(): Unit = {
    graft.lake.connector.DuckLakeSparkCatalog.forget(lake)
    lake.close()
    spark.stop()
  }

  /** Catalog statements of `op`, run once before to warm the caches. */
  private def statements(op: Int => Unit): Long = {
    op(0)
    val q0 = lake.store.queryTally.get()
    op(1)
    lake.store.queryTally.get() - q0
  }

  /** `main.<name>`: 400 rows `(k, p = k % 4, v = 2k)` in 4 files. */
  private def mkTable(name: String, partitionBy: Seq[String] = Nil): Unit = {
    import spark.implicits._
    val rows = (0L until 400L).map(k => (k, (k % 4).toInt, k * 2.0)).toDF("k", "p", "v")
    lake.createTableAs(if (partitionBy.isEmpty) rows.repartition(4) else rows.coalesce(1),
      s"main.$name", partitionBy)
  }

  test("a warm SQL read of a partitioned table runs at most 15 catalog statements") {
    mkTable("cost_part", Seq("p"))
    assert(lake.pin("main.cost_part").files.size == 4)
    val n = statements { i =>
      val rows = spark.sql(s"SELECT k, v FROM dlcost.main.cost_part WHERE p = ${i + 1} AND v > 0")
        .collect()
      assert(rows.length == 100)
    }
    info(s"$n statements")
    assert(n <= 15, s"$n catalog statements for one table read")
  }

  test("a warm two-table SQL join with a MOR table runs at most 30 catalog statements") {
    mkTable("cost_fact")
    mkTable("cost_dim")
    spark.sql("DELETE FROM dlcost.main.cost_fact WHERE k % 10 = 0")
    val n = statements { _ =>
      val rows = spark.sql("SELECT f.k, d.v FROM dlcost.main.cost_fact f " +
        "JOIN dlcost.main.cost_dim d ON f.k = d.k WHERE d.p = 1").collect()
      assert(rows.length == 100)
    }
    info(s"$n statements")
    assert(n <= 30, s"$n catalog statements for a two-table join")
  }

  test("a warm one-row SQL DELETE commit runs at most 90 catalog statements") {
    mkTable("cost_del")
    val n = statements { i =>
      val before = lake.currentSnapshot
      spark.sql(s"DELETE FROM dlcost.main.cost_del WHERE k = ${i + 7}")
      assert(lake.currentSnapshot == before + 1)
    }
    info(s"$n statements")
    assert(lake.table("main.cost_del").count() == 398)
    assert(n <= 90, s"$n catalog statements for a one-row DELETE")
  }

  test("a 3-trigger stream into a lake table lands each row once; epochs 2 and 3 run at most 41 catalog statements each") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    mkTable("cost_stream")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Int, Double)]
    val q = mem.toDF().toDF("k", "p", "v").writeStream
      .option("checkpointLocation", s"$root/ckpt-stream")
      .toTable("dlcost.main.cost_stream")
    try {
      val perEpoch = (1 to 3).map { e =>
        val q0 = lake.store.queryTally.get()
        mem.addData((1000L + e, e, e * 2.0), (2000L + e, e, e * 4.0))
        q.processAllAvailable()
        lake.store.queryTally.get() - q0
      }
      info(s"statements per epoch: ${perEpoch.mkString(", ")}")
      val keys = lake.table("main.cost_stream").select("k").as[Long].collect().toSeq
      assert(keys.size == 406 && keys.distinct.size == 406)
      assert((1 to 3).flatMap(e => Seq(1000L + e, 2000L + e)).forall(keys.contains))
      assert(perEpoch.drop(1).forall(_ <= 41),
        s"catalog statements per epoch: ${perEpoch.mkString(", ")}")
    } finally q.stop()
  }
}
