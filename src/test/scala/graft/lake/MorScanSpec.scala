package graft.lake

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Merge-on-read deletes applied inside the parquet scan
  * ([[DuckLakeParquetFormat]] over [[LakeFileIndex]]): each test compares
  * a lake read against a model of the live rows, on the cases where a
  * position could go wrong — split files with skipped row groups,
  * adopted files sharing a basename, two snapshots of one table in one
  * plan, merged-file time travel, encrypted files — plus the Spark job
  * count of a SQL UPDATE over files that already carry deletes.
  */
class MorScanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val root = Files.createTempDirectory("dlmor-scan").toString

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.lake.connector.GraftSparkExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.catalog.dlmor",
      classOf[graft.lake.connector.DuckLakeSparkCatalog].getName)
    .config("spark.sql.catalog.dlmor.metaDb", s"$root/meta")
    .config("spark.sql.catalog.dlmor.dataPath", s"$root/data")
    .getOrCreate()

  private lazy val lake = new DuckLake(spark, s"$root/meta", s"$root/data")

  override def afterAll(): Unit = { lake.close(); spark.stop() }

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select(col("id")).collect().map(_.getLong(0)).toSeq.sorted

  test("positions stay right when a delete-carrying file is split and row groups are skipped") {
    import spark.implicits._
    lake.createTableAs(Seq.empty[(Long, String)].toDF("id", "tag"), "main.split")
    lake.setOption("parquet_row_group_size", "500", table = Some("split"))
    lake.insertInto((0L until 20000L).map(i => (i, s"t$i")).toDF("id", "tag")
      .coalesce(1).sortWithinPartitions("id"), "main.split")
    lake.deleteWhere("main.split", col("id") % 7 === 3)
    val saved = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
      spark.conf.set("spark.sql.files.openCostInBytes", "0")
      val scan = lake.table("main.split")
      assert(scan.rdd.getNumPartitions > 1, "the file must be read in several splits")
      val live = (0L until 20000L).filter(_ % 7 != 3)
      assert(ids(scan) == live)
      // a selective range on the sorted column: pushed down, most row
      // groups skipped, each split's row indexes still file positions
      val range = scan.filter(col("id") >= 12345L && col("id") < 12845L)
      assert(ids(range) == live.filter(i => i >= 12345L && i < 12845L))
      assert(range.select(col("tag")).collect().map(_.getString(0)).toSet ==
        live.filter(i => i >= 12345L && i < 12845L).map(i => s"t$i").toSet)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("adopted files sharing a basename in two directories keep their own deletes") {
    import spark.implicits._
    val src = Paths.get(root, "adopt-src")
    val files = Seq("a" -> (0L until 100L), "b" -> (100L until 200L)).map { case (d, range) =>
      val tmp = src.resolve(s"tmp-$d").toString
      range.map(i => (i, i * 2)).toDF("id", "v").coalesce(1).write.parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dest = src.resolve(d).resolve("data.parquet")
      Files.createDirectories(dest.getParent)
      Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
      dest.toString
    }
    spark.sql("CREATE TABLE dlmor.main.adopt2 (id BIGINT, v BIGINT)")
    lake.addFiles("main.adopt2", files)
    // the same positions would be hit in both files by `id % 10 = 3`:
    // pick different ones per file
    lake.deleteWhere("main.adopt2",
      (col("id") < 100L && col("id") % 10 === 3) || (col("id") >= 100L && col("id") % 10 === 6))
    val model = (0L until 200L).filterNot(i =>
      (i < 100 && i % 10 == 3) || (i >= 100 && i % 10 == 6))
    assert(ids(lake.table("main.adopt2")) == model)
    assert(spark.sql("SELECT sum(v) FROM dlmor.main.adopt2").head.getLong(0) == model.map(_ * 2).sum)
  }

  test("a self-join across two snapshots with different delete sets reuses no scan") {
    import spark.implicits._
    lake.createTableAs((0L until 300L).map(i => (i, i % 5)).toDF("id", "k").coalesce(1),
      "main.selfjoin")
    lake.insertInto((300L until 600L).map(i => (i, i % 5)).toDF("id", "k").coalesce(1),
      "main.selfjoin")
    lake.deleteWhere("main.selfjoin", col("id") % 2 === 0)
    val s1 = lake.currentSnapshot
    lake.deleteWhere("main.selfjoin", col("id") % 3 === 0)
    val s2 = lake.currentSnapshot
    def counts(keep: Long => Boolean) =
      (0L until 600L).filter(keep).groupBy(_ % 5).map { case (k, v) => k -> v.size.toLong }
    val m1 = counts(_ % 2 != 0)
    val m2 = counts(i => i % 2 != 0 && i % 3 != 0)
    // identical aggregates over the same files: only the delete sets
    // tell the two exchanges apart
    def agg(s: Long) = lake.table("main.selfjoin", Some(s)).groupBy("k").agg(count("*").as("n"))
    val joined = agg(s1).as("a").join(agg(s2).as("b"), "k")
      .select(col("k"), col("a.n").as("n1"), col("b.n").as("n2"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(joined == m1.map { case (k, n) => k -> (n, m2(k)) })
    val sqlJoined = spark.sql(
      s"""SELECT a.k, a.n, b.n FROM
         |  (SELECT k, count(*) n FROM dlmor.main.selfjoin VERSION AS OF $s1 GROUP BY k) a
         |  JOIN (SELECT k, count(*) n FROM dlmor.main.selfjoin VERSION AS OF $s2 GROUP BY k) b
         |  ON a.k = b.k""".stripMargin)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sqlJoined == joined)
  }

  test("merged-file time travel exposes only the rows visible at the snapshot") {
    import spark.implicits._
    lake.createTableAs((0L until 40L).map(i => (i, s"a$i")).toDF("id", "tag").coalesce(1),
      "main.merged")
    val s1 = lake.currentSnapshot
    lake.insertInto((40L until 70L).map(i => (i, s"b$i")).toDF("id", "tag").coalesce(1),
      "main.merged")
    val s2 = lake.currentSnapshot
    lake.insertInto((70L until 100L).map(i => (i, s"c$i")).toDF("id", "tag").coalesce(1),
      "main.merged")
    assert(lake.mergeAdjacentFiles(Some("main.merged")) == 1)
    assert(lake.table("main.merged").inputFiles.length == 1)
    lake.deleteWhere("main.merged", col("id") % 4 === 1)
    val s4 = lake.currentSnapshot
    assert(ids(lake.table("main.merged", Some(s1))) == (0L until 40L))
    assert(ids(lake.table("main.merged", Some(s2))) == (0L until 70L))
    assert(ids(lake.table("main.merged", Some(s4))) == (0L until 100L).filter(_ % 4 != 1))
    // the limit and the row-number virtual agree per file position
    val rn = lake.table("main.merged", Some(s2), virtualCols = Seq(DuckLake.VirtualRowNumber))
      .select(col("id"), col(DuckLake.VirtualRowNumber)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rn == (0L until 70L).map(i => i -> i).toMap)
  }

  test("encrypted data and delete files read through the delete-aware scan") {
    import spark.implicits._
    val encRoot = Files.createTempDirectory("dlmor-enc").toString
    val enc = new DuckLake(spark, s"$encRoot/meta", s"$encRoot/data", encrypted = true)
    try {
      enc.createTableAs((0L until 500L).map(i => (i, s"s$i")).toDF("id", "s").coalesce(1),
        "main.secret")
      enc.insertInto((500L until 1000L).map(i => (i, s"s$i")).toDF("id", "s").coalesce(1),
        "main.secret")
      enc.deleteWhere("main.secret", col("id") % 9 === 4)
      val before = enc.currentSnapshot
      enc.deleteWhere("main.secret", col("id") % 9 === 5)
      assert(ids(enc.table("main.secret")) ==
        (0L until 1000L).filter(i => i % 9 != 4 && i % 9 != 5))
      assert(ids(enc.table("main.secret", Some(before))) == (0L until 1000L).filter(_ % 9 != 4))
      // the files really are encrypted: a keyless read fails
      val dataFile = enc.table("main.secret").inputFiles.head
      intercept[Exception](spark.read.parquet(dataFile).count())
    } finally enc.close()
  }

  test("a SQL UPDATE runs as many Spark jobs over 3 delete-carrying files as over 1") {
    import spark.implicits._
    def table(name: String, withDeletes: Int): Unit = {
      (0 until 3).foreach { f =>
        val df = ((f * 100L) until (f * 100L + 100L)).map(i => (i, i)).toDF("id", "v").coalesce(1)
        if (f == 0) lake.createTableAs(df, s"main.$name") else lake.insertInto(df, s"main.$name")
      }
      lake.deleteWhere(s"main.$name", col("id") % 10 === 0 && col("id") < withDeletes * 100L)
    }
    table("upd1", 1)
    table("upd3", 3)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def jobsOf(sql: String): Int = {
      org.apache.spark.sql.graftbridge.TestListeners.drain(spark)
      jobs.set(0)
      spark.sql(sql)
      org.apache.spark.sql.graftbridge.TestListeners.drain(spark)
      jobs.get
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val one = jobsOf("UPDATE dlmor.main.upd1 SET v = v + 1 WHERE id % 10 = 5")
      val three = jobsOf("UPDATE dlmor.main.upd3 SET v = v + 1 WHERE id % 10 = 5")
      assert(one == three, s"UPDATE ran $one jobs over 1 delete-carrying file, $three over 3")
    } finally spark.sparkContext.removeSparkListener(listener)
    val model = (0L until 300L).filter(_ % 10 != 0).map(i => i -> (if (i % 10 == 5) i + 1 else i))
    assert(lake.table("main.upd3").orderBy("id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq == model)
  }
}
