package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{And, EqualTo, GreaterThanOrEqual, IsNull, LessThan}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Hive-style partitioned lake tables: per-file partition values recorded
  * in the catalog (DuckLake spec `ducklake_file_partition_value` model),
  * injected at read time and pruned against pushed filters — the
  * O(matching-partitions) scan path that matters at 100 TB.
  */
class PartitionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.lake.connector.GraftSparkExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val root = Files.createTempDirectory("dlpart-part").toString
  private lazy val lake = new DuckLake(spark, s"$root/meta", s"$root/data")

  override def afterAll(): Unit = { lake.close(); spark.stop() }

  private def mkSales(): Unit = {
    import spark.implicits._
    val df = (1 to 300).map { i =>
      (i.toLong, s"2024-0${i % 3 + 1}" /*month*/, (i % 3).toLong /*region*/, i * 1.5)
    }.toDF("id", "month", "region", "amount")
    lake.createTableAs(df.repartition(2), "main.sales", partitionBy = Seq("month"))
  }

  test("partitioned write + read round-trip; partition col injected from catalog") {
    import spark.implicits._
    mkSales()
    val back = lake.table("main.sales")
    assert(back.count() == 300)
    assert(back.agg(sum("id")).head.getLong(0) == (1 to 300).map(_.toLong).sum)
    // per-month counts survive the round trip
    val byMonth = back.groupBy("month").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byMonth == Map("2024-01" -> 100, "2024-02" -> 100, "2024-03" -> 100))
    // full rows in files: the partition column is physically present
    // (reference behavior — the hive directory layout is naming only)
    val aFile = lake.listFilesDF.filter(col("table_name") === "sales").head.getString(2)
    val phys = spark.read.parquet(s"$root/data/main/sales/$aFile")
    assert(phys.columns.contains("month"))
  }

  test("partition pruning: equality filter scans only that partition's files") {
    mkSales()
    val all = { lake.table("main.sales").count(); lake.lastScanFileCount }
    assert(all >= 3) // at least one file per partition
    val one = lake.table("main.sales", None, Seq(EqualTo("month", "2024-02")))
    assert(one.filter(col("month") === "2024-02").count() == 100)
    assert(lake.lastScanFileCount < all && lake.lastScanFileCount >= 1)
    // range filter over the partition string
    lake.table("main.sales", None,
      Seq(And(GreaterThanOrEqual("month", "2024-02"), LessThan("month", "2024-03")))).count()
    assert(lake.lastScanFileCount < all)
    // no partition matches
    assert(lake.table("main.sales", None, Seq(EqualTo("month", "1999-01"))).count() == 0)
    assert(lake.lastScanFileCount == 0)
  }

  test("appends inherit the table's partition keys; mismatched keys rejected") {
    import spark.implicits._
    mkSales()
    lake.insertInto(Seq((301L, "2024-04", 1L, 5.0)).toDF("id", "month", "region", "amount")
      .coalesce(1), "main.sales")
    assert(lake.table("main.sales", None, Seq(EqualTo("month", "2024-04")))
      .filter(col("month") === "2024-04").count() == 1)
    assert(lake.lastScanFileCount == 1)
    // an APPEND declaring mismatched keys is rejected…
    intercept[UnsupportedException] {
      lake.transaction { tx =>
        tx.write(Seq((1L, "x", 0L, 0.0)).toDF("id", "month", "region", "amount")
          .coalesce(1), "main.sales", WriteMode.Append, partitionBy = Seq("region"))
      }
    }
    // …while CREATE OR REPLACE fully redefines partitioning (reference
    // CREATE OR REPLACE semantics, e.g. add_files_hive_mismatch.test)
    lake.createTableAs(Seq((1L, "x", 7L, 0.0)).toDF("id", "month", "region", "amount")
      .coalesce(1), "main.sales_repart_probe", partitionBy = Seq("month"))
    lake.createTableAs(Seq((2L, "y", 8L, 1.0)).toDF("id", "month", "region", "amount")
      .coalesce(1), "main.sales_repart_probe", partitionBy = Seq("region"))
    assert(lake.partitionColumnsOf("main.sales_repart_probe") == Seq("region"))
    // partition columns cannot be dropped
    intercept[UnsupportedException](lake.dropColumn("main.sales", "month"))
  }

  test("null partition values round-trip and answer IS NULL") {
    import spark.implicits._
    val df = Seq((1L, Some("a"), 1.0), (2L, None: Option[String], 2.0),
      (3L, Some("b"), 3.0)).toDF("id", "grp", "v")
    lake.createTableAs(df.coalesce(1), "main.nullpart", partitionBy = Seq("grp"))
    val back = lake.table("main.nullpart")
    assert(back.filter(col("grp").isNull).collect().map(_.getLong(0)).toSeq == Seq(2L))
    // IS NULL pruning keeps only the default-partition file
    lake.table("main.nullpart", None, Seq(IsNull("grp"))).count()
    assert(lake.lastScanFileCount == 1)
    // equality on a value prunes the null partition
    lake.table("main.nullpart", None, Seq(EqualTo("grp", "a"))).count()
    assert(lake.lastScanFileCount == 1)
  }

  test("special characters in string partition values are path-escaped losslessly") {
    import spark.implicits._
    val vals = Seq("plain", "with space", "a/b:c", "eq=val", "pct%20")
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "k")
    lake.createTableAs(df.coalesce(1), "main.esc", partitionBy = Seq("k"))
    val back = lake.table("main.esc").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back == vals.zipWithIndex.map { case (v, i) => i.toLong -> v }.toMap)
    vals.foreach { v =>
      assert(lake.table("main.esc", None, Seq(EqualTo("k", v)))
        .filter(col("k") === v).count() == 1, s"value $v")
      assert(lake.lastScanFileCount == 1, s"value $v should prune to its own file")
    }
  }

  test("date partitions prune on range filters") {
    import spark.implicits._
    val df = (1 to 90).map { i =>
      (i.toLong, java.sql.Date.valueOf(s"2024-0${(i - 1) / 30 + 1}-15"))
    }.toDF("id", "day")
    lake.createTableAs(df.coalesce(1), "main.dated", partitionBy = Seq("day"))
    lake.table("main.dated", None,
      Seq(GreaterThanOrEqual("day", java.sql.Date.valueOf("2024-03-01")))).count()
    assert(lake.lastScanFileCount == 1)
    assert(lake.table("main.dated", None,
        Seq(EqualTo("day", java.sql.Date.valueOf("2024-02-15"))))
      .filter(col("day") === "2024-02-15").count() == 30)
  }

  test("MOR deletes work on partitioned tables (predicate may mix partition + data cols)") {
    mkSales()
    // month "2024-01" ⇔ id % 3 == 0; of those, ids 3..48 are <= 50 → 16 deleted
    lake.deleteWhere("main.sales", col("month") === "2024-01" && col("id") <= 50)
    val back = lake.table("main.sales")
    assert(back.filter(col("month") === "2024-01").count() == 100 - 16)
    assert(back.count() == 300 - 16)
  }

  test("rename of a partition column keeps values and pruning (column_id stable)") {
    import spark.implicits._
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "part")
    lake.createTableAs(df.coalesce(1), "main.renpart", partitionBy = Seq("part"))
    lake.renameColumn("main.renpart", "part", "bucket")
    val back = lake.table("main.renpart")
    assert(back.columns.toSeq == Seq("id", "bucket"))
    assert(back.filter(col("bucket") === "y").collect().map(_.getLong(0)).toSeq == Seq(2L))
    lake.table("main.renpart", None, Seq(EqualTo("bucket", "x"))).count()
    assert(lake.lastScanFileCount == 1)
    // appends after the rename use the new name
    lake.insertInto(Seq((3L, "z")).toDF("id", "bucket").coalesce(1), "main.renpart")
    assert(lake.table("main.renpart").count() == 3)
  }

  test("clustered writes give near-disjoint file ranges -> point lookups prune to one file") {
    import spark.implicits._
    import org.apache.spark.sql.sources.{And, EqualTo, GreaterThanOrEqual, LessThan}
    // ids arrive SHUFFLED: without clustering every file would span the
    // full id range and nothing could prune
    val shuffled = (1L to 4000L).map(i => (i * 2654435761L % 4000L, i)).toDF("id", "payload")
    lake.createTableClustered(shuffled, "main.clustered", clusterBy = Seq("id"), numFiles = 4)
    lake.table("main.clustered").count()
    assert(lake.lastScanFileCount == 4)
    lake.table("main.clustered", None, Seq(EqualTo("id", 17L))).count()
    assert(lake.lastScanFileCount == 1)
    lake.table("main.clustered", None,
      Seq(And(GreaterThanOrEqual("id", 100L), LessThan("id", 300L)))).count()
    assert(lake.lastScanFileCount <= 2)
  }

  test("z-order clustering prunes on BOTH dimensions") {
    import spark.implicits._
    import org.apache.spark.sql.sources.{And, GreaterThanOrEqual, LessThan}
    // 100×100 grid arriving in shuffled order
    val grid = scala.util.Random.shuffle((0 until 100).flatMap(x =>
      (0 until 100).map(y => (x, y, x * 100L + y)))).toDF("x", "y", "payload")
    lake.createTableZOrdered(grid, "main.zorder", "x", "y", numFiles = 16)
    lake.table("main.zorder").count()
    assert(lake.lastScanFileCount == 16)
    assert(lake.table("main.zorder").count() == 10000)
    // a narrow slab in x prunes most files...
    lake.table("main.zorder", None,
      Seq(And(GreaterThanOrEqual("x", 10), LessThan("x", 20)))).count()
    val xScanned = lake.lastScanFileCount
    // ...and so does a narrow slab in y (single-column sort can't do both)
    lake.table("main.zorder", None,
      Seq(And(GreaterThanOrEqual("y", 10), LessThan("y", 20)))).count()
    val yScanned = lake.lastScanFileCount
    assert(xScanned <= 8, s"x-slab scanned $xScanned of 16 files")
    assert(yScanned <= 8, s"y-slab scanned $yScanned of 16 files")
    // correctness of the slab content
    assert(lake.table("main.zorder", None,
        Seq(And(GreaterThanOrEqual("x", 10), LessThan("x", 20))))
      .filter(col("x") >= 10 && col("x") < 20).count() == 1000)
  }

  test("transform partitions: month(date) keeps source in data, prunes ranges") {
    import spark.implicits._
    val df = (0 until 360).map { i =>
      (i.toLong, java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)),
        i * 2.0)
    }.toDF("id", "odate", "amount")
    lake.createTableAs(df.repartition(3), "main.torders",
      partitionBy = Seq("month(odate)"))
    val back = lake.table("main.torders")
    assert(back.count() == 360)
    assert(back.columns.toSeq == Seq("id", "odate", "amount"))
    // the SOURCE column stays physically in the parquet (unlike identity)
    val aFile = lake.listFilesDF.filter(col("table_name") === "torders").head.getString(2)
    assert(spark.read.parquet(s"$root/data/main/torders/$aFile").columns.contains("odate"))
    val all = { lake.table("main.torders").count(); lake.lastScanFileCount }
    assert(all >= 12) // one+ file per month
    // a one-month window touches only that month's files
    val win = lake.table("main.torders", None, Seq(And(
      GreaterThanOrEqual("odate", java.sql.Date.valueOf("2024-03-01")),
      LessThan("odate", java.sql.Date.valueOf("2024-04-01")))))
    assert(win.filter(col("odate") >= "2024-03-01" && col("odate") < "2024-04-01")
      .count() == 31)
    assert(lake.lastScanFileCount <= all / 6)
    // appends re-derive the transform and inherit the spec
    lake.insertInto(Seq((1000L, java.sql.Date.valueOf("2024-02-15"), 1.0))
      .toDF("id", "odate", "amount"), "main.torders")
    assert(lake.table("main.torders").count() == 361)
    // CREATE OR REPLACE redefines the transform spec (full redefinition
    // semantics); appends still inherit whatever is current
    lake.createTableAs(df.coalesce(1), "main.torders_repart",
      partitionBy = Seq("month(odate)"))
    lake.createTableAs(df.coalesce(1), "main.torders_repart",
      partitionBy = Seq("day(odate)"))
    assert(lake.partitionColumnsOf("main.torders_repart") == Seq("day(odate)"))
  }

  test("transform partitions: bucket(8, id) prunes equality lookups") {
    import spark.implicits._
    val df = (1 to 400).map(i => (i.toLong, s"n$i")).toDF("id", "name")
    lake.createTableAs(df.coalesce(1), "main.tbucket",
      partitionBy = Seq("bucket(8, id)"))
    val all = { lake.table("main.tbucket").count(); lake.lastScanFileCount }
    assert(all >= 8) // most buckets populated with 400 keys
    val one = lake.table("main.tbucket", None, Seq(EqualTo("id", 42L)))
    assert(one.filter(col("id") === 42L).count() == 1)
    // id ranges overlap across bucket files, so ONLY the hash-bucket
    // check can prune here (footer min/max cannot)
    assert(lake.lastScanFileCount == 1)
  }

  test("transform partitions: hour(ts) prunes timestamp windows") {
    import spark.implicits._
    val base = java.time.LocalDateTime.of(2024, 5, 1, 0, 0)
    val df = (0 until 240).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(base.plusMinutes(i * 6L)), i * 1.0)
    }.toDF("id", "ts", "v") // 24 hours, 10 events/hour
    lake.createTableAs(df.coalesce(1), "main.thour", partitionBy = Seq("hour(ts)"))
    val all = { lake.table("main.thour").count(); lake.lastScanFileCount }
    assert(all >= 24)
    val win = lake.table("main.thour", None, Seq(And(
      GreaterThanOrEqual("ts", java.sql.Timestamp.valueOf("2024-05-01 07:00:00")),
      LessThan("ts", java.sql.Timestamp.valueOf("2024-05-01 09:00:00")))))
    assert(win.filter(col("ts") >= "2024-05-01 07:00:00" &&
      col("ts") < "2024-05-01 09:00:00").count() == 20)
    assert(lake.lastScanFileCount <= 2)
  }

  test("transform partitions: SQL PARTITIONED BY (months(...)), delta UPDATE") {
    spark.conf.set("spark.sql.catalog.dlpart",
      classOf[graft.lake.connector.DuckLakeSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.dlpart.metaDb", s"$root/meta")
    spark.conf.set("spark.sql.catalog.dlpart.dataPath", s"$root/data")
    spark.sql("""CREATE TABLE dlpart.main.tsql (
      id BIGINT, d DATE, v DOUBLE) PARTITIONED BY (months(d))""")
    spark.sql("""INSERT INTO dlpart.main.tsql VALUES
      (1, DATE'2024-01-05', 1.0), (2, DATE'2024-02-05', 2.0),
      (3, DATE'2024-02-20', 3.0)""")
    assert(spark.sql("SELECT * FROM dlpart.main.tsql").count() == 3)
    // partition values recorded month-wise
    val parts = lake.informationSchema("partitions")
      .filter(col("table_name") === "tsql").collect()
    assert(parts.length == 1 && parts.head.getString(5) == "month")
    // the delta (merge-on-read) writer derives the transform for new rows
    spark.sql("UPDATE dlpart.main.tsql SET v = v + 10 WHERE id = 2")
    val got = spark.sql("SELECT id, v FROM dlpart.main.tsql ORDER BY id").collect()
    assert(got.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 1.0), (2L, 12.0), (3L, 3.0)))
    // month files: Jan and Feb dirs → pruning on a Feb predicate
    val febCnt = spark.sql(
      "SELECT count(*) FROM dlpart.main.tsql WHERE d >= DATE'2024-02-01' AND d < DATE'2024-03-01'")
      .head.getLong(0)
    assert(febCnt == 2)
  }

  test("transform partitions: truncate prefix pruning and rewriteFiles grouping") {
    import spark.implicits._
    val df = (1 to 200).map(i =>
      (i.toLong, (if (i % 2 == 0) "alpha" else "beta") + s"-$i")).toDF("id", "name")
    lake.createTableAs(df.coalesce(1), "main.ttrunc",
      partitionBy = Seq("truncate(4, name)"))
    val all = { lake.table("main.ttrunc").count(); lake.lastScanFileCount }
    assert(all == 2) // alph / beta
    lake.table("main.ttrunc", None,
      Seq(org.apache.spark.sql.sources.StringStartsWith("name", "alpha"))).count()
    assert(lake.lastScanFileCount == 1)
    // MOR delete + targeted rewrite keeps the partition tuple intact
    lake.deleteWhere("main.ttrunc", col("id") % 2 === 1L && col("id") < 100L)
    lake.rewriteFiles("main.ttrunc", minDeleteRatio = 0.01)
    assert(lake.table("main.ttrunc").count() == 200 - 50)
    lake.table("main.ttrunc", None,
      Seq(org.apache.spark.sql.sources.StringStartsWith("name", "alpha"))).count()
    assert(lake.lastScanFileCount == 1) // rewritten file kept its partition value
  }

  test("information_schema('partitions') lists partition keys") {
    mkSales()
    val p = lake.informationSchema("partitions")
      .filter(col("table_name") === "sales").collect()
    assert(p.map(r => (r.getLong(2), r.getString(3), r.getString(4))).toSeq ==
      Seq((0L, "month", "varchar")))
  }

  test("SQL UPDATE on a partitioned table keeps partition values and pruning") {
    import spark.implicits._
    val df = (1 to 60).map(i => (i.toLong, s"g${i % 3}", i * 1.0)).toDF("id", "grp", "v")
    lake.createTableAs(df.coalesce(1), "main.upd_part", partitionBy = Seq("grp"))
    spark.conf.set("spark.sql.catalog.updpart",
      classOf[graft.lake.connector.DuckLakeSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.updpart.metaDb", s"$root/meta")
    spark.conf.set("spark.sql.catalog.updpart.dataPath", s"$root/data")
    spark.sql("UPDATE updpart.main.upd_part SET v = v + 1000 WHERE grp = 'g1'")
    val back = lake.table("main.upd_part")
    assert(back.count() == 60)
    assert(back.filter(col("grp") === "g1").filter(col("v") < 1000).count() == 0)
    assert(back.filter(col("grp") =!= "g1").filter(col("v") > 1000).count() == 0)
    // the rewrite re-registered per-partition files with catalog values:
    // pruning still works
    import org.apache.spark.sql.sources.EqualTo
    lake.table("main.upd_part", None, Seq(EqualTo("grp", "g2"))).count()
    val total = lake.listFilesDF.filter(col("table_name") === "upd_part").count().toInt
    assert(lake.lastScanFileCount < total && lake.lastScanFileCount >= 1)
    // and the physical files keep the partition column (full rows)
    val aFile = lake.listFilesDF.filter(col("table_name") === "upd_part").head.getString(2)
    assert(spark.read.parquet(s"$root/data/main/upd_part/$aFile").columns.contains("grp"))
  }

  test("SQL UPDATE on an encrypted lake re-encrypts the rewritten files") {
    import spark.implicits._
    val eroot = Files.createTempDirectory("dlpart-enc-upd").toString
    val enc = new DuckLake(spark, s"$eroot/meta", s"$eroot/data", encrypted = true)
    try {
      enc.createTableAs((1 to 30).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
        .coalesce(1), "main.enc_upd")
      spark.conf.set("spark.sql.catalog.encupd",
        classOf[graft.lake.connector.DuckLakeSparkCatalog].getName)
      spark.conf.set("spark.sql.catalog.encupd.metaDb", s"$eroot/meta")
      spark.conf.set("spark.sql.catalog.encupd.dataPath", s"$eroot/data")
      spark.sql("UPDATE encupd.main.enc_upd SET v = -v WHERE k <= 10")
      val got = enc.table("main.enc_upd")
      assert(got.count() == 30)
      assert(got.filter(col("v") < 0).count() == 10)
      // rewritten file carries a fresh catalog key and PME footer magic
      val f = enc.listFilesDF.filter(col("table_name") === "enc_upd").head.getString(2)
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$eroot/data/main/enc_upd/$f"))
      assert(new String(bytes.takeRight(4), "ASCII") == "PARE")
      intercept[Exception](spark.read.parquet(s"$eroot/data/main/enc_upd/$f").collect())
    } finally enc.close()
  }

  /** `select` over catalog `mixlake` (this suite's lake): the ids it
    * returns and the files its scans read.
    */
  private def mixedSql(select: String): (Seq[Long], Long) = {
    spark.conf.set("spark.sql.catalog.mixlake",
      classOf[graft.lake.connector.DuckLakeSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.mixlake.metaDb", s"$root/meta")
    spark.conf.set("spark.sql.catalog.mixlake.dataPath", s"$root/data")
    val df = spark.sql(select)
    (df.collect().map(_.getLong(0)).sorted.toSeq, graft.ScanMetrics.filesRead(df))
  }

  test("one table mixing stored, catalog and hive-path partition values: exact SQL rows and files") {
    import spark.implicits._
    // written before the table is partitioned: p stored in the one file
    lake.createTableAs(Seq((1L, Option(1L)), (2L, Option(2L)), (3L, None: Option[Long]))
      .toDF("id", "p").coalesce(1), "main.mixed")
    lake.setPartitionedBy("main.mixed", Seq("p"))
    // after it: one file per value, values in the catalog
    lake.insertInto(Seq((4L, Option(1L)), (5L, Option(2L)), (6L, None: Option[Long]))
      .toDF("id", "p").coalesce(1), "main.mixed")
    // adopted hive files: p only in the path, the null value as the
    // hive default partition
    Seq((7L, Option(1L)), (8L, Option(2L)), (9L, None: Option[Long])).toDF("id", "p")
      .coalesce(1).write.partitionBy("p").parquet(s"$root/mixed-hive")
    assert(new java.io.File(s"$root/mixed-hive/p=__HIVE_DEFAULT_PARTITION__").isDirectory)
    lake.addFiles("main.mixed", Seq(s"$root/mixed-hive"))
    val t = "mixlake.main.mixed"
    assert(mixedSql(s"SELECT id FROM $t")._1 == (1L to 9L))
    // the stored file's stats cover both values and a null: it is read
    // by every query below, with one file of each other kind
    assert(mixedSql(s"SELECT id FROM $t WHERE p = 1") == (Seq(1L, 4L, 7L), 3L))
    assert(mixedSql(s"SELECT id FROM $t WHERE p = 2") == (Seq(2L, 5L, 8L), 3L))
    assert(mixedSql(s"SELECT id FROM $t WHERE p IS NULL") == (Seq(3L, 6L, 9L), 3L))
    assert(mixedSql(s"SELECT id FROM $t WHERE p = 7") == (Nil, 0L))
  }

  test("a partition column renamed to a name an older epoch holds for another column") {
    import spark.implicits._
    lake.createTableAs(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "b", 30L))
      .toDF("id", "k", "x").coalesce(1), "main.shadowed", partitionBy = Seq("k"))
    // the files keep physical columns k (the partition column) and x,
    // which now belongs to y; the partition column takes the name x
    lake.renameColumn("main.shadowed", "x", "y")
    lake.renameColumn("main.shadowed", "k", "x")
    val t = "mixlake.main.shadowed"
    assert(mixedSql(s"SELECT y FROM $t WHERE x = 'b'") == (Seq(20L, 30L), 1L))
    assert(mixedSql(s"SELECT id FROM $t WHERE y = 10")._1 == Seq(1L))
    assert(spark.sql(s"SELECT id, x, y FROM $t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "b", 30L)))
  }

  test("a read's file partition values are those of its snapshot's files, before and after compact") {
    import spark.implicits._
    def rows(ks: Range) = ks.map(k => (k.toLong, (k % 3).toLong)).toDF("id", "p")
    lake.createTableAs(rows(1 to 60).repartition(2), "main.pv_compact", partitionBy = Seq("p"))
    lake.insertInto(rows(61 to 90).repartition(2), "main.pv_compact")
    val before = lake.currentSnapshot
    val sch = lake.store.getSchemaByName("main", before).get
    val tid = lake.store.getTableByName(sch.schemaId, "pv_compact", before).get.tableId
    def fileIds(snap: Long) = lake.store.getDataFiles(tid, snap).map(_.dataFileId).toSet
    val old = fileIds(before)
    assert(lake.store.getFilePartitionValues(tid, before, before).keySet == old)
    lake.compact("main.pv_compact")
    val after = lake.currentSnapshot
    assert(fileIds(after).intersect(old).isEmpty)
    assert(lake.store.getFilePartitionValues(tid, after, after).keySet == fileIds(after))
    // a range read still sees the values of the files it spans
    assert(lake.store.getFilePartitionValues(tid, after, before).keySet == old ++ fileIds(after))
    def counts(snap: Long) = lake.table("main.pv_compact", Some(snap)).groupBy("p").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts(before) == Map(0L -> 30L, 1L -> 30L, 2L -> 30L))
    assert(counts(after) == counts(before))
    assert(lake.table("main.pv_compact", Some(before), Seq(EqualTo("p", 1L)))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq == (1L to 90L).filter(_ % 3 == 1))
  }

  test("SQL surface: CREATE TABLE PARTITIONED BY + INSERT + pruned SELECT + readStream") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.partlake",
      classOf[graft.lake.connector.DuckLakeSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.partlake.metaDb", s"$root/meta")
    spark.conf.set("spark.sql.catalog.partlake.dataPath", s"$root/data")
    spark.sql(
      "CREATE TABLE partlake.main.plogs (id BIGINT, region STRING, v DOUBLE) PARTITIONED BY (region)")
    spark.sql("INSERT INTO partlake.main.plogs VALUES (1, 'eu', 1.0), (2, 'us', 2.0), (3, 'eu', 3.0)")
    val euSum = spark.sql("SELECT sum(v) FROM partlake.main.plogs WHERE region = 'eu'")
    assert(euSum.head.getDouble(0) == 4.0)
    // pruning happened in the SQL plan: only the 'eu' partition's files
    // were scanned (file-per-task layout may split a partition across
    // several files)
    val catalogLake = graft.lake.connector.DuckLakeSparkCatalog
      .cachedLake(s"$root/meta", s"$root/data").get
    val euScanned = graft.ScanMetrics.filesRead(euSum).toInt
    val total = catalogLake.listFilesDF
      .filter(col("table_name") === "plogs").count().toInt
    assert(euScanned >= 1 && euScanned < total,
      s"expected a strict subset of $total files, scanned $euScanned")
    // streaming read injects partition values from the catalog
    val q = spark.readStream.table("partlake.main.plogs")
      .writeStream.outputMode("append").format("memory")
      .queryName("plogs_rows").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("plogs_rows").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "eu"), (2L, "us"), (3L, "eu")))
  }
}
