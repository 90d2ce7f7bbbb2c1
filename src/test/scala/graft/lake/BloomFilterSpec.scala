package graft.lake.connector

import java.nio.file.Files

import graft.lake.DuckLake

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** `parquet_bloom_filter_columns` writer tuning. Beyond-reference
  * extension: the reference's scan path uses parquet bloom filters "if
  * available" (reference src/table.rs:593) but its writer never emits
  * them — this scoped option closes that loop, so an equality / IN
  * predicate on a high-cardinality UNSORTED key (the case min/max stats
  * can't prune) skips row groups at the reader. Asserted on BOTH write
  * paths: the V1 staged-append writer (DataFrameWriter options) and the
  * executor-side writers of the delta path (SQL UPDATE).
  */
class BloomFilterSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.lake.connector.GraftSparkExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val root = Files.createTempDirectory("dlbloom").toString
  private lazy val lake = new DuckLake(spark, s"$root/meta", s"$root/data")

  override def afterAll(): Unit = { lake.close(); spark.stop() }

  /** (bloomOffset of `column`) per parquet file under `dir`. */
  private def bloomOffsets(dir: String, column: String): Seq[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    fs.listStatus(new Path(dir)).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .flatMap { st =>
        val rd = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
        try rd.getFooter.getBlocks.asScala.map(
          _.getColumns.asScala.find(_.getPath.toDotString == column).get
            .getBloomFilterOffset)
        finally rd.close()
      }
  }

  test("V1 staged append writes blooms for the configured columns only") {
    import spark.implicits._
    val df = (1L to 2000L).map(i => (i * 7919L % 1000L, s"v$i")).toDF("id", "v")
    lake.createTableAs(df.limit(1), "main.bloomed")
    lake.setOption("parquet_bloom_filter_columns", "id", table = Some("bloomed"))
    lake.setOption("parquet_bloom_filter_fpp", "0.05", table = Some("bloomed"))
    lake.insertInto(df, "main.bloomed")
    val dir = s"$root/data/main/bloomed"
    // the CTAS file predates the option: some files have no bloom, the
    // post-option insert's do
    assert(bloomOffsets(dir, "id").exists(_ >= 0),
      "configured column should carry a bloom filter after the option is set")
    assert(bloomOffsets(dir, "v").forall(_ < 0),
      "unconfigured column must not carry a bloom filter")
    // scan correctness is unchanged
    assert(lake.table("main.bloomed").filter(col("id") === 42L).count() ==
      df.filter(col("id") === 42L).count() + (if (df.head.getLong(0) == 42L) 1 else 0))
  }

  test("encrypted table + bloom: scan correct, PARE magic, bloom readable only with the key") {
    import spark.implicits._
    import graft.lake.crypto.GraftCryptoFactory
    val eroot = Files.createTempDirectory("dlbloomenc").toString
    val elake = new DuckLake(spark, s"$eroot/meta", s"$eroot/data", encrypted = true)
    try {
      val df = (1L to 2000L).map(i => (i * 7919L % 1000L, s"p$i")).toDF("id", "v")
      elake.createTableAs(df.limit(1), "main.encbloom")
      elake.setOption("parquet_bloom_filter_columns", "id", table = Some("encbloom"))
      elake.insertInto(df, "main.encbloom")
      // scan correctness through the decrypting reader
      val expect = df.filter($"id" === 42L).count() +
        (if (df.head.getLong(0) == 42L) 1 else 0)
      assert(elake.table("main.encbloom").filter(col("id") === 42L).count() == expect)
      // catalog carries a per-file key; every data file is really
      // encrypted (PARE magic) and a keyless footer read fails
      val snap = elake.store.currentSnapshot
      val sch = elake.store.getSchemaByName("main", snap).get
      val tbl = elake.store.getTableByName(sch.schemaId, "encbloom", snap).get
      val files = elake.store.getDataFiles(tbl.tableId, snap)
      assert(files.nonEmpty && files.forall(_.encryptionKey.isDefined))
      val keyByName = files.map(f =>
        new Path(f.path).getName -> f.encryptionKey.get).toMap
      val conf = spark.sparkContext.hadoopConfiguration
      val dir = new Path(s"$eroot/data/main/encbloom")
      val fs = dir.getFileSystem(conf)
      val parqs = fs.listStatus(dir).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
      assert(parqs.nonEmpty)
      parqs.foreach { st =>
        val in = fs.open(st.getPath)
        val magic = new Array[Byte](4)
        try in.readFully(magic) finally in.close()
        assert(new String(magic, "US-ASCII") == "PARE", "footer must be encrypted")
        intercept[Exception] {
          ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf)).close()
        }
      }
      // with the catalog key, the footer opens and the configured column's
      // bloom is present on the post-option insert files (PME encrypts
      // bloom filters with the column key — same machinery, zero extra
      // wiring)
      val offs = parqs.flatMap { st =>
        val opts = org.apache.parquet.HadoopReadOptions.builder(conf, st.getPath)
          .withDecryption(
            GraftCryptoFactory.decryptionProps(keyByName(st.getPath.getName)))
          .build()
        val rd = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf), opts)
        try rd.getFooter.getBlocks.asScala.map(
          _.getColumns.asScala.find(_.getPath.toDotString == "id").get
            .getBloomFilterOffset).toSeq
        finally rd.close()
      }
      assert(offs.exists(_ >= 0),
        "bloom filter must survive parquet modular encryption")
    } finally elake.close()
  }

  test("control table without the option writes no blooms") {
    import spark.implicits._
    lake.createTableAs((1L to 500L).toDF("id").coalesce(1), "main.nobloom")
    assert(bloomOffsets(s"$root/data/main/nobloom", "id").forall(_ < 0))
  }

  test("SQL UPDATE delta files honor writer tuning and field ids") {
    import spark.implicits._
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val ts = java.sql.Timestamp.valueOf("2024-06-01 12:30:00")
    lake.createTableAs((1L to 2000L).map(i => (i, s"v$i", ts)).toDF("id", "v", "ts")
      .coalesce(1), "main.dbloom")
    lake.setOption("parquet_bloom_filter_columns", "id", table = Some("dbloom"))
    lake.setOption("parquet_bloom_filter_fpp", "0.05", table = Some("dbloom"))
    lake.setOption("parquet_compression", "gzip", table = Some("dbloom"))
    spark.conf.set("spark.sql.catalog.bloomcat", classOf[DuckLakeSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.bloomcat.metaDb", s"$root/meta")
    spark.conf.set("spark.sql.catalog.bloomcat.dataPath", s"$root/data")
    val dir = s"$root/data/main/dbloom"
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    def parquets = fs.listStatus(new Path(dir)).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") && !p.getName.endsWith("-delete.parquet")).toSet
    val before = parquets
    // dictionary disabled for the asserted column: parquet-mr correctly
    // SKIPS the bloom when a chunk stays fully dictionary-encoded (the
    // dictionary is already an exact membership structure the reader
    // prunes with). High-cardinality keys — the bloom's actual target —
    // overflow the dictionary page and get the bloom; this pins the
    // plumbing deterministically at test scale.
    spark.conf.set("parquet.enable.dictionary#id", "false")
    // EVEN ids only (2× the residues 0..999 — 7919 is coprime to 1000,
    // so all occur): every odd value in [1, 1997] is ABSENT but inside
    // the min/max range, so statistics pruning can never eliminate it —
    // only the bloom can
    try spark.sql("UPDATE bloomcat.main.dbloom SET id = (id * 7919 % 1000) * 2")
    finally spark.conf.unset("parquet.enable.dictionary#id")
    val fresh = (parquets -- before).toSeq
    assert(fresh.size == 1, s"expected one delta data file: $fresh")
    val out = fresh.head
    val rd = ParquetFileReader.open(HadoopInputFile.fromPath(out, conf))
    val absentNegative =
      try {
        val footer = rd.getFooter
        val block = footer.getBlocks.get(0)
        val columns = block.getColumns.asScala
        assert(columns.forall(_.getCodec == CompressionCodecName.GZIP),
          s"codec must follow parquet_compression: ${columns.map(_.getCodec)}")
        assert(columns.find(_.getPath.toDotString == "v").get.getBloomFilterOffset < 0,
          "unconfigured column must not carry a bloom filter")
        // top-level field ids are the catalog column ids
        val snap = lake.store.currentSnapshot
        val tbl = lake.store.getTableByName(
          lake.store.getSchemaByName("main", snap).get.schemaId, "dbloom", snap).get
        val catalogIds = lake.store.getTableColumns(tbl.tableId, snap)
          .map(c => c.name -> c.columnId).toMap
        val fields = footer.getFileMetaData.getSchema.getFields.asScala
        assert(fields.filter(f => catalogIds.contains(f.getName))
          .map(f => f.getName -> f.getId.intValue.toLong).toMap == catalogIds)
        val tsType = fields.find(_.getName == "ts").get.asPrimitiveType()
        assert(tsType.getPrimitiveTypeName == PrimitiveTypeName.INT64)
        assert(tsType.getLogicalTypeAnnotation
          .asInstanceOf[TimestampLogicalTypeAnnotation].getUnit == TimeUnit.MICROS)
        // the bloom is FUNCTIONAL, not just present: every written id
        // answers "might contain"; most absent ids answer "definitely
        // not" (fpp 0.05 → expect ~95/100 definite negatives; >50 is a
        // safe floor)
        val idCol = columns.find(_.getPath.toDotString == "id").get
        assert(idCol.getBloomFilterOffset >= 0, "configured column must carry a bloom filter")
        val bloom = rd.getBloomFilterDataReader(block).readBloomFilter(idCol)
        assert((0L to 999L).forall(x => bloom.findHash(bloom.hash(x * 2L))),
          "a written value must never be a definite negative")
        val odds = (1L to 199L by 2L)
        assert(odds.count(x => !bloom.findHash(bloom.hash(x))) > 50,
          "absent values should be mostly definite negatives")
        odds.find(x => !bloom.findHash(bloom.hash(x))).get
      } finally rd.close()
    // end-to-end row-group elimination through the same parquet-mr
    // filter path Spark's scan uses: an equality predicate on a
    // bloom-negative absent value drops the row group entirely (stats
    // alone could not — the value is in range); a present value keeps it
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    def survivingRowGroups(v: Long): Int = {
      val opts = org.apache.parquet.HadoopReadOptions.builder(conf, out)
        .withRecordFilter(FilterCompat.get(
          FilterApi.eq(FilterApi.longColumn("id"), java.lang.Long.valueOf(v))))
        .build()
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(out, conf), opts)
      try r.getRowGroups.size() finally r.close()
    }
    assert(survivingRowGroups(absentNegative) == 0,
      "bloom-negative point lookup must eliminate the row group")
    assert(survivingRowGroups(0L) == 1,
      "present-value lookup must keep the row group")
  }
}
