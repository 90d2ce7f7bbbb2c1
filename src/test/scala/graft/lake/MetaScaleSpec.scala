package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources.EqualTo
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Metadata-planning latency at catalog scale: a 100 TB lake is ~100k
  * data files per large table, and every planned scan pays the catalog
  * round trips (file listing, stats fetch, prune). This spec bulk-loads
  * a synthetic 100k-file / 300k-stats-row catalog and pins the planning
  * path under a 1 s quiet-host budget end to end — the budget the
  * scan-planning indexes (MetadataStore.ensureSchema) exist to protect.
  * The reference roadmaps metadata caching for the same hot path
  * (src/metadata_provider.rs:569).
  *
  * Budgets are CALIBRATION-SCALED, not absolute (r13 verdict task 2):
  * the bench VM is burstable, and in a depleted window identical code
  * times ~3x slower — an absolute `< 1000 ms` assertion then fails on
  * host state, not on a planning regression. Each budget is multiplied
  * by max(1, measured-probe / quiet-host-nominal), so it expands under
  * load and never shrinks below the quiet-host value.
  */
class MetaScaleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.lake.connector.GraftSparkExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val root = Files.createTempDirectory("dl-metascale").toString
  private lazy val lake = new DuckLake(spark, s"$root/meta", s"$root/data")

  private val NumFiles = 100000
  private val RowsPerFile = 1000L

  override def afterAll(): Unit = { lake.close(); spark.stop() }

  /** Host-load scaling for the wall-clock budgets: ≥1 always. */
  private lazy val slowdown =
    math.max(1.0, graft.Calibration.stQuick() / graft.Calibration.NominalStSec)
  private def budgetMs(quietMs: Double) = quietMs * slowdown

  private def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  test(s"scan planning stays in its calibrated budget with $NumFiles files in the catalog") {
    import spark.implicits._
    info(f"host slowdown factor: $slowdown%.2fx (budgets scale with it)")
    lake.createTableAs(
      Seq((1L, "seed")).toDF("id", "tag").coalesce(1), "main.big")
    val snapBase = lake.currentSnapshot
    val tr = lake.store.getSchemaByName("main", snapBase)
      .flatMap(s => lake.store.getTableByName(s.schemaId, "big", snapBase)).get
    val cols = lake.store.getTableColumns(tr.tableId, snapBase)
    val idCol = cols.find(_.name == "id").get.columnId

    // bulk-load synthetic file + stats rows through a second embedded-
    // Derby connection (same db, same JVM) — the fixture mimics 100k
    // committed appends without paying 100k real snapshots
    val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:$root/meta")
    try {
      conn.setAutoCommit(false)
      val pf = conn.prepareStatement(
        """INSERT INTO ducklake_data_file(data_file_id, table_id, path,
          |  path_is_relative, record_count, file_size_bytes, footer_size,
          |  begin_snapshot, end_snapshot, encryption_key, write_epoch,
          |  mapping_id, row_id_start, partition_id)
          |VALUES (?, ?, ?, true, ?, 1048576, 1024, ?, NULL, NULL, 0, NULL, ?, NULL)"""
          .stripMargin)
      val ps = conn.prepareStatement(
        """INSERT INTO ducklake_file_column_stats(data_file_id, table_id,
          |  column_id, value_count, null_count, min_value, max_value)
          |VALUES (?, ?, ?, ?, 0, ?, ?)""".stripMargin)
      def canon(v: Long) = FileStats.canonicalValue(
        org.apache.spark.sql.types.LongType, v).get
      var i = 0
      while (i < NumFiles) {
        val fid = 1000000L + i
        val lo = i * RowsPerFile
        pf.setLong(1, fid); pf.setLong(2, tr.tableId)
        pf.setString(3, s"synth_$i.parquet")
        pf.setLong(4, RowsPerFile); pf.setLong(5, snapBase)
        pf.setLong(6, lo)
        pf.addBatch()
        ps.setLong(1, fid); ps.setLong(2, tr.tableId); ps.setLong(3, idCol)
        ps.setLong(4, RowsPerFile)
        ps.setString(5, canon(lo)); ps.setString(6, canon(lo + RowsPerFile - 1))
        ps.addBatch()
        i += 1
        if (i % 5000 == 0) { pf.executeBatch(); ps.executeBatch() }
      }
      pf.executeBatch(); ps.executeBatch()
      conn.commit()
      pf.close(); ps.close()
    } finally conn.close()

    // warm one round (Derby page cache), then measure the UNCACHED path
    lake.store.getDataFiles(tr.tableId, snapBase)
    lake.store.clearPlanCache()

    val (files, listMs) = timeMs(lake.store.getDataFiles(tr.tableId, snapBase))
    assert(files.size == NumFiles + 1)
    info(f"file listing: $listMs%.0f ms for ${files.size} files")
    assert(listMs < budgetMs(1000),
      f"file listing took $listMs%.0f ms (budget ${budgetMs(1000)}%.0f ms)")

    // stats-based pruning: point filter must keep exactly the one
    // synthetic file whose [min,max] covers the key (plus the seed file,
    // whose stats cover id=1 only) — measured uncached
    lake.store.clearPlanCache()
    val (kept, pruneMs) = timeMs(
      lake.pruneDataFiles(lake.pin("main.big", snapBase), files,
        Seq(EqualTo("id", 50000500L))))
    info(f"stats pruning: $pruneMs%.0f ms, kept ${kept.size} of ${files.size}")
    assert(kept.size == 1, s"expected 1 surviving file, got ${kept.size}")
    assert(pruneMs < budgetMs(1000),
      f"pruning took $pruneMs%.0f ms (budget ${budgetMs(1000)}%.0f ms)")

    // the whole planning round trip (list + prune) also fits the budget
    val (_, planMs) = timeMs {
      val fs = lake.store.getDataFiles(tr.tableId, snapBase)
      lake.pruneDataFiles(lake.pin("main.big", snapBase), fs, Seq(EqualTo("id", 99999999L)))
    }
    info(f"full planning round trip: $planMs%.0f ms")
    assert(planMs < budgetMs(1000),
      f"planning took $planMs%.0f ms (budget ${budgetMs(1000)}%.0f ms)")

    // ---- planning cache (reference roadmap: metadata caching) ----
    // repeat plans against an unchanged catalog answer from the cache:
    // one snapshot-id probe instead of the 100k-row listing
    val (cachedFiles, cachedMs) = timeMs(
      lake.store.getDataFiles(tr.tableId, snapBase))
    assert(cachedFiles.size == NumFiles + 1)
    info(f"cached file listing: $cachedMs%.1f ms")
    assert(cachedMs < budgetMs(100),
      f"cached listing took $cachedMs%.1f ms (budget ${budgetMs(100)}%.0f ms, expected ~1 ms)")

    // any commit invalidates: the cache must never serve a stale listing
    lake.insertInto(
      Seq((999999999L, "fresh")).toDF("id", "tag").coalesce(1), "main.big")
    val snapNew = lake.currentSnapshot
    assert(lake.store.getDataFiles(tr.tableId, snapNew).size == NumFiles + 2,
      "post-commit plan must see the new file")
    // the old snapshot's listing stays pre-append (snapshot isolation)
    assert(lake.store.getDataFiles(tr.tableId, snapBase).size == NumFiles + 1)
  }
}
