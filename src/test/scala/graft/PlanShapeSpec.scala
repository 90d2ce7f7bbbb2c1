package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, RowDataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, SortMergeJoinExec}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.lake.LakeFileIndex

/** Plan-shape regression guard for the hottest bench queries: pins the
  * physical-plan properties the 100 TB story depends on — dimension
  * joins broadcast, no cartesian products, parquet filter pushdown
  * reaching the scan, delete-free lake scans staying a single relation
  * (no per-file union) — so a future Catalyst/conf drift fails THIS
  * suite instead of silently regressing a bench round. The
  * deliberately-broken-conf test proves the guard actually flips. Lake
  * reads through the `dlplan` catalog must plan like raw parquet reads
  * of the same files.
  */
class PlanShapeSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  private val dir = "/root/testdata/sf0.001"
  private lazy val lakeRoot = Files.createTempDirectory("plan-shape-lake").toString

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.lake.connector.GraftSparkExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.catalog.dlplan",
      classOf[graft.lake.connector.DuckLakeSparkCatalog].getName)
    .config("spark.sql.catalog.dlplan.metaDb", s"$lakeRoot/meta")
    .config("spark.sql.catalog.dlplan.dataPath", s"$lakeRoot/data")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Static physical plan (AQE initial plan — what the cost-based
    * planner decided before runtime stats, i.e. what a fresh cluster
    * run starts from).
    */
  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  private val hot = Seq("q08_market_share", "dedup_minhash", "txt_lm_score",
    "pipe_curation", "ds_multisupp_returns")

  test("hot bench queries plan no cartesian product") {
    hot.foreach { n =>
      val p = planOf(n)
      assert(!p.contains("CartesianProduct"), s"$n plans a cartesian:\n$p")
    }
  }

  test("dimension joins broadcast in the hot queries") {
    Seq("q08_market_share", "txt_lm_score", "pipe_curation").foreach { n =>
      val p = planOf(n)
      assert(p.contains("BroadcastHashJoin"),
        s"$n lost its broadcast dimension join:\n$p")
    }
  }

  test("filter pushdown reaches the parquet scan (q06)") {
    val p = planOf("q06_forecast_revenue")
    assert(raw"PushedFilters: \[[^\]]".r.findFirstIn(p).isDefined,
      s"q06 scan has no pushed filters:\n$p")
  }

  test("new r13 ops plan no cartesian; span coverage joins hash-keyed") {
    Seq("dedup_span_coverage", "dedup_incremental", "pipe_quantile_filter",
        "txt_top_ngrams", "dedup_keep_best").foreach { n =>
      val p = planOf(n)
      assert(!p.contains("CartesianProduct"), s"$n plans a cartesian:\n$p")
    }
    // the dup-hash join-back must be keyed (hash or sort-merge on the
    // gram hash), never a nested loop over the exploded gram stream
    val span = planOf("dedup_span_coverage")
    assert(!span.contains("BroadcastNestedLoopJoin"),
      s"span coverage degraded to a nested loop:\n$span")
  }

  test("LSH sketch expressions are evaluated once per row (no filter-side copy)") {
    // r16: collapseMarked's null-key filter used to be pushed below the
    // sketch projection, so `isnotnull(minhash_bands(...))` sat in a
    // Filter next to the `minhash_bands(...) AS __bands` Project and the
    // whole sketch (tokenize + gram + N hashes) ran TWICE per row — the
    // dominant map-side CPU of every LSH op at any scale. The filter now
    // tests the materialized key attribute above the collapse window;
    // this pins that no Filter condition re-states the sketch.
    Seq("dedup_minhash" -> "minhash_bands", "dedup_simhash" -> "simhash64")
      .foreach { case (q, expr) =>
        val p = planOf(q)
        val dup = p.linesIterator.filter(_.contains(s"isnotnull($expr("))
        assert(dup.isEmpty,
          s"$q re-evaluates $expr inside a filter condition:\n$p")
      }
    // pipe_curation's quality threshold: the same mechanism via alias
    // substitution — the generator boundary must keep the scoring
    // expression out of every Filter (one text_stats pass per row)
    val cur = planOf("pipe_curation")
    val scoredFilter = cur.linesIterator
      .filter(l => l.contains("Filter") && l.contains("text_stats("))
    assert(scoredFilter.isEmpty,
      s"pipe_curation re-scores text inside a filter condition:\n$cur")
  }

  test("LSH sketch single evaluation: positive count + every collapseMarked consumer") {
    // r16 ADVICE: the negative string pin above could go vacuous on a
    // Spark plan-format change. Positive invariant: the sketch-defining
    // expression occurs an exact small number of times in the whole
    // plan (dedup_minhash after the r16 fix: 2 — one per union branch,
    // projection only; the broken shape carried 4). Plus the consumers
    // the negative pin didn't cover: the md5 twins and the cosine
    // near-dup path.
    // counted as expression nodes of the plan tree, subqueries included
    def occ(q: String, fn: String): Int = {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
      collectWithSubqueries(plan) { case node =>
        node.expressions.map(_.collect { case e if e.prettyName == fn => e }.size).sum
      }.sum
    }
    assert(occ("dedup_minhash", "minhash_bands") == 2,
      "dedup_minhash must evaluate minhash_bands exactly twice " +
        "(found+eligible branches), once per row each")
    assert(occ("dedup_simhash", "simhash64") == 2,
      "dedup_simhash must evaluate simhash64 exactly twice " +
        "(found+eligible branches), once per row each")
    // md5 twins: the band array is a post-aggregate attribute, so the
    // duplication mechanism would surface as a Filter re-stating the
    // md5 banding expression next to its defining aggregate
    Seq("dedup_minhash_md5", "dedup_simhash_md5").foreach { q =>
      val p = planOf(q)
      val bad = p.linesIterator
        .filter(l => l.contains("Filter") && l.contains("md5("))
      assert(bad.isEmpty,
        s"$q re-evaluates the md5 sketch inside a filter:\n${bad.mkString("\n")}")
    }
    // cosine near-dup: the dedup_embedding GATE is a deliberate exact
    // cross-join fixture, so pin the operator itself — the hyperplane
    // signature (vec_dot against literal planes) must stay out of every
    // Filter, and exist somewhere (non-vacuous)
    val embDf = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as v")
    val cp = graft.ops.Similarity.cosineNearDupPairs(
      embDf, "vec_id", "v", dim = 64, threshold = 0.9, nBits = 8)
      .queryExecution.executedPlan.toString
    assert(cp.contains("vec_dot("),
      "cosine near-dup plan lost its native signature expression (pin vacuous)")
    val cbad = cp.linesIterator
      .filter(l => l.contains("Filter") && l.contains("vec_dot("))
    assert(cbad.isEmpty,
      s"cosine near-dup re-evaluates signatures inside a filter:\n${cbad.mkString("\n")}")
  }

  test("quantile filter's threshold join-back is the small side (no fact-side rebuild)") {
    // the per-stratum threshold table is an aggregate of the input; the
    // join back must not plan the AGGREGATE as the streamed/probe side
    // of a nested loop — hash/sort-merge keyed on the stratum is the pin
    val p = planOf("pipe_quantile_filter")
    assert(p.contains("Join") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"quantile filter join shape regressed:\n$p")
  }

  test("delete-free lake scan is one relation, not a per-file union") {
    val p = planOf("lake_scan_agg")
    assert(!p.contains("Union"),
      s"delete-free lake scan degraded to a per-file union:\n$p")
  }

  private val q05Tables = Seq("region", "nation", "customer", "supplier", "orders", "lineitem")

  /** The q05 tables in the lake, adopted in place from the raw files. */
  private lazy val adopted: Unit = q05Tables.foreach { t =>
    val path = s"$dir/$t.parquet"
    spark.sql(s"CREATE TABLE dlplan.main.$t (${spark.read.parquet(path).schema.toDDL})")
    spark.sql(s"CALL dlplan.system.add_files('main.$t', '$path')").collect()
  }

  /** Static physical plan (before execution) of `sqlText` over the lake. */
  private def lakePlan(sqlText: String): SparkPlan = {
    adopted
    spark.sql("USE dlplan.main")
    try spark.sql(sqlText).queryExecution.executedPlan
    finally spark.sql("USE spark_catalog.default")
  }

  /** Static physical plan of `sqlText` over temp views of the raw files. */
  private def rawPlan(sqlText: String): SparkPlan = {
    q05Tables.foreach(t =>
      spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t))
    try spark.sql(sqlText).queryExecution.executedPlan
    finally q05Tables.foreach(spark.catalog.dropTempView)
  }

  private def joinCounts(p: SparkPlan): (Int, Int) =
    (collectWithSubqueries(p) { case j: SortMergeJoinExec => j }.size,
      collectWithSubqueries(p) { case j: BroadcastHashJoinExec => j }.size)

  test("lake q05 plans raw parquet's join strategies before execution") {
    val q = graft.queries.Tpch.oracle("q05_local_supplier_volume")
    val (rawSmj, rawBhj) = joinCounts(rawPlan(q))
    val (lakeSmj, lakeBhj) = joinCounts(lakePlan(q))
    assert(rawBhj > 0, "the raw plan broadcasts nothing: the pin is vacuous")
    assert(lakeSmj == rawSmj && lakeBhj >= rawBhj,
      s"lake q05: $lakeSmj sort-merge / $lakeBhj broadcast joins; " +
        s"raw: $rawSmj / $rawBhj")
  }

  test("a SQL lake read plans a parquet FileScan, not a row-RDD scan") {
    val p = lakePlan("SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 100")
    val scans = collectWithSubqueries(p) { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty &&
      scans.forall(_.relation.fileFormat.isInstanceOf[ParquetFileFormat]), p.toString)
    assert(collectWithSubqueries(p) { case s: RowDataSourceScanExec => s }.isEmpty,
      p.toString)
  }

  private def fileScans(p: SparkPlan): Seq[FileSourceScanExec] =
    collectWithSubqueries(p) { case s: FileSourceScanExec => s }

  test("a SQL lake read analyzes to parquet relations over the lake file index") {
    adopted
    val analyzed = spark.sql(
      "SELECT o_orderkey FROM dlplan.main.orders WHERE o_orderkey < 100").queryExecution.analyzed
    val lakeRelations = analyzed.collect {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] &&
          l.relation.asInstanceOf[HadoopFsRelation].location.isInstanceOf[LakeFileIndex] => l
    }
    assert(lakeRelations.nonEmpty, analyzed.toString)
    assert(analyzed.collect { case r: DataSourceV2Relation => r }.isEmpty, analyzed.toString)
  }

  test("a lake read of one struct field reads only that field") {
    spark.sql("CREATE TABLE dlplan.main.structplan (id BIGINT, info STRUCT<a: INT, b: STRING>)")
    spark.sql("INSERT INTO dlplan.main.structplan " +
      "SELECT id, named_struct('a', CAST(id AS INT), 'b', CAST(id AS STRING)) FROM range(100)")
    val df = spark.sql("SELECT info.b FROM dlplan.main.structplan")
    val scans = fileScans(df.queryExecution.executedPlan)
    assert(scans.size == 1, df.queryExecution.executedPlan.toString)
    assert(scans.head.metadata("ReadSchema") == "struct<info:struct<b:string>>",
      scans.head.metadata("ReadSchema"))
    assert(df.collect().map(_.getString(0)).toSet == (0 until 100).map(_.toString).toSet)
  }

  test("a delete-free lake scan stays columnar with raw parquet's pushed filters") {
    val q = "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 100"
    val lake = fileScans(lakePlan(q))
    val raw = fileScans(rawPlan(q))
    assert(lake.size == 1 && raw.size == 1, s"lake: $lake, raw: $raw")
    assert(lake.head.supportsColumnar, s"lake scan is not Batched:\n${lake.head}")
    assert(lake.head.metadata("PushedFilters") == raw.head.metadata("PushedFilters"),
      s"lake ${lake.head.metadata("PushedFilters")} vs raw ${raw.head.metadata("PushedFilters")}")
  }

  test("a MOR lake read plans no join or broadcast and one scan per epoch group") {
    spark.sql("CREATE TABLE dlplan.main.morplan (id BIGINT, v BIGINT)")
    (0 until 3).foreach { f =>
      spark.sql(s"INSERT INTO dlplan.main.morplan " +
        s"SELECT id, id * 2 FROM range(${f * 1000}, ${f * 1000 + 1000})")
    }
    spark.sql("DELETE FROM dlplan.main.morplan WHERE id % 10 = 0")
    val df = spark.sql("SELECT sum(v) FROM dlplan.main.morplan WHERE id < 1500")
    val p = df.queryExecution.executedPlan
    assert(collectWithSubqueries(p) { case j: BaseJoinExec => j }.isEmpty, s"MOR read joins:\n$p")
    assert(collectWithSubqueries(p) { case b: BroadcastExchangeExec => b }.isEmpty,
      s"MOR read broadcasts:\n$p")
    val scans = fileScans(p)
    assert(scans.size == 1, s"expected one scan for the one epoch group:\n$p")
    assert(scans.head.supportsColumnar, s"MOR scan is not Batched:\n$p")
    assert(scans.head.metadata("PushedFilters").contains("LessThan(id,1500)"),
      s"the query filter does not reach the MOR scan:\n$p")
    assert(df.head.getLong(0) == (0L until 1500L).filter(_ % 10 != 0).map(_ * 2).sum)
  }

  test("a virtual-column read of a 16-file table analyzes to one relation and skips files") {
    spark.sql("CREATE TABLE dlplan.main.vcplan (id BIGINT, v BIGINT)")
    (0 until 16).foreach { f =>
      spark.sql(s"INSERT INTO dlplan.main.vcplan " +
        s"SELECT id, id * 2 FROM range(${f * 100}, ${f * 100 + 100}, 1, 1)")
    }
    val df = spark.sql("SELECT max(rowid) FROM dlplan.main.vcplan WHERE id < 100")
    val relations = df.queryExecution.analyzed.collect { case l: LogicalRelation => l }
    assert(relations.size == 1, df.queryExecution.analyzed.toString)
    assert(graft.ScanMetrics.filesRead(df) == 1)
    assert(df.head.getLong(0) == 99L)
  }

  test("a filter on a NOT NULL lake column reaches the parquet scan") {
    spark.sql("CREATE TABLE dlplan.main.nnplan (id BIGINT NOT NULL, v BIGINT)")
    spark.sql("INSERT INTO dlplan.main.nnplan SELECT id, id * 2 FROM range(100)")
    val df = spark.sql("SELECT id, v FROM dlplan.main.nnplan WHERE id = 5")
    val scans = fileScans(df.queryExecution.executedPlan)
    assert(scans.size == 1, df.queryExecution.executedPlan.toString)
    assert(scans.head.metadata("PushedFilters").contains("EqualTo(id,5)"),
      scans.head.metadata("PushedFilters"))
    assert(!df.schema("id").nullable)
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((5L, 10L)))
  }

  test("a 64-partition lake table analyzes to one relation") {
    spark.sql("CREATE TABLE dlplan.main.part64 (id BIGINT, v BIGINT, p BIGINT) PARTITIONED BY (p)")
    spark.sql("INSERT INTO dlplan.main.part64 SELECT id, id * 2, id % 64 FROM range(6400)")
    val df = spark.sql("SELECT sum(v) FROM dlplan.main.part64")
    val relations = df.queryExecution.analyzed.collect { case l: LogicalRelation => l }
    assert(relations.size == 1, df.queryExecution.analyzed.toString)
    assert(df.head.getLong(0) == (0L until 6400L).map(_ * 2).sum)
  }

  /** `fact` (8 partitions of `p`, 100 rows each) joined to a lake
    * dimension filtered to `p = 3`: the executed plan, the fact scan and
    * the fact ids returned, from one execution.
    */
  private def dppJoin(fact: String): (String, FileSourceScanExec, Seq[Long]) = {
    spark.sql("CREATE TABLE IF NOT EXISTS dlplan.main.dppdim (p BIGINT, name STRING)")
    if (spark.table("dlplan.main.dppdim").isEmpty)
      spark.sql("INSERT INTO dlplan.main.dppdim SELECT id, concat('x', id) FROM range(8)")
    val df = spark.sql(s"SELECT f.id FROM dlplan.main.$fact f " +
      "JOIN dlplan.main.dppdim d ON f.p = d.p WHERE d.name = 'x3'")
    val ids = df.collect().map(_.getLong(0)).sorted.toSeq
    val plan = df.queryExecution.executedPlan
    val factScans = collectWithSubqueries(plan) {
      case s: FileSourceScanExec if s.relation.location.inputFiles.exists(_.contains(s"/$fact/")) => s
    }
    assert(factScans.size == 1, plan.toString)
    (plan.toString, factScans.head, ids)
  }

  test("a partitioned lake fact scan joined to a filtered dimension plans dynamic pruning") {
    spark.sql("CREATE TABLE dlplan.main.dppfact (id BIGINT, v BIGINT, p BIGINT) PARTITIONED BY (p)")
    spark.sql("INSERT INTO dlplan.main.dppfact SELECT id, id * 2, id % 8 FROM range(800)")
    val (plan, scan, ids) = dppJoin("dppfact")
    assert(plan.contains("dynamicpruning"), plan)
    val files = scan.metrics("numFiles").value
    val pointFiles = graft.ScanMetrics.filesRead(
      spark.sql("SELECT id FROM dlplan.main.dppfact WHERE p = 3"))
    val allFiles = graft.ScanMetrics.filesRead(spark.sql("SELECT id FROM dlplan.main.dppfact"))
    assert(pointFiles >= 1 && pointFiles < allFiles && files == pointFiles,
      s"fact scan read $files files, p = 3 has $pointFiles of $allFiles")
    assert(ids == (0L until 800L).filter(_ % 8 == 3))
  }

  test("dynamic pruning of a partitioned MOR lake scan returns the live rows, columnar") {
    spark.sql("CREATE TABLE dlplan.main.dppmor (id BIGINT, v BIGINT, p BIGINT) PARTITIONED BY (p)")
    spark.sql("INSERT INTO dlplan.main.dppmor SELECT id, id * 2, id % 8 FROM range(800)")
    spark.sql("DELETE FROM dlplan.main.dppmor WHERE id % 5 = 0")
    val (plan, scan, ids) = dppJoin("dppmor")
    assert(plan.contains("dynamicpruning"), plan)
    assert(scan.supportsColumnar, s"the MOR fact scan is not Batched:\n$plan")
    assert(ids == (0L until 800L).filter(i => i % 8 == 3 && i % 5 != 0))
  }

  /** The physical plan a SQL MERGE of `source` into `dlplan.main.mrgplan`
    * ran, with its metrics.
    */
  private def mergePlan(source: String): SparkPlan =
    spark.sql(s"MERGE INTO dlplan.main.mrgplan t USING ($source) s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *")
      .queryExecution.executedPlan match { case c: CommandResultExec => c.commandPhysicalPlan }

  private def semiJoins(p: SparkPlan): Seq[BaseJoinExec] =
    collectWithSubqueries(p) { case j: BaseJoinExec if j.joinType == LeftSemi => j }

  test("a lake MERGE semi-joins its target on a small deterministic source before the exchange") {
    spark.sql("CREATE TABLE dlplan.main.mrgplan (id BIGINT, v BIGINT)")
    (0 until 16).foreach { f =>
      spark.sql(s"INSERT INTO dlplan.main.mrgplan " +
        s"SELECT id, id * 2 FROM range(${f * 100}, ${f * 100 + 100}, 1, 1)")
    }
    // 10 source rows: ids 0, 200, …, 1400 match, 1600 and 1800 are new
    val p = mergePlan("SELECT id * 200 AS id, -id AS v FROM range(10)")
    val targetSide = collectWithSubqueries(p) {
      case e: ShuffleExchangeExec if e.exists {
        case j: BroadcastHashJoinExec => j.joinType == LeftSemi
        case _                        => false
      } => e
    }
    assert(targetSide.size == 1, s"no semi-join below the target's exchange:\n$p")
    val written = targetSide.head.metrics("shuffleRecordsWritten").value
    assert(written <= 10, s"the target side shuffled $written rows:\n$p")
    val Array(n, sum) = spark.sql("SELECT count(*), sum(v) FROM dlplan.main.mrgplan")
      .head.toSeq.map(_.asInstanceOf[Long]).toArray
    assert(n == 1602 && sum == (0L until 1600L).map(_ * 2).sum -
      (0L until 8L).map(_ * 400).sum - (0L until 10L).sum)

    // not vacuous: no semi-join without a broadcast threshold, over a
    // nondeterministic source (the optimizer folds `rand() < 1` away), or
    // over a source two reads of which may differ (LIMIT without ORDER BY)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try assert(semiJoins(mergePlan("SELECT id * 200 AS id, -id AS v FROM range(10)")).isEmpty)
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(semiJoins(mergePlan(
      "SELECT id * 200 AS id, -id AS v FROM range(10) WHERE rand(7) < 0.9999")).isEmpty)
    assert(semiJoins(mergePlan("SELECT id * 200 AS id, -id AS v FROM range(100) LIMIT 10"))
      .isEmpty)
  }

  test("the guard flips when broadcast planning is disabled (not vacuous)") {
    // Option(…) inside: adaptive.autoBroadcastJoinThreshold defaults to a
    // NULL value — it must round-trip as unset, not as set(null)
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> scala.util.Try(Option(spark.conf.get(k))).toOption.flatten)
    try {
      saved.foreach { case (k, _) => spark.conf.set(k, "-1") }
      val p = planOf("q08_market_share")
      assert(!p.contains("BroadcastHashJoin"),
        "disabling broadcast thresholds must remove the static broadcast " +
          s"join, or this guard tests nothing:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
