package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Driver-contract insurance: the `SparkEntry` maps must BUILD without
  * throwing (a single bad entry would zero the whole round's correctness
  * gate) and stay mutually consistent.
  */
class EntrySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.lake.connector.GraftSparkExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("queries and oracleSql maps build; oracles reference declared queries") {
    val qs = SparkEntry.queries
    val os = SparkEntry.oracleSql
    assert(qs.nonEmpty)
    assert(os.keySet.subsetOf(qs.keySet),
      s"orphan oracles: ${os.keySet.diff(qs.keySet)}")
    assert(os.values.forall(s => s != null && s.trim.nonEmpty))
    assert(qs.size >= 60)
  }

  test("Bench headline names all resolve") {
    assert(Bench.headline.toSet.subsetOf(SparkEntry.queries.keySet))
  }

  test("entry() flagship returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("Tables.t memoizes the resolved relation per (session, dir, table)") {
    import graft.queries.Tables
    val dir = "/root/testdata/sf0.001"
    // same session + path → the SAME DataFrame instance (no repeated
    // file listing / footer schema inference — the r11 ResolveDataSource
    // fix), and it still answers queries
    val a = Tables.t(spark, dir, "nation")
    val b = Tables.t(spark, dir, "nation")
    assert(a eq b)
    assert(a.count() > 0)
    // distinct dirs resolve independently
    assert(!(Tables.t(spark, dir, "region") eq a))
    // a different session gets its own resolution (conf isolation)
    val s2 = spark.newSession()
    assert(!(Tables.t(s2, dir, "nation") eq a))
  }

  test("BenchSession.confs is the bench session's conf list, key for key") {
    // the list Bench built its session from before the harness shared one
    // session; a hand copy of it drifted once (no UTC zone, no
    // uncompressed shuffle, no 16384 reader batch)
    val cpus = BenchSession.cpus
    assert(BenchSession.confs == Seq(
      "spark.sql.extensions" -> "graft.lake.connector.GraftSparkExtensions",
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.shuffle.compress" -> "false",
      "spark.shuffle.spill.compress" -> "false",
      "spark.sql.parquet.columnarReaderBatchSize" -> "16384",
      "spark.sql.autoBroadcastJoinThreshold" -> "4m",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "4m",
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "256m",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "64m",
      "spark.ui.enabled" -> "false"))
    assert(cpus == sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
  }

  test("Diag.plan formats the plan of a query and of a variant") {
    val dir = "/root/testdata/sf0.001"
    Seq("q01_pricing_summary", "q04_inner_distinct").foreach { n =>
      val p = Diag.plan(spark, dir, n)
      assert(p.contains("== Physical Plan ==") && p.contains("Scan parquet"), s"$n:\n$p")
    }
  }

  test("Diag parses its options and names") {
    val a = Diag.parse(Seq("ab", "--dir", "/d", "--conf", "k=v=w", "q04_order_priority",
      "--flip", "spark.sql.adaptive.enabled=false", "q04_inner_distinct"))
    assert(a == Right(Diag.Args("ab", Some("/d"), Seq("k" -> "v=w"),
      Seq("spark.sql.adaptive.enabled" -> "false"),
      Seq("q04_order_priority", "q04_inner_distinct"))))
    assert(Diag.parse(Seq("corpus", "100")).isRight)
    assert(Diag.parse(Seq("paircount")).isRight)
  }

  test("Diag rejects bad arguments with its usage text") {
    val bad = Seq(
      Seq("plan", "no_such_query"),             // unknown name
      Seq("plan", "--conf", "x", "q01_pricing_summary"), // conf without =
      Seq("plan", "q01_pricing_summary", "--dir"),       // trailing --dir
      Seq("stages", "--conf", "=v", "q01_pricing_summary"),
      Seq("time", "q01_pricing_summary", "--bench"),
      Seq("plan", "--flip", "k=v", "q01_pricing_summary"),
      Seq("ab", "q01_pricing_summary"),
      Seq("corpus", "ten"),
      Seq("corpus", "100", "128"),
      Seq("paircount", "q01_pricing_summary"),
      Seq("dump", "q01_pricing_summary"),
      Seq.empty)
    bad.foreach { args =>
      val r = Diag.parse(args)
      assert(r.left.exists(_.endsWith(Diag.Usage)), s"${args.mkString(" ")} -> $r")
    }
  }
}
