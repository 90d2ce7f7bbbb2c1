package lakebench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.lake.DuckLake
import graft.lake.connector.DuckLakeSparkCatalog

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    corpus: String, run: String, cores: Int)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("corpus"), need("run"), need("cores").toInt)
  }
}

/** One workload: a lake set-up on a fresh lake, a pass of timed
  * operations repeated for the run's duration, and an optional tail after
  * the last pass.
  */
trait Workload {
  /** Untimed work before the set-up (models for the output checks). */
  def prepare(c: Ctx): Unit = ()
  def setup(c: Ctx): Unit
  def pass(c: Ctx): Unit
  /** Unrecorded passes an untraced run makes before its timed ones (the
    * traced run always makes one).
    */
  def warmups: Int = 0
  def finish(c: Ctx): Unit = ()
  /** The tables whose files count toward `storage_mb`. */
  def tables: Seq[String]
}

/** What one run shares: the session, the lake under test, the tracer (in
  * the traced run only), the run's random source and its accounting.
  */
final class Ctx(val spark: SparkSession, val args: Args) {
  val rng = new scala.util.Random(args.seed)
  var trace: Option[Trace] = None
  val lakeRoot = s"${args.run}/lake"
  private var current: Option[DuckLake] = None
  def lake: DuckLake = current.getOrElse(sys.error("no lake set up"))

  /** Close the previous lake, if any, and open an empty one at the same
    * paths the `ducklake` catalog is configured with.
    */
  def freshLake(): DuckLake = {
    closeLake()
    val l = new DuckLake(spark, s"$lakeRoot/meta", s"$lakeRoot/data")
    DuckLakeSparkCatalog.adopt(l)
    current = Some(l)
    l
  }
  /** A fresh lake that adopts each corpus table in place: CREATE TABLE
    * through the catalog, then `addFiles` on the table's directory.
    */
  def adopt(names: Seq[String]): Unit = {
    val l = freshLake()
    names.foreach { t =>
      spark.sql(s"CREATE TABLE ducklake.main.$t (${spark.read.parquet(corpus(t)).schema.toDDL})")
      l.addFiles(s"main.$t", Seq(corpus(t)))
    }
  }

  def closeLake(): Unit = {
    current.foreach { l => DuckLakeSparkCatalog.forget(l); l.close() }
    current = None
    Main.deleteTree(new File(lakeRoot))
  }

  /** True during an unrecorded warm-up pass. */
  var warmup = false
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer[String]()
  val queryMs = mutable.ArrayBuffer[Double]()
  var passMs = 0.0

  /** The corpus directory of one table. */
  def corpus(table: String): String = s"${args.corpus}/$table"

  /** Record an output check; a mismatch fails the operation. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) {
    failed += 1
    if (problems.size < 20) problems += s"mismatch: $what"
  }

  /** Run one operation, counting it as attempted and, if it throws, failed. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body) catch {
      case NonFatal(e) =>
        failed += 1
        if (problems.size < 20) problems += s"$what: ${e.toString.take(300)}"
        None
    }
  }

  var probes = 0
  var probeFailures = 0

  /** A known-defect probe: an operation the program is known to fail.
    * It is not a workload operation: it is neither timed nor counted in
    * `attempted`/`failed`, so a fix moves only the traced run's
    * `defect.failed`.
    */
  def probe(what: String)(body: => Unit): Unit = {
    probes += 1
    try body catch {
      case NonFatal(e) =>
        probeFailures += 1
        System.err.println(s"[lakebench] known defect, $what: ${e.toString.take(200)}")
    }
  }

  /** A timed read: its latency is a query sample and part of the pass. */
  def read(what: String, build: () => DataFrame): Option[Array[Row]] =
    attempt(what) {
      val (rows, ms) = trace match {
        case Some(t) => t.read(lake, build)
        case None =>
          val t0 = System.nanoTime()
          val r = build().collect()
          (r, (System.nanoTime() - t0) / 1e6)
      }
      if (!warmup) queryMs += ms
      passMs += ms
      rows
    }

  def sql(what: String, text: String): Option[Array[Row]] = read(what, () => spark.sql(text))

  /** A timed committing statement on `table`; returns its latency. */
  def write(what: String, table: String, changedRows: Long, tableRows: Long)(body: => Unit): Option[Double] =
    attempt(what) {
      val ms = trace match {
        case Some(t) => t.write(lake, table, changedRows, tableRows)(body)
        case None =>
          val t0 = System.nanoTime()
          body
          (System.nanoTime() - t0) / 1e6
      }
      passMs += ms
      ms
    }
}

object Main {
  val workloads: Map[String, () => Workload] = Map(
    "replica_10x" -> (() => new ReplicaWorkload),
    "tpch_10x" -> (() => new TpchWorkload),
    "point_frag" -> (() => new PointFragWorkload),
    "write_mix" -> (() => new WriteMixWorkload),
    "dedup_10x" -> (() => new DedupWorkload))

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear interpolation between order statistics (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else {
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    // before anything loads Derby's driver
    if (args.trace) CatalogShim.install()
    val wl = workloads.getOrElse(args.workload,
      sys.error(s"unknown workload ${args.workload}; known: ${workloads.keys.mkString(", ")}"))()
    val gc0 = gcMs
    val t0 = System.nanoTime()
    val spark = Session.start(args.run, args.cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val c = new Ctx(spark, args)
    val m = mutable.LinkedHashMap[String, (Double, String)]()
    try {
      wl.prepare(c)
      System.err.println(f"[lakebench] session $sessionS%.2f s, prepared at ${(System.nanoTime() - t0) / 1e9}%.2f s")
      val s0 = System.nanoTime()
      val stmts0 = CatalogShim.snapshot._1
      wl.setup(c)
      val setupStmts = CatalogShim.snapshot._1 - stmts0
      val setupS = (System.nanoTime() - s0) / 1e9
      System.err.println(f"[lakebench] setup $setupS%.2f s")
      val untraced, traced = mutable.ArrayBuffer[Double]()
      def warmUp(n: Int): Unit = {
        c.warmup = true
        (1 to n).foreach(_ => pass(c, wl))
        c.warmup = false
      }
      def deadline = System.nanoTime() + (args.seconds * 1e9).toLong
      if (!args.trace) {
        warmUp(wl.warmups)
        val end = deadline
        do untraced += pass(c, wl) while (System.nanoTime() < end)
      } else {
        // an unrecorded warm-up pass, then untraced and traced passes in
        // turn, so that both kinds run at the same JIT state: the
        // difference of their medians is the tracing overhead, and the
        // per-layer metrics come from the traced passes
        val tracer = new Trace(spark)
        warmUp(1)
        val end = deadline
        do {
          untraced += pass(c, wl)
          c.trace = Some(tracer)
          traced += pass(c, wl)
          c.trace = None
        } while (System.nanoTime() < end)
        // the workload's tail is traced too
        c.trace = Some(tracer)
      }
      val queries = c.queryMs.toSeq
      wl.finish(c)
      System.err.println(f"[lakebench] finished at ${(System.nanoTime() - t0) / 1e9}%.2f s")
      val storageMb = wl.tables.map { t =>
        val f = Trace.files(c.lake, t)
        f.data.values.sum + f.deletes.values.sum
      }.sum / 1e6 + dirBytes(new File(s"${c.lakeRoot}/meta")) / 1e6
      // a full GC, then another once Spark's cleaner has dropped what the
      // first one freed its references to
      System.gc(); Thread.sleep(500); System.gc()
      val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
      if (!args.trace) {
        m("setup_s") = (sessionS + setupS, "s")
        m("pass_s") = (median(untraced.toSeq) / 1000, "s")
        m("query_p50_ms") = (quantile(queries, 0.5), "ms")
        m("query_p90_ms") = (quantile(queries, 0.9), "ms")
        m("storage_mb") = (storageMb, "MB")
        m("retained_heap_mb") = (heap, "MB")
        m("ok_rate") = ((c.attempted - c.failed).toDouble / math.max(1L, c.attempted), "ratio")
      } else {
        val t = c.trace.get
        t.set("trace.pass_s", median(traced.toSeq) / 1000)
        t.set("trace.overhead_pct", (median(traced.toSeq) / median(untraced.toSeq) - 1) * 100)
        t.set("jvm.gc_ms", (gcMs - gc0).toDouble)
        t.set("catalog.setup_stmts", setupStmts.toDouble)
        t.set("defect.probes", c.probes.toDouble)
        t.set("defect.failed", c.probeFailures.toDouble)
        val got = t.metrics
        PerLayer.all.foreach { case (k, unit) => m(k) = (got.getOrElse(k, 0.0), unit) }
      }
      val correct = c.failed == 0
      c.problems.foreach(p => System.err.println(s"[lakebench] $p"))
      println("LAKEBENCH_RESULT " + json(correct, c.attempted, c.failed, m.toSeq))
    } finally {
      c.closeLake()
      spark.stop()
    }
  }

  /** One pass; returns its time in ms (the sum of the operations it timed). */
  private def pass(c: Ctx, wl: Workload): Double = {
    c.passMs = 0.0
    wl.pass(c)
    System.err.println(f"[lakebench] pass ${c.passMs / 1000}%.2f s")
    c.passMs
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length

  private def json(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, (Double, String))]): String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val ms = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** The per-layer metrics of the traced run, with units; a layer a
  * workload does not exercise reports 0.
  */
object PerLayer {
  val all: Seq[(String, String)] = Seq(
    "catalog.stmts_per_query" -> "count", "catalog.ms_per_query" -> "ms",
    "catalog.stmts_per_commit" -> "count", "catalog.ms_per_commit" -> "ms",
    "catalog.setup_stmts" -> "count",
    "connector.load_table_ms" -> "ms", "connector.analyze_ms" -> "ms",
    "scan.plan_ms" -> "ms", "scan.files_total" -> "count", "scan.files_kept" -> "count",
    "scan.kept_ratio" -> "ratio", "scan.delete_files" -> "count", "scan.physical_ms" -> "ms",
    "plan.optimize_ms" -> "ms", "plan.exchanges" -> "count", "plan.broadcast_joins" -> "count",
    "plan.sort_merge_joins" -> "count", "plan.sort_aggregates" -> "count",
    "exec.ms" -> "ms", "exec.cpu_ms" -> "ms", "exec.tasks" -> "count",
    "exec.shuffle_mb" -> "MB", "exec.spill_mb" -> "MB", "exec.input_mb" -> "MB",
    "exec.input_rows" -> "count",
    "tpch.raw_pass_s" -> "s", "tpch.lake_tax" -> "ratio", "tpch.duckdb_pass_s" -> "s",
    "write.insert_ms" -> "ms", "write.delete_ms" -> "ms", "write.update_ms" -> "ms",
    "write.merge_ms" -> "ms", "write.job_ms" -> "ms", "write.driver_ms" -> "ms",
    "write.files_added" -> "count", "write.delete_files_added" -> "count",
    "write.bytes_mb" -> "MB", "write.amp" -> "ratio",
    "maint.compact_s" -> "s", "maint.bytes_rewritten_mb" -> "MB",
    "maint.files_before" -> "count", "maint.files_after" -> "count",
    "ops.dedup_ms" -> "ms", "ops.candidates" -> "count", "ops.verified" -> "count",
    "ops.useful_ratio" -> "ratio",
    "defect.probes" -> "count", "defect.failed" -> "count",
    "jvm.gc_ms" -> "ms", "trace.pass_s" -> "s", "trace.overhead_pct" -> "%")
}
