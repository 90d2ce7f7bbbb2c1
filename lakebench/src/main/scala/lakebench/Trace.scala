package lakebench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.catalyst.expressions.PredicateHelper
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.lakebenchbridge.SparkInternals
import org.apache.spark.sql.sources.Filter

import graft.lake.DuckLake
import Trace.files

/** Task-level execution counters, summed over every task that ends, plus
  * the wall time during which at least one job was running.
  */
final class ExecListener extends SparkListener {
  val cpuNs, tasks, shuffleBytes, spillBytes, inputBytes, inputRows = new AtomicLong
  private var active = 0
  private var since = 0L
  private var busyNs = 0L

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    cpuNs.addAndGet(m.executorCpuTime)
    tasks.incrementAndGet()
    shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    inputBytes.addAndGet(m.inputMetrics.bytesRead)
    inputRows.addAndGet(m.inputMetrics.recordsRead)
  }
  // job start/end arrive on the listener thread; busy time is read from
  // the client thread after a drain
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (active == 0) since = e.time
    active += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    active -= 1
    if (active == 0) busyNs += (e.time - since) * 1000000L
  }
  def jobBusyNs: Long = synchronized(busyNs)
}

/** Per-layer split of the traced run. Each operation the workload times is
  * replayed through [[read]] or [[write]], which time the calls into each
  * layer's public functions from outside the program and keep one sample
  * per operation; [[metrics]] reports the mean per operation.
  */
final class Trace(spark: SparkSession) extends AdaptiveSparkPlanHelper with PredicateHelper {
  private val listener = new ExecListener
  spark.sparkContext.addSparkListener(listener)
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val fixed = mutable.LinkedHashMap[String, Double]()

  def add(key: String, v: Double): Unit =
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v
  def set(key: String, v: Double): Unit = fixed(key) = v

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  private def drain(): Unit = SparkInternals.drain(spark.sparkContext)
  private def catalogDelta[T](prefix: String)(body: => T): T = {
    val (s0, n0) = CatalogShim.snapshot
    val out = body
    val (s1, n1) = CatalogShim.snapshot
    add(s"catalog.stmts_per_$prefix", (s1 - s0).toDouble)
    add(s"catalog.ms_per_$prefix", (n1 - n0) / 1e6)
    out
  }

  /** One read query, split into analysis (catalog `loadTable` and
    * resolution), optimization, physical planning (where the connector's
    * V1 bridge plans the lake scan) and execution; returns the rows and the
    * query's latency. Afterwards the tables the query read are loaded, and
    * its lake scans planned with their filters, again by direct calls, so
    * those layers are timed alone.
    */
  def read(lake: DuckLake, build: () => DataFrame): (Array[org.apache.spark.sql.Row], Double) = {
    val e0 = execCounters
    val (rows, df, latency) = catalogDelta("query") {
      val start = System.nanoTime()
      var t = start
      val df = build()
      add("connector.analyze_ms", ms(t)); t = System.nanoTime()
      df.queryExecution.optimizedPlan
      add("plan.optimize_ms", ms(t)); t = System.nanoTime()
      df.queryExecution.executedPlan
      add("scan.physical_ms", ms(t)); t = System.nanoTime()
      val out = df.collect()
      add("exec.ms", ms(t))
      (out, df, ms(start))
    }
    execDelta(e0)
    planCounts(df.queryExecution.executedPlan)
    val scans = lakeScans(df)
    scans.map(_._1).distinct.foreach(loadSplit)
    scans.foreach { case (ident, filters) => scanSplit(lake, ident, filters) }
    (rows, latency)
  }

  /** One committing statement: job time vs driver time, catalog work per
    * commit, and the files and bytes it added to `table`; returns the
    * statement's latency.
    */
  def write(lake: DuckLake, table: String, changedRows: Long, tableRows: Long)(body: => Unit): Double = {
    val before = files(lake, table)
    drain()
    val busy0 = listener.jobBusyNs
    val t0 = System.nanoTime()
    catalogDelta("commit")(body)
    val wall = ms(t0)
    drain()
    val jobMs = (listener.jobBusyNs - busy0) / 1e6
    add("write.job_ms", jobMs)
    add("write.driver_ms", math.max(0.0, wall - jobMs))
    val after = files(lake, table)
    val newData = after.data -- before.data.keySet
    val newDel = after.deletes -- before.deletes.keySet
    val written = newData.values.sum + newDel.values.sum
    add("write.files_added", newData.size.toDouble)
    add("write.delete_files_added", newDel.size.toDouble)
    add("write.bytes_mb", written / 1e6)
    val rowBytes = before.data.values.sum.toDouble / math.max(1L, tableRows)
    add("write.amp", written / math.max(1.0, changedRows * rowBytes))
    wall
  }

  private def execCounters: Array[Long] = {
    drain()
    Array(listener.cpuNs, listener.tasks, listener.shuffleBytes, listener.spillBytes,
      listener.inputBytes, listener.inputRows).map(_.get)
  }
  private def execDelta(e0: Array[Long]): Unit = {
    val d = execCounters.zip(e0).map { case (a, b) => (a - b).toDouble }
    add("exec.cpu_ms", d(0) / 1e6)
    add("exec.tasks", d(1))
    add("exec.shuffle_mb", d(2) / 1e6)
    add("exec.spill_mb", d(3) / 1e6)
    add("exec.input_mb", d(4) / 1e6)
    add("exec.input_rows", d(5))
  }

  private def planCounts(p: SparkPlan): Unit = {
    val root = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    def count(f: PartialFunction[SparkPlan, Unit]): Double =
      collectWithSubqueries(root)(f.andThen(_ => 1)).size.toDouble
    add("plan.exchanges", count { case _: ShuffleExchangeLike => })
    add("plan.broadcast_joins",
      count { case _: BroadcastHashJoinExec => case _: BroadcastNestedLoopJoinExec => })
    add("plan.sort_merge_joins", count { case _: SortMergeJoinExec => })
    add("plan.sort_aggregates", count { case _: SortAggregateExec => })
  }

  /** Each distinct lake scan of the optimized plan, with the filters Spark
    * pushed into it. The connector takes every pushed filter as residual,
    * so Spark keeps the pushed predicates in a Filter right above the scan;
    * they are translated back to source filters the way Spark pushes them.
    */
  private def lakeScans(df: DataFrame): Seq[(Identifier, Seq[Filter])] = {
    val plan = df.queryExecution.optimizedPlan
    val above = plan.collectWithSubqueries {
      case logical.Filter(cond, s: DataSourceV2ScanRelation) => (s, cond)
    }
    plan.collectWithSubqueries {
      case s: DataSourceV2ScanRelation if s.relation.catalog.exists(_.name == "ducklake") =>
        val conds = above.collect { case (x, c) if x eq s => splitConjunctivePredicates(c) }.flatten
        (s.relation.identifier.get,
          conds.flatMap(SparkInternals.translateFilter))
    }.distinct
  }

  private def loadSplit(ident: Identifier): Unit = {
    val cat = spark.sessionState.catalogManager.catalog("ducklake").asInstanceOf[TableCatalog]
    val t = System.nanoTime()
    cat.loadTable(ident)
    add("connector.load_table_ms", ms(t))
  }

  private def scanSplit(lake: DuckLake, ident: Identifier, filters: Seq[Filter]): Unit = {
    val name = (ident.namespace :+ ident.name).mkString(".")
    val t = System.nanoTime()
    lake.table(name, Some(lake.currentSnapshot), filters)
    add("scan.plan_ms", ms(t))
    val kept = lake.lastScanFileCount.toDouble
    val f = files(lake, name)
    add("scan.files_total", f.data.size.toDouble)
    add("scan.files_kept", kept)
    add("scan.kept_ratio", kept / math.max(1, f.data.size))
    add("scan.delete_files", f.deletes.size.toDouble)
  }

  /** Mean per sample of every key, plus the keys set once. */
  def metrics: Map[String, Double] =
    samples.map { case (k, v) => k -> v.sum / v.size }.toMap ++ fixed
}

object Trace {
  /** A table's live data files and delete files, each with its size. */
  final case class Files(data: Map[String, Long], deletes: Map[String, Long])
  def files(lake: DuckLake, table: String): Files = {
    val rows = lake.listFilesAt(table.stripPrefix("main.")).collect()
    Files(rows.map(r => r.getString(0) -> r.getLong(1)).toMap,
      rows.filter(!_.isNullAt(3)).map(r => r.getString(3) -> r.getLong(4)).toMap)
  }
}
