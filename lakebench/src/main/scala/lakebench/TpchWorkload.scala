package lakebench

import org.apache.spark.sql.Row

import graft.queries.Tpch

/** `tpch_10x`: the 22 TPC-H shapes, as the oracle SQL text of
  * `graft.queries.Tpch`, run under `USE ducklake.main` over the replica
  * adopted in place with `addFiles`. Execution and Catalyst plan shape do
  * most of the work here and catalog reads little, so join-strategy and
  * exchange changes show on this workload. The shapes run in one fixed
  * order, so the seed does not change this workload's inputs: each run
  * makes a single pass, and a fixed order keeps the JIT warm-up of that
  * pass the same from run to run.
  */
final class TpchWorkload extends Workload {
  private val corpusTables =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val adopted: Seq[String] = corpusTables
  val tables: Seq[String] = corpusTables.map(t => s"main.$t")
  private val names = Tpch.oracle.keys.toSeq.sorted
  private var expected: Map[String, Seq[Seq[String]]] = Map.empty
  /** Lake pass times of the untraced passes after the warm-up, the
    * numerator of `lake_tax`.
    */
  private val untracedMs = scala.collection.mutable.ArrayBuffer[Double]()

  private def cells(r: Row): Seq[String] = r.toSeq.map(v => String.valueOf(v))

  /** Row-by-row equality (every shape has a total ORDER BY). Numbers may
    * differ by one unit of the shapes' 2-decimal rounding: a sum that lands
    * on a half cent rounds either way depending on the order the plan adds
    * its terms in, and the lake and raw plans add in different orders.
    */
  private def same(got: Seq[Seq[String]], want: Seq[Seq[String]]): Boolean =
    got.size == want.size && got.zip(want).forall { case (g, w) =>
      g.size == w.size && g.zip(w).forall { case (a, b) =>
        a == b || ((a.toDoubleOption, b.toDoubleOption) match {
          case (Some(x), Some(y)) => math.abs(x - y) <= 0.01 + 1e-9 * math.abs(y)
          case _ => false
        })
      }
    }

  /** Register the raw parquet under the table names the SQL uses; temp
    * views shadow the lake's tables until [[dropRaw]].
    */
  private def withRaw[T](c: Ctx)(body: => T): T = {
    corpusTables.foreach(t => c.spark.read.parquet(c.corpus(t)).createOrReplaceTempView(t))
    try body finally corpusTables.foreach(c.spark.catalog.dropTempView)
  }

  /** The expected results: the same pass over the raw parquet. It also
    * warms the JIT before the single timed pass, which keeps that pass
    * steady from run to run.
    */
  override def prepare(c: Ctx): Unit = {
    expected = withRaw(c) {
      names.map(n => n -> c.spark.sql(Tpch.oracle(n)).collect().map(cells).toSeq).toMap
    }
    // the SQL text DuckDB runs over the same files for the reference pass
    val sqlFile = new java.io.File(s"${c.args.run}/tpch_sql.tsv")
    java.nio.file.Files.write(sqlFile.toPath,
      names.map(n => s"$n\t${Tpch.oracle(n)}\n").mkString.getBytes("UTF-8"))
  }

  def setup(c: Ctx): Unit = c.adopt(adopted)

  def pass(c: Ctx): Unit = {
    c.spark.sql("USE ducklake.main")
    val before = c.passMs
    names.foreach { n =>
      c.sql(n, Tpch.oracle(n)).foreach(rows =>
        c.check(same(rows.map(cells).toSeq, expected(n)), s"$n: lake result differs from raw parquet"))
    }
    if (c.trace.isEmpty && !c.warmup) untracedMs += c.passMs - before
  }

  /** Traced run only: the same pass over temp views of the same files
    * (the JVM is warm from the lake passes).
    */
  override def finish(c: Ctx): Unit = c.trace.foreach { t =>
    val raw = withRaw(c) {
      val t0 = System.nanoTime()
      names.foreach(n => c.spark.sql(Tpch.oracle(n)).collect())
      (System.nanoTime() - t0) / 1e9
    }
    t.set("tpch.raw_pass_s", raw)
    t.set("tpch.lake_tax", Main.median(untracedMs.toSeq) / 1000 / raw)
  }
}
