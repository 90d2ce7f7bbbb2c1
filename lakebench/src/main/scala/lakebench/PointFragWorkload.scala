package lakebench

import java.time.LocalDateTime

/** `point_frag`: a closed loop of selective reads on an orders table built
  * from 25 appends in `o_orderdate` order (one adopted file per commit)
  * plus two merge-on-read DELETE commits. Each pass of ten reads mixes
  * `o_orderkey` point lookups, which no file's min/max can skip,
  * date-range aggregates, which min/max skipping could prune (it keeps
  * every adopted file today: `addFiles` records no timestamp min/max),
  * a `count(*)` the
  * catalog answers from metadata, and a lookup at the snapshot before the
  * deletes. Planning does most of the work, so catalog, connector and scan
  * planning changes show here and execution-kernel changes should not.
  *
  * Results are checked against a model built from the source parquet
  * minus the deleted rows. The seed picks the deleted windows, the keys
  * and the date windows read.
  */
final class PointFragWorkload extends Workload {
  val tables: Seq[String] = Seq("main.orders")
  private val Ops = "LLRLLCLLRT"
  private val cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"

  // the model: the source rows (keys are unique)
  private var keys: Array[Long] = _
  private var rows: Array[String] = _
  private var dates: Array[LocalDateTime] = _
  private var cents: Array[Long] = _
  private var deletedWindows: Seq[(LocalDateTime, LocalDateTime)] = Nil
  private var preDelete = 0L

  private val Day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
  private def inWindow(d: LocalDateTime, w: (LocalDateTime, LocalDateTime)) =
    !d.isBefore(w._1) && d.isBefore(w._2)
  private def deleted(i: Int) = deletedWindows.exists(inWindow(dates(i), _))

  override def prepare(c: Ctx): Unit = {
    val src = c.spark.read.parquet(c.corpus("orders_frag"))
      .selectExpr(cols.split(", ").toSeq: _*).collect()
    keys = src.map(_.getLong(0))
    rows = src.map(_.toString)
    dates = src.map(_.getAs[LocalDateTime](4))
    cents = src.map(r => math.round(r.getDouble(3) * 100))
    // two DELETE commits of ~1% each: 25-day windows of o_orderdate, so
    // each writes delete files for the one or two fragments it hits
    deletedWindows = Seq.fill(2)(Day0.plusDays(c.rng.nextInt(2350).toLong))
      .map(d => (d, d.plusDays(25)))
  }

  def setup(c: Ctx): Unit = {
    val lake = c.freshLake()
    val frags = new java.io.File(c.corpus("orders_frag")).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    val schema = c.spark.read.parquet(frags.head).schema
    c.spark.sql(s"CREATE TABLE ducklake.main.orders (${schema.toDDL})")
    frags.foreach(f => lake.addFiles("main.orders", Seq(f)))
    preDelete = lake.currentSnapshot
    deletedWindows.foreach { case (lo, hi) =>
      c.spark.sql(s"DELETE FROM ducklake.main.orders WHERE o_orderdate >= TIMESTAMP_NTZ '${lo.toLocalDate}' " +
        s"AND o_orderdate < TIMESTAMP_NTZ '${hi.toLocalDate}'")
    }
    // a predicate no filter pushdown can take sends DELETE down the
    // row-level path, which does not resolve adopted files' absolute paths;
    // it matches no row, so a fix leaves the table as it is
    c.probe("row-level DELETE on adopted files")(c.spark.sql(
      "DELETE FROM ducklake.main.orders WHERE o_orderkey % 2 = 2"))
  }

  def pass(c: Ctx): Unit = Ops.foreach {
    case 'L' =>
      val i = c.rng.nextInt(keys.length)
      val k = keys(i)
      val want = if (deleted(i)) Nil else Seq(rows(i))
      c.sql("lookup", s"SELECT $cols FROM ducklake.main.orders WHERE o_orderkey = $k").foreach(got =>
        c.check(got.map(_.toString).toSeq == want, s"lookup $k"))
    case 'R' =>
      val from = Day0.plusDays(c.rng.nextInt(2300).toLong)
      val to = from.plusDays(30)
      val in = dates.indices.filter(i => inWindow(dates(i), (from, to)) && !deleted(i))
      c.sql("range", s"SELECT count(*), round(sum(o_totalprice), 2) FROM ducklake.main.orders " +
        s"WHERE o_orderdate >= TIMESTAMP_NTZ '${from.toLocalDate}' " +
        s"AND o_orderdate < TIMESTAMP_NTZ '${to.toLocalDate}'").foreach { got =>
        val n = got.head.getLong(0)
        val sum = if (got.head.isNullAt(1)) 0L else math.round(got.head.getDouble(1) * 100)
        c.check(n == in.size && sum == in.map(cents).sum, s"range [$from, $to)")
      }
    case 'C' =>
      c.sql("count", "SELECT count(*) FROM ducklake.main.orders").foreach(got =>
        c.check(got.head.getLong(0) == keys.indices.count(!deleted(_)), "count(*)"))
    case 'T' =>
      val i = Iterator.continually(c.rng.nextInt(keys.length)).find(deleted).get
      val k = keys(i)
      c.sql("time travel", s"SELECT $cols FROM ducklake.main.orders VERSION AS OF $preDelete " +
        s"WHERE o_orderkey = $k").foreach(got =>
        c.check(got.map(_.toString).toSeq == Seq(rows(i)), s"time travel to $preDelete, key $k"))
  }
}
