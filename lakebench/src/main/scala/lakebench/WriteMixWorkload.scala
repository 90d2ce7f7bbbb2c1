package lakebench

import scala.collection.mutable

/** `write_mix`: writes beside reads on a lake-owned CTAS copy of the
  * replica's lineitem (never on adopted files, which compaction may
  * delete). Each pass is one round of INSERT 1%, DELETE 1%, UPDATE 1% and
  * MERGE 0.1%, each followed by an aggregate that reads after the write;
  * an unrecorded round warms up first. After the last pass a DELETE of
  * 50% and a compaction run. A read gain
  * paid for with write cost shows here as a loss.
  *
  * Every round also probes a known defect: one UPDATE and one MERGE on a
  * copy of `embeddings`, whose `array<float>` column SQL UPDATE and MERGE
  * do not support yet (see [[Ctx.probe]]).
  *
  * Row counts after each operation are checked against a model of the
  * table keyed by `rid` (`l_orderkey * 8 + l_linenumber`, unique per
  * row). The seed picks each round's residues.
  */
final class WriteMixWorkload extends Workload {
  val tables: Seq[String] = Seq("main.lineitem_w", "main.emb_w")
  private val Marker = 1.0 // UPDATE and MERGE set l_tax to Marker + round; real taxes are < 0.1

  private var baseRids: Array[Long] = _
  private var cols: String = _
  /** Live rows: rid -> the l_tax marker last set on it, or 0. */
  private val live = mutable.LongMap[Double]()
  private var round = 0
  /** Nothing before the set-up writes to a lake, so without a warm-up
    * round the timed round would run cold.
    */
  override val warmups = 1

  override def prepare(c: Ctx): Unit = {
    val src = c.spark.read.parquet(c.corpus("lineitem"))
    cols = src.columns.mkString(", ")
    src.selectExpr("*", "l_orderkey * 8 + l_linenumber AS rid").createOrReplaceTempView("lineitem_src")
    c.spark.read.parquet(c.corpus("embeddings")).createOrReplaceTempView("emb_src")
    baseRids = c.spark.sql("SELECT rid FROM lineitem_src").collect().map(_.getLong(0))
  }

  def setup(c: Ctx): Unit = {
    c.freshLake()
    c.spark.sql("CREATE TABLE ducklake.main.lineitem_w AS SELECT * FROM lineitem_src")
    c.spark.sql("CREATE TABLE ducklake.main.emb_w AS SELECT * FROM emb_src")
    baseRids.foreach(live(_) = 0.0)
  }

  private def marked = live.valuesIterator.count(_ >= Marker)

  /** A timed write followed by a timed read-after-write whose counts must
    * match the model once `model` has applied the write to it.
    */
  private def step(c: Ctx, verb: String, changed: Long, text: String)(model: => Unit): Unit = {
    val rowsBefore = live.size.toLong
    c.write(verb, "main.lineitem_w", changed, rowsBefore)(c.spark.sql(text)).foreach { ms =>
      c.trace.foreach(_.add(s"write.${verb}_ms", ms))
      model
      readBack(c, s"after $verb")
    }
  }

  private def readBack(c: Ctx, what: String): Unit =
    c.sql(s"read $what",
      s"SELECT count(*), count_if(l_tax >= $Marker) FROM ducklake.main.lineitem_w").foreach { got =>
      c.check(got.head.getLong(0) == live.size && got.head.getLong(1) == marked,
        s"$what: ${got.head} vs model (${live.size}, $marked)")
    }

  def pass(c: Ctx): Unit = {
    round += 1
    val Seq(ins, del, upd) = c.rng.shuffle((0 until 100).toList).take(3)
    val mer = c.rng.nextInt(1000)
    val insOff = round * 1000000000000L
    val merOff = insOff + 500000000000L
    val marker = Marker + round

    val inserted = baseRids.filter(_ % 100 == ins)
    step(c, "insert", inserted.length, s"INSERT INTO ducklake.main.lineitem_w " +
      s"SELECT $cols, rid + $insOff FROM lineitem_src WHERE rid % 100 = $ins") {
      inserted.foreach(r => live(r + insOff) = 0.0)
    }
    val doomed = live.keysIterator.filter(_ % 100 == del).toSeq
    step(c, "delete", doomed.size,
      s"DELETE FROM ducklake.main.lineitem_w WHERE rid % 100 = $del") {
      doomed.foreach(live.remove)
    }
    val updated = live.keysIterator.filter(_ % 100 == upd).toSeq
    step(c, "update", updated.size,
      s"UPDATE ducklake.main.lineitem_w SET l_tax = $marker WHERE rid % 100 = $upd") {
      updated.foreach(live(_) = marker)
    }
    // even line numbers keep their rid (matched unless deleted), odd ones
    // move to fresh rids (inserted)
    val source = baseRids.filter(_ % 1000 == mer).map(r => if (r % 2 == 0) r else r + merOff)
    step(c, "merge", source.length,
      s"MERGE INTO ducklake.main.lineitem_w t USING (SELECT $cols, " +
        s"CASE WHEN rid % 2 = 0 THEN rid ELSE rid + $merOff END AS rid " +
        s"FROM lineitem_src WHERE rid % 1000 = $mer) s ON t.rid = s.rid " +
        s"WHEN MATCHED THEN UPDATE SET l_tax = $marker WHEN NOT MATCHED THEN INSERT *") {
      source.foreach(r => live(r) = if (live.contains(r)) marker else 0.0)
    }

    val v = c.rng.nextInt(100)
    Seq(
      s"UPDATE ducklake.main.emb_w SET label = label + 1 WHERE vec_id % 100 = $v",
      s"MERGE INTO ducklake.main.emb_w t USING (SELECT vec_id, embedding, label + 1 AS label " +
        s"FROM emb_src WHERE vec_id % 100 = $v) s ON t.vec_id = s.vec_id " +
        "WHEN MATCHED THEN UPDATE SET label = s.label").foreach { text =>
      c.probe(s"${text.take(6)} on an array<float> table")(c.spark.sql(text))
    }
  }

  /** DELETE half the rows, then compact; both are checked like the rounds
    * but come after the timed passes.
    */
  override def finish(c: Ctx): Unit = {
    c.attempt("delete 50%") {
      c.spark.sql("DELETE FROM ducklake.main.lineitem_w WHERE rid % 2 = 0")
      live.keysIterator.filter(_ % 2 == 0).toSeq.foreach(live.remove)
    }
    readBack(c, "after delete 50%")
    val before = Trace.files(c.lake, "main.lineitem_w")
    val t0 = System.nanoTime()
    c.attempt("compact")(c.lake.compact("main.lineitem_w", c.args.cores))
    val compactS = (System.nanoTime() - t0) / 1e9
    readBack(c, "after compaction")
    c.trace.foreach { t =>
      val after = Trace.files(c.lake, "main.lineitem_w")
      t.set("maint.compact_s", compactS)
      t.set("maint.files_before", before.data.size.toDouble)
      t.set("maint.files_after", after.data.size.toDouble)
      t.set("maint.bytes_rewritten_mb", (after.data -- before.data.keySet).values.sum / 1e6)
    }
  }
}
