package lakebench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.ops.Dedup

/** `dedup_10x`: `Dedup.exactDedup`, then `minhashCandidates` +
  * `verifyJaccard`, over `ducklake.main.documents` adopted from the
  * replica, whose ten copies of every text make each dedup bucket ten
  * times hotter. The `graft.ops` layer does the work and the lake layers
  * one scan per operation. Counts through the lake must equal the counts
  * over the raw parquet. The seed does not change this workload's inputs.
  */
final class DedupWorkload extends Workload {
  val tables: Seq[String] = Seq("main.documents")
  private val Threshold = 0.8
  private var expected: Map[String, Long] = Map.empty

  private def exact(docs: DataFrame): DataFrame =
    Dedup.exactDedup(docs, "text", "doc_id").agg(count(lit(1)))
  private def candidates(docs: DataFrame): DataFrame =
    Dedup.minhashCandidates(docs, "text", "doc_id")
  private def verified(docs: DataFrame): DataFrame =
    Dedup.verifyJaccard(candidates(docs), docs, "text", "doc_id", Threshold).agg(count(lit(1)))

  private def lakeDocs(s: SparkSession) = s.table("ducklake.main.documents")

  /** The expected counts, over the raw parquet; the candidate count is
    * checked in the traced run only.
    */
  override def prepare(c: Ctx): Unit = {
    val docs = c.spark.read.parquet(c.corpus("documents"))
    expected = Map("exact" -> exact(docs).head().getLong(0),
      "verified" -> verified(docs).head().getLong(0)) ++
      (if (c.args.trace) Map("candidates" -> candidates(docs).count()) else Map.empty)
  }

  val adopted: Seq[String] = Seq("documents")
  def setup(c: Ctx): Unit = c.adopt(adopted)

  def pass(c: Ctx): Unit = {
    val before = c.passMs
    c.read("exact dedup", () => exact(lakeDocs(c.spark))).foreach(got =>
      c.check(got.head.getLong(0) == expected("exact"), s"exact dedup kept ${got.head.getLong(0)}"))
    c.read("minhash + verify", () => verified(lakeDocs(c.spark))).foreach(got =>
      c.check(got.head.getLong(0) == expected("verified"), s"verified pairs ${got.head.getLong(0)}"))
    c.trace.foreach { t =>
      // the latency of both operations, taken before the untimed count below
      t.add("ops.dedup_ms", c.passMs - before)
      val n = candidates(lakeDocs(c.spark)).count()
      c.check(n == expected("candidates"), s"candidate pairs $n")
      t.add("ops.candidates", n.toDouble)
      t.add("ops.verified", expected("verified").toDouble)
      t.add("ops.useful_ratio", expected("verified").toDouble / math.max(1L, n))
    }
  }
}

/** `replica_10x`: one pass is the 22 TPC-H shapes of [[TpchWorkload]] and
  * the two dedup operations of [[DedupWorkload]], on one lake that adopts
  * every table they read. Both are read-only, execution-heavy work over
  * the same replica; run together they share one session, one set-up and
  * one JIT warm-up (the raw-parquet passes that compute their expected
  * results).
  */
final class ReplicaWorkload extends Workload {
  private val tpch = new TpchWorkload
  private val dedup = new DedupWorkload
  val tables: Seq[String] = tpch.tables ++ dedup.tables
  override def prepare(c: Ctx): Unit = { tpch.prepare(c); dedup.prepare(c) }
  def setup(c: Ctx): Unit = c.adopt(tpch.adopted ++ dedup.adopted)
  def pass(c: Ctx): Unit = { tpch.pass(c); dedup.pass(c) }
  override def finish(c: Ctx): Unit = tpch.finish(c)
}
