package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Every plan-rewrite VARIANT in the A/B registry must return the gate
  * query's exact result set — a rewrite that wins its timing A/B but
  * drifts semantically would be adopted on a lie. Checked at sf0.01
  * (the correctness-gate SF) by symmetric difference on the collected,
  * canonically-ordered rows.
  */
class VariantEquivalenceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.lake.connector.GraftSparkExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val dir = "/root/testdata/sf0.01"

  private def assertSameRows(gate: String, variant: String): Unit = {
    val g = SparkEntry.queries(gate)(spark, dir)
    val v = AbBench.variants(variant)(spark, dir)
    assert(g.columns.toSeq == v.columns.toSeq,
      s"$variant column mismatch: ${v.columns.mkString(",")}")
    val gr = g.collect().map(_.toString).sorted.toSeq
    val vr = v.collect().map(_.toString).sorted.toSeq
    assert(gr == vr, s"$variant != $gate: " +
      s"only-gate=${gr.diff(vr).take(3)} only-variant=${vr.diff(gr).take(3)}")
  }

  test("q08_fact_first returns q08_market_share's exact rows") {
    assertSameRows("q08_market_share", "q08_fact_first")
  }

  test("q04_inner_distinct returns q04_order_priority's exact rows") {
    assertSameRows("q04_order_priority", "q04_inner_distinct")
  }

  test("q22_eager_scalar returns q22_inactive_customers' exact rows") {
    assertSameRows("q22_inactive_customers", "q22_eager_scalar")
  }

  test("q18_partial_agg returns q18_large_orders' exact rows") {
    assertSameRows("q18_large_orders", "q18_partial_agg")
  }

  test("q05_fact_first returns q05_local_supplier_volume's exact rows") {
    assertSameRows("q05_local_supplier_volume", "q05_fact_first")
  }

  test("q04_unbounded returns q04_order_priority's exact rows") {
    assertSameRows("q04_order_priority", "q04_unbounded")
  }

  test("q16_predistinct returns q16_supplier_part_cnt's exact rows") {
    assertSameRows("q16_supplier_part_cnt", "q16_predistinct")
  }

  test("q11_twopass returns q11_important_parts' exact rows") {
    // r17: the adopted gate derives the HAVING threshold from the
    // per-part aggregate (one fact pass); this variant is the replaced
    // two-pass shape. Also pins that the changed float summation order
    // of the threshold does not move any part across the 0.1% boundary.
    assertSameRows("q11_important_parts", "q11_twopass")
  }

  test("dedup_incremental_twopass returns dedup_incremental's exact rows") {
    // r17: the adopted shape boundaries the fingerprint and merges the
    // exact/near layers with ONE full-outer join; this variant is the
    // replaced union + anti-join shape
    assertSameRows("dedup_incremental", "dedup_incremental_twopass")
  }

  test("the verifyJaccard tail variants agree with the adopted shape") {
    // r17: mh_found (adopted generator-boundary tail) vs the replaced
    // double-evaluation tail and the two attribution probes — all four
    // must emit the identical verified pair set
    import org.apache.spark.sql.functions.{col, round}
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val base = rows(AbBench.variants("mh_found")(spark, dir))
    Seq("mh_found_dupfilter", "mh_found_nothresh", "mh_found_genonly")
      .foreach { v =>
        val df = AbBench.variants(v)(spark, dir)
        // the no-filter probes emit sub-threshold pairs too, unrounded:
        // gate them on the value before rounding, as mh_found does, then
        // round, so the comparison tests VALUE equality
        val got = if (v == "mh_found_dupfilter") rows(df) else rows(
          df.filter(col("jaccard") >= 0.5)
            .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard")))
        assert(got == base, s"$v != mh_found: " +
          s"only-base=${base.diff(got).take(3)} only-v=${got.diff(base).take(3)}")
      }
  }
}
