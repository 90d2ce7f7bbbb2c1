package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Interleaved A/B harness for plan-rewrite experiments: times two named
  * frames alternately (A,B,A,B,…) in ONE session so host drift hits both
  * arms equally — the protocol behind every kept/rejected rewrite note
  * in Tpch.scala. Names resolve from [[SparkEntry.queries]] first, then
  * from the experimental [[variants]] registry below (rewrites under
  * evaluation live here until a measured win moves them into the query
  * file; a measured loss keeps them here as the recorded evidence).
  *
  * Usage: SPARK_GRAFT_DIR=<corpus> sbt "runMain graft.AbBench <A> <B>"
  */
object AbBench {

  /** q04 rewrite: EXISTS as inner-join + DISTINCT orderkeys instead of
    * the left-semi SMJ. The point is the join ORDER: with lineitem as
    * the STREAM side and the date-filtered orders projection as the
    * build side (~3 MB at 10× — under the 4 MB threshold), Catalyst
    * picks a broadcast hash join and the 6M-row lineitem shuffle
    * disappears; the only exchange left is the ~|matched orders|
    * distinct. Scale-safe: nothing forces the broadcast — past the
    * threshold AQE falls back to the same SMJ the semi uses today.
    */
  def q04InnerDistinct(s: SparkSession, dir: String): DataFrame = {
    val t = graft.queries.Tables.t(s, dir, _: String)
    val o = t("orders")
      .filter(col("o_orderdate") >= "1997-01-01" && col("o_orderdate") < "1997-10-01")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val l = t("lineitem").select(col("l_orderkey"), col("l_shipdate"))
    l.join(o, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .select("o_orderkey", "o_orderpriority").distinct()
      .groupBy("o_orderpriority").agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** q22 rewrite: the scalar subquery (avg positive balance) computed
    * eagerly into a literal — a bounded O(1) driver value, exactly how
    * DuckDB executes the scalar subquery — so the `c_acctbal > avg`
    * predicate pushes into the customer scan (parquet min/max skipping)
    * instead of riding a 1-row broadcast nested loop AFTER the scan.
    */
  def q22EagerScalar(s: SparkSession, dir: String): DataFrame = {
    val t = graft.queries.Tables.t(s, dir, _: String)
    val c = t("customer")
    val o = t("orders").filter(col("o_orderdate") >= "2000-01-01")
    val avgBal = c.filter(col("c_acctbal") > 0.0)
      .agg(avg(col("c_acctbal"))).head().getDouble(0)
    c.filter(col("c_acctbal") > avgBal)
      .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("numcust"), round(sum(col("c_acctbal")), 2).as("totacctbal"))
      .orderBy("c_nationkey")
  }

  /** The REJECTED q08 shape (r16, r15 verdict task 1): literal
    * fact-first join order — lineitem⋈orders SMJ/SHJ before any
    * dimension filter reduces orders. This was the committed plan
    * through r15 and the worst 100× shape (12.61× DuckDB at ~SF10);
    * interleaved AbBench against the adopted dimension-first order
    * measured 100× min 5.22 vs 3.77 s (avg 9.24 vs 4.47, σ 3.3 vs 0.8 —
    * this shape is spill-marginal at 60M rows), winning only the 10×
    * stage constant (min 1.00 vs 1.33 s). Kept as the measured-and-
    * rejected evidence; Probe100x records it as q08_fact_first in
    * ab_sec.
    */
  def q08FactFirst(s: SparkSession, dir: String): DataFrame = {
    val t = graft.queries.Tables.t(s, dir, _: String)
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val l = t("lineitem")
    val o = t("orders")
      .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1998-01-01")
    val c = t("customer")
    val su = t("supplier")
    val n1 = t("nation").select(
      col("n_nationkey").as("cn_key"), col("n_regionkey").as("c_region"))
    val r = t("region").filter(col("r_name") === "AMERICA")
    val n2 = t("nation").select(
      col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n1, col("c_nationkey") === col("cn_key"))
      .join(r, col("c_region") === col("r_regionkey"))
      .join(su, col("l_suppkey") === col("s_suppkey"))
      .join(n2, col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(round(
        sum(when(col("supp_nation") === "NATION_3", rev).otherwise(lit(0.0))) / sum(rev),
        6).as("mkt_share"))
      .orderBy("o_year")
  }

  /** The REJECTED q18 shape (r16, r15 verdict task 1): naive
    * groupBy(l_orderkey) with a map-side PARTIAL aggregation. The 100×
    * StageAudit found that phase spilling 7.8 GB at 60M rows — orderkey
    * is near-unique per map task (~4 lines per key scattered over 32+
    * tasks), so the partial hash table held ~1.9M entries/task, fell
    * back to sort, and the shuffle still carried ~one row per input
    * row. The adopted gate pre-shuffles the 2-column projection by key
    * instead (both agg phases post-shuffle, bounded table, zero spill):
    * 100× min 7.89→5.45 s, CPU 158→84 s, neutral at 10×. Kept as the
    * measured-and-rejected evidence; Probe100x records it as
    * q18_partial_agg in ab_sec.
    */
  def q18PartialAgg(s: SparkSession, dir: String): DataFrame = {
    val t = graft.queries.Tables.t(s, dir, _: String)
    val bigOrders = t("lineitem")
      .groupBy(col("l_orderkey").as("bo_key"))
      .agg(sum(col("l_quantity")).as("sum_qty_raw"))
      .filter(col("sum_qty_raw") > 180)
    t("orders").join(bigOrders, col("o_orderkey") === col("bo_key"))
      .join(t("customer"), col("c_custkey") === col("o_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"),
        round(col("sum_qty_raw"), 2).as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
  }

  /** The REPLACED q05 shape (r16): literal fact-first join order — the
    * UNFILTERED customer table joins orders before lineitem and the ASIA
    * region predicate lands only after the fact join, so stage-82
    * shuffled the full 2640 MB lineitem against a full-orders build side
    * (the banked r16 stage audit; q05 was the worst 100× shape at
    * 7.17× DuckDB). The adopted gate restricts customers to ASIA nations
    * first. Interleaved AbBench, adopted-vs-this: 100× min 4.17→3.96 and
    * 3.66→2.85 across two windows; 10× min 1.15→1.23 (one extra stage
    * constant — the q08 adoption trade). Kept as the measured evidence
    * and the "before" plan.
    */
  def q05FactFirst(s: SparkSession, dir: String): DataFrame = {
    val t = graft.queries.Tables.t(s, dir, _: String)
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val c = t("customer")
    val o = t("orders")
      .filter(col("o_orderdate") >= "1997-01-01" && col("o_orderdate") < "1998-01-01")
    val l = t("lineitem")
    val su = t("supplier")
    val n = t("nation")
    val r = t("region").filter(col("r_name") === "ASIA")
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("l_orderkey") === col("o_orderkey"))
      .join(su, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(round(sum(rev), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** The REPLACED q04 shape (r16): lineitem without the implied
    * `l_shipdate > 1997-01-31` bound (derivable from the semi condition
    * + the o_orderdate range, but not by Catalyst across a non-equi join
    * condition), so the semi join scanned and shuffled ~5× the lineitem
    * rows. Interleaved AbBench, adopted-vs-this: 100× min 3.26→2.53
    * (−22%), 10× min 0.79→0.73 (−8%). The bloom route was checked and
    * is structurally closed (canPruneRight(LeftSemi)=false; the inner
    * rewrite's creation side estimate busts the honest 64m cap). Kept as
    * the measured evidence and the "before" plan.
    */
  def q04Unbounded(s: SparkSession, dir: String): DataFrame = {
    val t = graft.queries.Tables.t(s, dir, _: String)
    val o = t("orders")
      .filter(col("o_orderdate") >= "1997-01-01" && col("o_orderdate") < "1997-10-01")
    o.join(t("lineitem"),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** q16 rewrite under evaluation (r16, guide §2.3 "aggregate before you
    * shuffle"): distinct (l_partkey, l_suppkey) BELOW the part join.
    * Legal because p_brand/p_size are functionally determined by
    * p_partkey, so duplicate (partkey, suppkey) pairs can never change
    * `count(DISTINCT l_suppkey)` per (brand, size) — and Catalyst has no
    * aggregate-through-join pushdown to find this itself. The partial
    * distinct runs MAP-SIDE before any exchange, so the fact shuffle
    * carries ~|distinct supplier×part pairs| (~4 suppliers/part in
    * TPC-H) instead of ~|lineitem rows surviving the bloom| (~30
    * lines/part): ~7× fewer shuffled rows, and the join probe + final
    * count-distinct agg shrink identically.
    */
  def q16Predistinct(s: SparkSession, dir: String): DataFrame = {
    val t = graft.queries.Tables.t(s, dir, _: String)
    val lp = t("lineitem").select(col("l_partkey"), col("l_suppkey"))
      .dropDuplicates("l_partkey", "l_suppkey")
    val p = t("part").filter(col("p_size").isin(1, 5, 9, 15, 20))
    lp.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
  }

  /** dedup_minhash decomposition probes (r16 stage attribution): the
    * gate's 74 s aggregate task CPU on the 10× corpus was ~5× the sum
    * of its parts, so these time each sub-pipeline in isolation to find
    * which operator owns the constant before touching any code.
    */
  private def mhCorpus(s: SparkSession, dir: String): DataFrame =
    graft.queries.OpsQueries.plantedDocs(s, dir)

  def mhSketchOnly(s: SparkSession, dir: String): DataFrame =
    mhCorpus(s, dir).select(col("doc_id").as("__id"),
      graft.functions.MinHashBands.minhashBands(
        array_distinct(
          graft.functions.TokenGramHashes.tokenGramHashes(col("text"))),
        32, 8).as("__bands"))

  def mhCandidates(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.minhashCandidates(mhCorpus(s, dir), "text", "doc_id")

  def mhFound(s: SparkSession, dir: String): DataFrame = {
    val corpus = mhCorpus(s, dir)
    val cands = graft.ops.Dedup.minhashCandidates(corpus, "text", "doc_id")
    graft.ops.Dedup.verifyJaccard(cands, corpus, "text", "doc_id", threshold = 0.5)
  }

  def mhEligible(s: SparkSession, dir: String): DataFrame = {
    val corpus = mhCorpus(s, dir)
    val planted = graft.queries.Tables.t(s, dir, "documents")
      .filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("id_a"), (col("doc_id") + 100000L).as("id_b"))
    graft.ops.Dedup.verifyJaccard(planted, corpus, "text", "doc_id", threshold = 0.5)
  }

  /** The REPLACED pipe_curation scoring shape (r16): quality as a plain
    * projected alias with the threshold filter on it — PushDownPredicates
    * substitutes the full scoring expression into the filter, so every
    * text is scored twice per row (once in the pushed Filter, once in
    * the Project). The adopted gate pins one scoring pass per row behind
    * an explode(array(struct(...))) generator boundary. Kept as the
    * measured "before" arm.
    */
  def pipeCurationAliasFilter(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.{Pipeline, TextOps}
    val docs = graft.queries.Tables.t(s, dir, "documents")
    val duped = docs.unionByName(docs.filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 200000L))
    val scored = duped
      .select(col("doc_id"),
        TextOps.qualityScore(col("text")).as("quality"),
        TextOps.bpeishTokenCount(col("text")).cast("long").as("n_tok"),
        TextOps.fingerprint(col("text")).as("__fp"))
      .filter(col("quality") >= 0.91)
    val dedup = scored
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("__fp").orderBy("doc_id")))
      .filter(col("__rn") === 1)
    val budgeted = Pipeline.prefixSum(dedup,
      Seq(col("quality").desc, col("doc_id")), col("n_tok"), "cum_tok")
    budgeted.filter(col("cum_tok") <= 8000L)
      .select("doc_id", "quality", "n_tok", "cum_tok")
      .orderBy("cum_tok")
  }

  /** The REPLACED verifyJaccard tail (r17): __i/__n as plain aliases
    * with the threshold filter on the derived jaccard —
    * PushDownPredicates substitutes the intersection into the Filter
    * condition, so every surviving pair pays array_intersect twice
    * (Filter + Project; no cross-operator subexpression elimination).
    * The adopted shape pins one evaluation behind an
    * explode(array(struct(...))) generator boundary. Kept as the
    * measured "before" arm, composed into the mh_found probe frame.
    */
  def mhFoundDupFilter(s: SparkSession, dir: String): DataFrame = {
    val corpus = mhCorpus(s, dir)
    val cands = graft.ops.Dedup.minhashCandidates(corpus, "text", "doc_id")
    val sides = cands.select(col("id_a"), col("id_b"),
      explode(array(col("id_a"), col("id_b"))).as("__vid"))
    sides.join(corpus.select(col("doc_id").as("__vid"), col("text").as("__txt")), "__vid")
      .select(col("id_a"), col("id_b"), col("__vid"),
        array_distinct(
          graft.functions.TokenGramHashes.tokenGramHashes(col("__txt"), 3)).as("__g"))
      .groupBy("id_a", "id_b")
      .agg(
        first(when(col("__vid") === col("id_a"), col("__g")), ignoreNulls = true).as("__ga"),
        first(when(col("__vid") === col("id_b"), col("__g")), ignoreNulls = true).as("__gb"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("__ga"), col("__gb"))).cast("double").as("__i"),
        (size(col("__ga")) + size(col("__gb"))).cast("double").as("__n"))
      .withColumn("jaccard", col("__i") / (col("__n") - col("__i")))
      .filter(col("jaccard") >= 0.5)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** The REPLACED incrementalDuplicates shape (r17), on the
    * dedup_incremental gate fixture: (1) fingerprint join keys as plain
    * aliases — the join's isnotnull(__fp) pushes below the projection
    * with the whole normalize+md5 expression substituted, so both scans
    * paid the fingerprint twice per row; (2) exact.unionByName(near ⟕̸
    * exact) references the exact subtree twice and Catalyst re-computes
    * it per reference. The adopted shape boundaries the fingerprint and
    * merges exact/near with ONE full-outer join. Kept as the "before"
    * arm.
    */
  def dedupIncrementalTwoPass(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.{Dedup, TextOps}
    val t = graft.queries.Tables.t(s, dir, _: String)
    val docs = t("documents").select(col("doc_id"), col("text"))
    val corpusDf = docs.filter(col("doc_id") < 400)
    val newDf = corpusDf.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 200000L).as("doc_id"), col("text"))
      .unionByName(corpusDf.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 300000L).as("doc_id"),
          regexp_replace(col("text"), "^\\S+", "zz").as("text")))
      .unionByName(docs.filter(col("doc_id") >= 400))
    val nf = newDf.select(col("doc_id").as("id_a"),
      TextOps.fingerprint(col("text")).as("__fp"))
    val cf = corpusDf.select(col("doc_id").as("id_b"),
      TextOps.fingerprint(col("text")).as("__fp"))
    val exact = nf.join(cf, "__fp")
      .select(col("id_a"), col("id_b"), lit("exact").as("reason"),
        lit(1.0).as("jaccard"))
    val nb = Dedup.md5Bands(newDf, "text", "doc_id", 16, 4)
      .select(col("__id").as("id_a"), col("__band"), col("__bucket"))
    val cbRanked = Dedup.md5Bands(corpusDf, "text", "doc_id", 16, 4)
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("__band", "__bucket").orderBy("__id")))
      .filter(col("__rn") <= Dedup.DefaultHotBucketThreshold)
      .select(col("__id").as("id_b"), col("__band"), col("__bucket"))
    val cand = nb.join(cbRanked, Seq("__band", "__bucket"))
      .select("id_a", "id_b").distinct()
    val near = Dedup.verifyJaccardStrings(cand,
        newDf.unionByName(corpusDf), "text", "doc_id", 0.5)
      .join(exact.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_anti")
      .select(col("id_a"), col("id_b"), lit("near").as("reason"), col("jaccard"))
    exact.unionByName(near).orderBy("id_a", "id_b", "reason")
  }

  /** The REPLACED q11 shape (r17): the HAVING threshold as a SECOND
    * aggregation over the same lineitem⋈supplier⋈nation subtree — two
    * full fact passes (broadcast dims, so no shuffle below the aggs for
    * ReuseExchange to share; StageAudit at 100×: cpu 7.4 s + 11.2 s for
    * the two passes). The adopted gate derives the threshold FROM the
    * per-part aggregate, whose identical partkey-exchange subtree AQE
    * stage reuse dedupes to one fact pass (wall −16%, cpu −23% at 100×;
    * AbBench min 1.371→1.186). Kept as the "before" arm.
    */
  def q11TwoPass(s: SparkSession, dir: String): DataFrame = {
    val t = graft.queries.Tables.t(s, dir, _: String)
    val l = t("lineitem")
    val su = t("supplier")
    val n = t("nation").filter(col("n_name") === "NATION_5")
    val joined = l
      .join(su, col("l_suppkey") === col("s_suppkey"))
      .join(n, col("s_nationkey") === col("n_nationkey"))
    val perPart = joined.groupBy("l_partkey")
      .agg(sum(col("l_extendedprice")).as("value_raw"))
    val total = joined.agg((sum(col("l_extendedprice")) * lit(0.001)).as("threshold"))
    perPart.crossJoin(total)
      .filter(col("value_raw") > col("threshold"))
      .select(col("l_partkey"), round(col("value_raw"), 2).as("part_value"))
      .orderBy(col("part_value").desc, col("l_partkey"))
  }

  /** Attribution probes for the verifyJaccard tail experiment (r17):
    * `mh_found_nothresh` = single intersect evaluation, no threshold
    * filter at all (the floor); `mh_found_genonly` = the generator
    * boundary WITHOUT the filter (isolates GenerateExec's own cost).
    * Both emit the unrounded jaccard, so a caller can apply the gate's
    * threshold to the same value the gate filters on.
    */
  def mhFoundNoThresh(s: SparkSession, dir: String): DataFrame =
    mhVerifyAgg(s, dir)
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("__ga"), col("__gb"))).cast("double").as("__i"),
        (size(col("__ga")) + size(col("__gb"))).cast("double").as("__n"))
      .select(col("id_a"), col("id_b"),
        (col("__i") / (col("__n") - col("__i"))).as("jaccard"))

  def mhFoundGenOnly(s: SparkSession, dir: String): DataFrame =
    mhVerifyAgg(s, dir)
      .select(col("id_a"), col("id_b"), explode(array(struct(
        size(array_intersect(col("__ga"), col("__gb"))).cast("double").as("__i"),
        (size(col("__ga")) + size(col("__gb"))).cast("double").as("__n")))).as("__s"))
      .select(col("id_a"), col("id_b"),
        (col("__s.__i") / (col("__s.__n") - col("__s.__i"))).as("jaccard"))

  private def mhVerifyAgg(s: SparkSession, dir: String): DataFrame = {
    val corpus = mhCorpus(s, dir)
    val cands = graft.ops.Dedup.minhashCandidates(corpus, "text", "doc_id")
    val sides = cands.select(col("id_a"), col("id_b"),
      explode(array(col("id_a"), col("id_b"))).as("__vid"))
    sides.join(corpus.select(col("doc_id").as("__vid"), col("text").as("__txt")), "__vid")
      .select(col("id_a"), col("id_b"), col("__vid"),
        array_distinct(
          graft.functions.TokenGramHashes.tokenGramHashes(col("__txt"), 3)).as("__g"))
      .groupBy("id_a", "id_b")
      .agg(
        first(when(col("__vid") === col("id_a"), col("__g")), ignoreNulls = true).as("__ga"),
        first(when(col("__vid") === col("id_b"), col("__g")), ignoreNulls = true).as("__gb"))
  }

  val variants: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipe_curation_aliasfilter" -> (pipeCurationAliasFilter _),
    "mh_found_dupfilter" -> (mhFoundDupFilter _),
    "mh_found_nothresh" -> (mhFoundNoThresh _),
    "mh_found_genonly" -> (mhFoundGenOnly _),
    "dedup_incremental_twopass" -> (dedupIncrementalTwoPass _),
    // the 100× probe's production-path semantic near-dup frame, named
    // here so PlanDump/AbBench can address the operator directly
    "cosine_neardup" -> ((s: SparkSession, dir: String) =>
      ScaleBench.semanticNearDup(s, dir)),
    "q11_twopass" -> (q11TwoPass _),
    "mh_sketch_only" -> (mhSketchOnly _),
    "mh_candidates" -> (mhCandidates _),
    "mh_found" -> (mhFound _),
    "mh_eligible" -> (mhEligible _),
    "q16_predistinct" -> (q16Predistinct _),
    "q05_fact_first" -> (q05FactFirst _),
    "q04_unbounded" -> (q04Unbounded _),
    "q04_inner_distinct" -> (q04InnerDistinct _),
    "q22_eager_scalar" -> (q22EagerScalar _),
    "q08_fact_first" -> (q08FactFirst _),
    "q18_partial_agg" -> (q18PartialAgg _))

  def main(args: Array[String]): Unit = {
    // conf-flip mode: `AbBench --conf k=v [--conf k2=v2] q1 q2 ...`
    // times each named query interleaved base-vs-conf within ONE session
    // (runtime SQL confs re-read at planning, so set/unset around each
    // run flips the plan); host drift hits both arms equally, same as
    // the two-query mode.
    val (confArgs, queryArgs) = {
      var rest = args.toList
      val confs = scala.collection.mutable.ListBuffer.empty[(String, String)]
      while (rest.headOption.contains("--conf")) {
        // malformed input fails with the usage message, not a raw
        // IndexOutOfBounds/MatchError (r15 advice)
        require(rest.size >= 2 && rest(1).contains("="),
          "usage: AbBench [--conf k=v ...] <nameA> <nameB> [more...]")
        val Array(k, v) = rest(1).split("=", 2)
        confs += (k -> v)
        rest = rest.drop(2)
      }
      (confs.toList, rest)
    }
    require(queryArgs.size >= (if (confArgs.nonEmpty) 1 else 2),
      "usage: AbBench [--conf k=v ...] <nameA> <nameB> [more...]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shmDir = new java.io.File("/dev/shm")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.lake.connector.GraftSparkExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.sql.parquet.columnarReaderBatchSize", "16384")
      .config("spark.sql.autoBroadcastJoinThreshold", "4m")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "4m")
      // runtime SMJ->SHJ conversion, A/B-kept r15 (see Bench.scala note)
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      // runtime bloom-filter join pruning, thresholds corpus-scaled —
      // adopted r16, rationale + A/B evidence in Bench.scala
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "256m")
      .config("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "64m")
      .config("spark.ui.enabled", "false")
    if (shmDir.isDirectory && shmDir.canWrite)
      builder.config("spark.local.dir", "/dev/shm/graft_bench_local")
    sys.env.get("SPARK_GRAFT_CONFS").foreach(_.split(";").filter(_.nonEmpty)
      .foreach { kv => val Array(k, v) = kv.split("=", 2); builder.config(k, v) })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dir = sys.env.getOrElse("SPARK_GRAFT_DIR",
      ScaleBench.buildCorpus(spark, "/root/testdata/sf0.1"))
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "5").toInt

    def frame(name: String): () => DataFrame =
      SparkEntry.queries.get(name).orElse(variants.get(name)) match {
        case Some(f) => () => f(spark, dir)
        case None => sys.error(s"unknown query/variant '$name'")
      }
    def once(mk: () => DataFrame): Double = {
      val t0 = System.nanoTime()
      mk().write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }

    // base-arm restores the session defaults, conf-arm applies the
    // flipped confs; each arm's builder runs BEFORE its timing window,
    // so plan+execute both see the arm's session state as the arms
    // alternate
    val savedConfs = confArgs.map { case (k, _) =>
      k -> scala.util.Try(Option(spark.conf.get(k))).toOption.flatten }
    def applyBase(): Unit = savedConfs.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    def applyFlip(): Unit = confArgs.foreach { case (k, v) => spark.conf.set(k, v) }
    val arms: Seq[(String, () => DataFrame)] =
      if (confArgs.isEmpty) queryArgs.map(n => n -> frame(n))
      else queryArgs.flatMap { n =>
        val base = frame(n)
        Seq(n -> (() => { applyBase(); base() }),
          s"$n+conf" -> (() => { applyFlip(); base() }))
      }
    // row-count sanity between arms of a rewrite A/B
    val counts = arms.map { case (n, mk) => n -> mk().count() }
    println(s"rows: ${counts.map { case (n, c) => s"$n=$c" }.mkString(", ")}")
    arms.foreach { case (_, mk) => once(mk); once(mk) } // 2 warmups each
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    // ALTERNATE the within-pair order per iteration (r15 finding): in
    // conf-flip mode the flip arm otherwise always runs immediately
    // after the SAME query's base arm and inherits its query-specific
    // warmth (operator JIT, page/TLB locality) — a measured 5-30%
    // second-runner advantage that grows with host depletion and fully
    // explained two contradictory SHJ A/Bs. Odd iterations run each
    // pair reversed, so the warmth advantage hits both arms equally.
    (1 to iters).foreach { it =>
      val ordered =
        if (confArgs.isEmpty || it % 2 == 1) arms
        else arms.grouped(2).flatMap(_.reverse).toSeq
      ordered.foreach { case (n, mk) => samples(n) :+= once(mk) }
    }
    arms.foreach { case (n, _) =>
      val s = samples(n)
      println(f"$n%-28s min=${s.min}%.3f avg=${s.sum / s.size}%.3f " +
        s.map(x => f"$x%.3f").mkString("[", ",", "]"))
    }
    spark.stop()
  }
}
