package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress bench: replays the heaviest gates on a 10× corpus built
  * by deterministic key-shifted replication of the bench SF dir. This is
  * the measured half of the 100×-scale claim — it catches what sf0.1
  * alone can't: broadcast-threshold flips, bucket skew from dup-heavy
  * corpora (each document gains 9 identical replicas), and memory cliffs
  * in the multi-pass dedup shapes.
  *
  * Replication is seedless and deterministic: replica `i` shifts every
  * join key by `i * SHIFT` so each replica is a self-contained TPC-H-ish
  * world (join fan-outs scale linearly, not quadratically), while
  * `documents.text` and `embeddings.embedding` are kept IDENTICAL across
  * replicas — the worst case for dedup blocking keys, since every
  * MinHash/fingerprint bucket is 10× hotter than at sf0.1.
  */
object ScaleBench {

  /** Shift for TPC-H surrogate keys (orderkey/custkey/partkey/suppkey). */
  private val KeyShift = 1000000000L
  /** Shift for doc/vec ids — far above the +100000 planted-twin offset
    * the dedup gates add, so twins stay inside their replica block.
    */
  private val IdShift = 1000000L

  val replicas = 10

  /** Gates re-run at 10×; all read their tables unsubsetted, so the
    * replicated corpus actually flows through them. (dedup_semantic and
    * dedup_embedding are fixture-bounded — their scale analog is the
    * production LSH path timed separately below.)
    */
  val heavy: Seq[String] = Seq(
    "q09_product_profit", "q13_customer_distribution", "q18_large_orders",
    // span coverage at 10× is a deliberate hot-shingle stress: replicas
    // duplicate TEXT (ids shift, text doesn't), so every shingle is
    // cross-document-duplicated and the dup-hash side is maximal
    "dedup_span_coverage",
    "dedup_minhash", "dedup_exact", "pipe_curation", "txt_lm_score",
    "txt_tfidf_keywords", "pipe_weighted_sample",
    // the widest join chain (6 tables, self-joined CTE) and the
    // full-outer + cumulative-window stack — replicas share p_brand
    // values, so every (brand, week) window partition is 10× hotter
    "ds_crossyear_basket", "ds_cumulative_crossover")

  private def rep(df: DataFrame, shifts: Map[String, Long], reps: Int): DataFrame = {
    val r = df.sparkSession.range(reps).select(col("id").as("__rep"))
    val shifted = shifts.foldLeft(df.crossJoin(r)) { case (d, (c, s)) =>
      d.withColumn(c, col(c) + col("__rep") * s)
    }
    shifted.drop("__rep")
  }

  def corpusDir(srcDir: String): String =
    s"/tmp/graft_scale10_${srcDir.replaceAll("[^a-zA-Z0-9.]", "_")}"

  def corpusDirN(srcDir: String, reps: Int): String =
    s"/tmp/graft_scale${reps}_${srcDir.replaceAll("[^a-zA-Z0-9.]", "_")}"

  private def fingerprintBase(srcDir: String): String =
    Option(new java.io.File(srcDir).listFiles())
      .getOrElse(sys.error(s"ScaleBench: source dir $srcDir missing or unreadable"))
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString("|")

  /** Content fingerprint of the SOURCE dir (sizes + mtimes + layout
    * version): keys the corpus marker AND rides the scale10 DuckDB
    * timing recording so a recording from an older fixture generation
    * is detectably stale. layout-v2: replicated tables are written as
    * 32 files (below) — a corpus built by an older round (2 files, ONE
    * 6M-row row group) must not be reused, so the layout version rides
    * the fingerprint.
    */
  def corpusFingerprint(srcDir: String): String =
    fingerprintBase(srcDir) + "|layout-v2-32files"

  /** Fingerprint for an arbitrary-replica corpus ([[buildCorpusN]]). */
  def corpusFingerprintN(srcDir: String, reps: Int, nFiles: Int): String =
    fingerprintBase(srcDir) + s"|reps-$reps-files-$nFiles"

  /** Build (or reuse) the 10× corpus under /tmp. Idempotent: a marker
    * file keyed on the source dir skips the rebuild on later runs.
    */
  def buildCorpus(spark: SparkSession, srcDir: String): String =
    buildCorpusAt(spark, srcDir, replicas, 32,
      corpusDir(srcDir), corpusFingerprint(srcDir))

  /** Build (or reuse) an N-replica corpus — the 100× probe's input
    * (Probe100x; r13 verdict task 4). Same key-shifted replication as
    * the 10× corpus; `nFiles` output files per table (128 at 100× — a
    * ~SF10 corpus in a realistically many-file layout).
    */
  def buildCorpusN(spark: SparkSession, srcDir: String, reps: Int,
      nFiles: Int): String =
    buildCorpusAt(spark, srcDir, reps, nFiles,
      corpusDirN(srcDir, reps), corpusFingerprintN(srcDir, reps, nFiles))

  private def buildCorpusAt(spark: SparkSession, srcDir: String, reps: Int,
      nFiles: Int, outDir: String, fingerprint: String): String = {
    val marker = new java.io.File(s"$outDir/_GRAFT_SCALE10_DONE")
    if (marker.exists() &&
        new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8") == fingerprint)
      return outDir

    def src(name: String) = spark.read.parquet(s"$srcDir/$name.parquet")
    // 32 output files per table: the replicate crossJoin otherwise lands
    // everything in ONE parquet file with ONE 6M-row row group, which
    // collapses every 10x scan to a single map task — unrepresentative of
    // any real corpus (a 100 TB table is thousands of files), it serializes
    // the scan stage, and it makes AQE's skew split structurally impossible
    // (the splitter can only cut a reduce partition at MAP boundaries;
    // one mapper means createSkewPartitionSpecs always returns None).
    // A size-proportional variant (BenchLayout.fileCount; customer → 12
    // files, supplier → 1) was A/B-measured in r11 and REJECTED: Spark
    // was neutral within noise (per-task fixed cost on tiny files roughly
    // cancels against scan parallelism) while DuckDB gained 20-30% from
    // the fewer file opens (q05 0.074→0.050 s, q13 0.044→0.031 s), so
    // the flat corpus is kept — the many-file shape is the distributed
    // design point this engine targets, and both engines read the
    // identical files either way.
    def write(df: DataFrame, name: String): Unit =
      df.repartition(nFiles).write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    def repN(df: DataFrame, shifts: Map[String, Long]): DataFrame =
      rep(df, shifts, reps)

    write(src("region"), "region")
    write(src("nation"), "nation")
    write(repN(src("customer"), Map("c_custkey" -> KeyShift)), "customer")
    write(repN(src("supplier"), Map("s_suppkey" -> KeyShift)), "supplier")
    write(repN(src("part"), Map("p_partkey" -> KeyShift)), "part")
    write(repN(src("orders"),
      Map("o_orderkey" -> KeyShift, "o_custkey" -> KeyShift)), "orders")
    write(repN(src("lineitem"),
      Map("l_orderkey" -> KeyShift, "l_partkey" -> KeyShift,
        "l_suppkey" -> KeyShift)), "lineitem")
    write(repN(src("documents"), Map("doc_id" -> IdShift)), "documents")
    write(repN(src("embeddings"), Map("vec_id" -> IdShift)), "embeddings")
    marker.getParentFile.mkdirs()
    java.nio.file.Files.write(marker.toPath, fingerprint.getBytes("UTF-8"))
    outDir
  }

  /** Production-path semantic near-dup (banded LSH -> exact verify) on
    * the FULL embeddings table — the scale analog of the fixture-bounded
    * `dedup_semantic` gate. Every vector has 9 identical replicas, so
    * every LSH bucket carries maximal duplicate pressure.
    */
  def semanticNearDup(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.queries.Tables.t(spark, dir, "embeddings")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    // the row count a lake catalog serves for free (exact per-file
    // record_count); passing it keeps the adaptive keyspace sizing from
    // re-counting the corpus inside every timed iteration
    val n = emb.count()
    graft.ops.Similarity.cosineNearDupPairs(
      emb, "vec_id", "embedding", dim = dim, threshold = 0.95,
      knownCount = Some(n))
  }

  /** Planted-skew join for the AQE skew-split evidence: 10% of lineitem
    * rows collapse onto ONE join key (the classic hot-customer/hot-URL
    * shape), joined against orders and aggregated. Broadcast is disabled
    * for the run — at 100 TB neither side broadcasts, and the point is
    * the SMJ skew path — and AQE's skew thresholds are scaled to bench
    * data volume (defaults trigger at 256 MB partitions; the planted hot
    * partition here is tens of MB) so the exact mechanism a 1000-executor
    * run relies on demonstrably fires.
    */
  private def skewJoinFrame(spark: SparkSession, dir: String): DataFrame = {
    // the planted hot partition must be skewed in shuffle BYTES, not just
    // rows: a constant key + low-entropy quantity column LZ4-compresses
    // to near the median partition size (measured max/median 1.46x on a
    // 4.5x row skew), hiding the skew from AQE's byte-based detector.
    // l_extendedprice/l_discount/l_tax carry per-row entropy the codec
    // cannot fold, so byte skew tracks the row skew
    val li = graft.queries.Tables.t(spark, dir, "lineitem")
      .select(when(pmod(xxhash64(col("l_orderkey")), lit(10)) === 0, lit(1L))
        .otherwise(col("l_orderkey")).as("k"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"))
    val o = graft.queries.Tables.t(spark, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_totalprice"))
    li.join(o, "k")
      .groupBy(col("k") % 97)
      .agg(sum(col("l_quantity") * col("o_totalprice")).as("v"),
        sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax"))).as("rev"))
  }

  /** Listener summing shuffle WRITE bytes over completed stages — the
    * volume check behind the wall-clock one: a query whose 10× shuffle
    * is ~10× the sf0.1 shuffle provably has no quadratic exchange.
    */
  private final class ShuffleTally extends org.apache.spark.scheduler.SparkListener {
    val bytes = new java.util.concurrent.atomic.AtomicLong(0)
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      bytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
  }

  /** The scoped confs under which the AQE skew-split evidence runs. */
  val skewConfs: Map[String, String] = Map(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4m",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2m",
    // the planted hot key holds ~12.8% of rows vs a ~2.8% median
    // partition — a 4.6x ratio, under the default skewedPartitionFactor
    // of 5.0, so the detector needs the factor lowered to see it
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
    // one scan task per corpus file: AQE splits a skewed partition at
    // MAP boundaries only, so the probe needs a cluster-like mapper
    // count, not two fat local tasks
    "spark.sql.files.maxPartitionBytes" -> "8m")

  /** Whether the scale pass runs at all (env kill-switch + bench SF). */
  def enabled(sfDir: String): Boolean =
    sys.env.getOrElse("SPARK_GRAFT_SCALE10", "1") != "0" && sfDir.contains("sf0.1")

  /** Result of the decision-grade 10× TPC-H cross-engine pass, carried
    * from the START of the bench run (r13 verdict task 1: the headline
    * ratio suite must run FIRST, before the sf0.1 sweep and retime
    * passes deplete the burstable host's CPU budget) to the final
    * artifact assembly. `fields` is the pre-rendered JSON fragment for
    * the scale10 object (tpch_10x_sec/sd/host/retimed/stages/plan_ms and
    * vs_duckdb_10x).
    */
  final case class Tpch10x(dir: String, buildSec: Double,
      mins: Map[String, Double], fields: String,
      vsShort: Option[String], retimed: Int)

  /** Phase 1 of the scale pass: corpus build + the 22-query TPC-H 10×
    * suite + cross-engine ratios. Runs BEFORE the sf0.1 sweep so the
    * round's headline number is measured on the freshest host window.
    */
  def tpch10xPass(spark: SparkSession, sfDir: String): Option[Tpch10x] = {
    if (!enabled(sfDir)) return None
    val iters = sys.env.getOrElse("SPARK_GRAFT_SCALE10_ITERS", "2").toInt
    // same warmup discipline as the headline Bench: one warmup leaves
    // JIT compilation inside min-of-N (measured: q20 published 58.7×
    // under 1 warmup vs 8.6× warm in a clean session — a 6.8×
    // measurement error; per-query decay shows minima still falling at
    // iteration 5). Every timed path below warms ≥2 passes.
    val warmups = math.max(2, sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUPS", "2").toInt)
    try {
      val t0 = System.nanoTime()
      val dir = buildCorpus(spark, sfDir)
      val buildSec = (System.nanoTime() - t0) / 1e9

      // Warm-min timing for the ratio suite. r10 verdict finding 1:
      // timeOnly's old 1-warmup + min-of-2 left JIT compilation inside
      // the published minima (q20 58.7× published vs 8.6× warm). Protocol
      // now exceeds the headline Bench's: ≥2 warmups then min of ≥5
      // timed iterations — per-query decay curves show multi-join minima
      // still falling through run ~7 (q09 1.65→1.03 over 8), and these
      // ratios are the round's headline, so the extra ~20 s buys a
      // fully-warm measurement, matching DuckDB's best-of-3 over its own
      // warmed process. Returns (min, stddev, load1, cpu_x, st_x): host
      // contention inflates whole windows by ±15% run-to-run on this VM,
      // so each window carries its spread and host evidence
      // (HostEvidence — /proc/loadavg + process CPU per wall second),
      // plus an ADJACENT single-thread calibration probe (r14 verdict
      // task 2: run-level point probes between suites read healthy while
      // sustained steal inflated the suite between them 2-10×; a probe
      // next to each window is the evidence that adjudicates THAT
      // window). st_x is -1 when no calibration reference is committed.
      def timeOnly(mk: () => DataFrame): (Double, Double, Double, Double, Double) = {
        def once(): Double = {
          val s = System.nanoTime()
          mk().write.mode("overwrite").format("noop").save()
          (System.nanoTime() - s) / 1e9
        }
        (1 to warmups).foreach(_ => once())
        val (ts, _, cpuX, load) = HostEvidence.window {
          (1 to math.max(iters, 5)).map(_ => once())
        }
        val stX = Calibration.stXOf(Calibration.stProbe()).getOrElse(-1.0)
        val avg = ts.sum / ts.size
        (ts.min,
          math.sqrt(ts.map(x => (x - avg) * (x - avg)).sum / ts.size),
          load, cpuX, stX)
      }
      // q20's HAVING qty > 50 is scale-sensitive: at 10× replication
      // every supplier's replicated sum clears 50, so the semi join
      // filters nothing and the timed shape drifts from the query's
      // intent. The threshold scales with the replica count here (the
      // DuckDB recording applies the same substitution — see
      // scripts/time_oracle.py --sub), keeping the join selective; the
      // correctness gate at oracle SF keeps the canonical 50.
      val tpchMk: Seq[(String, () => DataFrame)] = graft.queries.Tpch.defs
        .map(_._1).filter(SparkEntry.queries.contains).map { n =>
          val mk: () => DataFrame =
            if (n == "q20_promo_suppliers")
              () => graft.queries.Tpch.q20Frame(spark, dir, 50L * replicas)
            else () => SparkEntry.queries(n)(spark, dir)
          n -> mk
        }
      // Suite-level JVM warm-in (needed since the 10× pass moved FIRST
      // in the run): per-query warmups alone under-warm the SHARED
      // machinery — codegen framework, vectorized parquet reader,
      // shuffle writer JIT — when the JVM is cold, and that warmth
      // accrues across queries, not within one. The first reordered run
      // published 1.4-2.4× inflated minima on the earliest-timed
      // queries (q01 0.16→0.39 s on identical code) while the late
      // ones matched; one untimed pass over the whole suite restores
      // the warm state the sf0.1 sweep used to provide when it ran
      // first, for ~15 s.
      tpchMk.foreach { case (n, mk) =>
        try mk().write.mode("overwrite").format("noop").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] suite warm-in $n failed: ${e.getMessage}")
        }
      }
      val tpchTimed = tpchMk.map { case (n, mk) => n -> timeOnly(mk) }
      // plan/exec split at 10× (reference parity:
      // benchmark/src/datafusion_runner.rs:42-81 reports plan_ms vs
      // exec_ms): planning measured warm on a fresh Dataset — analysis
      // through physical planning, metadata caches already hot.
      // per-query try/catch throughout the decomposition passes: one
      // transient failure must cost that query's field, never the whole
      // already-measured artifact (r13 review finding)
      val tpchPlanMs = tpchMk.flatMap { case (n, mk) =>
        try {
          val p0 = System.nanoTime()
          mk().queryExecution.executedPlan
          Some(n -> (System.nanoTime() - p0) / 1e6)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] plan_ms $n failed: ${e.getMessage}")
            None
        }
      }
      val tpchPlanJson = tpchPlanMs
        .map { case (n, p) => "\"" + n + "\":" + f"$p%.1f" }
        .mkString("{", ",", "}")
      // Contention re-time pass (r12 directive, same rule as the
      // headline Bench): any 10× query whose σ exceeds 50% of its min
      // had a contended window — re-time it once at end of the suite in
      // RANDOMIZED order, publish both values, and let the ratios use
      // the better min (a re-timed run is a true execution of the same
      // warm plan). r14 verdict task 2 adds the second trigger: a window
      // whose ADJACENT st-probe exceeded the degradation threshold is
      // flagged even when its σ looks tight — sustained steal inflates
      // every sample uniformly (r14's q08: min 7.01 vs 0.66 on identical
      // code at σ/min 0.31), so σ alone cannot see it. CAPPED at
      // RetimeCap (r13 verdict task 1: 53 retimes across r13's session
      // actively depleted the burstable host; keep the worst offenders
      // by relative excess over their trigger, drop the rest).
      val mkByName = tpchMk.toMap
      val base10 = baseline10x()
      def cpuXBaseOf(n: String) = base10.get(n).flatMap(_._3)
      // min-corroboration against the committed 10× baseline (same rule
      // as the sf0.1 sweep — see Calibration.windowDegraded)
      def atBase10(n: String, t: Double) = base10.get(n).exists {
        case (bm, bsd, _) => t <= bm + Calibration.driftTol(bm, bsd) }
      val tpchFlagged = tpchTimed.collect {
        case (n, (mn, sd, _, cpuX, stX)) if mn > 0 &&
            (sd > 0.5 * mn || stX > Calibration.DegradedAt ||
              (!atBase10(n, mn) &&
                Calibration.cpuXDegraded(cpuX, cpuXBaseOf(n)))) =>
          val cpuXx = cpuXBaseOf(n).filter(_ > 0)
            .map(b => cpuX / (Calibration.CpuXDegradedFactor * b)).getOrElse(0.0)
          (n, Seq(sd / mn / 0.5, stX / Calibration.DegradedAt, cpuXx).max)
      }.sortBy(-_._2).take(RetimeCap).map(_._1)
      // each retime carries its OWN adjacent probe and cpu_x: a retime
      // taken on a still-degraded window must not launder the query back
      // into the adjudicable set
      val tpchRetimed: Map[String, (Double, Double, Double, Double)] =
        new scala.util.Random(System.nanoTime()).shuffle(tpchFlagged).flatMap { n =>
          try {
            val (t, _, reCpuX, load) = HostEvidence.window {
              val s = System.nanoTime()
              mkByName(n)().write.mode("overwrite").format("noop").save()
              (System.nanoTime() - s) / 1e9
            }
            val stX = Calibration.stXOf(Calibration.stProbe()).getOrElse(-1.0)
            Some(n -> ((t, load, stX, reCpuX)))
          } catch {
            // a retime candidate is by definition one with an unstable
            // window; its failure keeps the first-pass min, not void
            // the artifact
            case e: Throwable =>
              System.err.println(s"[bench] retime $n failed: ${e.getMessage}")
              None
          }
        }.toMap
      val tpchMins = tpchTimed.map { case (n, (mn, _, _, _, _)) =>
        n -> tpchRetimed.get(n).map(_._1).fold(mn)(math.min(mn, _))
      }
      // Per-query adjudicability (r14 verdict task 2 + r15 task 2): a
      // query's timing is adjudicable iff SOME window it ran in was on a
      // healthy host — the first pass, or failing that its retime's
      // window. Degraded-host evidence is the adjacent st-probe
      // (frequency-class depletion) OR the window's cpu_x vs the
      // committed baseline's cpu_x for the same query (multi-core class
      // — the depletion mode that actually contaminated r12-r15, which a
      // 1-thread probe reads straight through). A cleansing retime must
      // have MEASURED clean on both axes (r15 advice: a failed probe,
      // st_x = -1, must not launder). With neither signal available the
      // σ-reconfirmation rule decides alone.
      val tpchNonAdj: Set[String] = tpchTimed.collect {
        case (n, (mn, sd, _, cpuX, stX)) if mn > 0 && {
          val re = tpchRetimed.get(n)
          val bc = cpuXBaseOf(n)
          if (Calibration.windowDegraded(stX, cpuX, bc,
              minRegressed = !atBase10(n, mn)))
            !re.exists(r => r._1 >= 0 && Calibration.windowClean(r._3, r._4, bc,
              timeAtBaseline = atBase10(n, r._1)))
          else if (stX < 0)
            sd > 0.5 * mn &&
              !re.exists(r => r._1 <= math.max(1.5 * mn, mn + 0.05))
          else false
        } => n
      }.toSet
      if (tpchNonAdj.nonEmpty)
        System.err.println(s"[bench] 10x non-adjudicable windows: " +
          tpchNonAdj.toSeq.sorted.mkString(", "))
      // the measured per-query floor: planning + job scheduling + noop
      // commit for a zero-row plan. Measured at ~0.01 s — i.e. the gap
      // to DuckDB is NOT driver scheduling; it is per-stage engine
      // overhead (task launch across 32 partitions × several stages,
      // row-based shuffle serialization) that shrinks as data per task
      // grows, which is exactly the regime a 100 TB corpus is in.
      val floorSec = timeOnly(() => spark.range(0).toDF())._1
      val vs10x = CrossEngine.ratios(
        java.nio.file.Paths.get("bench", "duckdb_times_scale10.json"),
        tpchMins.toMap,
        expectedFingerprint = Some(corpusFingerprint(sfDir)),
        note = f"TPC-H shapes at 10x (~SF1): spark min / duckdb " +
          f"best-of-3 on the identical 32-file corpus parquet; measured " +
          f"empty-plan floor $floorSec%.2fs (floor_sec) — the remaining " +
          f"gap is per-stage overhead that amortizes with rows per task",
        nonAdjudicable = tpchNonAdj)
      // Per-query stage-count decomposition (r12 directive): how many
      // stages each 10× query actually RAN (completed-stage events over
      // one execution — AQE reuse/skips don't count, which is the
      // honest number). Together with floor_sec this separates plan
      // slack from the structural per-stage JVM constant: a query at
      // stages × per-stage-floor is engine constant, not a plan defect.
      val stageTally = new java.util.concurrent.atomic.AtomicInteger(0)
      val stageListener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stageTally.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(stageListener)
      def settledStages(): Int = {
        var prev = -1; var quiet = 0; var waited = 0
        while (quiet < 3 && waited < 8000) {
          val b = stageTally.get
          if (b == prev) quiet += 1 else quiet = 0
          prev = b; Thread.sleep(150); waited += 150
        }
        stageTally.get
      }
      // the settled post-count of query k IS query k+1's pre-count —
      // carrying it forward halves the ~450 ms minimum settle sleeps
      var stagePre = settledStages()
      val tpchStages = tpchMk.flatMap { case (n, mk) =>
        try {
          mk().write.mode("overwrite").format("noop").save()
          val post = settledStages()
          val out = Some(n -> (post - stagePre))
          stagePre = post
          out
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] stage count $n failed: ${e.getMessage}")
            stagePre = settledStages() // resync after a partial run
            None
        }
      }
      spark.sparkContext.removeSparkListener(stageListener)
      val tpchStageJson = tpchStages
        .map { case (n, c) => "\"" + n + "\":" + c }
        .mkString("{", ",", "}")

      val tpchJson = (tpchMins :+ ("floor_sec" -> floorSec))
        .map { case (n, t) => "\"" + n + "\":" + f"$t%.2f" }
        .mkString("{", ",", "}")
      val tpchSdJson = tpchTimed
        .map { case (n, (_, sd, _, _, _)) => "\"" + n + "\":" + f"$sd%.3f" }
        .mkString("{", ",", "}")
      val tpchHostJson = tpchTimed
        .map { case (n, (_, _, load, cpuX, stX)) =>
          "\"" + n + "\":" + f"""{"load1":$load%.1f,"cpu_x":$cpuX%.1f,"st_x":$stX%.2f}""" }
        .mkString("{", ",", "}")
      val tpchRetimedJson = tpchTimed
        .collect { case (n, (mn, _, _, _, _)) if tpchRetimed.contains(n) =>
          val (t, rl, rStX, rCpuX) = tpchRetimed(n)
          "\"" + n + "\":" + f"""{"min1":$mn%.2f,"retime":$t%.2f,"retime_load1":$rl%.1f,"retime_st_x":$rStX%.2f,"retime_cpu_x":$rCpuX%.1f}""" }
        .mkString("{", ",", "}")
      val fields =
        s""""tpch_10x_sec":$tpchJson,"tpch_10x_sd":$tpchSdJson,""" +
        s""""tpch_10x_host":$tpchHostJson,"tpch_10x_retimed":$tpchRetimedJson,""" +
        s""""tpch_10x_stages":$tpchStageJson,"tpch_10x_plan_ms":$tpchPlanJson""" +
        vs10x.map(v => s""","vs_duckdb_10x":${v._2}""").getOrElse("")
      Some(Tpch10x(dir, buildSec, tpchMins.toMap, fields,
        vs10x.map(_._1), tpchRetimed.size))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] scale10 tpch pass failed: ${e.getMessage}")
        None
    }
  }

  /** Max σ-flagged retimes per pass (r13 verdict task 1: retime volume
    * itself depletes the burstable host — 53 retimes last session).
    */
  val RetimeCap = 8

  /** Per-query (min, stddev, cpu_x) of the committed clean 10× suite —
    * the multi-core depletion reference AND min-corroboration baseline
    * for the 10× pass (r15 verdict task 2), recorded by
    * scripts/record_baseline.py from the validated run's tpch_10x
    * sections. Empty when the baseline predates the field.
    */
  private def baseline10x(): Map[String, (Double, Double, Option[Double])] = try {
    val p = java.nio.file.Paths.get("bench", "baseline_sf0.1.json")
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.readTree(java.nio.file.Files.readAllBytes(p))
      Option(node.get("tpch_10x")).map { m =>
        val it = m.fieldNames()
        val out = scala.collection.mutable.Map
          .empty[String, (Double, Double, Option[Double])]
        while (it.hasNext) {
          val k = it.next()
          val e = m.get(k)
          val mn = e.get("min").asDouble
          if (mn > 0) out += k -> ((mn,
            Option(e.get("stddev")).map(_.asDouble).getOrElse(0.0),
            Option(e.get("cpu_x")).map(_.asDouble).filter(_ > 0)))
        }
        out.toMap
      }.getOrElse(Map.empty)
    }
  } catch { case _: Throwable => Map.empty }

  /** Phase 2 of the scale pass: the heavy linear_x replays, semantic
    * LSH, CC/hot-bucket/skew stress probes — runs AFTER the sf0.1 sweep
    * (it needs the sf0.1 minima for linear_x) and assembles the final
    * scale10 artifact by merging in phase 1's pre-rendered fields.
    * `baseDir` is the sf0.1 data in the SAME layout the headline timings
    * used (staged multi-file since round 10), so linear_x compares like
    * layouts at both scales.
    */
  def finishRun(spark: SparkSession, sfDir: String, baseDir: String,
      sf01Mins: Map[String, Double], first: Option[Tpch10x]): Option[(String, String)] = {
    if (!enabled(sfDir)) return None
    val iters = sys.env.getOrElse("SPARK_GRAFT_SCALE10_ITERS", "2").toInt
    val warmups = math.max(2, sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUPS", "2").toInt)
    try {
      // phase 1 normally built the corpus; if it failed, build here so
      // the stress probes still report
      val dir = first.map(_.dir).getOrElse(buildCorpus(spark, sfDir))
      val buildSec = first.map(_.buildSec).getOrElse(0.0)

      val tally = new ShuffleTally
      spark.sparkContext.addSparkListener(tally)
      // stage-completed events are delivered asynchronously and the bus
      // can lag several seconds behind a heavy run, so each snapshot
      // waits until the tally stops moving (≥600 ms quiet, 10 s cap) —
      // a fixed sleep mis-attributes whole stages. Shuffle volume is
      // deterministic per run, so one captured run suffices.
      def settle(): Unit = {
        var prev = -1L; var quiet = 0; var waited = 0
        while (quiet < 3 && waited < 10000) {
          val b = tally.bytes.get
          if (b == prev) quiet += 1 else quiet = 0
          prev = b; Thread.sleep(200); waited += 200
        }
      }
      def shuffleOf(run: () => Unit): Long = {
        settle(); val pre = tally.bytes.get
        run()
        settle(); tally.bytes.get - pre
      }

      def time(mk: () => DataFrame): (Double, Long) = {
        def once(): Double = {
          val s = System.nanoTime()
          mk().write.mode("overwrite").format("noop").save()
          (System.nanoTime() - s) / 1e9
        }
        (1 to warmups).foreach(_ => once()) // JIT/codegen/caches warm
        val head = (1 until iters).map(_ => once())
        var last = 0.0
        val sh = shuffleOf(() => last = once())
        ((head :+ last).min, sh)
      }

      val names = heavy.filter(SparkEntry.queries.contains)
      val rows = names.map { n =>
        val (t, sh) = time(() => SparkEntry.queries(n)(spark, dir))
        val shBase = shuffleOf(() =>
          SparkEntry.queries(n)(spark, baseDir)
            .write.mode("overwrite").format("noop").save())
        val lin = sf01Mins.get(n).filter(_ > 0)
          .map(m => t / (replicas * m))
        val shX = if (shBase > 0) Some(sh.toDouble / (replicas * shBase)) else None
        (n, t, lin, Some(sh), shX)
      }
      // semantic LSH production path, timed at both scales for its own
      // ratio. The frame is built ONCE per scale (dim probe + corpus
      // count are catalog-grade metadata, not per-run work) and its plan
      // re-executes fully on every timed save.
      val semBaseDf = semanticNearDup(spark, baseDir)
      val semScaleDf = semanticNearDup(spark, dir)
      val (semBase, semShBase) = time(() => semBaseDf)
      val (semScale, semSh) = time(() => semScaleDf)
      // isolated CC stress: a 1M-vertex scrambled PATH — the worst
      // shape for any propagation-style algorithm (diameter = n) and the
      // exact class that drove the r7 Shiloach–Vishkin rewrite. Timed as
      // one number (no linear_x twin; the input is synthetic): the
      // hook+shortcut loop must finish in O(log n) rounds at this size.
      val ccN = 1000000L
      val ccSec = {
        val edges = spark.range(ccN - 1).select(
          (col("id") * 2654435761L % 1000000007L).as("src"),
          ((col("id") + 1) * 2654435761L % 1000000007L).as("dst"))
        val s = System.nanoTime()
        val out = graft.ops.Dedup.connectedComponents(edges, "src", "dst")
        require(out.select(count_distinct(col("component"))).head.getLong(0) == 1L)
        (System.nanoTime() - s) / 1e9
      }
      // hot-bucket stress: EVERY document byte-identical — the
      // adversarial shape for LSH blocking. Since the r15 exact-collapse
      // the whole corpus folds to ONE banded representative plus a
      // consecutive-id chain: exactly n−1 pairs (the uncapped legacy
      // expansion was ~3·10^10 pairs in one task; the r11-r14
      // successor-chain cap bounded it at O(n·k)); the exact count
      // doubles as a correctness check of the collapse itself.
      val hotN = 200000L
      val hotSec = {
        val docs = spark.range(hotN).select(col("id").as("doc_id"),
          lit("the quick brown fox jumps over the lazy dog again and again")
            .as("text"))
        val s = System.nanoTime()
        val cnt = graft.ops.Dedup.minhashCandidates(docs, "text", "doc_id").count()
        val want = hotN - 1
        require(cnt == want, s"hot-bucket pair count $cnt != $want")
        (System.nanoTime() - s) / 1e9
      }
      // AQE skew-join evidence: time the planted-skew join at both scales
      // and verify the final adaptive plan actually split the hot
      // partition (SortMergeJoin(skew=true)). Conf changes are scoped and
      // restored.
      // Option(…) inside: adaptive.autoBroadcastJoinThreshold defaults to
      // a NULL value (get succeeds, returns null) — restoring null via
      // conf.set throws, so null must round-trip as unset
      val saved = skewConfs.keys.map(k =>
        k -> scala.util.Try(Option(spark.conf.get(k))).toOption.flatten).toMap
      val (skewSec, skewLin, skewFired) =
        try {
          skewConfs.foreach { case (k, v) => spark.conf.set(k, v) }
          val (base, _) = time(() => skewJoinFrame(spark, baseDir))
          val (scaled, _) = time(() => skewJoinFrame(spark, dir))
          // the skew evidence must come from the probe's OWN
          // QueryExecution: a noop write plans a fresh QueryExecution
          // around the write command, leaving probe.queryExecution
          // un-executed — its AdaptiveSparkPlanExec would print the
          // initial (isFinalPlan=false) plan, which can never carry
          // skew=true. collect() (97 groups) finalizes the adaptive plan
          val probe = skewJoinFrame(spark, dir)
          probe.collect()
          val fired = probe.queryExecution.executedPlan.toString.contains("skew=true")
          (scaled, Some(scaled / (replicas * base)), fired)
        } finally saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None)    => spark.conf.unset(k)
        }
      spark.sparkContext.removeSparkListener(tally)

      val all = rows :+
        (("semantic_neardup_lsh", semScale,
          Some(semScale / (replicas * semBase)), Some(semSh),
          if (semShBase > 0) Some(semSh.toDouble / (replicas * semShBase))
          else None)) :+
        (("cc_path_1m", ccSec, None: Option[Double],
          None: Option[Long], None: Option[Double])) :+
        (("hot_bucket_minhash_200k", hotSec, None: Option[Double],
          None: Option[Long], None: Option[Double])) :+
        (("skew_join_aqe", skewSec, skewLin,
          None: Option[Long], None: Option[Double]))

      val total = all.map(_._2).sum
      val worst = all.flatMap(_._3) match {
        case s if s.nonEmpty => s.max
        case _ => -1.0
      }
      val detail = all.map { case (n, t, lin, sh, shX) =>
        val l = lin.map(x => f""","linear_x":$x%.2f""").getOrElse("")
        val s1 = sh.map(b => f""","shuffle_mb":${b / 1e6}%.1f""").getOrElse("")
        val s2 = shX.map(x => f""","shuffle_x":$x%.2f""").getOrElse("")
        "\"" + n + "\":" + f"""{"sec":$t%.4f$l$s1$s2}"""
      }.mkString("{", ",", "}")
      val tpchFields = first.map(t => "," + t.fields).getOrElse("")
      val retimed = first.map(_.retimed).getOrElse(0)
      val full = f"""{"replicas":$replicas,"iters":$iters,"build_sec":$buildSec%.1f,"total_sec":$total%.4f,"worst_linear_x":$worst%.2f,"aqe_skew_split_fired":$skewFired$tpchFields,"queries":$detail}"""
      val short = f"""{"total_sec":$total%.1f,"worst_linear_x":$worst%.2f,"skew":$skewFired,"n":${all.size},"retimed":$retimed${first.flatMap(_.vsShort).map(v => s""","vs_duckdb_10x":$v""").getOrElse("")}}"""
      Some((short, full))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] scale10 failed: ${e.getMessage}")
        None
    }
  }
}
