package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session of the bench harness: [[Bench]], [[Probe100x]]
  * and [[Diag]] time and plan under these settings, so a dumped plan or a
  * stage audit matches the timed plan shape. `SPARK_GRAFT_CPUS` (default
  * 32) sets the local cores and the shuffle partitions.
  */
object BenchSession {

  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Engine runtime tuning, A/B-measured on the 10× (~SF1) corpus (r11):
    * tmpfs shuffle dirs (see [[apply]]) + uncompressed shuffle files cut
    * the per-stage constant (q13 0.70→0.49 s, q18 0.86→0.66 s — local
    * shuffles are small and memory-speed, so LZ4 CPU is pure loss; on a
    * network cluster compression is a bandwidth tradeoff, not a
    * correctness one), and doubling the vectorized reader batch halves
    * per-batch dispatch on the wide fact scans.
    * (r14 no-win note, recovered-host A/B: AQE post-shuffle coalescing
    * tuned for fewer/bigger reduce tasks — parallelismFirst=false +
    * advisory 16m — measured uniformly WORSE on the stage-heavy 10×
    * queries: q18 0.72→1.41 s, q13 0.49→0.71 s. At this scale the reduce
    * stages are CPU-bound, so cutting their parallelism costs far more
    * than the saved task launches; the defaults stand.)
    */
  val confs: Seq[(String, String)] = Seq(
    "spark.sql.extensions" -> "graft.lake.connector.GraftSparkExtensions",
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.shuffle.compress" -> "false",
    "spark.shuffle.spill.compress" -> "false",
    "spark.sql.parquet.columnarReaderBatchSize" -> "16384",
    // 4 MB broadcast threshold (static + adaptive): Spark's default
    // 10 MB static threshold trusts file-size × column-prune
    // estimates, which at ~SF1 classify the 1.5M-row orders table as
    // broadcastable (25 MB parquet × 2/9 columns ≈ 5.5 MB) — and the
    // driver then single-threadedly builds a 128 MiB, 1.5M-entry
    // hash relation per execution. Measured on q09's stage timeline:
    // a 670 ms driver-only gap between the scan stages and the probe
    // stage, vs ~200 ms to shuffle the same join 32-way (q09
    // 0.93→0.51 s, q07 0.92→0.51 s). True dimension tables
    // (nation/region/supplier/part/customer) stay far under 4 MB and
    // keep their broadcasts; at 100 TB the same threshold still
    // broadcasts exactly the provably-bounded sides.
    "spark.sql.autoBroadcastJoinThreshold" -> "4m",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "4m",
    // Runtime SMJ→SHJ conversion (r15, interleaved A/B at 10×):
    // AQE replaces a sort-merge join with a shuffled hash join when
    // EVERY build-side shuffle partition measures under this bound —
    // both sort passes vanish from the fact joins. Re-measured on an
    // r16 round-start quiet window after a null experiment sized the
    // A/B bias at ~5% (r15 verdict task 5): q03 1.30→1.12 s min,
    // q04 1.00→0.78 s, q13 neutral (0.67→0.61), q18 (its r16
    // pre-shuffled shape) prefers SMJ at 10× (1.04→1.37) but measured
    // neutral at 100× — kept ON as the net win. Scale-safe by
    // mechanism: the decision is per-join on MEASURED partition sizes
    // at runtime — at 100 TB the fact-fact partitions exceed 64 MB and
    // AQE keeps SMJ; only provably-bounded build sides convert. (64m
    // equals the advisory partition size, which is this rule's
    // activation floor — a smaller value like 16m silently disables
    // it.)
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m",
    // Runtime bloom-filter join pruning (r16): dynamic filtering on
    // selective dim→fact joins — a bloom built from the filtered
    // build side drops fact rows BEFORE the join shuffle. Spark's
    // defaults gate it on a ≥10 GB application-side scan, sized for
    // cluster fact tables; at this corpus scale that default disables
    // the exact mechanism a 100 TB deployment would be using, so the
    // application-side floor is scaled to the corpus (256m clears
    // every staged fact scan and no dimension scan). The creation
    // side stays capped (64m): bloom-BUILD cost is the unbounded
    // term, and at production scale an over-cap build side
    // self-disables the filter — the same honest gating as AQE's SHJ
    // rule above. Stage audit of q16 at 100×: lineitem join-shuffle
    // 1680→164 MB, total CPU 50→27 s. Interleaved conf A/B at 100×:
    // q17 −68% (Brand#23 prunes lineitem ~25×), q09 −25%, q08 −21%,
    // q16 −17%, q21 −8%, q05 mixed (min +14%, avg −12%); at 10× no
    // regressions (q16 −9%, q17 −13%, q08 −9% on min).
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "256m",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "64m",
    "spark.ui.enabled" -> "false")

  /** Extra confs for a session that (re)builds the replica corpora: the
    * 100-replica lineitem sort runs as ONE 60M-row task, and under GC
    * pressure it exceeded the default 120 s heartbeat timeout and killed
    * the local executor mid-build (observed r16). Harmless for timing:
    * local mode has no real liveness to protect.
    */
  val CorpusBuild: Seq[(String, String)] = Seq("spark.network.timeout" -> "600s")

  /** The bench session on `local[cpus]` with [[confs]], then `extra` on
    * top (a later pair wins). Shuffle files go to /dev/shm when it is
    * writable (the default local dir otherwise).
    */
  def apply(extra: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder().master(s"local[$cpus]")
    confs.foreach { case (k, v) => builder.config(k, v) }
    val shmDir = new java.io.File("/dev/shm")
    if (shmDir.isDirectory && shmDir.canWrite)
      builder.config("spark.local.dir", "/dev/shm/graft_bench_local")
    extra.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the bounded month-grain analytics windows intentionally run on one
    // partition (their input is a post-aggregate of O(months) rows) —
    // WindowExec's blanket no-partition warning for them is noise that
    // drowns the artifact tail, so that one logger rides at ERROR
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
