package graft

import org.apache.spark.sql.SparkSession

/** Bench ingest: stage the driver testdata into a scan-parallel layout.
  *
  * The driver-generated parquet fixtures are written as ONE file with
  * ONE row group per table (600k lineitem rows in a single row group at
  * sf0.1). Parquet row groups are the unit of split for every
  * row-group-granular engine, so against the raw fixtures EVERY scan
  * stage — and with it the whole map phase of the compute-heavy text /
  * dedup operators — runs as a single task on a 32-core machine. No
  * real corpus looks like this: a 100 TB table is thousands of files /
  * row groups and scans are embarrassingly parallel.
  *
  * The reference's benchmark protocol ingests the source data into the
  * engine's preferred layout before timing (benchmark/src/main.rs —
  * load phase precedes the timed runs); this is the Spark analog: a
  * one-time, fingerprinted, declared re-write of each table into
  * size-proportional multi-file parquet under /tmp. Verify (the
  * correctness gate) keeps reading the raw fixtures — only Bench stages
  * data (since round 10; SPARK_GRAFT_RAW=1 opts back into the raw
  * fixtures), and the staging time is reported in
  * the bench artifact (`relayout_sec`), never folded into query
  * timings. The DuckDB cross-engine recording must be taken on the
  * SAME staged layout (scripts/time_oracle.py handles directory
  * tables); [[fingerprint]] is embedded in the recording so Bench can
  * detect a stale one.
  */
object BenchLayout {

  /** File count per table: size-proportional (1 file per 256 KB, capped
    * at the 32-core bench width) — so the big fact tables scan 32-way
    * while a 300 KB dimension isn't shredded into 32 ~10 KB files,
    * whose per-file open/schedule overhead measurably REGRESSED the
    * scan-light queries (setops/pivot on small tables, r10 A/B) —
    * EXCEPT documents/embeddings, which are small on disk but carry the
    * heaviest per-row compute (tokenization, sketching, vector math):
    * for them the map phase, not the scan, is what the file count must
    * spread across cores (txt_chunk 0.90 s → 0.32 s measured).
    */
  private[graft] def fileCount(name: String, bytes: Long): Int =
    if (name == "documents" || name == "embeddings") 32
    else math.max(1, math.min(32, (bytes / (256L << 10)).toInt))

  def stagedDir(srcDir: String): String =
    s"/tmp/graft_bench_${srcDir.replaceAll("[^a-zA-Z0-9.]", "_")}"

  /** Source-content fingerprint (sizes + mtimes + layout version): keys
    * the staging marker AND rides the DuckDB timing recording, so a
    * recording taken on an older fixture generation is detectably stale.
    */
  def fingerprint(srcDir: String): String = {
    val srcFiles = Option(new java.io.File(srcDir).listFiles())
      .getOrElse(sys.error(s"BenchLayout: source dir $srcDir missing or unreadable"))
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    srcFiles.map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString("|") + "|relayout-v3"
  }

  /** Returns (stagedDir, stagingSeconds); stagingSeconds is 0.0 when a
    * fingerprint-matched staging already exists from a previous run.
    * Single-process use assumed: two JVMs staging the same srcDir
    * concurrently would race on the overwrite+marker sequence (the
    * bench protocol never does this).
    */
  def prepare(spark: SparkSession, srcDir: String): (String, Double) = {
    val outDir = stagedDir(srcDir)
    val marker = new java.io.File(s"$outDir/_GRAFT_BENCH_LAYOUT_DONE")
    val fp = fingerprint(srcDir)
    if (marker.exists() &&
        new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8") == fp)
      return (outDir, 0.0)

    val t0 = System.nanoTime()
    graft.queries.Tables.names.foreach { name =>
      val src = new java.io.File(srcDir, s"$name.parquet")
      if (src.exists()) {
        val n = fileCount(name, src.length)
        // events flows through Tables.t's nanos→µs NTZ normalization and
        // is re-read the same way (t() no-ops on native timestamps)
        graft.queries.Tables.t(spark, srcDir, name)
          .repartition(n)
          .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      }
    }
    marker.getParentFile.mkdirs()
    java.nio.file.Files.write(marker.toPath, fp.getBytes("UTF-8"))
    (outDir, (System.nanoTime() - t0) / 1e9)
  }
}
