package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev diagnostics, one CLI over the bench session ([[BenchSession]]):
  *
  * {{{
  * sbt "runMain graft.Diag <plan|stages|time|ab|corpus|paircount> [--dir d] [--conf k=v]... [--flip k=v]... names..."
  * }}}
  *
  *  - `plan`: the formatted physical plan of each name (pushed filters,
  *    broadcasts, exchange count — the 100 TB checklist);
  *  - `stages`: per-stage wall, tasks, shuffle read/write, memory/disk
  *    spill and task CPU of one warm run of each name — the evidence when
  *    a wall-clock number alone can't say WHERE a query spends;
  *  - `time`: wall seconds of each iteration of each name;
  *  - `ab`: the named frames timed alternately (A,B,A,B,…) in ONE session,
  *    so host drift hits both arms equally; with `--flip k=v` each name
  *    runs as a base arm and a flipped-conf arm;
  *  - `corpus [replicas]`: builds (or reuses) the staged bench layout and
  *    the replica corpus (the 10× one by default; 100 gives the 100×
  *    probe's) and prints both;
  *  - `paircount`: minhash candidate pairs per document on the 10× and
  *    100× corpora (or on `--dir`), the deterministic companion to the
  *    100× probe's dedup_minhash timing: it tells work growth (pairs) from
  *    a plan defect.
  *
  * Names resolve from [[SparkEntry.queries]], then [[AbBench.variants]].
  * The data dir is `--dir`, else the 10× replica corpus built from
  * `SPARK_GRAFT_SF_DIR` (default /root/testdata/sf0.1). `--conf` sets a
  * session conf when the session is built, so core confs take effect too.
  * `time` and `ab` run `SPARK_GRAFT_BENCH_ITERS` iterations (default 2
  * and 5).
  */
object Diag {

  val Usage: String = "usage: graft.Diag <plan|stages|time|ab|corpus|paircount> " +
    "[--dir d] [--conf k=v]... [--flip k=v]... names..."

  private val Commands = Set("plan", "stages", "time", "ab", "corpus", "paircount")

  final case class Args(cmd: String, dir: Option[String], confs: Seq[(String, String)],
      flips: Seq[(String, String)], names: Seq[String])

  /** `args` parsed and checked, or what is wrong followed by [[Usage]]. */
  def parse(args: Seq[String]): Either[String, Args] = {
    def pair(kv: String): Option[(String, String)] = kv.split("=", 2) match {
      case Array(k, v) if k.nonEmpty => Some(k -> v)
      case _ => None
    }
    @annotation.tailrec
    def loop(rest: List[String], a: Args): Either[String, Args] = rest match {
      case Nil => Right(a)
      case "--dir" :: d :: tl if !d.startsWith("--") => loop(tl, a.copy(dir = Some(d)))
      case "--conf" :: kv :: tl if pair(kv).isDefined => loop(tl, a.copy(confs = a.confs ++ pair(kv)))
      case "--flip" :: kv :: tl if pair(kv).isDefined => loop(tl, a.copy(flips = a.flips ++ pair(kv)))
      case opt :: _ if opt.startsWith("--") =>
        Left(s"bad option: ${rest.take(2).mkString(" ")}")
      case n :: tl => loop(tl, a.copy(names = a.names :+ n))
    }
    val parsed = args.toList match {
      case cmd :: tl if Commands(cmd) => loop(tl, Args(cmd, None, Nil, Nil, Nil))
      case other => Left(s"unknown subcommand: ${other.headOption.getOrElse("(none)")}")
    }
    parsed.flatMap { a =>
      if (a.flips.nonEmpty && a.cmd != "ab") Left("--flip is for ab only")
      else a.cmd match {
        case "corpus" =>
          if (a.names.size <= 1 && a.names.forall(_.toIntOption.exists(_ > 0))) Right(a)
          else Left(s"corpus takes [replicas], got: ${a.names.mkString(" ")}")
        case "paircount" =>
          if (a.names.isEmpty) Right(a) else Left("paircount takes no names")
        case cmd =>
          val unknown = a.names.filter(n => resolve(n).isEmpty)
          val least = if (cmd == "ab" && a.flips.isEmpty) 2 else 1
          if (unknown.nonEmpty) Left(s"unknown query/variant: ${unknown.mkString(", ")}")
          else if (a.names.size < least) Left(s"$cmd needs at least $least name(s)")
          else Right(a)
      }
    }.left.map(_ + "\n" + Usage)
  }

  /** A query or variant frame by name. */
  def resolve(name: String): Option[(SparkSession, String) => DataFrame] =
    SparkEntry.queries.get(name).orElse(AbBench.variants.get(name))

  private def frame(name: String) = resolve(name).get

  /** Wall seconds of building `df` and running it into the `noop` sink:
    * analysis, planning, scan, shuffle and compute, no result transfer.
    */
  def noopSec(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** The formatted physical plan of `name` over `dir`. */
  def plan(spark: SparkSession, dir: String, name: String): String =
    frame(name)(spark, dir).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  def time(spark: SparkSession, dir: String, names: Seq[String], iters: Int): Unit =
    names.foreach { n =>
      val f = frame(n)
      (1 to iters).foreach(i => println(f"$n iter$i: ${noopSec(f(spark, dir))}%.3f s"))
    }

  private final case class StageRow(id: Int, name: String, wallMs: Long,
      tasks: Int, shufReadMb: Double, shufWriteMb: Double,
      memSpillMb: Double, diskSpillMb: Double, cpuMs: Long, runMs: Long)

  def stages(spark: SparkSession, dir: String, names: Seq[String]): Unit = {
    import scala.jdk.CollectionConverters._
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[StageRow]()
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for (a <- si.submissionTime; b <- si.completionTime)
          yield b - a).getOrElse(-1L)
        rows.add(StageRow(si.stageId, si.name.takeWhile(_ != '\n'), wall,
          si.numTasks,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.memoryBytesSpilled / 1e6, m.diskBytesSpilled / 1e6,
          m.executorCpuTime / 1000000, m.executorRunTime))
        ()
      }
    }
    names.foreach { name =>
      val f = frame(name)
      (1 to 2).foreach(_ => noopSec(f(spark, dir))) // JIT/codegen outside the audit
      spark.sparkContext.addSparkListener(listener)
      rows.clear()
      val wall = noopSec(f(spark, dir))
      Thread.sleep(1500) // listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      val rs = rows.asScala.toSeq.sortBy(_.id)
      println(f"===== $name: wall $wall%.2f s, ${rs.size} stages =====")
      println(f"${"stage"}%6s ${"wall_ms"}%8s ${"tasks"}%5s ${"shRd_MB"}%8s " +
        f"${"shWr_MB"}%8s ${"memSp_MB"}%9s ${"dskSp_MB"}%9s ${"cpu_ms"}%8s ${"run_ms"}%8s  name")
      rs.foreach { r =>
        println(f"${r.id}%6d ${r.wallMs}%8d ${r.tasks}%5d ${r.shufReadMb}%8.1f " +
          f"${r.shufWriteMb}%8.1f ${r.memSpillMb}%9.1f ${r.diskSpillMb}%9.1f " +
          f"${r.cpuMs}%8d ${r.runMs}%8d  ${r.name}")
      }
      val totSpill = rs.map(r => r.memSpillMb + r.diskSpillMb).sum
      val totShuf = rs.map(_.shufWriteMb).sum
      println(f"TOTAL shuffle-write $totShuf%.1f MB, spill $totSpill%.1f MB, " +
        f"cpu ${rs.map(_.cpuMs).sum / 1000.0}%.1f s over ${rs.map(_.tasks).sum} tasks")
    }
  }

  /** Interleaved A/B: each arm's frame is built (and its confs set) before
    * its timing window, so plan and execution both see the arm's session
    * state as the arms alternate. Runtime SQL confs are re-read at
    * planning, so `flips` set around each flipped run change its plan.
    */
  def ab(spark: SparkSession, dir: String, names: Seq[String],
      flips: Seq[(String, String)], iters: Int): Unit = {
    // Option(…): a conf can be set to a null value; restoring null via
    // conf.set throws, so null round-trips as unset
    val saved = flips.map { case (k, _) =>
      k -> scala.util.Try(Option(spark.conf.get(k))).toOption.flatten }
    def applyBase(): Unit = saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    def applyFlip(): Unit = flips.foreach { case (k, v) => spark.conf.set(k, v) }
    val arms: Seq[(String, () => DataFrame)] = names.flatMap { n =>
      val f = frame(n)
      if (flips.isEmpty) Seq(n -> (() => f(spark, dir)))
      else Seq(n -> (() => { applyBase(); f(spark, dir) }),
        s"$n+flip" -> (() => { applyFlip(); f(spark, dir) }))
    }
    // row-count sanity between arms of a rewrite A/B
    val counts = arms.map { case (n, mk) => n -> mk().count() }
    println(s"rows: ${counts.map { case (n, c) => s"$n=$c" }.mkString(", ")}")
    arms.foreach { case (_, mk) => noopSec(mk()); noopSec(mk()) } // 2 warmups each
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    // ALTERNATE the within-pair order per iteration (r15 finding): with
    // flips the flip arm otherwise always runs immediately after the
    // SAME query's base arm and inherits its query-specific warmth
    // (operator JIT, page/TLB locality) — a measured 5-30% second-runner
    // advantage that grows with host depletion and fully explained two
    // contradictory SHJ A/Bs. Even iterations run each pair reversed, so
    // the warmth advantage hits both arms equally.
    (1 to iters).foreach { it =>
      val ordered =
        if (flips.isEmpty || it % 2 == 1) arms
        else arms.grouped(2).flatMap(_.reverse).toSeq
      ordered.foreach { case (n, mk) => samples(n) :+= noopSec(mk()) }
    }
    arms.foreach { case (n, _) =>
      val s = samples(n)
      println(f"$n%-28s min=${s.min}%.3f avg=${s.sum / s.size}%.3f " +
        s.map(x => f"$x%.3f").mkString("[", ",", "]"))
    }
  }

  /** The `replicas`-replica corpus of `sfDir`, built once: the 10× one
    * ScaleBench times, or 128 files per table (the 100× probe's layout).
    */
  def corpus(spark: SparkSession, sfDir: String, replicas: Int): String =
    if (replicas == ScaleBench.replicas) ScaleBench.buildCorpus(spark, sfDir)
    else ScaleBench.buildCorpusN(spark, sfDir, replicas, 128)

  /** (documents, minhash candidate pairs) of the corpus in `dir`. On the
    * replica corpora every text has `replicas` byte-identical copies, so
    * buckets are duplicate-dense and the within-bucket pair regime
    * (all-pairs under the 256 cap, successor chains above it) sets the work.
    */
  def paircount(spark: SparkSession, dir: String): (Long, Long) = {
    val docs = graft.queries.Tables.t(spark, dir, "documents")
    (docs.count(), graft.ops.Dedup.minhashCandidates(docs, "text", "doc_id").count())
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args.toSeq) match {
      case Right(a) => a
      case Left(msg) => System.err.println(msg); sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val builds = a.cmd == "corpus" || a.cmd == "paircount"
    val spark = BenchSession((if (builds) BenchSession.CorpusBuild else Nil) ++ a.confs)
    lazy val dir = a.dir.getOrElse(ScaleBench.buildCorpus(spark, sfDir))
    def iters(default: Int) = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", default.toString).toInt
    try a.cmd match {
      case "plan" => a.names.foreach { n =>
        println(s"===== $n =====")
        println(plan(spark, dir, n))
      }
      case "stages" => stages(spark, dir, a.names)
      case "time" => time(spark, dir, a.names, iters(2))
      case "ab" => ab(spark, dir, a.names, a.flips, iters(5))
      case "corpus" =>
        println(s"staged: ${BenchLayout.prepare(spark, sfDir)._1}")
        println(s"corpus: ${corpus(spark, sfDir,
          a.names.headOption.fold(ScaleBench.replicas)(_.toInt))}")
      case "paircount" =>
        val dirs = a.dir.fold(Seq("10x" -> corpus(spark, sfDir, ScaleBench.replicas),
          "100x" -> corpus(spark, sfDir, 100)))(d => Seq(d -> d))
        dirs.foreach { case (tag, d) =>
          val (n, pairs) = paircount(spark, d)
          println(f"[paircount] $tag docs=$n pairs=$pairs pairs/doc=${pairs.toDouble / n}%.1f")
        }
    } finally spark.stop()
  }
}
