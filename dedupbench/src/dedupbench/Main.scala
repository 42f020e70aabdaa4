package dedupbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Per-run state shared by the workloads: the session, the pass counters
  * behind `attempted`/`failed`, timing samples and per-layer values. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val toy: Boolean, val tracer: Tracer) {
  val cpus: Int = spark.sparkContext.defaultParallelism
  var attempted = 0
  var failed = 0
  var setupBuildS = 0.0
  var warmupS = 0.0
  /** samples of the measured passes */
  val samples = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** per-layer values set by the workload (traced runs) */
  val layer = mutable.LinkedHashMap.empty[String, Double]

  def add(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += v
  def get(metric: String): Seq[Double] = samples.get(metric).map(_.toSeq).getOrElse(Nil)

  def log(msg: String): Unit = System.err.println(s"[dedupbench] $msg")

  /** Run `body` with its Spark jobs counted under job group `tag`. */
  def group[A](tag: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(LayerListener.GROUP)
    sc.setLocalProperty(LayerListener.GROUP, tag)
    try body finally sc.setLocalProperty(LayerListener.GROUP, prev)
  }

  /** One timed pass of a workload. `run` is timed (and traced as span
    * `name`); `check` runs after the clock stops and returns one message per
    * failed correctness check. A pass that throws or fails a
    * check counts in `failed` and yields None, so its time is never
    * reported. */
  def pass[A](name: String)(run: => A)(check: A => Seq[String]): Option[(A, Double)] = {
    attempted += 1
    try {
      val t0 = System.nanoTime()
      val out = tracer.span(name)(run)
      val s = (System.nanoTime() - t0) / 1e9
      val bad = group("aux")(check(out))
      log(f"pass $name%s $s%.3f s${if (bad.isEmpty) "" else " FAILED"}")
      if (bad.isEmpty) Some((out, s))
      else {
        failed += 1
        log(s"pass $name failed checks: ${bad.mkString("; ")}")
        None
      }
    } catch {
      case NonFatal(e) =>
        failed += 1
        log(s"pass $name threw: $e")
        e.printStackTrace()
        None
    }
  }

  /** Build the workload's inputs `rounds` times and keep the last build;
    * the median build time goes into setup_s. */
  def setupRounds[A](rounds: Int)(buildInputs: => A)(release: A => Unit): A = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[A] = None
    for (_ <- 0 until rounds) {
      last.foreach(release)
      val t0 = System.nanoTime()
      last = Some(group("setup")(buildInputs))
      times += (System.nanoTime() - t0) / 1e9
    }
    setupBuildS = Stats.median(times.toSeq)
    last.get
  }

  def warmup(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    tracer.recording = false
    // warm-up passes are checked and counted like the others; their times
    // are not reported
    try group("setup")(body)
    finally {
      tracer.recording = tracer.enabled
      samples.clear()
    }
    warmupS = (System.nanoTime() - t0) / 1e9
  }

  /** Repeat `iteration` until the time budget is spent: another iteration
    * starts while it is expected to end less than half an iteration past
    * the budget. Records the slowest main pass of each iteration. */
  def loop(iteration: => Unit): Unit = {
    val start = System.nanoTime()
    var last = 0.0
    def elapsed = (System.nanoTime() - start) / 1e9
    do {
      val t0 = System.nanoTime()
      val before = get("main_s").length
      // a traced run's jobs outside any layer span count as "aux"
      group("aux")(iteration)
      get("main_s").drop(before).maxOption.foreach(add("main_iteration_max_s", _))
      last = (System.nanoTime() - t0) / 1e9
    } while (elapsed + last / 2 < seconds)
  }

  /** Median wall of the spans named `name`, or 0 if the layer did not run. */
  def spanWall(name: String): Double = Stats.median(tracer.named(name).map(_.wallS))
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
}

/** A workload: builds its inputs from the seed, warms up, then runs timed,
  * checked passes until the time budget is spent. */
trait Workload {
  def run(ctx: Ctx): Unit
}

object Main {
  /** Job groups a layer's calls run under; spark.<tag>.* per call. */
  val Tags: Seq[String] = Seq(
    "ExactDedup", "MinHashLSH.features", "MinHashLSH.candidates",
    "MinHashLSH.verify", "ConnectedComponents", "LongRepeats.sa",
    "IncrementalDedup.snapshot", "IncrementalDedup.resume",
    "ChunkDedup.checkpoint", "ChunkDedup.restart")
  val SparkMetrics: Seq[String] = Seq(
    "jobs", "tasks", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "task_skew")
  val StoreTables: Seq[String] = Seq(
    "pages_keyed", "content", "edges", "assignments", "compaction",
    "chunk_first", "chunk_shift")

  /** Every per-layer metric a traced run prints; a layer the workload does
    * not call reports 0. Must match BENCHMARK.json (run.py checks). */
  val PerLayer: Seq[String] =
    Seq("ExactDedup.wall_s", "ExactDedup.collapse_ratio",
      "MinHashLSH.features.wall_s", "MinHashLSH.features.rows",
      "MinHashLSH.candidates.wall_s", "MinHashLSH.candidates.key_rows",
      "MinHashLSH.candidates.pairs", "MinHashLSH.candidates.hot_keys",
      "MinHashLSH.candidates.shuffle_bytes_per_row",
      "MinHashLSH.verify.wall_s", "MinHashLSH.verify.yield", "MinHashLSH.verify.pairs",
      "ConnectedComponents.wall_s", "ConnectedComponents.edges",
      "ConnectedComponents.clusters",
      "LongRepeats.sa.wall_s", "LongRepeats.sa.shuffle_rows", "LongRepeats.sa.spans",
      "LongRepeats.sa.shuffle_bytes_per_row",
      "IncrementalDedup.snapshot.wall_s", "IncrementalDedup.snapshot.stages",
      "IncrementalDedup.snapshot.fixed_share") ++
      StoreTables.flatMap(t => Seq(s"SnapshotStore.$t.write_ms", s"SnapshotStore.$t.rows")) ++
      Seq("SnapshotStore.bytes_written_per_input_byte", "SnapshotStore.files",
        "SnapshotStore.read_count",
        "ChunkDedup.checkpoint.wall_s", "ChunkDedup.checkpoint.first_ocur_roots",
        "ChunkDedup.checkpoint.shift_roots",
        "ChunkDedup.restart.wall_s", "ChunkDedup.restart.store_reads") ++
      Kernels.Names.map(_ + ".mb_per_s") ++
      Seq("kernel.alloc_copy.mb_per_s", "trace.main_p50_s") ++
      Tags.flatMap(t => SparkMetrics.map(m => s"spark.$t.$m")) :+
      "spark.untagged_jobs"

  private def usage(msg: String): Nothing = {
    System.err.println(s"dedupbench: $msg\nusage: Main --workload <name> --seed <n> " +
      "--seconds <s> --trace <0|1> [--size full|toy] [--spans <dir>]")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def opt(k: String): String = opts.getOrElse(k, usage(s"missing --$k"))
    val workloadName = opt("workload")
    val workload: Workload = workloadName match {
      case "crawl_batch" => CrawlBatch
      case "crawl_incremental" => CrawlIncremental
      case "chkpt_chain" => ChkptChain
      case other => usage(s"unknown workload $other")
    }
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val toy = opts.getOrElse("size", "full") == "toy"

    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.get(s"local[$cpus]", math.max(cpus, 8))
    val sessionS = (System.nanoTime() - t0) / 1e9
    val runId = s"$workloadName-seed$seed-trace${if (traced) 1 else 0}"
    try {
      val ctx = new Ctx(spark, seed, seconds, toy, new Tracer(spark, traced, runId))
      workload.run(ctx)
      ctx.log(f"setup: session $sessionS%.2f s, input build ${ctx.setupBuildS}%.2f s " +
        f"(median of 3), warm-up ${ctx.warmupS}%.2f s; ${ctx.attempted} passes, " +
        s"${ctx.failed} failed")
      val metrics = if (traced) perLayer(ctx) else endToEnd(ctx, sessionS)
      opts.get("spans").foreach { d =>
        if (traced) ctx.log(s"spans: ${ctx.tracer.writeJsonl(java.nio.file.Paths.get(d))}")
      }
      val body = metrics.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")
      println(s"""{"correct": ${ctx.attempted > 0 && ctx.failed == 0}, """ +
        s""""attempted": ${ctx.attempted}, "failed": ${ctx.failed}, "metrics": {$body}}""")
    } finally spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  private def endToEnd(ctx: Ctx, sessionS: Double): Seq[(String, Double)] = {
    def s(k: String): Seq[Double] = ctx.get(k)
    Seq(
      "setup_s" -> (sessionS + ctx.setupBuildS + ctx.warmupS),
      "main_mb_per_s" -> Stats.median(s("main_mb_per_s")),
      "followup_mb_per_s" -> Stats.median(s("followup_mb_per_s")),
      "main_p50_s" -> Stats.median(s("main_s")),
      "main_max_s" -> Stats.median(s("main_iteration_max_s")),
      "dup_recall" -> (if (s("dup_recall").isEmpty) 0.0 else s("dup_recall").min),
      "output_bytes_per_input_byte" -> Stats.median(s("output_ratio")))
  }

  private def perLayer(ctx: Ctx): Seq[(String, Double)] = {
    val unknown = ctx.layer.keySet -- PerLayer
    require(unknown.isEmpty, s"per-layer metrics missing from the registry: $unknown")
    val out = mutable.LinkedHashMap.empty[String, Double]
    PerLayer.foreach(k => out(k) = ctx.layer.getOrElse(k, 0.0))
    ctx.tracer.drain()
    val l = ctx.tracer.listener.get
    val calls = ctx.tracer.all.groupBy(_.name).map { case (k, v) => k -> v.size }
    for (t <- Tags; a <- l.tag(t)) {
      val n = calls.getOrElse(t, 1).toDouble
      out(s"spark.$t.jobs") = a.jobs / n
      out(s"spark.$t.tasks") = a.tasks / n
      out(s"spark.$t.cpu_s") = a.cpuNs / 1e9 / n
      out(s"spark.$t.gc_s") = a.gcMs / 1e3 / n
      out(s"spark.$t.shuffle_write_bytes") = a.shuffleBytes / n
      out(s"spark.$t.spill_bytes") = a.spillBytes / n
      out(s"spark.$t.task_skew") = a.taskSkew
    }
    out("spark.untagged_jobs") = l.tag(LayerListener.UNTAGGED).map(_.jobs.toDouble).getOrElse(0.0)
    out("trace.main_p50_s") = Stats.median(ctx.get("main_s"))
    out.toSeq
  }
}
