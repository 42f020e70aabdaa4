package dedupbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.GraftSession
import graft.dedup.{DedupConfig, IncrementalDedup}
import graft.pages.PagesGen
import graft.state.SnapshotStore
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** crawl_incremental: an IncrementalDedup chain over a growing corpus with
  * url churn — each snapshot adds 10% new docs and revises every 37th base
  * page — then a kill of the last snapshot and its resume. Most
  * pages are unchanged, so the FIXED fast path and the store's commits,
  * range reads and compactions dominate; feature and candidate work only
  * sees the new ~10%. */
object CrawlIncremental extends Workload {
  private val cfg = DedupConfig()
  private val Snapshots = 4
  /** compaction fires after snapshots 1 and 3 */
  private val CompactEvery = 2
  /** What a kill after the last snapshot's pages_keyed commit loses: every
    * later stage, and the compaction that runs after them. */
  private val Killed = Seq("content", "edges", "assignments", "metrics",
    "content__compacted", "edges__compacted")

  /** `all` holds every page of the chain, persisted; snapshot s is a cheap
    * projection of it: its first `sizes(s)` docs, with the revisions. The
    * recall truth holds for the last snapshot. */
  final class Input(val n0: Long, all: DataFrame, val sizes: IndexedSeq[Long],
                    val bytes: IndexedSeq[Long], val truth: Array[(Long, Long)]) {
    def count: Int = sizes.length
    def snaps(s: Int): DataFrame = all.filter(col("doc_id") < sizes(s))
      .withColumn("text", when(col("doc_id") % 37 === 0 && col("doc_id") < n0,
        concat(col("text"), lit(revision(s)))).otherwise(col("text")))
    /** The chain's first k snapshots (no recall truth). */
    def prefix(k: Int): Input = new Input(n0, all, sizes.take(k), bytes.take(k), Array.empty)
    def release(): Unit = all.unpersist()
  }

  private def revision(s: Int): String = s" rev$s"

  def build(ctx: Ctx, seed: Long, n0: Long, count: Int): Input = {
    val step = math.max(1L, n0 / 10)
    val sizes = (0 until count).map(s => n0 + s * step)
    val (all, _) = Pages.persist(PagesGen.pages(ctx.spark, sizes.last, seed, ctx.cpus * 2)
      .select("url", "doc_id", "text"))
    val len = Pages.textBytes(all)
    def revised(id: Long) = id % 37 == 0 && id < n0
    val bytes = sizes.indices.map(s => (0L until sizes(s)).map(id =>
      len(id) + (if (revised(id)) revision(s).length else 0)).sum)
    val last = count - 1
    val truth = Pages.truthPairs(seed, sizes.last, Floods(0, 3), cfg.tau, { id =>
      val t = PagesGen.genText(seed, id)._1
      if (revised(id)) t + revision(last) else t
    })
    new Input(n0, all, sizes, bytes, truth)
  }

  def run(ctx: Ctx): Unit = {
    val n0 = if (ctx.toy) 400L else 5000L
    val in = ctx.setupRounds(3)(build(ctx, ctx.seed, n0, Snapshots))(_.release())
    ctx.log(s"crawl_incremental: snapshots of ${in.sizes.mkString(", ")} docs, " +
      s"${in.truth.length} truth pairs in the last")
    // the first two snapshots at full size (the second compacts): the
    // plans, code generation and JIT state of the measured chain
    ctx.warmup(chain(ctx, in.prefix(2), resume = false))
    ctx.loop(chain(ctx, in, resume = true))
    if (ctx.tracer.enabled) {
      ctx.layer ++= Kernels.run(ctx.group("aux")(in.snaps(in.count - 1).select("text").limit(2000)
        .collect()).map(_.getString(0).getBytes("UTF-8")))
      ctx.layer("IncrementalDedup.snapshot.wall_s") = ctx.spanWall("IncrementalDedup.snapshot")
      ctx.layer("IncrementalDedup.snapshot.stages") =
        Stats.median(ctx.tracer.named("IncrementalDedup.snapshot").map(_.stages.toDouble))
    }
    in.release()
  }

  /** One chain of snapshots in a fresh store; then, if `resume`, a kill of
    * the last snapshot and its resume by a fresh IncrementalDedup. */
  def chain(ctx: Ctx, in: Input, resume: Boolean): Unit = {
    val root = GraftSession.scratchDir("dedupbench_inc")
    try {
      val store = new SnapshotStore(ctx.spark, root)
      val inc = new IncrementalDedup(ctx.spark, store, cfg, CompactEvery)
      val lastSnap = in.count - 1
      var last: Option[Array[Row]] = None
      var s = 0
      while (s < in.count && (s == 0 || last.isDefined)) {
        val snap = s
        var recall = 1.0
        last = ctx.pass("IncrementalDedup.snapshot") {
          inc.processSnapshot(snap, in.snaps(snap), Some(in.sizes(snap))).collect()
        } { rows =>
          val (bad, r, _) = Pages.checkClusters(rows, Array.range(0, in.sizes(snap).toInt)
            .map(_.toLong), if (snap == lastSnap) in.truth else Array.empty, Floods(0, 3), _ => 0L)
          recall = r
          bad
        }.map { case (rows, sec) =>
          ctx.add("main_s", sec)
          ctx.add("main_mb_per_s", in.bytes(snap) / 1e6 / sec)
          if (snap == lastSnap && in.truth.nonEmpty) ctx.add("dup_recall", recall)
          rows
        }
        s += 1
      }
      for (done <- last if resume) {
        val expected = done.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        Killed.foreach(t => deleteTree(Paths.get(root, t, s"snapshot=$lastSnap")))
        val resumeStore = new SnapshotStore(ctx.spark, root)
        ctx.pass("IncrementalDedup.resume") {
          new IncrementalDedup(ctx.spark, resumeStore, cfg, CompactEvery)
            .processSnapshot(lastSnap, in.snaps(lastSnap), Some(in.sizes(lastSnap))).collect()
        } { rows =>
          if (rows.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).sameElements(expected)) Nil
          else Seq("resumed snapshot's assignments differ from the uninterrupted chain's")
        }.foreach(p => ctx.add("followup_mb_per_s", in.bytes(lastSnap) / 1e6 / p._2))
        val ratio = Store.bytes(Paths.get(root)).toDouble / in.bytes.sum
        ctx.add("output_ratio", ratio)
        if (ctx.tracer.recording) {
          Store.layerMetrics(ctx, root, 0 until in.count, ratio,
            store.readCount + resumeStore.readCount)
          val aux = new SnapshotStore(ctx.spark, root)
          ctx.layer("IncrementalDedup.snapshot.fixed_share") = Stats.median(
            (1 until in.count).map { sn =>
              val r = aux.read("metrics", sn).select("n_pages", "n_changed").head()
              1.0 - r.getLong(1).toDouble / r.getLong(0)
            })
        }
      }
    } finally GraftSession.dropScratch(root)
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally walk.close()
  }
}

/** Per-layer SnapshotStore figures from a finished store directory. */
object Store {
  def bytes(root: Path): Long = files(root).map(Files.size(_)).sum

  def files(root: Path): Seq[Path] = {
    val walk = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(Files.isRegularFile(_)).toList
    } finally walk.close()
  }

  /** write_ms and rows per table summed over the chain's committed
    * manifests (both compacted tables count as `compaction`), plus bytes per
    * input byte, file count and read() calls. */
  def layerMetrics(ctx: Ctx, root: String, snaps: Range, bytesRatio: Double,
                   reads: Int): Unit = {
    val st = new SnapshotStore(ctx.spark, root)
    val tables = Main.StoreTables.filter(_ != "compaction").map(t => t -> t) ++
      Seq("content__compacted" -> "compaction", "edges__compacted" -> "compaction")
    val agg = mutable.LinkedHashMap.empty[String, (Double, Double)]
    for ((t, name) <- tables; s <- snaps if st.isCommitted(t, s)) {
      val j = st.manifestJson(t, s)
      def field(k: String) = s""""$k":\\s*(\\d+)""".r.findFirstMatchIn(j)
        .map(_.group(1).toDouble).getOrElse(0.0)
      val (ms, rows) = agg.getOrElse(name, (0.0, 0.0))
      agg(name) = (ms + field("write_ms"), rows + field("rows"))
    }
    for ((name, (ms, rows)) <- agg) {
      ctx.layer(s"SnapshotStore.$name.write_ms") = ms
      ctx.layer(s"SnapshotStore.$name.rows") = rows
    }
    ctx.layer("SnapshotStore.bytes_written_per_input_byte") = bytesRatio
    ctx.layer("SnapshotStore.files") = files(Paths.get(root)).size
    ctx.layer("SnapshotStore.read_count") = reads
  }
}
