package dedupbench

import scala.collection.mutable

import graft.dedup._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** crawl_batch: the batch near-dup + clustering job over a PagesGen corpus
  * with near-copy floods, then the group-scoped suffix-array repeat pass.
  * Loads exact collapse, features, candidates (hot-key star path included),
  * verify, connected components and the SA pass; never touches the store. */
object CrawlBatch extends Workload {
  private val cfg = DedupConfig()
  private val RepeatMinLen = 60

  final class Input(val seed: Long, val fl: Floods, val df: DataFrame,
                    val bytes: Long, val textBytes: mutable.LongMap[Long],
                    val ids: Array[Long], val truth: Array[(Long, Long)]) {
    def release(): Unit = df.unpersist()
  }

  def build(ctx: Ctx, seed: Long, n: Long, fl: Floods): Input = {
    val (df, _) = Pages.persist(Pages.corpus(ctx.spark, seed, n, fl, ctx.cpus * 2))
    val tb = Pages.textBytes(df)
    val truth = Pages.truthPairs(seed, n, fl, cfg.tau, text(seed, fl, _))
    new Input(seed, fl, df, tb.values.sum, tb, tb.keys.toArray.sorted, truth)
  }

  private def text(seed: Long, fl: Floods, id: Long): String =
    if (id >= Floods.Id0) Floods.text(seed, fl, id)
    else graft.pages.PagesGen.genText(seed, id)._1

  def run(ctx: Ctx): Unit = {
    val (n, fl) = if (ctx.toy) (400L, Floods(1, 99)) else (3000L, Floods(2, 999))
    val in = ctx.setupRounds(3)(build(ctx, ctx.seed, n, fl))(_.release())
    ctx.log(s"crawl_batch: ${in.ids.length} docs, ${in.bytes} text bytes, " +
      s"${in.truth.length} truth pairs")
    // one full-size iteration: its plans, code generation and JIT state are
    // the measured iterations'
    ctx.warmup(iterate(ctx, in))
    ctx.loop(iterate(ctx, in))
    if (ctx.tracer.enabled) {
      ctx.layer ++= Kernels.run(in.ids.take(2000).map(id =>
        text(in.seed, in.fl, id).getBytes("UTF-8")))
      Seq("ExactDedup", "MinHashLSH.features", "MinHashLSH.candidates", "MinHashLSH.verify",
        "ConnectedComponents", "LongRepeats.sa")
        .foreach(s => ctx.layer(s + ".wall_s") = ctx.spanWall(s))
    }
    in.release()
  }

  /** One near-dup pass and one repeat pass. */
  def iterate(ctx: Ctx, in: Input): Unit = {
    val held = new Held
    var recall = 0.0
    var kept = 0L
    val main = ctx.pass("NearDupPipeline") {
      if (ctx.tracer.recording) staged(ctx, in, held)
      else {
        val res = NearDupPipeline.run(ctx.spark, in.df, cfg)
        try res.assignments.collect() finally res.close()
      }
    } { rows =>
      val (bad, r, k) = Pages.checkClusters(rows, in.ids, in.truth, in.fl, in.textBytes(_))
      recall = r; kept = k
      bad
    }
    try if (main.isDefined) ctx.group("aux")(held.aux())
    finally held.frames.foreach(_.unpersist())
    main.foreach { case (_, s) =>
      ctx.add("main_s", s)
      ctx.add("main_mb_per_s", in.bytes / 1e6 / s)
      ctx.add("dup_recall", recall)
      ctx.add("output_ratio", kept.toDouble / in.bytes)
    }

    val rep = ctx.pass("LongRepeats.sa") {
      LongRepeats.repeatsWithinGroups(in.df,
        (col("doc_id") / graft.pages.PagesGen.GROUP).cast("long"), RepeatMinLen).collect()
    }(spans => checkSpans(in, spans))
    rep.foreach { case (spans, s) =>
      ctx.add("followup_mb_per_s", in.bytes / 1e6 / s)
      if (ctx.tracer.recording) {
        ctx.layer("LongRepeats.sa.spans") = spans.length
        ctx.tracer.listener.get.tag("LongRepeats.sa").foreach { a =>
          ctx.layer("LongRepeats.sa.shuffle_rows") = a.shuffleRecords.toDouble /
            ctx.tracer.named("LongRepeats.sa").size
          ctx.layer("LongRepeats.sa.shuffle_bytes_per_row") =
            a.shuffleBytes.toDouble / math.max(1L, a.shuffleRecords)
        }
      }
    }
  }

  /** Frames a staged pass persisted, and the layer counts to take from them
    * once the clock has stopped. */
  private final class Held {
    val frames = mutable.ArrayBuffer.empty[DataFrame]
    var aux: () => Unit = () => ()
  }

  /** The calls NearDupPipeline.run makes, one span each, materialized at
    * every boundary. Layer counts come from those materializations or, once
    * per run, from extra jobs after the clock stops. */
  private def staged(ctx: Ctx, in: Input, held: Held): Array[Row] = {
    val t = ctx.tracer
    def keep(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      held.frames += p
      (p, p.count())
    }
    val docs = in.df
    val (exact, _) = t.span("ExactDedup")(keep(ExactDedup.assignments(docs)))
    val exactEdges = ExactDedup.edges(exact)
    val reps = docs.join(
      exact.filter(col("doc_id") === col("rep")).select(col("doc_id")), Seq("doc_id"))
    val (feats, nFeats) = t.span("MinHashLSH.features")(keep(MinHashLSH.featuresFused(reps, cfg)))
    val keyRows = MinHashLSH.bandKeyRows(feats, cfg).union(
      SimHashDedup.keyRows(feats.select(col("doc_id"), col("sim64")), cfg))
    val (cand, nCand) = t.span("MinHashLSH.candidates")(keep(MinHashLSH.pairsFromKeyRows(keyRows, cfg)))
    val (pairs, nPairs) = t.span("MinHashLSH.verify")(keep(MinHashLSH.verifiedPairs(feats, cand, cfg)))
    val rows = t.span("ConnectedComponents")(ConnectedComponents.assignAll(ctx.spark,
      docs.select(col("doc_id").as("id")),
      exactEdges.select("a", "b").union(pairs.select("a", "b"))).collect())

    val l = ctx.layer
    l("MinHashLSH.features.rows") = nFeats
    l("MinHashLSH.candidates.pairs") = nCand
    l("MinHashLSH.verify.pairs") = nPairs
    l("MinHashLSH.verify.yield") = nPairs.toDouble / math.max(1L, nCand)
    l("ConnectedComponents.clusters") = rows.map(_.getLong(1)).distinct.length
    if (!l.contains("MinHashLSH.candidates.key_rows")) held.aux = { () =>
      val nReps = exact.filter(col("doc_id") === col("rep")).count()
      l("ExactDedup.collapse_ratio") = nReps.toDouble / in.ids.length
      l("ConnectedComponents.edges") = in.ids.length - nReps + nPairs
      l("MinHashLSH.candidates.key_rows") = keyRows.count()
      l("MinHashLSH.candidates.hot_keys") = keyRows.groupBy("key").count()
        .filter(col("count") > cfg.maxBucket).count()
    }
    t.listener.get.tag("MinHashLSH.candidates").foreach { a =>
      l("MinHashLSH.candidates.shuffle_bytes_per_row") =
        a.shuffleBytes.toDouble / math.max(1L, a.shuffleRecords)
    }
    rows
  }

  /** Every reported repeat span must be byte-equal at both offsets. */
  private def checkSpans(in: Input, spans: Array[Row]): Seq[String] = {
    val texts = mutable.LongMap.empty[Array[Byte]]
    def bytes(id: Long) = texts.getOrElseUpdate(id,
      text(in.seed, in.fl, id).toLowerCase.getBytes("UTF-8"))
    val wrong = spans.count { r =>
      val (a, b) = (bytes(r.getLong(0)), bytes(r.getLong(1)))
      val (as, bs, len) = (r.getInt(2), r.getInt(3), r.getInt(4))
      as < 0 || bs < 0 || as + len > a.length || bs + len > b.length ||
        !java.util.Arrays.equals(a, as, as + len, b, bs, bs + len)
    }
    Seq(
      if (spans.isEmpty) Some("repeat pass found no spans") else None,
      if (wrong > 0) Some(s"$wrong of ${spans.length} repeat spans differ at their offsets") else None
    ).flatten
  }
}
