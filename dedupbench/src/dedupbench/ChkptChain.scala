package dedupbench

import java.nio.file.Paths

import scala.collection.mutable

import graft.GraftSession
import graft.dedup.ChunkDedup
import graft.state.SnapshotStore
import org.apache.spark.sql.DataFrame

/** chkpt_chain: the reference's own job. A store-backed ChunkDedup.Chain over
  * same-length checkpoints of fixed-size chunks, each derived from the one
  * before by the reference generator's change modes, then a restart of the
  * last and of the middle checkpoint from the store alone. murmur128,
  * the tree level sweeps, the distinct map and store writes and reads do all
  * the work; no text layer runs. */
object ChkptChain extends Workload {
  final val ChunkLen = 64
  private val Checkpoints = 3
  private val Alphabet = (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')).toArray

  final class Input(val chunks: IndexedSeq[Array[String]], val dfs: IndexedSeq[DataFrame]) {
    def numChunks: Long = chunks.head.length
    def bytes: Long = numChunks * ChunkLen
    def count: Int = chunks.length
    def release(): Unit = dfs.foreach(_.unpersist())
  }

  /** Checkpoint 0 is random; checkpoint k applies two of the reference
    * generator's change modes to checkpoint k - 1, in turn: sparse edits (1%
    * of chunks get one new character), swapped and shifted blocks (two 1/8
    * blocks trade places, a 1/16 block moves by half a chunk), a zeroed 1/8
    * region, and an identical first half with a random tail. */
  def checkpoints(seed: Long, n: Int, count: Int): IndexedSeq[Array[String]] = {
    val rnd = new java.util.SplittableRandom(seed)
    def randomChunk(): String =
      new String(Array.fill(ChunkLen)(Alphabet(rnd.nextInt(Alphabet.length))))
    def change(mode: Int, prev: Array[String]): Array[String] = {
      val cur = prev.clone()
      mode match {
        case 0 =>
          for (_ <- 0 until math.max(1, n / 100)) {
            val p = rnd.nextInt(n)
            val c = cur(p).toCharArray
            c(rnd.nextInt(ChunkLen)) = Alphabet(rnd.nextInt(Alphabet.length))
            cur(p) = new String(c)
          }
        case 1 =>
          val b = math.max(1, n / 8)
          val (x, y) = (rnd.nextInt(n / b / 2) * b, (n / b / 2 + rnd.nextInt(n / b / 2)) * b)
          for (i <- 0 until b) { cur(x + i) = prev(y + i); cur(y + i) = prev(x + i) }
          // a block moved by half a chunk: its chunks are new content
          val s = math.max(1, n / 16)
          val z = rnd.nextInt(n - s)
          val text = (z until z + s).map(prev(_)).mkString
          val moved = text.substring(ChunkLen / 2) + text.substring(0, ChunkLen / 2)
          for (i <- 0 until s) cur(z + i) = moved.substring(i * ChunkLen, (i + 1) * ChunkLen)
        case 2 =>
          val s = math.max(1, n / 8)
          val z = rnd.nextInt(n - s + 1)
          for (i <- z until z + s) cur(i) = "0" * ChunkLen
        case 3 =>
          for (i <- n / 2 until n) cur(i) = randomChunk()
      }
      cur
    }
    (1 until count).scanLeft(Array.fill(n)(randomChunk())) { (prev, k) =>
      change((2 * k - 1) % 4, change((2 * k - 2) % 4, prev))
    }
  }

  def build(ctx: Ctx, seed: Long, n: Int, count: Int): Input = {
    import ctx.spark.implicits._
    val chunks = checkpoints(seed, n, count)
    val dfs = chunks.map(c => Pages.persist(ctx.spark.sparkContext
      .parallelize(c.indices.map(i => (i.toLong, c(i))), ctx.cpus * 2)
      .toDF("pos", "chunk"))._1)
    new Input(chunks, dfs)
  }

  def run(ctx: Ctx): Unit = {
    val n = if (ctx.toy) 512 else 16384
    val in = ctx.setupRounds(3)(build(ctx, ctx.seed, n, Checkpoints))(_.release())
    ctx.log(s"chkpt_chain: $Checkpoints checkpoints of $n chunks x $ChunkLen chars")
    // the chain's first checkpoint at full size, and its restart
    ctx.warmup(chain(ctx, new Input(in.chunks.take(1), in.dfs.take(1))))
    ctx.loop(chain(ctx, in))
    if (ctx.tracer.enabled) {
      ctx.layer ++= Kernels.run(in.chunks.head.grouped(32).map(_.mkString.getBytes("UTF-8")).toArray)
      ctx.layer("ChunkDedup.checkpoint.wall_s") = ctx.spanWall("ChunkDedup.checkpoint")
      ctx.layer("ChunkDedup.restart.wall_s") = ctx.spanWall("ChunkDedup.restart")
    }
    in.release()
  }

  /** Whether each chunk's content was seen before: at an earlier checkpoint
    * or at a lower position of this one. */
  private def dupTruth(in: Input): IndexedSeq[Array[Boolean]] = {
    val seen = mutable.HashSet.empty[String]
    in.chunks.map(_.map(c => !seen.add(c)))
  }

  /** One chain in a fresh store, then restarts of the last and the middle
    * checkpoint from the store alone. */
  def chain(ctx: Ctx, in: Input): Unit = {
    val root = GraftSession.scratchDir("dedupbench_chkpt")
    try {
      val store = new SnapshotStore(ctx.spark, root)
      val chain = new ChunkDedup.Chain(ctx.spark, in.numChunks, store = Some(store))
      val truth = dupTruth(in)
      val leafBase = in.numChunks - 1
      val restarts = Seq(in.count - 1, in.count / 2).distinct
      val results = (0 until in.count).iterator.map { k =>
        ctx.pass("ChunkDedup.checkpoint")(chain.checkpoint(in.dfs(k))) { res =>
          val dup = new Array[Boolean](in.numChunks.toInt)
          var labelled = 0
          res.labels.collect().foreach { r =>
            dup((r.getLong(0) - leafBase).toInt) = r.getString(1) != ChunkDedup.FIRST
            labelled += 1
          }
          val nTrue = truth(k).count(identity)
          val found = truth(k).indices.count(i => truth(k)(i) && dup(i))
          ctx.add("dup_recall", if (nTrue == 0) 1.0 else found.toDouble / nTrue)
          Seq(
            if (labelled != in.numChunks) Some(s"checkpoint $k labelled $labelled chunks") else None,
            if (!java.util.Arrays.equals(dup, truth(k)))
              Some(s"checkpoint $k: duplicate labels differ from the generator's") else None
          ).flatten
        }.map { case (res, s) =>
          ctx.add("main_s", s)
          ctx.add("main_mb_per_s", in.bytes / 1e6 / s)
          res
        }
      }.takeWhile(_.isDefined).flatten.toList
      if (results.length == in.count) {
        var reads = store.readCount
        var restartReads = 0
        for (cid <- restarts) {
          val st = new SnapshotStore(ctx.spark, root)
          ctx.pass("ChunkDedup.restart") {
            ChunkDedup.restartFromStore(ctx.spark, st, cid).collect()
          } { rows =>
            val got = new Array[String](in.numChunks.toInt)
            rows.foreach(r => got(r.getLong(0).toInt) = r.getString(1))
            if (rows.length == in.numChunks && got.sameElements(in.chunks(cid))) Nil
            else Seq(s"restart of checkpoint $cid differs from the generated input")
          }.foreach(p => ctx.add("followup_mb_per_s", in.bytes / 1e6 / p._2))
          restartReads += st.readCount
        }
        reads += restartReads
        val ratio = Store.bytes(Paths.get(root)).toDouble / (in.bytes * in.count)
        ctx.add("output_ratio", ratio)
        if (ctx.tracer.recording) {
          Store.layerMetrics(ctx, root, 0 until in.count, ratio, reads)
          ctx.layer("ChunkDedup.checkpoint.first_ocur_roots") = results.map(_.numFirstOcur).sum
          ctx.layer("ChunkDedup.checkpoint.shift_roots") = results.map(_.numShiftDupl).sum
          ctx.layer("ChunkDedup.restart.store_reads") = restartReads.toDouble / restarts.length
        }
      }
    } finally GraftSession.dropScratch(root)
  }
}
