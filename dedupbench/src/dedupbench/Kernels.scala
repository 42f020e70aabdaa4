package dedupbench

import graft.functions.Impl
import org.apache.spark.unsafe.types.UTF8String

/** Single-thread throughput of the engine's text kernels on a workload's
  * own text, beside a same-JVM ceiling: allocate a buffer per document and
  * copy the document into it. A kernel near the ceiling is bound by memory
  * traffic, not by its arithmetic. */
object Kernels {
  val Names: Seq[String] = Seq("Impl.murmur128", "Impl.normWordHashes",
    "Impl.shinglesFromWords", "Impl.minhashArr", "Impl.simhashFromWords",
    "Impl.winnow", "SuffixArray.build")

  @volatile private var sink = 0L
  private val MinSweepS = 0.15
  private val Sweeps = 3

  /** Median MB/s over `Sweeps` timed sweeps of `f` over `docs` (after one
    * untimed sweep); a sweep repeats the documents until it lasts
    * `MinSweepS`. `bytes(i)` is the input text size charged to document i. */
  private def mbPerS[A](docs: Array[A], bytes: Array[Int])(f: A => Long): Double = {
    val total = bytes.map(_.toLong).sum
    def sweep(): Long = { var h = 0L; var i = 0; while (i < docs.length) { h ^= f(docs(i)); i += 1 }; h }
    sink ^= sweep()
    val rates = (0 until Sweeps).map { _ =>
      var reps = 0
      val t0 = System.nanoTime()
      var t = t0
      while (reps == 0 || (t - t0) / 1e9 < MinSweepS) { sink ^= sweep(); reps += 1; t = System.nanoTime() }
      total * reps / 1e6 / ((t - t0) / 1e9)
    }
    Stats.median(rates)
  }

  /** Metric name -> MB/s for every kernel and the ceiling. */
  def run(texts: Array[Array[Byte]]): Seq[(String, Double)] = {
    val sizes = texts.map(_.length)
    val utf = texts.map(b => UTF8String.fromBytes(b))
    val words = utf.map(Impl.normWordHashes)
    val shingles = words.map(w => Impl.shinglesFromWords(w, 5))
    // suffix arrays are built per group of four documents, as the
    // group-scoped repeat pass does
    val groups = texts.grouped(4).map(g => Array.concat(g: _*)).toArray
    val chunkLen = 64
    Seq(
      "kernel.alloc_copy" -> mbPerS(texts, sizes) { b =>
        val c = new Array[Byte](b.length)
        System.arraycopy(b, 0, c, 0, b.length)
        if (c.isEmpty) 0L else c(c.length - 1).toLong
      },
      "Impl.murmur128" -> mbPerS(texts, sizes) { b =>
        var h = 0L; var off = 0
        while (off < b.length) {
          h ^= Impl.murmur128(b, off, math.min(chunkLen, b.length - off), 0L)(0)
          off += chunkLen
        }
        h
      },
      "Impl.normWordHashes" -> mbPerS(utf, sizes)(s => Impl.normWordHashes(s).length.toLong),
      "Impl.shinglesFromWords" -> mbPerS(words, sizes)(w => Impl.shinglesFromWords(w, 5).length.toLong),
      "Impl.minhashArr" -> mbPerS(shingles, sizes)(sh => Impl.minhashArr(sh, 128, 42L)(0)),
      "Impl.simhashFromWords" -> mbPerS(words, sizes)(Impl.simhashFromWords),
      "Impl.winnow" -> mbPerS(utf, sizes)(s => Impl.winnow(s, 24, 12).numElements().toLong),
      "SuffixArray.build" -> mbPerS(groups, groups.map(_.length))(g =>
        graft.dedup.SuffixArray.build(g).length.toLong)
    ).map { case (k, v) => (k + ".mb_per_s", v) }
  }
}
