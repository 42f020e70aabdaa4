package dedupbench

import scala.collection.mutable

import graft.functions.Impl
import graft.pages.PagesGen
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** Near-copy floods: `count` base pages, each followed by `variants` copies
  * with ~1% of their words replaced. Every LSH and SimHash key a flood shares
  * holds thousands of documents, far past maxBucket, so candidate generation
  * takes the hot-key star path that plain PagesGen corpora never reach.
  * Ids start at [[Floods.Id0]]; a flood is one block of `variants + 1`
  * consecutive ids (base first), a multiple of the repeat-group size so no
  * group of the repeat pass straddles two floods. */
final case class Floods(count: Int, variants: Int) {
  require((variants + 1) % PagesGen.GROUP == 0, "flood block must be whole groups")
  def block: Long = variants + 1L
  def baseId(f: Int): Long = Floods.Id0 + f * block
}

object Floods {
  final val Id0 = 1L << 32
  private final val Words = 300
  private final val Edits = 3

  @inline private def rnd(seed: Long, id: Long, k: Long): Long =
    Impl.fmix64(Impl.splitmix64(seed ^ 0x5eedf100dL ^ (id * 0x9e3779b97f4a7c15L)) ^
      (k * 0xbf58476d1ce4e5b9L))

  /** Text of flood document `id` (a pure function of seed and id). */
  def text(seed: Long, fl: Floods, id: Long): String = {
    val off = id - Id0
    val base = Id0 + off / fl.block * fl.block
    val w = Array.tabulate(Words) { i =>
      val u = (rnd(seed, base, i) >>> 11).toDouble / (1L << 53)
      "w" + (u * u * 5000).toInt
    }
    if (id != base) for (k <- 0 until Edits)
      w(((rnd(seed, id, 1000 + k) >>> 1) % Words).toInt) = s"fl${id}x$k"
    w.mkString(" ")
  }
}

/** Generated inputs of the text workloads, with what the checks need. */
object Pages {
  final val K = graft.dedup.DedupConfig().shingleK

  def shingles(text: String): Array[Int] =
    Impl.shinglesFromWords(Impl.normWordHashes(UTF8String.fromString(text)), K)

  /** Generator truth: every exact/near/swap member of a PagesGen group
    * paired with its base, kept when the exact shingle Jaccard of the two
    * texts (under `textOf`) is at least tau, plus every flood member paired
    * with its flood's base. */
  def truthPairs(seed: Long, n: Long, fl: Floods, tau: Double,
                 textOf: Long => String): Array[(Long, Long)] = {
    val out = Array.newBuilder[(Long, Long)]
    var id = 0L
    while (id < n) {
      val g = id / PagesGen.GROUP
      val m = (id % PagesGen.GROUP).toInt
      if (m != 0 && Set("exact", "near", "swap")(PagesGen.modeOf(seed, g, m))) {
        val base = g * PagesGen.GROUP
        if (Impl.jaccardArr(shingles(textOf(base)), shingles(textOf(id))) >= tau)
          out += ((base, id))
      }
      id += 1
    }
    for (f <- 0 until fl.count; v <- 1L to fl.variants)
      out += ((fl.baseId(f), fl.baseId(f) + v))
    out.result()
  }

  /** Failed-check messages for a clustering output `rows` of (id, cluster):
    * every expected doc exactly once, the recall gate, and each flood one
    * cluster with its base and nothing else. Returns (failures, recall,
    * bytes of the cluster representatives' texts). */
  def checkClusters(rows: Array[Row], expectedIds: Array[Long],
                    truth: Array[(Long, Long)], fl: Floods,
                    textBytes: Long => Long): (Seq[String], Double, Long) = {
    val bad = mutable.ArrayBuffer.empty[String]
    val cl = mutable.LongMap.empty[Long]
    rows.foreach(r => cl(r.getLong(0)) = r.getLong(1))
    val ids = rows.map(_.getLong(0)).sorted
    if (!java.util.Arrays.equals(ids, expectedIds))
      bad += s"assignments: ${rows.length} rows, ${cl.size} distinct ids for " +
        s"${expectedIds.length} input docs (each must get exactly one)"
    val hit = truth.count { case (a, b) => cl.contains(a) && cl.get(a) == cl.get(b) }
    val recall = if (truth.isEmpty) 1.0 else hit.toDouble / truth.length
    if (recall < 0.99) bad += f"dup pair recall $recall%.4f < 0.99"
    if (fl.count > 0) {
      val sizes = mutable.LongMap.empty[Long]
      cl.values.foreach(c => sizes(c) = sizes.getOrElse(c, 0L) + 1)
      for (f <- 0 until fl.count) {
        val members = (0L until fl.block).map(v => cl.get(fl.baseId(f) + v))
        if (members.distinct.size != 1 || members.head.isEmpty ||
            sizes(members.head.get) != fl.block)
          bad += s"flood $f is not exactly one cluster with its base"
      }
    }
    val kept = cl.iterator.collect { case (id, c) if id == c => textBytes(id) }.sum
    (bad.toSeq, recall, kept)
  }

  def persist(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }

  /** (doc_id, text) of PagesGen docs 0 until n plus the floods. */
  def corpus(spark: SparkSession, seed: Long, n: Long, fl: Floods,
             partitions: Int): DataFrame = {
    import spark.implicits._
    val pages = PagesGen.pages(spark, n, seed, partitions).select("doc_id", "text")
    val floods = spark.range(Floods.Id0, Floods.Id0 + fl.count * fl.block, 1, partitions)
      .map(id => (id.longValue, Floods.text(seed, fl, id))).toDF("doc_id", "text")
    pages.unionByName(floods)
  }

  /** Text bytes per doc id, collected from a persisted corpus. */
  def textBytes(df: DataFrame): mutable.LongMap[Long] = {
    val m = mutable.LongMap.empty[Long]
    df.select(col("doc_id"), octet_length(col("text")).cast("long")).collect()
      .foreach(r => m(r.getLong(0)) = r.getLong(1))
    m
  }
}
