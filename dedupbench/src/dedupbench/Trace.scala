package dedupbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark task and job counters per layer tag. A layer's calls run under a
  * job group named after the layer (see [[Tracer.span]]); jobs outside any
  * group count as untagged. The listener bus is one thread, so the maps are
  * only guarded for the reads the main thread makes after a drain.
  */
final class LayerListener extends SparkListener {
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var cpuNs = 0L; var gcMs = 0L
    var shuffleBytes = 0L; var shuffleRecords = 0L; var spillBytes = 0L
    /** per stage: (max task run ms, sum of task run ms, tasks) */
    val runMs = mutable.LongMap.empty[(Long, Long, Long)]
    /** Highest ratio of slowest to mean task run time over the stages with
      * at least two tasks (1 = perfectly even). */
    def taskSkew: Double = {
      val ratios = runMs.values.collect {
        case (mx, sum, n) if n >= 2 && sum > 0 => mx.toDouble * n / sum
      }
      if (ratios.isEmpty) 1.0 else ratios.max
    }
  }

  private val byTag = mutable.HashMap.empty[String, Acc]
  private val stageTag = mutable.LongMap.empty[String]
  private var jobs, stages, tasks = 0L

  private def acc(tag: String): Acc = byTag.getOrElseUpdate(tag, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(LayerListener.GROUP)))
      .getOrElse(LayerListener.UNTAGGED)
    val a = acc(tag)
    a.jobs += 1; a.stages += e.stageInfos.size
    jobs += 1; stages += e.stageInfos.size
    e.stageIds.foreach(id => stageTag(id.toLong) = tag)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val a = acc(stageTag.getOrElse(e.stageId.toLong, LayerListener.UNTAGGED))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      val (mx, sum, n) = a.runMs.getOrElse(e.stageId.toLong, (0L, 0L, 0L))
      a.runMs(e.stageId.toLong) = (math.max(mx, m.executorRunTime),
        sum + m.executorRunTime, n + 1)
    }
  }

  def counts: (Long, Long, Long) = synchronized((jobs, stages, tasks))
  def tag(t: String): Option[Acc] = synchronized(byTag.get(t))
}

object LayerListener {
  final val GROUP = "spark.jobGroup.id"
  final val UNTAGGED = "untagged"
}

/** One call into a layer: wall span plus the exact Spark job, stage and task
  * counts that ran inside it. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                      endNs: Long, jobs: Long, stages: Long, tasks: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into each module, kept in memory and
  * written as JSON lines at the end. Disabled, `span` only runs its body:
  * no job group, no listener, no drain. */
final class Tracer(spark: SparkSession, val enabled: Boolean, runId: String) {
  val listener: Option[LayerListener] =
    if (enabled) {
      val l = new LayerListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0
  /** Off during the warm-up, which a traced run does not record. */
  var recording: Boolean = enabled

  def drain(): Unit =
    if (enabled) org.apache.spark.sql.graftx.Bridge.drainListenerBus(spark.sparkContext)

  /** Run `body` as one span; its Spark jobs count under the job group
    * `name`. */
  def span[A](name: String)(body: => A): A =
    if (!recording) body
    else {
      val sc = spark.sparkContext
      val prevGroup = sc.getLocalProperty(LayerListener.GROUP)
      sc.setLocalProperty(LayerListener.GROUP, name)
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      drain()
      val (j0, s0, t0) = listener.get.counts
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        drain()
        val (j1, s1, t1) = listener.get.counts
        spans += Span(id, parent, name, start, end, j1 - j0, s1 - s0, t1 - t0)
        open = open.tail
        sc.setLocalProperty(LayerListener.GROUP, prevGroup)
      }
    }

  def all: Seq[Span] = spans.toSeq
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def writeJsonl(dir: java.nio.file.Path): java.nio.file.Path = {
    java.nio.file.Files.createDirectories(dir)
    val f = dir.resolve(s"$runId.jsonl")
    val lines = spans.map(s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${s.jobs},""" +
        s""""stages":${s.stages},"tasks":${s.tasks}}""")
    java.nio.file.Files.write(f, (lines.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    f
  }
}
