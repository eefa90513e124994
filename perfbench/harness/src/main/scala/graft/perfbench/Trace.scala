package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into each engine layer, plus Spark
  * job/task counters attributed to those spans.
  *
  * A span has a name, a layer, a start, an end, a parent and the id of
  * the operation (trace) it belongs to. Spans are kept in memory and
  * summarized when the run ends. Untraced runs pay one branch per call.
  *
  * Jobs are attributed to the span whose id the calling thread carried in
  * its `perfbench.span` local property when the job started. A job
  * launched on a helper thread carries no id, or a stale one inherited
  * when that thread was created; it goes to the innermost span that was
  * open when it started. The workloads run one client, so spans nest and
  * that span is unique. Each job also keeps its call site (the final
  * stage's name), which splits work inside one opaque call, for example
  * RunPipeline's publish from its q117 chain. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis()
  /** Wall clock in ms with nanoTime resolution, comparable to the
    * listener's event times. */
  def nowMs: Double = t0Millis + (System.nanoTime() - t0Nanos) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var traceId = 0
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val j = new Job(e.jobId, e.time.toDouble, span, site)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        val m = e.taskMetrics
        j.synchronized {
          j.tasks += 1
          if (m != null) {
            j.taskMs += m.executorRunTime
            j.gcMs += m.jvmGCTime
            j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
              m.shuffleWriteMetrics.bytesWritten
            j.spillBytes += m.diskBytesSpilled
            j.recordsRead += m.inputMetrics.recordsRead
          }
        }
      }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Run `body` as one operation: a fresh trace id and a root span. */
  def op[T](name: String)(body: => T): T = {
    if (enabled) traceId += 1
    span("bench", name)(body)
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, parent.map(_.id).getOrElse(-1), traceId,
        layer, name, nowMs)
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = nowMs
        stack = stack.tail
        sc.setLocalProperty(SpanKey, parent.map(_.id.toString).orNull)
      }
    }

  /** Stop listening once every posted event has been delivered. */
  def close(): Unit = if (enabled) {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
  }

  /** Per-span summaries, attributed jobs included. */
  def summaries: Seq[SpanStats] = {
    val byId = spans.map(s => s.id -> s).toMap
    val children = spans.groupBy(_.parent)
    def owner(j: Job): Option[Span] =
      byId.get(j.spanProp).filter(s => s.start - 1 <= j.start && j.start <= s.end + 1)
        .orElse(spans.filter(s => s.start <= j.start && j.start <= s.end)
          .maxByOption(_.start))
    val allJobs = jobs.values.asScala.toSeq.filter(!_.end.isNaN)
    val owned = allJobs.groupBy(owner)
    // every running job counts as executor work; a span's self interval
    // with none running is driver time
    val busy = merge(allJobs.map(j => (j.start, j.end)))
    spans.toSeq.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      val self = subtract((s.start, s.end), merge(kids.toSeq))
      val selfMs = self.map { case (a, b) => b - a }.sum
      val busyMs = self.map(iv => overlap(iv, busy)).sum
      val js = owned.getOrElse(Some(s), Nil)
      SpanStats(s.id, s.parent, s.trace, s.layer, s.name, s.start, s.end,
        selfMs / 1e3, (selfMs - busyMs) / 1e3, js.size,
        js.map(_.tasks).sum, js.map(_.taskMs).sum / 1e3, js.map(_.gcMs).sum / 1e3,
        js.map(_.shuffleBytes).sum / 1e6, js.map(_.spillBytes).sum / 1e6,
        js.map(_.recordsRead).sum,
        js.groupBy(_.site).map { case (k, v) => k -> v.map(j => j.end - j.start).sum / 1e3 })
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final class Span(val id: Int, val parent: Int, val trace: Int,
      val layer: String, val name: String, val start: Double) {
    @volatile var end: Double = Double.NaN
  }

  final class Job(val id: Int, val start: Double, val spanProp: Int, val site: String) {
    @volatile var end: Double = Double.NaN
    var tasks = 0L
    var taskMs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var recordsRead = 0L
  }

  /** One span with its self time and the Spark work attributed to it.
    * `siteS` is job wall time by call site. */
  final case class SpanStats(id: Int, parent: Int, trace: Int, layer: String,
      name: String, start: Double, end: Double, selfS: Double, gapS: Double,
      jobs: Int, tasks: Long, taskS: Double, gcS: Double, shuffleMb: Double,
      spillMb: Double, recordsRead: Long, siteS: Map[String, Double]) {
    def wallS: Double = (end - start) / 1e3
  }

  private[perfbench] def merge(ivs: Seq[(Double, Double)]): Seq[(Double, Double)] =
    ivs.sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((a, b) :: rest, (c, d)) if c <= b => (a, math.max(b, d)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  /** `iv` minus the sorted, disjoint intervals `holes`. */
  private[perfbench] def subtract(iv: (Double, Double),
      holes: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    val out = mutable.ArrayBuffer.empty[(Double, Double)]
    var cur = iv._1
    holes.foreach { case (a, b) =>
      if (a > cur && cur < iv._2) out += ((cur, math.min(a, iv._2)))
      cur = math.max(cur, b)
    }
    if (cur < iv._2) out += ((cur, iv._2))
    out.toSeq
  }

  private[perfbench] def overlap(iv: (Double, Double), ivs: Seq[(Double, Double)]): Double =
    ivs.map { case (a, b) => math.max(0.0, math.min(b, iv._2) - math.max(a, iv._1)) }.sum
}
