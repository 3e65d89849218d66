package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a call the benchmark made into one layer of the library.
  * Times are epoch milliseconds (fractional), the clock Spark's events use.
  */
final case class Span(
    id: Long, name: String, layer: String, parent: Long, op: Long, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** A finished Spark job, attributed to the innermost span that was open on
  * the thread that submitted it (`span` = 0 when none was).
  */
final case class JobRec(id: Int, span: Long, startMs: Long, endMs: Long, callSite: String, stages: Int)

/** A finished task's metrics, keyed back to its job. */
final case class TaskRec(
    job: Int, launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, inputBytes: Long, inputRecords: Long,
    outputBytes: Long)

/** In-memory tracing. Spans are recorded around the benchmark's calls into
  * the library; each open span is published as the Spark local property
  * [[Trace.Prop]], which Spark copies onto every job the thread submits
  * (and onto threads the library's runner spawns inside the span), so the
  * listener can charge jobs, stages and tasks to spans. Everything stays in
  * memory until the run ends.
  */
object Trace {
  val Prop = "perfbench.span"

  @volatile var enabled: Boolean = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new InheritableThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  @volatile private var sc: SparkContext = _

  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  /** Epoch milliseconds from the monotonic clock. */
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  def install(context: SparkContext): Listener = {
    sc = context
    val l = new Listener
    context.addSparkListener(l)
    l
  }

  /** Runs `body` inside a span of `layer` when tracing is on; a plain call
    * otherwise.
    */
  def span[T](name: String, layer: String, op: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent: Long = current.get()
      val prevProp = sc.getLocalProperty(Prop)
      current.set(id)
      sc.setLocalProperty(Prop, id.toString)
      val start = nowMs
      try body
      finally {
        spans.add(Span(id, name, layer, parent, op, start, nowMs))
        current.set(parent)
        sc.setLocalProperty(Prop, prevProp)
      }
    }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startMs)

  /** Overlapping intervals merged, in start order. */
  def merge(iv: Seq[(Double, Double)]): Seq[(Double, Double)] =
    iv.filter(p => p._2 > p._1).sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, p) => p :: acc
    }.reverse

  /** Union length of intervals, in the intervals' unit. */
  def unionLength(iv: Seq[(Double, Double)]): Double = merge(iv).map(p => p._2 - p._1).sum

  /** Clips intervals to [lo, hi]. */
  def clip(iv: Seq[(Double, Double)], lo: Double, hi: Double): Seq[(Double, Double)] =
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(p => p._2 > p._1)

  /** Self time of each span: its duration minus the part of it covered by
    * its child spans.
    */
  def selfTimesMs(all: Seq[Span]): Map[Long, Double] = {
    val children = all.groupBy(_.parent)
    all.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      s.id -> (s.durMs - unionLength(clip(kids, s.startMs, s.endMs)))
    }.toMap
  }

  final class Listener extends SparkListener {
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    private val open = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, String, Int)]()
    val jobs = new ConcurrentLinkedQueue[JobRec]()
    val tasks = new ConcurrentLinkedQueue[TaskRec]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(Prop))).map(_.toLong).getOrElse(0L)
      // the result stage is named after the job's call site, "<action> at <file>:<line>"
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      open.put(e.jobId, (span, e.time, site, e.stageIds.size))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(open.remove(e.jobId)).foreach { case (span, start, site, stages) =>
        jobs.add(JobRec(e.jobId, span, start, e.time, site, stages))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null && info != null) {
        val job = Option(stageJob.get(e.stageId)).map(_.intValue).getOrElse(-1)
        tasks.add(TaskRec(
          job, info.launchTime, info.finishTime, m.executorRunTime, m.executorCpuTime,
          m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
          m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten))
      }
    }

    def clear(): Unit = { jobs.clear(); tasks.clear() }
  }
}
