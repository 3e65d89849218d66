package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed operation; `ok` turns false when it failed or its output
  * check rejected it.
  */
final class OpRec(val key: String, val seconds: Double, var ok: Boolean, val pass: Int)

/** A lake table the run ends with: scanned for `scan_s`, rewritten fresh
  * for `space_amp`, and digested for the output checks.
  */
final case class LakeTable(name: String, path: String, partitionBy: Seq[String] = Nil)

/** A workload: seeded set-up, a fixed amount of timed work per pass, and
  * checks of the outputs.
  */
abstract class Workload(val ctx: Ctx) {
  def name: String

  /** One set-up repetition into `dir`. The harness repeats set-up and
    * keeps the state of the last repetition.
    */
  def setup(dir: String, rep: Int): Unit

  /** Untimed work after set-up, before the first timed op. */
  def warmup(): Unit = ()

  /** The timed work of one pass: a fixed number of ops for the run length. */
  def timed(pass: Int): Unit

  /** Tables scanned and checked at the end of the run. */
  def finalTables: Seq[LakeTable]

  /** Output checks over the final tables' digests; marks failing ops and
    * returns a description of each mismatch.
    */
  def check(digests: Map[String, String]): Seq[String]

  /** User input bytes derived from the fresh rewrite of the final tables,
    * for workloads whose input is those tables' rows.
    */
  def inputFromFresh(fresh: Map[String, Long]): Option[Long] = None

  /** Deliberately damages the outputs, for the self-test. */
  def corrupt(): Unit

  /** Per-layer metrics this workload can attribute from the traced pass. */
  def layerMetrics(t: TraceData, pass: Int): Map[String, Double] = Map.empty

  /** Extra facts for the run's detail record. */
  def detail: Seq[(String, String)] = Nil

  val ops = ArrayBuffer[OpRec]()
  var writtenBytes = 0L
  var inputBytes = 0L

  protected def spark = ctx.spark

  protected def timedOp[T](body: => T): (Double, Option[T]) = {
    val t0 = System.nanoTime()
    val r =
      try Some(body)
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] op failed: $e")
          None
      }
    ((System.nanoTime() - t0) / 1e9, r)
  }

  protected def fail(pred: OpRec => Boolean): Unit = ops.filter(pred).foreach(_.ok = false)
}

/** What the traced pass recorded. */
final case class TraceData(
    spans: Seq[Span], jobs: Seq[JobRec], tasks: Seq[TaskRec], startMs: Double, endMs: Double, k: Int) {
  private val spanById = spans.map(s => s.id -> s).toMap
  private val tasksByJob = tasks.groupBy(_.job)

  def jobsOf(pred: Span => Boolean): Seq[JobRec] =
    jobs.filter(j => spanById.get(j.span).exists(pred))
  def tasksOf(js: Seq[JobRec]): Seq[TaskRec] = js.flatMap(j => tasksByJob.getOrElse(j.id, Nil))
  def jobIntervals(js: Seq[JobRec]): Seq[(Double, Double)] = js.map(j => (j.startMs.toDouble, j.endMs.toDouble))
  def taskIntervals(ts: Seq[TaskRec]): Seq[(Double, Double)] =
    ts.map(t => (t.launchMs.toDouble, t.finishMs.toDouble))

  /** Wall time of `spans` not covered by `covered` intervals, in seconds. */
  def uncoveredS(of: Seq[Span], covered: Seq[(Double, Double)]): Double = {
    val merged = Trace.merge(of.map(s => (s.startMs, s.endMs)))
    merged.map { case (lo, hi) =>
      (hi - lo) - Trace.unionLength(Trace.clip(covered, lo, hi))
    }.sum / 1000.0
  }

}
