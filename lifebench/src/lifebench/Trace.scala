package lifebench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Task-level work reported by Spark, stamped with the task's finish time. */
final case class TaskEv(endMs: Long, inputBytes: Long, cpuNs: Long, shuffleBytes: Long,
    outputBytes: Long, spillBytes: Long)

/** Records every job and task from outside the engine. Attached in both
 * modes: untraced runs need the input bytes of `read_bytes_per_op`. */
final class WorkListener extends SparkListener {
  val tasks = mutable.ArrayBuffer.empty[TaskEv]
  val jobs = mutable.HashMap.empty[Int, (Long, Long)]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.synchronized {
      tasks += TaskEv(e.taskInfo.finishTime, m.inputMetrics.bytesRead, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.synchronized { jobs(e.jobId) = (e.time, Long.MaxValue) }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.synchronized { jobs.get(e.jobId).foreach(j => jobs(e.jobId) = (j._1, e.time)) }
}

/** Analysis + optimization + planning time of every executed query,
 * from Spark's planning tracker (traced runs only). */
final class PlanListener extends QueryExecutionListener {
  /** (analysis start ms, planning ms) per query. */
  val plans = mutable.ArrayBuffer.empty[(Long, Double)]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    val start = ph.get("analysis").map(_.startTimeMs).getOrElse(0L)
    val ms = Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs).sum
    plans.synchronized { plans += ((start, ms.toDouble)) }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** A timed interval at a layer boundary; `op` is the id of the
 * benchmark operation it belongs to (-1 outside operations). */
final case class Span(id: Int, name: String, t0Ns: Long, t1Ns: Long, parent: Int, op: Int)

/** Spans and per-layer samples, held in memory and written at the end. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0

  def span[T](name: String, op: Int)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, name, t0, System.nanoTime(), parent, op)
      stack.pop()
    }
  }

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Per span name: calls, total ms, and self ms (duration minus the
   * part covered by child spans). */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val total = ss.map(s => s.t1Ns - s.t0Ns).sum
      val covered = ss.map(s => Stats.union(children.getOrElse(s.id, Nil)
        .map(c => (c.t0Ns, c.t1Ns)).toSeq)).sum
      (name, ss.size, total / 1e6, (total - covered) / 1e6)
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile with at least ten samples beyond it (the
   * 11th largest value) once there are 40 samples. Below 40 that
   * percentile is no tail (with 11 samples it is the minimum), so the
   * interpolated 90th percentile stands in for it. */
  def tail(xs: Seq[Double]): Double =
    if (xs.size < 40) quantile(xs, 0.9) else xs.sorted.apply(xs.size - 11)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Length of the union of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
