package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import Trace.{Cost, Job, Span, Window}

/** Per-layer attribution for the traced run.
  *
  * Spans are recorded by the benchmark around each public call
  * (`<module>.<op>`, start and end in epoch milliseconds). A Spark job
  * belongs to the span whose window contains the job's start — not to a
  * thread-local job group, because the library launches jobs from the
  * global fork-join pool too. Tasks belong to their stage's job. The
  * listener is on the bus only between `attach` and `detach`; passes run
  * outside those calls are untraced. Nothing is computed while the run
  * measures: events are kept in memory and attributed once at the end.
  */
final class Trace(sc: SparkContext) extends SparkListener {
  private val jobs = mutable.HashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobCost = mutable.HashMap.empty[Int, Cost]
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var ended = 0

  def attach(): Unit = sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(e.time, Long.MaxValue)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
    ended += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).foreach { j =>
      val c = jobCost.getOrElseUpdate(j, new Cost())
      c.tasks += 1
      c.taskMs += m.executorRunTime
      c.shuffle += m.shuffleWriteMetrics.bytesWritten
      c.result += m.resultSize
      c.written += m.outputMetrics.bytesWritten
    }
  }

  def span[T](name: String)(body: => T): T = {
    val s = System.currentTimeMillis()
    try body finally {
      val e = System.currentTimeMillis()
      synchronized(spans += Span(name, s, e))
    }
  }

  /** Wait until every started job's end event has been delivered (task
    * ends precede their job's end on the ordered listener bus), then leave
    * the bus. */
  def detach(): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    def pending = synchronized(jobs.size - ended) > 0 ||
      sc.statusTracker.getActiveJobIds().nonEmpty
    while (pending && System.currentTimeMillis() < deadline) Thread.sleep(20)
    sc.removeSparkListener(this)
  }

  /** Summed costs of the jobs started in [from, to], plus the part of the
    * window in which no job ran (driver time). */
  def window(from: Long, to: Long): Window = synchronized {
    val in = jobs.filter { case (_, j) => j.start >= from && j.start <= to }
    val costs = in.keys.toSeq.flatMap(jobCost.get)
    val busy = Trace.unionLength(
      jobs.values.map(j => (math.max(j.start, from), math.min(j.end, to))).toSeq)
    val mb = 1024.0 * 1024.0
    Window(in.size, costs.map(_.tasks).sum, costs.map(_.taskMs).sum / 1000.0,
      costs.map(_.shuffle).sum / mb, costs.map(_.result).sum / mb,
      costs.map(_.written).sum / mb, (to - from - busy) / 1000.0)
  }

  def spansNamed(name: String): Seq[Span] = synchronized(spans.filter(_.name == name).toSeq)
}

object Trace {
  private final class Job(val start: Long, var end: Long)
  private final class Cost(var tasks: Long = 0, var taskMs: Long = 0,
      var shuffle: Long = 0, var result: Long = 0, var written: Long = 0)

  final case class Span(name: String, start: Long, end: Long)

  final case class Window(jobs: Int, tasks: Long, taskS: Double,
      shuffleMb: Double, resultMb: Double, writtenMb: Double, driverS: Double) {
    def +(o: Window): Window = Window(jobs + o.jobs, tasks + o.tasks, taskS + o.taskS,
      shuffleMb + o.shuffleMb, resultMb + o.resultMb, writtenMb + o.writtenMb, driverS + o.driverS)
  }

  /** Total length covered by a set of [start, end] intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
