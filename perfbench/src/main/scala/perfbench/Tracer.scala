package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}

/** Per-call layer counters, measured from outside the program.
  *
  * A span is the wall-clock window of one call into a layer's public
  * function. Every Spark job and task that starts inside the window is
  * charged to the call. That is exact because one client thread calls
  * into Spark at a time and spans never share a millisecond (see
  * [[Ops]]). Jobs that start inside the traced phase but outside every
  * span and every window of the benchmark's own work are reported as
  * `unattributed_jobs`.
  */
final class Tracer extends SparkListener {
  private final case class Job(time: Long, listing: Boolean)
  private final case class Task(launch: Long, runMs: Long, shuffleBytes: Long,
                                inputRows: Long, outputBytes: Long)
  private val jobs = new ConcurrentLinkedQueue[Job]
  private val tasks = new ConcurrentLinkedQueue[Task]
  @volatile private var started = 0L
  @volatile private var ended = 0L
  // the listener bus calls back on one thread; this is the tracer's own
  // cost on it
  @volatile private var busyNs = 0L
  def busyS: Double = busyNs / 1e9

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    busyNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobs.add(Job(e.time, desc.startsWith("Listing leaf files")))
    started += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed(ended += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(Task(e.taskInfo.launchTime, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten))
  }

  /** Waits until the listener bus has delivered every job's end event
    * (task ends are posted before their job's end). */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    var stableSince = System.nanoTime()
    var last = -1L
    while (System.nanoTime() < deadline &&
      (started != ended || System.nanoTime() - stableSince < 200000000L)) {
      val seen = started + tasks.size
      if (seen != last) { last = seen; stableSince = System.nanoTime() }
      Thread.sleep(20)
    }
  }

  /** Counters of all jobs and tasks that started in [from, to] (ms). */
  def window(from: Long, to: Long): Counters = {
    val js = jobs.asScala.filter(j => j.time >= from && j.time <= to)
    val ts = tasks.asScala.filter(t => t.launch >= from && t.launch <= to)
    Counters(js.size, js.count(_.listing), ts.size, ts.map(_.runMs).sum / 1e3,
      ts.map(_.shuffleBytes).sum, ts.map(_.inputRows).sum,
      ts.map(_.outputBytes).sum)
  }

  /** Jobs that started in [from, to] but inside none of `spans`. */
  def unattributed(from: Long, to: Long, spans: Seq[(Long, Long)]): Long =
    jobs.asScala.count(j => j.time >= from && j.time <= to &&
      !spans.exists { case (s, e) => j.time >= s && j.time <= e }).toLong
}

final case class Counters(jobs: Long, listingJobs: Long, tasks: Long,
                          taskS: Double, shuffleBytes: Long, inputRows: Long,
                          outputBytes: Long) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs,
    listingJobs + o.listingJobs, tasks + o.tasks, taskS + o.taskS,
    shuffleBytes + o.shuffleBytes, inputRows + o.inputRows,
    outputBytes + o.outputBytes)
}

object Counters {
  val zero: Counters = Counters(0, 0, 0, 0.0, 0, 0, 0)
}
