package perfbench

import java.io.File

import scala.collection.mutable

/** Times the calls a workload makes into the program and counts them.
  *
  * Every call is one attempted operation; a call that throws is a
  * failed one, and a wrong result found by a check counts as failed
  * too ([[fail]]). With a [[Tracer]], every call also records a span:
  * its wall-clock window, its result's row count and the files it left
  * new under the workload's root. That bookkeeping runs outside the
  * call's timed window, and its time is kept as part of the tracing
  * overhead.
  */
final class Ops(val tracer: Option[Tracer], root: Option[File]) {
  final case class Span(call: String, start: Long, end: Long, seconds: Double,
                        rows: Long, files: Long)

  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val spans = mutable.ArrayBuffer[Span]()
  private val excluded = mutable.ArrayBuffer[(Long, Long)]()
  private var lastEnd = 0L
  var attempted = 0L
  var failed = 0L
  /** Epoch ms at which the first timed call started. */
  var firstOpMs = 0L
  /** Seconds of tracing bookkeeping (file listings, span boundaries). */
  var bookkeepingS = 0.0

  /** Runs one call; `f` returns the result's row count. */
  def apply(call: String)(f: => Long): Option[Long] =
    tracer match {
      case None => timed(call)(f)._1
      case Some(_) =>
        val b0 = System.nanoTime()
        val before = files()
        val start = nextMs()
        val b1 = System.nanoTime()
        val (r, sec) = timed(call)(f)
        val end = System.currentTimeMillis()
        lastEnd = end
        val b2 = System.nanoTime()
        spans += Span(call, start, end, sec, r.getOrElse(0L), (files() -- before).size.toLong)
        bookkeepingS += ((b1 - b0) + (System.nanoTime() - b2)) / 1e9
        r
    }

  /** Runs the benchmark's own Spark work (not a call into the program):
    * no sample, no count, and in a traced run a window whose jobs are
    * charged to no call and are not unattributed either. */
  def untimed[A](f: => A): A = tracer match {
    case None => f
    case Some(_) =>
      val start = nextMs()
      try f
      finally {
        lastEnd = System.currentTimeMillis()
        excluded += ((start, lastEnd))
      }
  }

  private def timed(call: String)(f: => Long): (Option[Long], Double) = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r =
      try Some(f)
      catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $call failed: $e")
          None
      }
    val sec = (System.nanoTime() - t0) / 1e9
    if (firstOpMs == 0L) firstOpMs = startMs
    attempted += 1
    if (r.isEmpty) failed += 1
    samples.getOrElseUpdate(call, mutable.ArrayBuffer()) += sec
    (r, sec)
  }

  /** A wrong result found outside the call counts against it. */
  def fail(what: String): Unit = {
    System.err.println(s"[perfbench] wrong result: $what")
    failed += 1
  }

  def latencies(call: String): Seq[Double] =
    samples.get(call).map(_.toSeq).getOrElse(Seq.empty)

  def spansOf(call: String): Seq[Span] = spans.filter(_.call == call).toSeq

  def spanWindows: Seq[(Long, Long)] = spans.map(s => (s.start, s.end)).toSeq

  /** Span windows and the benchmark's own windows. */
  def windows: Seq[(Long, Long)] = spanWindows ++ excluded

  // spans never share a millisecond, so span-window attribution of a
  // job submitted at a boundary is unambiguous
  private def nextMs(): Long = {
    var t = System.currentTimeMillis()
    while (t <= lastEnd) { Thread.onSpinWait(); t = System.currentTimeMillis() }
    t
  }

  private def files(): Set[String] = root.fold(Set.empty[String]) { r =>
    val out = Set.newBuilder[String]
    def walk(f: File): Unit = {
      val kids = f.listFiles()
      if (kids == null) out += f.getPath else kids.foreach(walk)
    }
    if (r.exists()) walk(r)
    out.result()
  }
}

object Ops {
  /** Linear-interpolated percentile, q in [0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Geometric mean, over kinds of request, of each kind's median
    * latency. A mix whose kinds differ in cost by an order of magnitude
    * gets one figure that moves with every kind, not with whichever
    * kind happens to sort to the middle. */
  def p50Geomean(kinds: Seq[Seq[Double]]): Double = {
    val logs = kinds.filter(_.nonEmpty).map(k => math.log(percentile(k, 0.5)))
    math.exp(logs.sum / logs.size)
  }
}
