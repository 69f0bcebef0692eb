package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One workload's generated inputs (see gen.py). */
final class Inputs(val dir: File) {
  private val mapper = new ObjectMapper
  val traffic = mapper.readTree(new File(dir, "traffic.json"))
  val truth = mapper.readTree(new File(dir, "truth.json"))
}

/** What one workload measured. End-to-end fields are filled by every
  * workload, each with its own unit of work (see README.md). */
final class Result(val workload: String, val tracer: Option[Tracer]) {
  var ops: Ops = _
  var opP50Geomean, opsPerS, writeP50, writeItemsPerS = Double.NaN
  var recall, dedupRecall, bytesPerInputByte, liveHeapMb, gcS = Double.NaN
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  val layers = mutable.LinkedHashMap[String, (Double, String)]()
  val trafficOut = mutable.LinkedHashMap[String, Any]()

  def check(name: String, ok: Boolean, detail: String): Unit = {
    checks += ((name, ok, detail))
    if (!ok) System.err.println(s"[perfbench] check $name FAILED: $detail")
  }
  def traffic(k: String, v: Any): Unit = trafficOut(k) = v
  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)

  // the listener bus delivers events asynchronously: every window is
  // read only after it has delivered all of them, once the workload's
  // calls are done
  lazy val drained: Option[Tracer] = tracer.map { tr => tr.drain(); tr }

  /** Summed counters of every traced call named `call`, and how many. */
  def counters(call: String): (Counters, Int) = drained.fold((Counters.zero, 0)) { tr =>
    val sp = ops.spansOf(call)
    (sp.map(s => tr.window(s.start, s.end)).foldLeft(Counters.zero)(_ + _), sp.size)
  }

  /** Per-call counters of `calls`, as means per traced call. Read-only
    * calls write no files, so `writes = false` leaves their write
    * counters out. */
  def spans(calls: Seq[String], writes: Boolean = true): Unit = if (tracer.nonEmpty)
    calls.foreach { call =>
      val (c, calls) = counters(call)
      val n = math.max(1, calls).toDouble
      val name = s"$workload.$call"
      layer(s"$name.p50_s", Ops.percentile(ops.latencies(call), 0.5), "s")
      layer(s"$name.jobs", c.jobs / n, "count")
      layer(s"$name.tasks", c.tasks / n, "count")
      layer(s"$name.task_s", c.taskS / n, "s")
      layer(s"$name.shuffle_bytes", c.shuffleBytes / n, "bytes")
      layer(s"$name.input_rows", c.inputRows / n, "count")
      if (writes) {
        layer(s"$name.output_bytes", c.outputBytes / n, "bytes")
        layer(s"$name.files_written", ops.spansOf(call).map(_.files).sum / n, "count")
      }
      layer(s"$name.listing_jobs", c.listingJobs / n, "count")
    }

  /** Wall time and job count of one-off set-up calls. */
  def bootstrapSpans(calls: Seq[String]): Unit = if (tracer.nonEmpty)
    calls.foreach { call =>
      val (c, n) = counters(call)
      layer(s"$workload.$call.p50_s", Ops.percentile(ops.latencies(call), 0.5), "s")
      layer(s"$workload.$call.jobs", c.jobs.toDouble / math.max(1, n), "count")
    }
}

object Jvm {
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Driver heap in use after forced full collections. Spark's context
    * cleaner drops the blocks of unreachable checkpoints and broadcasts
    * only after a collection finds them, on its own thread, so collect
    * until the figure stops falling. */
  def liveHeapMb(): Double = {
    def used() = {
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    var last = used()
    var next = used()
    var rounds = 0
    while (next < last * 0.99 && rounds < 8) { last = next; next = used(); rounds += 1 }
    next
  }

  def treeBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)

  def treeFiles(f: File): Long =
    if (f.isFile) 1L
    else Option(f.listFiles()).map(_.map(treeFiles).sum).getOrElse(0L)
}

/** Runs one workload in one Spark session and writes what it measured
  * as JSON for run.py, which prints the result line.
  *
  * {{{
  * Main --workload W --inputs DIR --work DIR --seconds N --trace 0|1
  *      --cores N --out FILE
  * }}}
  * `--inputs` holds one generated input directory per workload. A
  * traced run (`--trace 1`) runs every workload, the named one first,
  * so that each traced run reports every per-layer counter; its loops
  * run a fixed number of calls instead of a time budget, so that two
  * traced runs of one seed repeat every job, task and file count.
  */
object Main {
  val Workloads = Seq("station", "curation")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(a("work")); work.mkdirs()
    val cores = a("cores").toInt
    val traced = a("trace") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val order = if (traced) a("workload") +: Workloads.filterNot(_ == a("workload"))
                else Seq(a("workload"))
    val results = order.map { w =>
      val res = new Result(w, tracer)
      val busy0 = tracer.fold(0.0)(_.busyS)
      val in = new Inputs(new File(a("inputs"), w))
      val dir = new File(work, w)
      lazy val deadline = System.nanoTime() + (a("seconds").toDouble * 1e9).toLong
      w match {
        case "station" => StationWorkload.run(spark, in, dir, res, deadline)
        case "curation" =>
          CurationWorkload.run(spark, in, dir, res, deadline, new File(work, "verify"))
      }
      res.drained.foreach { tr =>
        // the tracer's own work per traced call: listener callbacks plus
        // the span bookkeeping outside each call's timed window
        val spans = res.ops.spanWindows
        res.layer(s"$w.trace_overhead_s",
          (tr.busyS - busy0 + res.ops.bookkeepingS) / spans.size, "s")
        res.layer(s"$w.jobs_total",
          spans.map { case (s, e) => tr.window(s, e).jobs }.sum.toDouble, "count")
        val win = res.ops.windows
        res.layer(s"$w.unattributed_jobs",
          tr.unattributed(win.map(_._1).min, win.map(_._2).max, win).toDouble, "count")
        res.layer(s"$w.gc_s", res.gcS, "s")
      }
      res
    }
    write(results, new File(a("out")))
    spark.stop()
  }

  private def write(results: Seq[Result], out: File): Unit = {
    val mapper = new ObjectMapper
    val root = mapper.createObjectNode()
    val main = results.head
    root.put("attempted", results.map(_.ops.attempted).sum)
    root.put("failed", results.map(_.ops.failed).sum)
    root.put("first_op_ms", main.ops.firstOpMs)
    val e2e = root.putObject("end_to_end")
    Seq("op_p50_geomean_s" -> main.opP50Geomean, "ops_per_s" -> main.opsPerS,
      "write_p50_s" -> main.writeP50, "write_items_per_s" -> main.writeItemsPerS,
      "recall" -> main.recall, "dedup_recall" -> main.dedupRecall,
      "bytes_per_input_byte" -> main.bytesPerInputByte,
      "live_heap_mb" -> main.liveHeapMb).foreach { case (k, v) => e2e.put(k, v) }
    val layers = root.putObject("per_layer")
    val checks = root.putArray("checks")
    val traffic = root.putObject("traffic")
    results.foreach { res =>
      res.layers.foreach { case (k, (v, unit)) =>
        val n = layers.putObject(k); n.put("value", v); n.put("unit", unit)
      }
      res.checks.foreach { case (name, ok, detail) =>
        val c = checks.addObject()
        c.put("name", s"${res.workload}.$name"); c.put("ok", ok); c.put("detail", detail)
      }
      res.trafficOut.foreach { case (k, v) => traffic.put(s"${res.workload}.$k", v.toString) }
    }
    Files.write(out.toPath, mapper.writeValueAsString(root).getBytes(StandardCharsets.UTF_8))
  }
}
