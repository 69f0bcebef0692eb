package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

import graft.pipeline.Station
import graft.resolve.MockResolver
import graft.streaming.StationStream

/** `station`: the reference's cron job, one writer. Each step drops the
  * next seeded link file into the watched directory and drains it with
  * `StationStream.run(availableNow = true)` into the one merged JSON
  * array. The output file and the stream's dedup state grow over the
  * run, so the sink's whole-file merge and the per-restart planning
  * cost both show. No `graft.ext` code runs here.
  */
object StationWorkload {
  // the station record's clock fields: stamped at publish time, so a
  // batch recomputation can never reproduce them
  private def timeless(node: ObjectNode): String = {
    node.fieldNames().asScala.toList.filter(_.contains("time")).foreach(node.remove)
    node.toString
  }

  /** Untimed drains after the bootstrap one, in set-up: while the JIT
    * still compiles the hot paths, a drain takes up to twice as long as
    * once it is done, about five drains in. */
  private val WarmUp = 4
  /** Drains per round: the loop runs whole rounds, so every run's
    * figures cover the same mix of output sizes. */
  private val Round = 5

  def run(spark: SparkSession, in: Inputs, work: File, res: Result,
          deadlineNs: => Long): Unit = {
    val mapper = new ObjectMapper
    val watched = new File(work, "in"); watched.mkdirs()
    val out = new File(work, "stations.json")
    val ckpt = new File(work, "checkpoint")
    val files = new File(in.dir, "increments").listFiles().sortBy(_.getName).toSeq
    val resolver = new MockResolver
    val ops = new Ops(res.tracer, Some(work))
    // one entry per drain, the set-up drains first
    val progress = scala.collection.mutable.ArrayBuffer[
      Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]]()
    var dropped = Seq.empty[File]
    def drain(o: Ops, i: Int): Option[Long] = o("StationStream.run") {
      val dst = new File(watched, files(i).getName)
      Files.copy(files(i).toPath, dst.toPath, StandardCopyOption.COPY_ATTRIBUTES)
      dropped :+= dst
      val q = StationStream.run(spark, watched.getPath, out.getPath, ckpt.getPath,
        resolver.stage(spark), availableNow = true)
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      progress += q.recentProgress.toSeq
      Files.size(out.toPath)
    }
    // set-up: the first increment creates the output and checkpoint,
    // the next ones warm the JIT
    val setup = new Ops(None, None)
    (0 to WarmUp).foreach(drain(setup, _))
    if (setup.failed > 0) throw new IllegalStateException("station set-up failed")
    val gc0 = Jvm.gcSeconds()
    val t0 = System.nanoTime()
    // the first round always, each further one only if time remains
    // when the previous one is done; a traced run makes exactly one
    val deadline = deadlineNs
    var rounds = 0
    while (WarmUp + (rounds + 1) * Round < files.size &&
      (rounds == 0 || (res.tracer.isEmpty && System.nanoTime() < deadline))) {
      (1 to Round).foreach(k => drain(ops, WarmUp + rounds * Round + k))
      rounds += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    res.gcS = Jvm.gcSeconds() - gc0
    res.liveHeapMb = Jvm.liveHeapMb()
    def urls(f: File) = Files.readAllLines(f.toPath).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
    val links = dropped.drop(1 + WarmUp).map(urls(_).size).sum
    val inputBytes = dropped.map(f => Files.size(f.toPath)).sum
    // the stream's dedup: every URL line beyond a URL's first occurrence
    // must leave the dedup state untouched
    val lines = dropped.flatMap(urls)
    val distinct = lines.distinct.size
    val stateInserts = progress.flatten.flatMap(_.stateOperators.headOption)
      .map(_.numRowsUpdated).sum

    // correctness: the published array equals batch Station.pipeline
    // over the union of every increment, keyed by url, clock fields aside
    val reference = Station.pipeline(spark.read.text(dropped.map(_.getPath): _*),
      resolver.stage(spark), ts = lit(0L).cast("timestamp")).toJSON.collect()
      .map(s => mapper.readTree(s).asInstanceOf[ObjectNode])
      .map(n => n.get("url").asText -> timeless(n)).toMap
    val published = mapper.readTree(new String(Files.readAllBytes(out.toPath),
      StandardCharsets.UTF_8)).elements().asScala
      .map(_.asInstanceOf[ObjectNode])
      .map(n => n.get("url").asText -> timeless(n)).toMap
    val matching = reference.count { case (k, v) => published.get(k).contains(v) }
    val ok = published.size == reference.size && matching == reference.size
    if (!ok) ops.fail(s"published ${published.size} stations, reference " +
      s"${reference.size}, ${matching} equal")
    res.check("station_json_equals_batch_pipeline", ok,
      s"${published.size} published, ${reference.size} expected, $matching equal")

    val lat = ops.latencies("StationStream.run")
    res.ops = ops
    res.writeP50 = Ops.percentile(lat, 0.5)
    res.opP50Geomean = Ops.p50Geomean(Seq(lat))
    res.opsPerS = lat.size / wall
    res.writeItemsPerS = links / wall
    res.recall = matching.toDouble / math.max(1, reference.size)
    res.dedupRecall = 1.0 - (stateInserts - distinct).abs.toDouble / (lines.size - distinct)
    res.bytesPerInputByte = (Files.size(out.toPath) + Jvm.treeBytes(ckpt)) /
      inputBytes.toDouble
    res.traffic("increments_run", dropped.size - 1 - WarmUp)
    res.traffic("links_run", links)
    res.traffic("stations_published", published.size)
    res.traffic("dedup_state_inserts", stateInserts)
    res.traffic("distinct_urls", distinct)
    res.spans(Seq("StationStream.run"))
    res.tracer.foreach { _ =>
      res.layer("station.sink.json_bytes", Files.size(out.toPath).toDouble, "bytes")
      // StreamingQueryProgress durations of each timed drain; startup is
      // the part of the call outside every trigger (query start, source
      // and sink set-up, stop)
      def perDrain(key: String): Seq[Double] = progress.drop(1 + WarmUp).map(_.map(p =>
        Option(p.durationMs.get(key)).fold(0L)(_.longValue)).sum / 1e3).toSeq
      Seq("planning_s" -> "queryPlanning", "addBatch_s" -> "addBatch",
        "walCommit_s" -> "walCommit").foreach { case (m, key) =>
        res.layer(s"station.stream.$m", Ops.percentile(perDrain(key), 0.5), "s")
      }
      res.layer("station.stream.startup_s", Ops.percentile(
        lat.zip(perDrain("triggerExecution"))
          .map { case (c, t) => c - t }, 0.5), "s")
      res.layer("station.dedup.state_rows", progress.last
        .flatMap(_.stateOperators.headOption).lastOption.fold(0.0)(_.numRowsTotal.toDouble),
        "count")
    }
  }
}
