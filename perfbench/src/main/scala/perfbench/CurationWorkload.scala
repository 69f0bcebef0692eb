package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.ext.{Curation, Dedup, IvfIndex}

/** `curation`: the LLM-data curation deployment, write path then read
  * path, one client.
  *
  * Set-up bootstraps the deployment: an `IvfIndex.write` codebook,
  * tranche 0, `trainServing`. The timed write phase commits a
  * steady-state tranche (`commitTranche` with text, embedding and
  * image, probing the standing stores and feeding the PQ serving
  * index), then takes documents down (`retract`) with no maintenance
  * window after, so serving must exclude them through the tombstone
  * anti-join. The timed read phase runs a closed-loop client over a
  * fixed-order mix of deployment reads (`serveAnn`, `searchEmbeddings`,
  * the near-dup index probe) and declared queries.
  * `fsck` audits the result after the timed phases.
  */
object CurationWorkload {
  private val Modalities = Seq("text", "image", "embedding")
  private val Decisions = Seq("exact_dup", "near_dup", "kept")
  private val Reads = Seq("serveAnn", "searchEmbeddings", "probeNearDupIndex")
  private val Queries = Seq("RefQueries", "AnalyticsQueries", "ExtQueries").map(g => s"query.$g")

  def run(spark: SparkSession, in: Inputs, root: File, res: Result,
          deadlineNs: => Long, verifyDir: File): Unit = {
    import spark.implicits._
    def ids(key: String): Seq[Long] =
      in.truth.get(key).elements().asScala.map(_.asLong).toSeq
    def tranche(t: Int, kind: String): DataFrame =
      spark.read.parquet(f"${in.dir}/tranches/t$t%04d_$kind.parquet")
    def vectors(path: String): Seq[(Long, Seq[Float])] =
      spark.read.parquet(path).collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val annQ = vectors(s"${in.dir}/ann_queries.parquet")
    val probes = spark.read.parquet(s"${in.dir}/probe_docs.parquet").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val requests = in.truth.get("requests").elements().asScala.map(_.asText).toIndexedSeq
    val sfDir = new File(in.dir, "sf").getPath

    val stores = Curation.Stores(s"$root/text", s"$root/img", s"$root/aud",
      s"$root/vid", s"$root/emb", s"$root/led", pqIndex = s"$root/pq")
    val verdicts = mutable.Map[(Long, String), String]()
    val retracted = mutable.Set[Long]()
    // untraced runs count only the timed calls; a traced run traces set-up too
    val ops = new Ops(res.tracer, Some(root))
    val setup = if (res.tracer.nonEmpty) ops else new Ops(None, None)
    def commit(o: Ops, call: String, t: Int): Unit = o(call) {
      val rows = Curation.commitTranche(tranche(t, "docs"), t.toLong, stores,
        imgHashes = Some(tranche(t, "img")), embeddings = Some(tranche(t, "emb")))
        .collect()
      rows.foreach(r => verdicts((r.getLong(0), r.getString(1))) = r.getString(2))
      rows.length.toLong
    }
    def retract(key: String): Unit = ops("retract") {
      Curation.retract(spark, ids(key).toDF("doc_id"), stores)
      retracted ++= ids(key)
      ids(key).size.toLong
    }

    // ---- set-up: the bootstrap. The codebook is trained on tranche 0's
    // vectors, which tranche 0's commit then judges and appends.
    setup("IvfIndex.write") {
      IvfIndex.write(tranche(0, "emb").select("vec_id", "embedding"), stores.embedding); 1L
    }
    commit(setup, "bootstrap.commitTranche", 0)
    setup("trainServing")(Curation.trainServing(spark, stores, m = 16, k = 16,
      iters = 2, subWidth = 4))
    if (setup.failed > 0) throw new IllegalStateException("curation bootstrap failed")

    // the first serveAnn result, for the recall check, and each declared
    // query's first result, for the DuckDB oracle compare
    var served = Array.empty[Row]
    var leaks = 0
    val outputs = mutable.LinkedHashMap[String,
      (org.apache.spark.sql.types.StructType, Array[Row])]()
    /** Request i of the fixed order: its call name and its body. */
    def request(i: Int): (String, () => Long) = {
      val name = requests(i % requests.size)
      name match {
        // the whole query batch, one request
        case "serveAnn" => name -> (() => {
          val got = Curation.serveAnn(spark, stores, annQ.toDF("vec_id", "embedding"), 10)
            .collect()
          val bad = got.count(r => retracted(r.getAs[Long]("cid")))
          if (bad > 0) { leaks += bad; ops.fail(s"serveAnn returned $bad tombstoned ids") }
          if (served.isEmpty) served = got
          got.length.toLong
        })
        case "searchEmbeddings" => name -> (() =>
          Curation.searchEmbeddings(spark, stores, Seq(annQ(i % annQ.size))
            .toDF("vec_id", "embedding"), 10).collect().length.toLong)
        case "probeNearDupIndex" => name -> (() =>
          Dedup.probeNearDupIndex(Dedup.readNearDupIndex(spark, stores.textIndex),
            Seq(probes(i % probes.size)).toDF("doc_id", "text"), "doc_id", "text")
            .collect().length.toLong)
        case q => s"query.${group(q)}" -> (() => {
          val df = SparkEntry.queries(q)(spark, sfDir)
          val rows = df.collect()
          outputs.getOrElseUpdate(q, (df.schema, rows))
          rows.length.toLong
        })
      }
    }
    // ---- timed write phase: one tranche's life
    val gc0 = Jvm.gcSeconds()
    val w0 = System.nanoTime()
    commit(ops, "commitTranche", 1)
    retract("takedowns")
    val writeWall = (System.nanoTime() - w0) / 1e9

    // ---- timed read phase: one closed-loop client, in whole rounds of one
    // composition in one order: the first always, each further one only
    // if time remains when the previous one is done. (With two clients
    // the median read latency swung by a fifth between seeds, as the
    // overlap of slow and fast requests shifted.) No warm-up precedes
    // the phase: every request plans and compiles anew, so a first
    // request costs about what a repeated one does.
    val round = in.truth.get("round").asInt
    val r0 = System.nanoTime()
    val deadline = deadlineNs
    var rounds = 0
    val byKind = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    // a traced run makes exactly one round
    while (rounds < requests.size / round &&
      (rounds == 0 || (res.tracer.isEmpty && System.nanoTime() < deadline))) {
      for (i <- rounds * round until (rounds + 1) * round) {
        val (call, body) = request(i)
        ops(call)(body())
        byKind.getOrElseUpdate(requests(i % requests.size), mutable.ArrayBuffer()) +=
          ops.latencies(call).last
      }
      rounds += 1
    }
    val readWall = (System.nanoTime() - r0) / 1e9
    res.gcS = Jvm.gcSeconds() - gc0
    res.liveHeapMb = Jvm.liveHeapMb()

    // declared-query results for the DuckDB oracle compare in run.py,
    // written first so that the compare overlaps the audit
    verifyDir.mkdirs()
    val mapper = new ObjectMapper
    val sql = mapper.createObjectNode()
    outputs.foreach { case (q, (schema, rows)) =>
      ops.untimed(spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write
        .parquet(new File(verifyDir, q).getPath))
      sql.put(q, SparkEntry.oracleSql(q))
    }
    Files.write(new File(verifyDir, "oracle_sql.json").toPath,
      mapper.writeValueAsString(sql).getBytes(StandardCharsets.UTF_8))
    // run.py starts the compare now, alongside the audit below
    Files.createFile(new File(verifyDir, "READY").toPath)

    // ---- the audit, then the checks, outside the timed phases
    var audit = Array.empty[Row]
    ops("fsck") { audit = Curation.fsck(spark, stores).collect(); audit.length.toLong }
    val violations = audit.filter(_.getAs[String]("status") == "violation")
      .map(r => s"${r.getAs[String]("check")}=${r.getAs[Long]("n")}")
    res.check("fsck_has_no_violation", audit.nonEmpty && violations.isEmpty,
      s"${audit.length} checks; violations: ${violations.mkString(", ")}")
    if (violations.nonEmpty) ops.fail(s"fsck violations ${violations.mkString(", ")}")

    // planted duplicates: every cross-tranche exact copy not taken down
    // is an exact_dup; the share of one-word edits judged a duplicate is
    // the dedup recall
    def text(id: Long) = verdicts.get((id, "text"))
    val exact = ids("planted_exact").filterNot(retracted)
    val missed = exact.filterNot(id => text(id).contains("exact_dup"))
    res.check("planted_exact_dups_judged_exact_dup", missed.isEmpty,
      s"${exact.size - missed.size}/${exact.size}; missed ${missed.take(5).mkString(",")}")
    missed.foreach(id => ops.fail(s"planted exact duplicate $id judged ${text(id)}"))
    val near = ids("planted_near")
    res.dedupRecall = near.count(id => text(id).exists(_ != "kept")).toDouble / near.size

    // ANN recall@10 of the served batch against the exact top 10 over
    // the live corpus
    val live = vectors(s"$sfDir/embeddings.parquet").filter { case (id, _) =>
      verdicts.get((id, "embedding")).contains("kept") && !retracted(id)
    }
    val approx = served.groupBy(_.getAs[Long]("qid"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("cid")).toSet }
    val hits = annQ.map { case (qid, qv) =>
      val exactTop = live.sortBy { case (_, v) =>
        v.indices.map { j => val d = v(j).toDouble - qv(j); d * d }.sum
      }.take(10).map(_._1).toSet
      (exactTop intersect approx.getOrElse(qid, Set.empty)).size
    }
    res.recall = hits.sum.toDouble / (10.0 * annQ.size)
    res.check("serveAnn_returns_no_tombstoned_id", leaks == 0,
      s"$leaks tombstoned ids returned")

    val reads = (Reads ++ Queries).flatMap(ops.latencies)
    val inputBytes = (0 to 1).flatMap(t => Seq("docs", "emb", "img")
      .map(k => new File(f"${in.dir}/tranches/t$t%04d_$k.parquet").length)).sum
    val bootstrapDocs = in.traffic.get("docs").asLong - in.traffic.get("tranche_docs").asLong
    res.ops = ops
    res.opP50Geomean = Ops.p50Geomean(byKind.values.map(_.toSeq).toSeq)
    res.opsPerS = reads.size / readWall
    res.writeP50 = Ops.percentile(ops.latencies("commitTranche"), 0.5)
    res.writeItemsPerS =
      verdicts.count { case ((id, m), _) => m == "text" && id > bootstrapDocs } / writeWall
    res.bytesPerInputByte = Jvm.treeBytes(root) / inputBytes.toDouble
    res.traffic("requests_completed", reads.size)
    res.traffic("rounds", rounds)
    res.traffic("write_phase_s", writeWall)
    res.traffic("planted_near", near.size)
    res.traffic("planted_exact_live", exact.size)

    res.spans(Seq("commitTranche", "retract", "fsck"))
    res.spans(Reads ++ Queries, writes = false)
    res.bootstrapSpans(Seq("IvfIndex.write", "bootstrap.commitTranche", "trainServing"))
    if (res.tracer.nonEmpty) {
      Reads.foreach { call =>
        res.layer(s"curation.$call.rows_read_per_result", res.counters(call)._1.inputRows /
          math.max(1L, ops.spansOf(call).map(_.rows).sum).toDouble, "count")
      }
      Modalities.foreach { m =>
        Decisions.foreach { d =>
          res.layer(s"curation.verdict.$m.$d",
            verdicts.count { case ((_, mm), dd) => mm == m && dd == d }.toDouble, "count")
        }
      }
      res.layer("curation.store_files", Jvm.treeFiles(root).toDouble, "count")
    }
  }

  private def group(q: String): String =
    if (graft.queries.RefQueries.queries.contains(q)) "RefQueries"
    else if (graft.queries.AnalyticsQueries.queries.contains(q)) "AnalyticsQueries"
    else "ExtQueries"
}
