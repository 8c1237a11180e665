package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}
import org.apache.spark.sql.graftbridge.{ManifestRuntimeFilterScan, RenamedScan}

/** Files a planned SQL request reads, from its scan nodes' file lists
  * (after the manifest stats pruning chose them).
  */
object Plans extends AdaptiveSparkPlanHelper {
  private def files(scan: Scan): Long = scan match {
    case r: RenamedScan => files(r.inner)
    case r: ManifestRuntimeFilterScan => r.currentFiles.size.toLong
    case f: FileScan => f.fileIndex.inputFiles.length.toLong
    case _ => 0L
  }

  def filesRead(df: DataFrame): Long = {
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case b: BatchScanExec => files(b.scan)
    }.sum
  }
}

/** Entry point: `graftbench.Main --workload <ingest|query|refresh>
  * --seed <n> --seconds <s> --trace <0|1> [--size full|tiny]
  * --out <results dir> --work <scratch dir>`. Prints every metric by name with its unit, then one
  * JSON result line; exits 1 when an output check failed.
  */
object Main {

  /** End-to-end metrics: name → (unit, better). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "driver_heap_retained_mb" -> "MB",
    "ingest_chunks_per_s" -> "1/s",
    "ingest_batch_p50_ms" -> "ms",
    "ingest_batch_tail_ms" -> "ms",
    "query_p50_ms" -> "ms",
    "query_tail_ms" -> "ms",
    "ann_recall_at_10" -> "ratio",
    "refresh_cycle_p50_ms" -> "ms",
    "refresh_cycle_tail_ms" -> "ms",
    "embed_texts_per_chunk" -> "ratio",
    "store_bytes_per_user_byte" -> "ratio")

  val OpTypes: Seq[String] =
    Seq("batch", "exact", "filtered", "ann", "bm25", "hybrid", "point")
  val SparkAllNames: Seq[String] = Seq("jobs", "stages", "tasks", "task_ms", "job_gap_ms",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "gc_ms")
  val SparkPerTypeNames: Seq[String] = SparkAllNames.take(7)

  /** Per-layer metrics of the workloads BENCHMARK.json lists: name → unit. */
  val PerLayer: Seq[(String, String)] = Seq(
    "extract.docs" -> "count", "extract.quarantined" -> "count",
    "extract.busy_ms" -> "ms", "chunk.chunks" -> "count",
    "chunk.chunks_per_doc" -> "ratio", "pipeline.route_self_ms" -> "ms",
    "embed.batches" -> "count", "embed.texts" -> "count",
    "embed.retries" -> "count", "embed.busy_ms" -> "ms",
    "embed.service_ms" -> "ms", "embed.client_overhead_ms" -> "ms",
    "sink.commits" -> "count", "sink.commit_ms" -> "ms",
    "sink.driver_ms" -> "ms", "sink.jobs_per_commit" -> "count",
    "sink.files_added" -> "count", "sink.files_removed" -> "count",
    "sink.bytes_written" -> "bytes", "sink.write_amp" -> "ratio",
    "sink.log_versions" -> "count", "sink.live_files" -> "count",
    "catalog.plan_ms" -> "ms", "graftbridge.files_read" -> "count",
    "graftbridge.files_in_snapshot" -> "count",
    "graftbridge.files_skipped_ratio" -> "ratio",
    "functions.rows_scored" -> "count") ++
    Corpus.Kinds.map(k => s"ops.${k}_p50_ms" -> "ms") ++
    SparkAllNames.map(n => s"spark.$n" -> unitOf(n)) ++
    OpTypes.flatMap(t => SparkPerTypeNames.map(n => s"spark.$t.$n" -> unitOf(n))) ++
    Seq("trace.overhead_ms" -> "ms", "trace.overhead_frac" -> "ratio")

  /** Per-layer metrics that only `refresh` exercises (0 on the others),
    * reported on `refresh` after [[PerLayer]].
    */
  val RefreshOnly: Seq[(String, String)] = Seq(
    "embed.cache_hit_ratio" -> "ratio", "sink.checkpoint_ms" -> "ms",
    "sink.vacuum_ms" -> "ms", "ops.index_sync_ms" -> "ms",
    "ops.index_sync_rows" -> "count") ++
    SparkPerTypeNames.map(n => s"spark.cycle.$n" -> unitOf(n))

  private def unitOf(n: String): String =
    if (n.endsWith("_ms")) "ms" else if (n.endsWith("_bytes")) "bytes"
    else "count"

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, size: Size, out: Path, work: Path)

  private def parse(a: Array[String]): Args = {
    val kv = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val w = need("--workload")
    require(Seq("ingest", "query", "refresh").contains(w), s"unknown workload $w")
    Args(w, need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1",
      if (kv.getOrElse("--size", "full") == "tiny") Size.tiny else Size.full,
      Paths.get(need("--out")).toAbsolutePath,
      Paths.get(need("--work")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val env = new Env(args.work, cores, args.trace)
    val w = new Workloads(env, args.size, args.seed, args.seconds)
    val m = w.m
    m.sparkStartS = env.sparkStartS
    try {
      args.workload match {
        case "ingest" => w.ingest()
        case "query" => w.query()
        case "refresh" => w.refresh()
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        m.fail(s"workload aborted: $e")
        e.printStackTrace()
    }
    val metrics =
      try {
        if (args.trace) Report.perLayer(args, env, m)
        else Report.endToEnd(args, m)
      } catch {
        case scala.util.control.NonFatal(e) =>
          e.printStackTrace()
          m.fail(s"metrics: $e")
          Map.empty[String, Double]
      }
    env.close()
    val names =
      if (!args.trace) EndToEnd
      else if (args.workload == "refresh") PerLayer ++ RefreshOnly
      else PerLayer
    val units = names.toMap
    units.keys.filterNot(k => metrics.get(k).exists(v => !v.isNaN && !v.isInfinite))
      .foreach(k => m.fail(s"metric $k was not measured"))
    m.failures.foreach(f => System.err.println(s"FAILED: $f"))
    val listing = Report.listing(args, m, units, metrics) +
      s"  embedding service: ${env.stub.requests.sum()} requests, " +
      s"${env.stub.throttled.sum()} refused with 429\n"
    println(listing)
    val json = new ObjectMapper()
    val root = json.createObjectNode()
    root.put("correct", m.failed == 0)
    root.put("attempted", math.max(1L, m.attempted))
    root.put("failed", m.failed)
    val mm = root.putObject("metrics")
    names.map(_._1).foreach { k =>
      val o = mm.putObject(k)
      o.put("value", metrics.get(k).filter(v => !v.isNaN && !v.isInfinite)
        .getOrElse(0.0))
      o.put("unit", units(k))
    }
    val line = json.writeValueAsString(root)
    Files.write(args.out.resolve(s"${args.workload}-seed${args.seed}-" +
      s"trace${if (args.trace) 1 else 0}.json"), line.getBytes("UTF-8"))
    println(line)
    System.out.flush()
    sys.exit(if (m.failed == 0) 0 else 1)
  }
}

/** Engine counter values at one instant. */
final case class Baseline(docs: Long, chunks: Long, quarantined: Long,
    batches: Long, texts: Long, retries: Long, embedMs: Long, extractNs: Long)

object Baseline {
  def apply(env: Env): Baseline = {
    val x = env.metrics
    Baseline(x.docs.value, x.chunks.value, x.quarantined.value,
      x.embedBatches.value, x.embedTexts.value, x.embedRetries.value,
      x.embedMillis.value, env.extractBusy.value)
  }
}

object Report {
  import Stats._

  private def series(m: Measured, name: String): Seq[Double] =
    m.series.getOrElse(name, mutable.ArrayBuffer.empty).toSeq

  def endToEnd(a: Main.Args, m: Measured): Map[String, Double] = {
    val write = if (a.workload == "query") "side." else ""
    val batch = series(m, write + "batch")
    val cycle = series(m, write + "cycle")
    val read = series(m, "read")
    val (chunks, secs, texts) =
      if (a.workload == "query") (m.sideChunks, m.sideMs / 1000, m.sideTexts)
      else (m.chunksCommitted, m.busyMs / 1000, m.writeTexts)
    Map(
      "setup_s" -> (m.sparkStartS + m.setupS),
      "driver_heap_retained_mb" -> m.heapMb,
      "ingest_chunks_per_s" -> chunks / secs,
      "ingest_batch_p50_ms" -> median(batch),
      "ingest_batch_tail_ms" -> tail(batch)._1,
      "query_p50_ms" -> median(read),
      "query_tail_ms" -> tail(read)._1,
      "ann_recall_at_10" -> mean(m.recall.toSeq),
      "refresh_cycle_p50_ms" -> median(cycle),
      "refresh_cycle_tail_ms" -> tail(cycle)._1,
      "embed_texts_per_chunk" -> texts.toDouble / chunks,
      "store_bytes_per_user_byte" -> mean(m.storeRatio.toSeq))
  }

  /** The per-layer metrics of a traced run, and the trace file. */
  def perLayer(a: Main.Args, env: Env, m: Measured): Map[String, Double] = {
    org.apache.spark.GraftbenchBus.drain(env.spark.sparkContext)
    val tr = env.tracer
    val (b, e) = (m.base, m.end)
    val spans = tr.spans.toSeq
    val byId = spans.map(s => s.id -> s).toMap
    val jobs = tr.spark.jobs.values().toArray(Array.empty[JobRec]).toSeq
      .filter(j => byId.contains(j.span))
    val roots = spans.filter(_.layer == "op")
    def opOf(j: JobRec): Span = byId(byId(j.span).op)
    val jobsByOp = jobs.groupBy(j => opOf(j).id)
    val children = spans.groupBy(_.parent)
    val jobsBySpan = jobs.groupBy(_.span)
    def subtree(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    def jobsUnder(s: Span): Seq[JobRec] =
      subtree(s).flatMap(c => jobsBySpan.getOrElse(c.id, Nil))
    def selfMs(s: Span): Double = s.ms - Tracer.covered(
      children.getOrElse(s.id, Nil).map(c => (c.start, c.end)) ++
        jobsBySpan.getOrElse(s.id, Nil).map(j => (j.start, j.end)), s.start, s.end)

    val writeOps = math.max(1L, m.writeOps).toDouble
    val docs = e.docs - b.docs
    val chunks = e.chunks - b.chunks
    val retries = e.retries - b.retries
    val embedBusy = (e.embedMs - b.embedMs).toDouble
    val out = mutable.LinkedHashMap.empty[String, Double]
    out("extract.docs") = docs / writeOps
    out("extract.quarantined") = (e.quarantined - b.quarantined) / writeOps
    out("extract.busy_ms") = (e.extractNs - b.extractNs) / 1e6 / writeOps
    out("chunk.chunks") = chunks / writeOps
    out("chunk.chunks_per_doc") = if (docs == 0) 0.0 else chunks.toDouble / docs
    val writeRoots = roots.filter(r => r.name == "batch" || r.name == "cycle")
    out("pipeline.route_self_ms") = mean(writeRoots.map(r =>
      jobsByOp.getOrElse(r.id, Nil).map(_.routeSelfMs).sum))
    out("embed.batches") = (e.batches - b.batches) / writeOps
    out("embed.texts") = (e.texts - b.texts) / writeOps
    out("embed.retries") = retries / writeOps
    out("embed.busy_ms") = embedBusy / writeOps
    out("embed.service_ms") = m.writeServiceMs / writeOps
    out("embed.client_overhead_ms") = (embedBusy - m.writeServiceMs -
      retries * Env.RetryDelayMs) / writeOps
    out("embed.cache_hit_ratio") =
      if (m.pendingChunks == 0) 0.0 else 1.0 - m.embeddedTexts.toDouble / m.pendingChunks
    val commitSpans = spans.filter(s => s.layer == "sink" &&
      (s.name == "ChunkStore.upsert" || s.name == "ChunkStore.delete"))
    out("sink.commits") = m.commits / writeOps
    out("sink.commit_ms") = if (m.commits == 0) 0.0 else m.commitMs / m.commits
    out("sink.driver_ms") = mean(commitSpans.map(s =>
      s.ms - Tracer.covered(jobsUnder(s).map(j => (j.start, j.end)), s.start, s.end)))
    out("sink.jobs_per_commit") = mean(commitSpans.map(jobsUnder(_).size.toDouble))
    val observed = math.max(1L, m.observedCommits).toDouble
    out("sink.files_added") = m.filesAdded / observed
    out("sink.files_removed") = m.filesRemoved / observed
    out("sink.bytes_written") = m.bytesWritten / observed
    out("sink.write_amp") =
      if (m.tracedUserBytes == 0) 0.0 else m.bytesWritten.toDouble / m.tracedUserBytes
    out("sink.log_versions") = m.endLogVersions.toDouble
    out("sink.live_files") = m.endLiveFiles.toDouble
    out("sink.checkpoint_ms") = mean(m.checkpointMs.toSeq)
    out("sink.vacuum_ms") = mean(m.vacuumMs.toSeq)
    out("catalog.plan_ms") = mean(spans.filter(_.layer == "catalog").map(_.ms))
    val sql = math.max(1L, m.sqlRequests).toDouble
    out("graftbridge.files_read") = m.filesRead / sql
    out("graftbridge.files_in_snapshot") = m.filesInSnapshot / sql
    out("graftbridge.files_skipped_ratio") =
      if (m.filesInSnapshot == 0) 0.0 else 1.0 - m.filesRead.toDouble / m.filesInSnapshot
    val vectorRoots = roots.filter(r =>
      Set("exact", "filtered", "ann", "hybrid").contains(r.name))
    out("functions.rows_scored") = mean(vectorRoots.map(r =>
      jobsByOp.getOrElse(r.id, Nil).map(_.inputRecords.toDouble).sum))
    Corpus.Kinds.foreach { k =>
      val traced = m.byKind.getOrElse(k, Nil).filter(_._2).map(_._1).toSeq
      out(s"ops.${k}_p50_ms") = if (traced.isEmpty) 0.0 else median(traced)
    }
    out("ops.index_sync_ms") = mean(m.syncMs.toSeq)
    out("ops.index_sync_rows") =
      if (m.syncMs.isEmpty) 0.0 else m.syncRows.toDouble / m.syncMs.size

    def sparkOf(r: Span): Map[String, Double] = {
      val js = jobsByOp.getOrElse(r.id, Nil)
      val gap = if (js.isEmpty) 0.0 else {
        val lo = js.map(_.start).min
        val hi = js.map(_.end).max
        (hi - lo) - Tracer.covered(js.map(j => (j.start, j.end)), lo, hi)
      }
      Map("jobs" -> js.size.toDouble, "stages" -> js.map(_.stages).sum.toDouble,
        "tasks" -> js.map(_.tasks).sum.toDouble,
        "task_ms" -> js.map(_.taskMs).sum.toDouble, "job_gap_ms" -> gap,
        "input_bytes" -> js.map(_.inputBytes).sum.toDouble,
        "shuffle_read_bytes" -> js.map(_.shuffleRead).sum.toDouble,
        "shuffle_write_bytes" -> js.map(_.shuffleWrite).sum.toDouble,
        "spill_bytes" -> js.map(_.spill).sum.toDouble,
        "gc_ms" -> tr.opGcMs.getOrElse(r.id, 0L).toDouble)
    }
    val perOp = roots.map(r => r -> sparkOf(r))
    Main.SparkAllNames.foreach(n => out(s"spark.$n") = mean(perOp.map(_._2(n))))
    (Main.OpTypes :+ "cycle").foreach { t =>
      val ofType = perOp.filter(_._1.name == t).map(_._2)
      Main.SparkPerTypeNames.foreach(n =>
        out(s"spark.$t.$n") = mean(ofType.map(_(n))))
    }
    val (overMs, overFrac) = overhead(m)
    out("trace.overhead_ms") = overMs
    out("trace.overhead_frac") = overFrac

    // the trace: spans, jobs, self time per (operation kind, layer)
    val self = spans.groupBy(s => (byId(s.op).name, s.layer)).map { case (k, ss) =>
      s"${k._1}/${k._2}" -> ss.map(selfMs).sum / math.max(1, roots.count(_.name == k._1))
    }
    val json = new ObjectMapper()
    val root = json.createObjectNode()
    root.put("workload", a.workload)
    root.put("seed", a.seed)
    val selfNode = root.putObject("self_ms_per_op")
    self.toSeq.sortBy(_._1).foreach { case (k, v) => selfNode.put(k, v) }
    val sp = root.putArray("spans")
    spans.foreach { s =>
      val o = sp.addObject()
      o.put("id", s.id); o.put("parent", s.parent); o.put("op", s.op)
      o.put("layer", s.layer); o.put("name", s.name)
      o.put("start_ms", s.start); o.put("end_ms", s.end); o.put("self_ms", selfMs(s))
    }
    val jb = root.putArray("jobs")
    jobs.sortBy(_.id).foreach { j =>
      val o = jb.addObject()
      o.put("job", j.id); o.put("span", j.span); o.put("start_ms", j.start)
      o.put("end_ms", j.end); o.put("stages", j.stages); o.put("tasks", j.tasks)
      o.put("task_ms", j.taskMs); o.put("input_bytes", j.inputBytes)
      o.put("shuffle_read_bytes", j.shuffleRead)
      o.put("shuffle_write_bytes", j.shuffleWrite)
    }
    Files.write(a.out.resolve(s"${a.workload}-seed${a.seed}-spans.json"),
      json.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    out.toMap
  }

  /** Traced minus untraced mean latency per operation kind, weighted by
    * the kind's operation count; and that as a share of the untraced
    * mean.
    */
  private def overhead(m: Measured): (Double, Double) = {
    val perKind = m.byKind.values.toSeq.flatMap { xs =>
      val t = xs.filter(_._2).map(_._1)
      val u = xs.filterNot(_._2).map(_._1)
      if (t.isEmpty || u.isEmpty) None
      else Some((xs.size.toDouble, mean(t.toSeq) - mean(u.toSeq), mean(u.toSeq)))
    }
    val n = perKind.map(_._1).sum
    if (n == 0) (0.0, 0.0)
    else {
      val d = perKind.map(p => p._1 * p._2).sum / n
      val base = perKind.map(p => p._1 * p._3).sum / n
      (d, d / base)
    }
  }

  /** Every metric by name with its unit, plus the run's facts. */
  def listing(a: Main.Args, m: Measured, units: Map[String, String],
      metrics: Map[String, Double]): String = {
    val sb = new StringBuilder
    sb.append(s"workload=${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0}\n")
    sb.append(f"  ${"ops_failed_frac"}%-36s ${m.failed.toDouble / math.max(1L, m.attempted)}%14.6f ratio (${m.failed}/${m.attempted})%n")
    units.keys.toSeq.sortBy(k => k).foreach { k =>
      sb.append(f"  $k%-36s ${metrics.getOrElse(k, Double.NaN)}%14.4f ${units(k)}%n")
    }
    m.series.foreach { case (k, xs) =>
      val (v, p) = tail(xs.toSeq)
      sb.append(f"  series $k%-20s n=${xs.size}%4d p50=${median(xs.toSeq)}%10.2f tail=p$p%.0f ${v}%10.2f ms%n")
    }
    sb.append(f"  spark_start_s ${m.sparkStartS}%.3f set-up_s ${m.setupS}%.3f recall_queries ${m.recall.size}%n")
    sb.toString
  }
}
