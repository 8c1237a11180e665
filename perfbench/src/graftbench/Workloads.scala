package graftbench

import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{IndexSync, Retrieval, TextIndex, VectorIndex}
import graft.pipeline.IngestPipeline

/** Sizes of one run. `full` is the measured configuration; `tiny` is the
  * smoke configuration that only proves every metric is produced.
  */
final case class Size(
    corpusChunks: Int,
    sideBatches: Int,
    ingestBatchChunks: Int,
    requests: Int,
    edits: Int,
    mixPerCycle: Int,
    checkpointEvery: Int,
    vacuumEvery: Int,
    recallQueries: Int,
    minBatches: Int,
    nlist: Int,
    nprobe: Int,
    rerank: Int)

object Size {
  val full = Size(corpusChunks = 1000, sideBatches = 4, ingestBatchChunks = 40,
    requests = 240, edits = 3, mixPerCycle = 2,
    checkpointEvery = 4, vacuumEvery = 8, recallQueries = 128,
    minBatches = 8, nlist = 16, nprobe = 12, rerank = 256)
  val tiny = Size(corpusChunks = 80, sideBatches = 2, ingestBatchChunks = 12,
    requests = 24, edits = 2, mixPerCycle = 1,
    checkpointEvery = 1, vacuumEvery = 2, recallQueries = 12,
    minBatches = 2, nlist = 4, nprobe = 2, rerank = 16)
}

/** One result row of a request: the chunk it names, its score and, for
  * point reads, its text.
  */
final case class Hit(url: String, chunk: Int, score: Double, text: String) {
  def key: (String, Int) = (url, chunk)
}

/** What one run measured. Timing series hold milliseconds. */
final class Measured {
  val series = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val byKind = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Double, Boolean)]]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  var busyMs = 0.0
  var chunksCommitted = 0L
  var writeTexts = 0L
  var writeServiceMs = 0.0
  var tracedUserBytes = 0L
  var sideMs = 0.0
  var sideChunks = 0L
  var sideTexts = 0L
  val recall = mutable.ArrayBuffer.empty[Double]
  val storeRatio = mutable.ArrayBuffer.empty[Double]
  var setupS = 0.0
  var sparkStartS = 0.0
  var heapMb = 0.0
  // write-path totals over the measured phase (all operations)
  var writeOps = 0L
  var commits = 0L
  var commitMs = 0.0
  var observedCommits = 0L
  var filesAdded = 0L
  var filesRemoved = 0L
  var bytesWritten = 0L
  var checkpointMs = mutable.ArrayBuffer.empty[Double]
  var vacuumMs = mutable.ArrayBuffer.empty[Double]
  var syncMs = mutable.ArrayBuffer.empty[Double]
  var syncRows = 0L
  var pendingChunks = 0L
  var embeddedTexts = 0L
  // read-path observations (traced SQL requests)
  var sqlRequests = 0L
  var filesRead = 0L
  var filesInSnapshot = 0L
  var endLogVersions = 0L
  var endLiveFiles = 0L
  /** Counters at the start and the end of the measured phase. */
  var base: Baseline = _
  var end: Baseline = _
  def measuring: Boolean = base != null && end == null

  def sample(name: String, ms: Double): Unit =
    series.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms

  def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg
  }
}

/** The three workloads. Each runs its set-up once, then drives one
  * closed-loop client for `seconds` of operation time, and on until its
  * minimum sample is complete.
  */
final class Workloads(env: Env, size: Size, seed: Long, seconds: Double) {
  private val spark = env.spark
  import spark.implicits._
  private val tr = env.tracer
  val m = new Measured

  /** Wall-clock cap of the measured phase, whatever `seconds` says. */
  private val capMs = 60000.0
  private def now(): Double = Tracer.now()

  // ---------------------------------------------------------------- write path

  /** route → chunk → embed → upsert for one batch of arriving documents. */
  private def ingestBatch(s: Served, docs: Seq[Doc]): Unit = {
    val files = spark.createDataset(docs.map(d => (d.url, d.bytes)))
    val outcomes = tr.span("pipeline", "IngestPipeline.routeAndChunkIsolated") {
      IngestPipeline.routeAndChunkIsolated(files, env.extractor, env.cfg,
        Some(env.metrics))
    }
    val chunks = tr.span("pipeline", "IngestPipeline.embedChunks") {
      IngestPipeline.embedChunks(IngestPipeline.chunksOf(outcomes),
        env.embedder, env.cfg, Some(env.metrics))
    }
    commit(s, "ChunkStore.upsert")(s.store.upsert(chunks.toDF()))
  }

  private var commitCalls = 0L

  /** Runs one store commit inside a `sink` span. */
  private def commit(s: Served, name: String)(body: => Unit): Unit = {
    val (_, ms) = Env.timedMs(tr.span("sink", name)(body))
    commitCalls += 1
    if (m.measuring) {
      m.commits += 1
      m.commitMs += ms
    }
  }

  /** Runs a write operation; when it is traced, records the files and
    * bytes its commits added to and removed from the table. The
    * snapshots are taken before and after `body`, outside its timing.
    */
  private def observingCommits[T](s: Served, traced: Boolean)(body: => T): T =
    if (!tr.enabled || !traced) body
    else {
      val (files, bytes, calls) = (s.mtf.liveFiles.toSet, Env.dirBytes(s.dir), commitCalls)
      val r = body
      val after = s.mtf.liveFiles.toSet
      m.observedCommits += commitCalls - calls
      m.filesAdded += (after -- files).size
      m.filesRemoved += (files -- after).size
      m.bytesWritten += Env.dirBytes(s.dir) - bytes
      r
    }

  /** Point read of one document: its stored (chunk_id, text) rows. */
  private def point(s: Served, url: String): Seq[Hit] =
    tr.span("sink", "ChunkStore.readDocument") {
      s.store.readDocument(url).select("chunk_id", "chunk_text")
        .as[(Int, String)].collect().toSeq
    }.map { case (c, t) => Hit(url, c, 0.0, t) }.sortBy(_.chunk)

  private def pointMatches(s: Served, url: String, hits: Seq[Hit]): Boolean =
    hits.map(_.text) == s.model.get(url).map(_.chunks).getOrElse(Vector.empty) &&
      hits.map(_.chunk) == hits.indices

  /** Ingests `batches` arriving batches into a scratch table, each
    * followed by a read-your-writes read: the write-side sample of a
    * workload whose measured phase only reads. Records the batch and
    * batch-to-read times, the chunks committed and the service texts
    * sent.
    */
  private def sideIngest(gen: Corpus, batches: Int): Unit = {
    val s = new Served(env, "side")
    (0 until batches).foreach { i =>
      val b = arriving(gen, i % Corpus.Sources)
      val texts0 = env.stub.texts.sum()
      val t0 = now()
      ingestBatch(s, b)
      val t1 = now()
      s.record(b, Nil)
      val probe = b.find(!_.poison)
      val ok = probe.forall(d => pointMatches(s, d.url, point(s, d.url)))
      val t2 = now()
      if (!ok) m.fail(s"side ingest read failed for ${probe.get.url}")
      m.sample("side.batch", t1 - t0)
      m.sample("side.cycle", t2 - t0)
      m.sideMs += t1 - t0
      m.sideChunks += b.map(_.chunks.size.toLong).sum
      m.sideTexts += env.stub.texts.sum() - texts0
    }
    s.drop()
  }

  // ---------------------------------------------------------------- read path

  private val exactSql =
    "SELECT document_url, chunk_id, cosine_distance(embedding, :q) AS dist " +
      "FROM graft.%s ORDER BY dist, document_url, chunk_id LIMIT 10"
  private val filteredSql =
    "SELECT document_url, chunk_id, cosine_distance(embedding, :q) AS dist " +
      "FROM graft.%s WHERE document_url >= :lo AND document_url < :hi " +
      "ORDER BY dist, document_url, chunk_id LIMIT 10"

  /** The SQL requests of the traced operation in flight; their scans are
    * read after the operation's timing, by [[measuredRequest]].
    */
  private val tracedPlans = mutable.ArrayBuffer.empty[DataFrame]

  private def sqlTopK(s: Served, q: Array[Float],
      range: Option[(String, String)]): Seq[Hit] = {
    val df = tr.span("catalog", "GraftCatalog.sql+plan") {
      val d = range match {
        case None => spark.sql(exactSql.format(s.name), Map("q" -> q))
        case Some((lo, hi)) => spark.sql(filteredSql.format(s.name),
          Map("q" -> q, "lo" -> lo, "hi" -> hi))
      }
      d.queryExecution.executedPlan
      d
    }
    if (tr.recording) tracedPlans += df
    tr.span("functions", "cosine_distance top-k") {
      df.collect().toSeq.map(r =>
        Hit(r.getString(0), r.getInt(1), r.getDouble(2), ""))
    }
  }

  private def annFrame(s: Served, q: Array[Float]): DataFrame = {
    val probes = Seq(("q", q)).toDF("vid", "v")
    VectorIndex.queryIvfPq(spark, s.vecIdx, probes, k = 10,
        nprobe = size.nprobe, rerankPerProbe = size.rerank)
      .select(col("nn_id"), col("dist"))
  }

  private def hits(df: DataFrame, idCol: String, scoreCol: String): Seq[Hit] =
    df.collect().toSeq.map { r =>
      val (u, c) = Served.keyOf(r.getAs[String](idCol))
      Hit(u, c, r.getAs[Double](scoreCol), "")
    }

  private def ann(s: Served, q: Array[Float]): Seq[Hit] =
    tr.span("ops", "VectorIndex.queryIvfPq") {
      hits(annFrame(s, q).orderBy("dist", "nn_id").limit(10), "nn_id", "dist")
    }

  private def bm25Frame(s: Served, terms: Seq[String]): DataFrame =
    TextIndex.query(spark, s.textIdx, terms, 10)

  private def bm25(s: Served, terms: Seq[String]): Seq[Hit] =
    tr.span("ops", "TextIndex.query") { hits(bm25Frame(s, terms), "doc_id", "score") }

  private val keyExpr = (c: String) => regexp_extract(col(c), "^(.*)#[^#]*$", 1)

  private def hybrid(s: Served, q: Array[Float], terms: Seq[String]): Seq[Hit] = {
    val a = tr.span("ops", "VectorIndex.queryIvfPq") {
      annFrame(s, q).select(keyExpr("nn_id").as("key"),
        row_number().over(Window.orderBy(col("dist"), col("nn_id"))).as("rank"))
    }
    val b = tr.span("ops", "TextIndex.query") {
      bm25Frame(s, terms).select(keyExpr("doc_id").as("key"),
        row_number().over(Window.orderBy(desc("score"), col("doc_id"))).as("rank"))
    }
    tr.span("ops", "Retrieval.rrfFuse") {
      Retrieval.rrfFuse(Seq(a, b), "key")
        .orderBy(desc("rrf_score"), col("key")).limit(10)
        .collect().toSeq.map { r =>
          val k = r.getString(0)
          val i = k.lastIndexOf('#')
          Hit(k.substring(0, i), k.substring(i + 1).toInt, r.getDouble(1), "")
        }
    }
  }

  /** Embeds the request text through the service (vector kinds only). */
  private def queryVector(text: String): Array[Float] =
    tr.span("embed", "HttpEmbedder.embed") { env.queryEmbedder.embed(Seq(text)).head }

  /** Runs one request as an operation; returns its hits and latency. */
  private def serve(s: Served, r: Request, traced: Boolean): (Seq[Hit], Double) =
    Env.timedMs(tr.op(r.kind, traced) {
      r.kind match {
        case "exact" => sqlTopK(s, queryVector(r.text), None)
        case "filtered" =>
          sqlTopK(s, queryVector(r.text), Some(Corpus.sourceRange(r.source)))
        case "ann" => ann(s, queryVector(r.text))
        case "bm25" => bm25(s, r.terms)
        case "hybrid" => hybrid(s, queryVector(r.text), r.terms)
        case "point" => point(s, r.url)
      }
    })

  /** Serves one request of the measured phase as operation time and
    * records its latency; then, outside that time, the files a traced
    * SQL request's scan read against the files of the snapshot.
    */
  private def measuredRequest(s: Served, r: Request, traced: Boolean): Seq[Hit] = {
    val (got, ms) = busy(serve(s, r, traced))
    m.sample("read", ms)
    m.byKind.getOrElseUpdate(r.kind, mutable.ArrayBuffer.empty) += ((ms, traced))
    if (tracedPlans.nonEmpty) {
      val live = s.mtf.liveFiles.size
      tracedPlans.foreach { df =>
        m.sqlRequests += 1
        m.filesRead += Plans.filesRead(df)
        m.filesInSnapshot += live
      }
      tracedPlans.clear()
    }
    got
  }

  /** Checks one request's hits against the model. */
  private def check(s: Served, r: Request, got: Seq[Hit],
      exact: => Seq[((String, Int), Double)]): Boolean = r.kind match {
    case "exact" | "filtered" => sameTopK(got, exact)
    case "ann" | "hybrid" =>
      got.nonEmpty && got.forall(h => s.model.contains(h.url))
    case "bm25" =>
      // an answer exactly when some live chunk holds a term as a token
      val matches = s.liveChunks.exists { case (_, t) =>
        t.split(' ').exists(r.terms.contains) }
      got.nonEmpty == matches && got.forall(h => s.model.contains(h.url))
    case "point" => pointMatches(s, r.url, got)
  }

  /** The engine's top-k equals the brute-force one: same size, each hit's
    * distance within 1e-6 of the brute-force distance, and a hit missing
    * from the brute-force list only when it ties its last distance.
    */
  private def sameTopK(got: Seq[Hit], want: Seq[((String, Int), Double)]): Boolean = {
    val eps = 1e-6
    val wantMap = want.toMap
    val cut = if (want.isEmpty) 0.0 else want.last._2
    got.size == want.size && got.forall { h =>
      wantMap.get(h.key) match {
        case Some(d) => math.abs(d - h.score) <= eps
        case None => h.score <= cut + eps
      }
    }
  }

  private def exactFor(s: Served, r: Request): Seq[((String, Int), Double)] =
    r.kind match {
      case "exact" =>
        s.bruteTopK(env.reference.embed(Seq(r.text)).head, 10, None)
      case "filtered" => s.bruteTopK(env.reference.embed(Seq(r.text)).head, 10,
        Some(Corpus.sourceRange(r.source)))
      case _ => Nil
    }

  // ---------------------------------------------------------------- set-ups

  /** Runs the set-up and records its seconds. */
  private def setup[T](build: => T): T = {
    val (r, sec) = Env.timedS(build)
    m.setupS = sec
    r
  }

  /** Store and indexes over a generated corpus, loaded in one batch. */
  private def servedCorpus(): (Served, Corpus) = setup {
    val gen = new Corpus(seed)
    val s = new Served(env, "chunks")
    val docs = gen.corpus(size.corpusChunks)
    ingestBatch(s, docs)
    s.record(docs, Nil)
    s.buildIndexes(size.nlist)
    // one untimed request down each code path not yet run (hybrid runs
    // the ANN and BM25 paths, filtered the SQL path; the load ran point
    // reads), so the measured phase does not pay first-use compilation
    gen.requests(Corpus.Kinds.size, s.model.values.toIndexedSeq)
      .filter(r => r.kind == "filtered" || r.kind == "hybrid")
      .distinctBy(_.kind).foreach(r => serve(s, r, traced = false))
    (s, gen)
  }

  /** Mean recall@10 of the vector index over `size.recallQueries`
    * generated queries about `docs`, probed in one batch against the
    * exact answers. Not timed.
    */
  private def annRecall(s: Served, gen: Corpus, docs: IndexedSeq[Doc]): Unit = {
    val reqs = gen.requests(size.recallQueries, docs)
    val vecs = reqs.map(r => env.reference.embed(Seq(r.text)).head)
    val probes = vecs.zipWithIndex.map { case (v, i) => (s"q$i", v) }
      .toDF("vid", "v")
    val got = VectorIndex.queryIvfPq(spark, s.vecIdx, probes, k = 10,
        nprobe = size.nprobe, rerankPerProbe = size.rerank)
      .select("probe_id", "nn_id").as[(String, String)].collect()
      .groupBy(_._1)
    vecs.zipWithIndex.foreach { case (v, i) =>
      val want = s.bruteTopK(v, 10, None, docs).map(_._1).toSet
      val hits = got.getOrElse(s"q$i", Array.empty).map(x => Served.keyOf(x._2))
      m.recall += hits.count(want).toDouble / want.size
    }
  }

  // ---------------------------------------------------------------- measured phases

  /** Runs `step` until `seconds` of operation time have passed and
    * `done` holds.
    */
  private def loopUntil(done: => Boolean)(step: Int => Unit): Unit = {
    m.base = Baseline(env)
    val wall0 = now()
    var i = 0
    while ((m.busyMs < seconds * 1000 || !done) && now() - wall0 < capMs) {
      step(i)
      i += 1
    }
  }

  /** Times `body` as operation time of the measured phase. */
  private def busy[T](body: => T): T = {
    val t0 = now()
    try body finally m.busyMs += now() - t0
  }

  private val seen = mutable.HashMap.empty[String, Int].withDefaultValue(0)

  /** Whether the next operation of `kind` is traced: every other one, so
    * a traced run has traced and untraced samples of each kind.
    */
  private def traceNext(kind: String): Boolean = {
    val k = seen(kind)
    seen(kind) = k + 1
    tr.enabled && k % 2 == 0
  }

  private def attempt(what: String)(body: => Boolean): Unit = {
    m.attempted += 1
    val ok = try body catch {
      case scala.util.control.NonFatal(e) =>
        m.fail(s"$what: ${e.getClass.getName}: ${e.getMessage}".take(400))
        return
    }
    if (!ok) m.fail(s"$what: check failed")
  }

  /** The documents that arrive for one ingest batch: new documents of
    * `source` until they hold `size.ingestBatchChunks` chunks.
    */
  private def arriving(gen: Corpus, source: Int): Seq[Doc] = {
    val out = mutable.ArrayBuffer.empty[Doc]
    while (out.map(_.chunks.size).sum < size.ingestBatchChunks) out += gen.doc(source)
    out.toSeq
  }

  def ingest(): Unit = {
    // set-up: generator, and two warm-up batches into a scratch table,
    // so the measured phase does not pay first-use compilation (after
    // one, batches still ran about a third slower than in a warm JVM)
    val (s, gen) = setup {
      val warm = new Served(env, "warmup")
      val warmGen = new Corpus(~seed)
      (0 until 2).foreach { i =>
        val docs = arriving(warmGen, i)
        ingestBatch(warm, docs)
        warm.record(docs, Nil)
        docs.find(!_.poison).foreach(d => point(warm, d.url))
      }
      warm.drop()
      (new Served(env, "chunks"), new Corpus(seed))
    }
    var batches = 0
    var poisonPlanted = 0L
    val firstBatches = mutable.ArrayBuffer.empty[Doc]
    val q0 = env.metrics.quarantined.value
    loopUntil(batches >= size.minBatches) { i =>
      val docs = arriving(gen, i % Corpus.Sources)
      poisonPlanted += docs.count(_.poison)
      if (i < size.minBatches) firstBatches ++= docs.filterNot(_.poison)
      val texts0 = env.stub.texts.sum()
      val service0 = env.stub.serviceMs
      val traced = traceNext("batch")
      attempt("ingest batch") {
        val (_, ms) = observingCommits(s, traced)(
          busy(Env.timedMs(tr.op("batch", traced)(ingestBatch(s, docs)))))
        m.writeOps += 1
        m.writeTexts += env.stub.texts.sum() - texts0
        m.writeServiceMs += env.stub.serviceMs - service0
        m.sample("batch", ms)
        m.byKind.getOrElseUpdate("batch", mutable.ArrayBuffer.empty) += ((ms, traced))
        s.record(docs, Nil)
        m.chunksCommitted += docs.map(_.chunks.size.toLong).sum
        val bytes = docs.flatMap(d => d.chunks.map(
          Corpus.userBytes(d.url, _, Env.Dims))).sum
        if (traced) m.tracedUserBytes += bytes
        batches += 1
        val probe = docs.find(!_.poison)
        probe.forall { d =>
          val (got, pms) = busy(Env.timedMs(tr.op("point", traced)(point(s, d.url))))
          m.sample("read", pms)
          m.sample("cycle", ms + pms)
          m.byKind.getOrElseUpdate("point", mutable.ArrayBuffer.empty) += ((pms, traced))
          pointMatches(s, d.url, got)
        }
      }
    }
    endOfPhase(s)
    // output checks over the whole store
    attempt("quarantine count") {
      env.metrics.quarantined.value - q0 == poisonPlanted
    }
    finalStoreCheck(s)
    attempt("sampled vectors") {
      val sample = s.store.read().orderBy("document_url", "chunk_id").limit(5)
        .select("chunk_text", "embedding").as[(String, Array[Float])].collect()
      sample.nonEmpty && sample.forall { case (t, v) =>
        java.util.Arrays.equals(v, env.reference.embed(Seq(t)).head) }
    }
    // recall of an index over the batches every run ingests (not timed)
    s.buildVectorIndex(size.nlist, firstBatches.map(_.url).toSeq)
    annRecall(s, gen, firstBatches.toIndexedSeq)
  }

  def query(): Unit = {
    val (s, gen) = servedCorpus()
    val stream = gen.requests(size.requests, s.model.values.toIndexedSeq)
    var n = 0
    // whole blocks only, so every run serves the same mix; two at least,
    // so that a run's sample count does not depend on whether one block
    // fills `seconds`, and a traced run has a traced and an untraced
    // sample of every kind
    loopUntil(n >= 2 * Corpus.Kinds.size && n % Corpus.Kinds.size == 0) { i =>
      val r = stream(i % stream.size)
      val traced = traceNext(r.kind)
      attempt(s"${r.kind} request") {
        val got = measuredRequest(s, r, traced)
        n += 1
        check(s, r, got, exactFor(s, r))
      }
    }
    endOfPhase(s)
    annRecall(s, gen, s.model.values.toIndexedSeq)
    sideIngest(gen, size.sideBatches)
  }

  def refresh(): Unit = {
    val (s, gen) = servedCorpus()
    val stream = gen.requests(size.requests, s.model.values.toIndexedSeq)
    var cycles = 0
    var next = 0
    loopUntil(cycles >= 2) { i =>
      val b = gen.edits(s.model.values.toIndexedSeq, size.edits)
      attempt("refresh cycle")(cycle(s, b, traceNext("cycle")))
      cycles += 1
      if (cycles % size.checkpointEvery == 0) busy(tr.op("maintenance", traceNext("maintenance")) {
        m.checkpointMs += Env.timedMs(
          tr.span("sink", "ManifestTableFormat.checkpoint")(s.mtf.checkpoint()))._2
        if (cycles % size.vacuumEvery == 0) m.vacuumMs += Env.timedMs(
          tr.span("sink", "ManifestTableFormat.vacuum")(s.mtf.vacuum()))._2
      })
      m.storeRatio += Env.dirBytes(s.dir).toDouble / s.userBytes
      (0 until size.mixPerCycle).foreach { _ =>
        val r = stream(next % stream.size)
        next += 1
        val traced = traceNext(r.kind)
        attempt(s"${r.kind} request") {
          val got = measuredRequest(s, r, traced)
          check(s, r, got, exactFor(s, r))
        }
      }
    }
    endOfPhase(s)
    finalStoreCheck(s)
    annRecall(s, gen, s.model.values.toIndexedSeq)
  }

  /** One refresh cycle: edits in, commit, index sync, read-your-writes
    * probe. Returns whether the probe and the sync counts check out.
    */
  private def cycle(s: Served, b: EditBatch, traced: Boolean): Boolean = {
    val old = (b.upserts.map(_.url) ++ b.deleted).flatMap(u =>
      s.model.get(u).toSeq.flatMap(d => d.chunks.zipWithIndex.map {
        case (t, c) => (u, c, t) })).toSet
    val fresh = b.upserts.flatMap(d => d.chunks.zipWithIndex.map {
      case (t, c) => (d.url, c, t) }).toSet
    val inserted = fresh -- old
    val removed = old -- fresh
    val probe = inserted.head
    val probeVector = env.reference.embed(Seq(probe._3)).head
    val texts0 = env.stub.texts.sum()
    val service0 = env.stub.serviceMs
    val pending0 = env.metrics.chunks.value
    val embedded0 = env.metrics.embedTexts.value
    var commitMs = 0.0
    def run() = {
      val t0 = now()
      val files = spark.createDataset(b.upserts.map(d => (d.url, d.bytes)))
      val outcomes = tr.span("pipeline", "IngestPipeline.routeAndChunkIsolated") {
        IngestPipeline.routeAndChunkIsolated(files, env.extractor, env.cfg,
          Some(env.metrics))
      }
      val existing = tr.span("sink", "ChunkStore.readDocuments") {
        s.store.readDocuments(b.edited.map(_.url))
      }
      val embedded = tr.span("pipeline", "IngestPipeline.incrementalEmbed") {
        IngestPipeline.incrementalEmbed(IngestPipeline.chunksOf(outcomes),
          existing, env.meteredEmbedder, env.cfg)
      }
      commit(s, "ChunkStore.upsert")(s.store.upsert(embedded))
      if (b.deleted.nonEmpty) commit(s, "ChunkStore.delete")(s.store.delete(b.deleted))
      commitMs = now() - t0
      val (vs, vms) = Env.timedMs(tr.span("ops", "IndexSync.catchUp") {
        IndexSync.catchUp(spark, s.dir.toString, s.vecIdx,
          IndexSync.chunkPrepare(spark, s.vecIdx))
      })
      val (ts, tms) = Env.timedMs(tr.span("ops", "IndexSync.catchUpText") {
        IndexSync.catchUpText(spark, s.dir.toString, s.textIdx,
          IndexSync.chunkTextPrepare(spark, s.textIdx))
      })
      m.syncMs += vms + tms
      val rows = point(s, probe._1)
      val near = ann(s, probeVector)
      (vs, ts, rows, near)
    }
    val ((vs, ts, rows, near), ms) =
      observingCommits(s, traced)(busy(Env.timedMs(tr.op("cycle", traced)(run()))))
    m.writeOps += 1
    m.sample("batch", commitMs)
    m.sample("cycle", ms)
    m.byKind.getOrElseUpdate("cycle", mutable.ArrayBuffer.empty) += ((ms, traced))
    m.writeTexts += env.stub.texts.sum() - texts0
    m.writeServiceMs += env.stub.serviceMs - service0
    m.pendingChunks += env.metrics.chunks.value - pending0
    m.embeddedTexts += env.metrics.embedTexts.value - embedded0
    m.syncRows += vs.appended + vs.tombstoned + ts.appended + ts.tombstoned
    m.chunksCommitted += fresh.size
    val bytes = (fresh ++ old).toSeq.map { case (u, _, t) =>
      Corpus.userBytes(u, t, Env.Dims) }.sum
    if (traced) m.tracedUserBytes += bytes
    s.record(b.upserts, b.deleted)
    val ok = pointMatches(s, probe._1, rows) &&
      near.headOption.exists(_.key == ((probe._1, probe._2))) &&
      vs.appended == inserted.size && vs.tombstoned == removed.size &&
      ts.appended == inserted.size && ts.tombstoned == removed.size
    if (!ok) System.err.println(s"cycle check: rows=${pointMatches(s, probe._1, rows)} " +
      s"near=${near.headOption} probe=${probe._1},${probe._2} vec=$vs text=$ts " +
      s"ins=${inserted.size} del=${removed.size}")
    ok
  }

  // ---------------------------------------------------------------- bookkeeping

  /** Heap after a full GC, store size and log shape at the end of the
    * measured phase.
    */
  private def endOfPhase(s: Served): Unit = {
    m.end = Baseline(env)
    // let the context cleaner drop what the collections free, then
    // collect again
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    m.heapMb = heap / 1048576.0
    if (m.storeRatio.isEmpty)
      m.storeRatio += Env.dirBytes(s.dir).toDouble / s.userBytes
    m.endLiveFiles = s.mtf.liveFiles.size
    m.endLogVersions = Option(s.dir.resolve("_log").toFile.listFiles())
      .map(_.count(f => f.getName.matches("\\d+\\.json"))).getOrElse(0).toLong
  }

  /** The store holds exactly the model's (url, chunk_id, text) rows. */
  private def finalStoreCheck(s: Served): Unit = attempt("final store state") {
    def h(t: String) = java.util.Base64.getEncoder.encodeToString(
      MessageDigest.getInstance("SHA-256").digest(t.getBytes("UTF-8")))
    val stored = s.storedRows().map { case (u, c, t) => (u, c, h(t)) }
    val want = s.liveChunks.map { case ((u, c), t) => (u, c, h(t)) }.toSeq
    stored.size == want.size && stored.toSet == want.toSet
  }
}
