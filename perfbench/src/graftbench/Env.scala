package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.embed.{DeterministicEmbedder, Embedder, HttpEmbedder, HttpEmbedderConfig, MeteredEmbedder, RetryPolicy, RetryingEmbedder}
import graft.ops.{IndexSync, TextIndex, VectorIndex}
import graft.pipeline.{IngestMetrics, IngestPipeline}
import graft.sink.{ChunkStore, ManifestTableFormat}

/** Run-wide fixtures: the Spark session, the embedding stub, the ingest
  * counters and seams, and the tracer. One per process.
  */
final class Env(val dir: Path, val cores: Int, traced: Boolean) {
  import Env._

  Files.createDirectories(dir)
  val warehouse: Path = dir.resolve("warehouse")

  val (spark: SparkSession, sparkStartS: Double) = Env.timedS {
    val s = graft.GraftSession.builder(s"local[$cores]", cores)
      .appName("graftbench")
      .config("spark.default.parallelism", cores.toString)
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("spark-warehouse").toString)
      .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", warehouse.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.install(s)
  }

  val stub = new EmbedStub(Dims, StubDelayMs, ThrottlePercent, cores)
  val tracer = new Tracer(spark.sparkContext, traced)
  val metrics = new IngestMetrics(spark.sparkContext)
  val extractBusy = spark.sparkContext.longAccumulator("graftbench.extract_busy_ns")
  val extractor = new LayoutService(extractBusy)
  val cfg: IngestPipeline.Config = IngestPipeline.Config(batchSize = 10)

  /** The service client the write path hands to Spark tasks:
    * HttpEmbedder behind the retry policy.
    */
  val embedder: Embedder = Env.client(stub.endpoint, metrics)

  /** The same client, counted by [[IngestMetrics]] outside the retry
    * loop; for `incrementalEmbed`, which takes no metrics of its own.
    */
  val meteredEmbedder: Embedder = new MeteredEmbedder(embedder, metrics)

  /** The client read requests embed their query text with. */
  val queryEmbedder: Embedder = new RetryingEmbedder(
    new HttpEmbedder(HttpEmbedderConfig(stub.endpoint)),
    RetryPolicy(maxRetries = 5, delayMillis = RetryDelayMs))

  /** Reference vectors, computed in-process without the service. */
  val reference = DeterministicEmbedder(Dims)

  def close(): Unit = {
    stub.stop()
    spark.stop()
  }
}

object Env {
  val Dims = 1536
  val StubDelayMs = 2
  val ThrottlePercent = 1
  val RetryDelayMs = 5L

  private def client(endpoint: String, m: IngestMetrics): Embedder =
    new RetryingEmbedder(new HttpEmbedder(HttpEmbedderConfig(endpoint)),
      RetryPolicy(maxRetries = 5, delayMillis = RetryDelayMs),
      onRetry = () => m.embedRetries.add(1L))

  def timedS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def timedMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Bytes of all regular files under `p`. */
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
}

/** A served chunk table in the catalog's warehouse, with its vector and
  * text indexes, and the generator-side model of what it must hold.
  */
final class Served(env: Env, val name: String) {
  private val spark = env.spark
  import spark.implicits._

  val dir: Path = env.warehouse.resolve(name)
  val store = new ChunkStore(spark, dir.toString,
    format = ManifestTableFormat.factory)
  val mtf = new ManifestTableFormat(spark, dir.toString, store.schema)
  val vecIdx: String = env.dir.resolve(s"index/$name-vec").toString
  val textIdx: String = env.dir.resolve(s"index/$name-text").toString

  /** Live documents by url, in commit order. */
  val model = mutable.LinkedHashMap.empty[String, Doc]
  private val vectors = mutable.HashMap.empty[(String, Int), Array[Float]]

  def liveChunks: Iterator[((String, Int), String)] = chunksOf(model.values)

  private def chunksOf(docs: Iterable[Doc]): Iterator[((String, Int), String)] =
    docs.iterator.flatMap(d =>
      d.chunks.iterator.zipWithIndex.map { case (t, i) => ((d.url, i), t) })

  def userBytes: Long = liveChunks.map { case ((u, _), t) =>
    Corpus.userBytes(u, t, Env.Dims) }.sum

  def vector(key: (String, Int), text: String): Array[Float] =
    vectors.getOrElseUpdate(key, env.reference.embed(Seq(text)).head)

  /** Applies one committed batch to the model. */
  def record(upserts: Seq[Doc], deleted: Seq[String]): Unit = {
    (upserts.map(_.url) ++ deleted).foreach { u =>
      model.get(u).foreach(d => d.chunks.indices.foreach(i => vectors.remove((u, i))))
      model.remove(u)
    }
    upserts.filterNot(_.poison).foreach(d => model(d.url) = d)
  }

  /** Exact cosine top-k over the model's documents (or `among`),
    * optionally limited to a url range, in plain Scala: the answer every
    * exact request is checked against.
    */
  def bruteTopK(q: Array[Float], k: Int, range: Option[(String, String)],
      among: Iterable[Doc] = model.values): Seq[((String, Int), Double)] = {
    var qq = 0.0
    q.foreach(x => qq += x.toDouble * x)
    val heap = mutable.PriorityQueue.empty[((String, Int), Double)](
      Ordering.by[((String, Int), Double), Double](_._2))
    chunksOf(among).foreach { case (key, text) =>
      if (range.forall { case (lo, hi) => key._1 >= lo && key._1 < hi }) {
        val v = vector(key, text)
        var d = 0.0; var nv = 0.0
        var i = 0
        while (i < v.length) {
          val a = v(i).toDouble
          d += a * q(i); nv += a * a
          i += 1
        }
        val dist = 1.0 - d / (math.sqrt(nv) * math.sqrt(qq))
        if (heap.size < k) heap.enqueue((key, dist))
        else if (dist < heap.head._2) { heap.dequeue(); heap.enqueue((key, dist)) }
      }
    }
    heap.dequeueAll.reverse.toSeq
  }

  /** The store's rows as (url, chunk_id, text). */
  def storedRows(): Seq[(String, Int, String)] =
    store.read().select("document_url", "chunk_id", "chunk_text")
      .as[(String, Int, String)].collect().toSeq

  /** Builds both indexes from the current table version. */
  def buildIndexes(nlist: Int): Unit = {
    buildVectorIndex(nlist)
    TextIndex.build(store.read().select(
        IndexSync.contentAddressedId(Seq(col("document_url"), col("chunk_id")),
          Seq(col("chunk_text"))).as("tid"),
        col("chunk_text").as("text")),
      textIdx, "tid", "text")
    IndexSync.markSynced(spark, textIdx, mtf.version)
  }

  /** Builds the IVF-PQ index from the current table version, over the
    * documents `only` when given.
    */
  def buildVectorIndex(nlist: Int, only: Seq[String] = Nil): Unit = {
    val all = store.read()
    val rows = if (only.isEmpty) all else all.where(col("document_url").isin(only: _*))
    VectorIndex.buildIvfPq(rows.select(
        IndexSync.contentAddressedId(Seq(col("document_url"), col("chunk_id")),
          Seq(col("embedding"))).as("vid"),
        col("embedding").as("v")),
      vecIdx, "vid", "v", nlist = nlist)
    IndexSync.markSynced(spark, vecIdx, mtf.version)
  }

  def drop(): Unit = {
    Env.deleteTree(dir)
    Env.deleteTree(java.nio.file.Paths.get(vecIdx))
    Env.deleteTree(java.nio.file.Paths.get(textIdx))
  }
}

object Served {
  /** `(document_url, chunk_id)` of a content-addressed index id
    * `url#chunk_id#hash`.
    */
  def keyOf(id: String): (String, Int) = {
    val b = id.lastIndexOf('#')
    val a = id.lastIndexOf('#', b - 1)
    (id.substring(0, a), id.substring(a + 1, b).toInt)
  }
}
