package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.embed.{DeterministicEmbedder, RetryPolicy, RetryableEmbeddingException, RetryingEmbedder, Embedder}
import graft.extract.{StubAnalyzeExtractor, TextDecode}
import graft.pipeline.IngestPipeline
import graft.sink.ChunkStore

class PipelineSpec extends SparkSpec {

  test("deterministic embedder: unit norm, exact dim, pure") {
    val e = DeterministicEmbedder(64)
    val v1 = e.embed(Seq("hello world", "hello world", "other")).toIndexedSeq
    assert(v1.forall(_.length == 64))
    assert(v1(0).toSeq == v1(1).toSeq)
    assert(v1(0).toSeq != v1(2).toSeq)
    val norm = math.sqrt(v1(0).map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
  }

  test("retrying embedder: retries retryable failures, rethrows at ceiling") {
    class Flaky(failures: Int) extends Embedder {
      var calls = 0
      val dimensions = 4
      def embed(texts: Seq[String]): Seq[Array[Float]] = {
        calls += 1
        if (calls <= failures) throw new RetryableEmbeddingException("429")
        texts.map(_ => Array(1f, 0f, 0f, 0f))
      }
    }
    var slept = 0L
    val flaky = new Flaky(3)
    val r = new RetryingEmbedder(flaky, RetryPolicy(5, 10), slept += _)
    assert(r.embed(Seq("x")).head.length == 4)
    assert(flaky.calls == 4)
    assert(slept == 30)

    val dead = new Flaky(100)
    val r2 = new RetryingEmbedder(dead, RetryPolicy(2, 10), _ => ())
    intercept[RetryableEmbeddingException](r2.embed(Seq("x")))
    assert(dead.calls == 3) // initial + 2 retries
  }

  test("BOM-aware decode (A4)") {
    val utf8bom = Array(0xef, 0xbb, 0xbf).map(_.toByte) ++ "ab\ncd".getBytes(UTF_8)
    assert(TextDecode.decodeLines(utf8bom) == Seq("ab", "cd"))
    val utf16le = Array(0xff, 0xfe).map(_.toByte) ++
      "xy".getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
    assert(TextDecode.decode(utf16le) == "xy")
    assert(TextDecode.decodeLines("a\r\nb\rc\nd".getBytes(UTF_8)) ==
      Seq("a", "b", "c", "d"))
  }

  test("batch ingest over documents: chunks embed with dim + determinism") {
    val docs = Tables(spark, sf(), "documents")
    val out1 = IngestPipeline.ingestDocumentsTable(
      spark, docs, DeterministicEmbedder(64)).cache()
    assert(out1.count() == docs.count()) // ≤553-char docs → 1 chunk each
    import org.apache.spark.sql.functions._
    val bad = out1.filter(size(col("embedding")) =!= 64).count()
    assert(bad == 0)
    // determinism: second run bit-identical
    val out2 = IngestPipeline.ingestDocumentsTable(
      spark, docs, DeterministicEmbedder(64))
    assert(out1.exceptAll(out2).count() == 0)
    assert(out2.exceptAll(out1).count() == 0)
    out1.unpersist()
  }

  test("ingest metrics: per-stage counters through a rate-limited run") {
    import graft.pipeline.IngestMetrics
    val docs = Tables(spark, sf(), "documents")
    val nDocs = docs.count()
    val m = new IngestMetrics(spark.sparkContext)
    // every service batch 429s exactly once; the A16 retry loop feeds
    // the retry counter through its hook
    val embedder = new RetryingEmbedder(
      new FlakyOncePerBatch(DeterministicEmbedder(64)),
      RetryPolicy(maxRetries = 3, delayMillis = 0L),
      onRetry = () => m.embedRetries.add(1L))
    val out = IngestPipeline.ingestDocumentsTable(spark, docs, embedder,
      IngestPipeline.Config(batchSize = 10), metrics = Some(m))
    assert(out.count() == nDocs)
    val s = m.snapshot
    assert(s("embed_texts") == nDocs,
      s"every chunk must pass through the metered embedder: $s")
    // batches of ≤10 per partition: at least ceil(n/10), plus partial
    // partition-boundary batches
    assert(s("embed_batches") >= nDocs / 10 &&
      s("embed_batches") <= nDocs, s.toString)
    assert(s("embed_retries") == s("embed_batches"),
      s"each batch 429'd exactly once: $s")
    assert(s("embed_millis") >= 0L)
    // the typed routing path counts docs + chunks executor-side
    import spark.implicits._
    val m2 = new IngestMetrics(spark.sparkContext)
    val files = Seq(
      ("a.txt", ("word " * 90).getBytes(UTF_8)),
      ("b.md", "# t\nbody".getBytes(UTF_8)),
      ("c.bin", "stuff here".getBytes(UTF_8))).toDS()
    val routed = IngestPipeline.routeAndChunk(files, StubAnalyzeExtractor(),
      IngestPipeline.Config(maxTokens = 40), metrics = Some(m2)).collect()
    assert(m2.snapshot("docs") == 3L)
    assert(m2.snapshot("chunks") == routed.length.toLong)
  }

  test("poison documents quarantine instead of failing the job") {
    import spark.implicits._
    import graft.pipeline.IngestMetrics
    val poison = new graft.extract.Extractor {
      override def extract(path: String, content: Array[Byte]) =
        if (path.endsWith(".bin"))
          throw new IllegalArgumentException(s"corrupt payload: $path")
        else StubAnalyzeExtractor().extract(path, content)
    }
    val m = new IngestMetrics(spark.sparkContext)
    val files = Seq(
      ("a.txt", "alpha text".getBytes(UTF_8)),
      ("bad.bin", Array[Byte](0, 1, 2, 3, 4)),
      ("b.md", "# t\nbody".getBytes(UTF_8)),
      ("c.pdf", "extractable".getBytes(UTF_8))).toDS()
    val outcomes = IngestPipeline
      .routeAndChunkIsolated(files, poison, metrics = Some(m)).cache()
    val chunks = IngestPipeline.chunksOf(outcomes).collect()
    val quarantined = IngestPipeline.quarantineOf(outcomes).collect()
    // the job completed; N-1 documents chunked, 1 quarantined
    assert(chunks.map(_.document_url).distinct.sorted.toSeq ==
      Seq("a.txt", "b.md", "c.pdf"))
    assert(quarantined.length == 1)
    val q = quarantined.head
    assert(q.document_url == "bad.bin")
    assert(q.stage == "extract")
    assert(q.error.contains("IllegalArgumentException") &&
      q.error.contains("corrupt payload: bad.bin"))
    assert(q.byte_length == 5L)
    assert(m.snapshot("quarantined") == 1L)
    assert(m.snapshot("docs") == 3L) // quarantined docs don't count as routed
    outcomes.unpersist()

    // the strict router still throws — production callers choose
    intercept[org.apache.spark.SparkException] {
      IngestPipeline.routeAndChunk(files, poison).collect()
    }

    // a null-message wrapper must still render its ROOT CAUSE: the
    // rendering folds the cause chain before the 512-char truncation
    val wrapping = new graft.extract.Extractor {
      override def extract(path: String, content: Array[Byte]) =
        throw new RuntimeException(null: String,
          new java.io.IOException("disk sector unreadable"))
    }
    val wrapped = IngestPipeline.quarantineOf(IngestPipeline
      .routeAndChunkIsolated(
        Seq(("x.pdf", "p".getBytes(UTF_8))).toDS(), wrapping)).collect()
    assert(wrapped.length == 1)
    assert(wrapped.head.error.contains("RuntimeException"),
      wrapped.head.error)
    assert(wrapped.head.error.contains("disk sector unreadable"),
      s"cause chain lost: ${wrapped.head.error}")
  }

  test("ingest metrics are at-least-once under stage re-execution") {
    import spark.implicits._
    import graft.pipeline.IngestMetrics
    // Accumulators in transformations are at-least-once (documented in
    // IngestMetrics): a re-executed stage re-counts. Pin exactly that —
    // two actions over the same uncached routing double the counters.
    val m = new IngestMetrics(spark.sparkContext)
    val files = Seq(
      ("a.txt", "alpha text".getBytes(UTF_8)),
      ("b.txt", "beta text".getBytes(UTF_8))).toDS()
    val routed = IngestPipeline.routeAndChunk(files, StubAnalyzeExtractor(),
      metrics = Some(m))
    routed.count(); routed.count()
    assert(m.snapshot("docs") == 4L,
      "re-execution double-counts: the documented at-least-once contract")
  }

  test("extension routing: txt/md decode in-process, others extract (A3)") {
    import spark.implicits._
    val line = "word " * 30
    val files = Seq(
      ("a.txt", s"$line\n$line".getBytes(UTF_8)),
      ("b.md", s"# title\n$line".getBytes(UTF_8)),
      ("c.bin", s"$line\n$line\n$line".getBytes(UTF_8))).toDS()
    val chunks = IngestPipeline.routeAndChunk(
      files, StubAnalyzeExtractor(), IngestPipeline.Config(maxTokens = 40))
      .collect()
    assert(chunks.map(_.document_url).distinct.sorted.toSeq ==
      Seq("a.txt", "b.md", "c.bin"))
    // chunk ids dense per document
    chunks.groupBy(_.document_url).foreach { case (_, cs) =>
      assert(cs.map(_.chunk_id).sorted.toSeq == cs.indices.toSeq)
    }
  }

  test("char chunking route carries page numbers (A11)") {
    import spark.implicits._
    val text = ("w" * 9 + " ") * 300 // 3000 chars of words
    val files = Seq(("d.pdf", text.getBytes(UTF_8))).toDS()
    val chunks = IngestPipeline.routeAndChunkChars(
      files, StubAnalyzeExtractor(linesPerPage = 1), chunkSize = 500).collect()
    assert(chunks.nonEmpty)
    assert(chunks.forall(_.page_number.isDefined))
  }

  test("chunk store: upsert is idempotent, append is not, delete works (A17/A18/A20)") {
    val dir = Files.createTempDirectory("graft-store").toString + "/chunks"
    val store = new ChunkStore(spark, dir)
    val docs = Tables(spark, sf(), "documents").limit(20)
    val chunks = IngestPipeline.ingestDocumentsTable(
      spark, docs, DeterministicEmbedder(16))

    val overwriteModeBefore =
      spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    store.upsert(chunks)
    // upsert must not leak dynamic-overwrite into the session conf
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      == overwriteModeBefore)
    val n1 = store.read().count()
    store.upsert(chunks) // re-ingest: row count unchanged (idempotent)
    assert(store.read().count() == n1)

    store.append(chunks) // A18 semantics: duplicates
    assert(store.read().count() == 2 * n1)

    store.upsert(chunks) // upsert restores exactly-once per doc
    assert(store.read().count() == n1)

    // delete one document's chunks
    val victim = store.read().select("document_url").distinct()
      .orderBy("document_url").limit(1)
      .collect().head.getString(0)
    store.delete(Seq(victim))
    val after = store.read()
    assert(after.filter(after("document_url") === victim).count() == 0)
    assert(after.select("document_url").distinct().count() == 19)
  }

  test("incrementalEmbed skips unchanged chunks (D6 embedding cache)") {
    import org.apache.spark.util.LongAccumulator
    import org.apache.spark.sql.functions._
    class CountingEmbedder(acc: LongAccumulator) extends Embedder {
      val inner = DeterministicEmbedder(16)
      val dimensions = 16
      def embed(texts: Seq[String]): Seq[Array[Float]] = {
        acc.add(texts.size)
        inner.embed(texts)
      }
    }
    import spark.implicits._
    val docs = Tables(spark, sf(), "documents").limit(20).cache()
    val existing = IngestPipeline.ingestDocumentsTable(
      spark, docs, DeterministicEmbedder(16)).cache()
    val nChunks = existing.count()

    // re-ingest with one modified document: only its chunks re-embed
    val modified = docs.withColumn("text",
      when(col("doc_id") === 0, concat(col("text"), lit(" changed")))
        .otherwise(col("text")))
    val pending = IngestPipeline.chunkDocumentsTable(modified)
      .as[graft.pipeline.PendingChunk]
    val acc = spark.sparkContext.longAccumulator("embedded")
    val out = IngestPipeline.incrementalEmbed(
      pending, existing, new CountingEmbedder(acc))
    assert(out.count() == nChunks) // complete output, reused + fresh
    val changedChunks = existing
      .filter(col("document_url") === "doc://0").count()
    assert(acc.value == changedChunks,
      s"embedded ${acc.value}, expected only the $changedChunks changed")
    docs.unpersist(); existing.unpersist()
  }

  test("e2e: ingest then vector-search the store (write path meets read path)") {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.cosine_distance
    val dir = Files.createTempDirectory("graft-e2e").toString + "/chunks"
    val store = new ChunkStore(spark, dir)
    val docs = Tables(spark, sf(), "documents").limit(50)
    store.upsert(IngestPipeline.ingestDocumentsTable(
      spark, docs, DeterministicEmbedder(32)))

    // the store IS the vector index: top-k against a probe embedding
    val probe = store.read().filter(col("document_url") === "doc://7")
      .select(col("embedding").as("qe")).limit(1)
    val top = store.read().crossJoin(broadcast(probe))
      .select(col("document_url"),
        round(cosine_distance(col("embedding"), col("qe")), 6).as("dist"))
      .orderBy("dist", "document_url")
      .limit(3)
      .collect()
    assert(top.head.getString(0) == "doc://7") // self-match at distance 0
    assert(top.head.getDouble(1) == 0.0)
  }

  test("compact: fewer files, identical rows, store still writable") {
    val dir = Files.createTempDirectory("graft-store-c").toString + "/chunks"
    val store = new ChunkStore(spark, dir)
    val docs = Tables(spark, sf(), "documents").limit(12)
    val chunks = IngestPipeline.ingestDocumentsTable(
      spark, docs, DeterministicEmbedder(16))
    // 3 append batches accumulate one file set each
    (0 until 3).foreach(_ => store.append(chunks))
    val before = store.read().orderBy("document_url", "chunk_id",
      "chunk_text").collect()
    val filesBefore = store.read().inputFiles.length
    store.compact()
    val filesAfter = store.read().inputFiles.length
    assert(filesAfter < filesBefore,
      s"expected fewer files than $filesBefore, got $filesAfter")
    val after = store.read().orderBy("document_url", "chunk_id",
      "chunk_text").collect()
    assert(after.toSeq == before.toSeq)
    store.upsert(chunks) // still writable
    assert(store.read().count() == chunks.count())
    assert(store.listDocumentUrls().size == 12)
  }

  test("Cosmos id parity: string ids render as invariant decimals") {
    val dir = Files.createTempDirectory("graft-store-id").toString + "/chunks"
    val store = new ChunkStore(spark, dir)
    store.upsert(IngestPipeline.ingestDocumentsTable(
      spark, Tables(spark, sf(), "documents").limit(3),
      DeterministicEmbedder(16)))
    val withId = ChunkStore.withCosmosId(store.read())
    assert(withId.schema("id").dataType ==
      org.apache.spark.sql.types.StringType)
    val rows = withId.select("chunk_id", "id").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getString(1) == r.getInt(0).toString))
  }
}

/** Executor-shippable flaky embedder: each distinct batch fails with a
  * retryable 429 exactly once (JVM-static memory — local-mode spec
  * helper), then succeeds. Drives the A16 retry counter
  * deterministically.
  */
class FlakyOncePerBatch(inner: graft.embed.Embedder)
    extends graft.embed.Embedder {
  override def dimensions: Int = inner.dimensions
  override def embed(texts: Seq[String]): Seq[Array[Float]] = {
    val key = texts.mkString(" ")
    if (FlakyOncePerBatch.seen.add(key))
      throw new RetryableEmbeddingException("429 (scripted)")
    inner.embed(texts)
  }
}
object FlakyOncePerBatch {
  val seen: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}
