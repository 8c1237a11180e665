package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.embed.DeterministicEmbedder
import graft.extract.StubAnalyzeExtractor
import graft.pipeline.{IngestPipeline, StreamingIngest}
import graft.sink.ChunkStore

/** Streaming semantics (SURVEY A1/A2, C36, §5.6). */
class StreamingSpec extends SparkSpec {

  private def write(dir: Path, name: String, text: String): Unit =
    Files.write(dir.resolve(name), text.getBytes(UTF_8))

  test("binaryFile ingest: create + re-ingest idempotency + delete (A1/A2/A20)") {
    val in = Files.createTempDirectory("graft-stream-in")
    val storeDir = Files.createTempDirectory("graft-stream-store").toString + "/chunks"
    val ckpt = Files.createTempDirectory("graft-stream-ckpt")
    val store = new ChunkStore(spark, storeDir)

    write(in, "a.txt", "alpha text one\nalpha text two")
    write(in, "b.txt", "beta text")

    def runOnce(ck: String): Unit = {
      val q = StreamingIngest.start(spark, in.toString, store,
        DeterministicEmbedder(16), StubAnalyzeExtractor(),
        IngestPipeline.Config(), checkpointDir = ck)
      q.awaitTermination(60000)
    }

    runOnce(ckpt.toString + "/1")
    val n1 = store.read().count()
    assert(n1 > 0)
    assert(store.read().select("document_url").distinct().count() == 2)

    // second pass over unchanged input: no duplicates (keyed upsert)
    runOnce(ckpt.toString + "/2")
    assert(store.read().count() == n1)

    // delete a file upstream → chunks disappear on the next batch
    Files.delete(in.resolve("b.txt"))
    runOnce(ckpt.toString + "/3")
    val urls = store.read().select("document_url").distinct()
      .collect().map(_.getString(0)).toSeq
    assert(urls.length == 1 && urls.head.endsWith("a.txt"))
  }

  test("start on an empty input bootstraps the empty manifest log") {
    val in = Files.createTempDirectory("graft-stream-empty-in")
    val storeDir = Files.createTempDirectory("graft-stream-empty-store")
      .toString + "/chunks"
    val ckpt = Files.createTempDirectory("graft-stream-empty-ckpt")
    val store = new ChunkStore(spark, storeDir)
    StreamingIngest.start(spark, in.toString, store,
      DeterministicEmbedder(16), StubAnalyzeExtractor(),
      IngestPipeline.Config(), checkpointDir = ckpt.toString)
      .awaitTermination(60000)
    val root = java.nio.file.Paths.get(storeDir)
    assert(Files.isDirectory(root.resolve("_log")))
    assert(!Files.exists(root.resolve("_graft_layout")))
    assert(store.read().count() == 0)
  }

  test("poison document quarantines per micro-batch; the batch commits") {
    val in = Files.createTempDirectory("graft-quarantine-in")
    val storeDir = Files.createTempDirectory("graft-quarantine-store")
      .toString + "/chunks"
    val ckpt = Files.createTempDirectory("graft-quarantine-ckpt")
    val qDir = Files.createTempDirectory("graft-quarantine-q")
      .toString + "/rows"
    val store = new ChunkStore(spark, storeDir)
    val poison = new graft.extract.Extractor {
      override def extract(path: String, content: Array[Byte]) =
        if (path.endsWith(".bin"))
          throw new IllegalStateException("simulated extractor giving up")
        else StubAnalyzeExtractor().extract(path, content)
    }

    write(in, "good1.txt", "alpha text one")
    write(in, "corrupt.bin", "whatever bytes")
    write(in, "good2.txt", "beta text two")

    def runOnce(ck: String): Unit = {
      val q = StreamingIngest.start(spark, in.toString, store,
        DeterministicEmbedder(16), poison, IngestPipeline.Config(),
        checkpointDir = ck, quarantineDir = Some(qDir))
      q.awaitTermination(60000)
    }
    runOnce(ckpt.toString + "/1")

    // the batch committed: both healthy docs landed, the poison one
    // produced exactly one quarantine row with the failing stage
    val urls = store.read().select("document_url").distinct()
      .collect().map(_.getString(0)).toSet
    assert(urls.exists(_.endsWith("good1.txt")) &&
      urls.exists(_.endsWith("good2.txt")) && urls.size == 2)
    val qRows = spark.read.parquet(qDir)
    assert(qRows.count() == 1)
    val r = qRows.select("document_url", "stage", "error").head()
    assert(r.getString(0).endsWith("corrupt.bin"))
    assert(r.getString(1) == "extract")
    assert(r.getString(2).contains("simulated extractor giving up"))
    assert(qRows.columns.contains("quarantined_at"))

    // a later micro-batch with a NEW poison doc appends, never rewrites
    write(in, "corrupt2.bin", "more bad bytes")
    runOnce(ckpt.toString + "/2")
    assert(spark.read.parquet(qDir)
      .where(col("document_url").endsWith("corrupt2.bin")).count() >= 1)
    assert(store.read().select("document_url").distinct().count() == 2)
  }

  test("streaming ingest composes with the manifest table format " +
      "(log-committed upsert + delete detection)") {
    import org.apache.spark.sql.functions.col
    val in = Files.createTempDirectory("graft-stream-mtf")
    val storeDir =
      Files.createTempDirectory("graft-stream-mtf-store").toString + "/chunks"
    val store = new ChunkStore(spark, storeDir,
      format = graft.sink.ManifestTableFormat.factory)
    write(in, "a.txt", "alpha text one")
    write(in, "b.txt", "beta text two")
    def batch() = spark.read.format("binaryFile").load(in.toString)
      .select(col("path"), col("content"))
    StreamingIngest.processBatch(spark, batch(), in.toString, store,
      DeterministicEmbedder(16), StubAnalyzeExtractor(),
      IngestPipeline.Config())
    val n1 = store.read().count()
    assert(n1 > 0 &&
      store.read().select("document_url").distinct().count() == 2)
    // re-ingest of unchanged input: the log-committed merge is
    // idempotent
    StreamingIngest.processBatch(spark, batch(), in.toString, store,
      DeterministicEmbedder(16), StubAnalyzeExtractor(),
      IngestPipeline.Config())
    assert(store.read().count() == n1)
    // upstream delete propagates through the log (the catalog of
    // record is the format's read, not directory names)
    Files.delete(in.resolve("b.txt"))
    StreamingIngest.detectDeletes(spark, in.toString, store)
    val urls = store.listDocumentUrls()
    assert(urls.size == 1 && urls.head.endsWith("a.txt"))
  }

  test("delete detection refuses to mass-delete on missing/empty listings") {
    val in = Files.createTempDirectory("graft-del-guard")
    val storeDir =
      Files.createTempDirectory("graft-del-guard-store").toString + "/chunks"
    val store = new ChunkStore(spark, storeDir)
    write(in, "a.txt", "alpha text one")
    write(in, "b.txt", "beta text two")
    // batch read of the same source format → identical path rendering
    // to the streaming listing (the invariant detectDeletes relies on)
    def batch() = spark.read.format("binaryFile").load(in.toString)
      .select(col("path"), col("content"))
    StreamingIngest.processBatch(spark, batch(), in.toString, store,
      DeterministicEmbedder(16), StubAnalyzeExtractor(),
      IngestPipeline.Config())
    val n1 = store.read().count()
    assert(n1 > 0)

    // a missing input dir (transient mount failure) must not read as
    // "every document was deleted"
    StreamingIngest.detectDeletes(spark, in.toString + "-gone", store)
    assert(store.read().count() == n1)

    // an empty listing against a non-empty store: refuse to wipe
    Files.delete(in.resolve("a.txt"))
    Files.delete(in.resolve("b.txt"))
    StreamingIngest.detectDeletes(spark, in.toString, store)
    assert(store.read().count() == n1)

    // a PARTIAL disappearance still propagates normally
    write(in, "a.txt", "alpha text one")
    StreamingIngest.detectDeletes(spark, in.toString, store)
    val urls = store.listDocumentUrls()
    assert(urls.size == 1 && urls.head.endsWith("a.txt"))
  }

  test("upstream deletes propagate into attached persistent indexes " +
      "(A20 → VectorIndex/TextIndex delete consistency)") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft-del-index")
    val storeDir =
      Files.createTempDirectory("graft-del-index-store").toString + "/chunks"
    val store = new ChunkStore(spark, storeDir)
    write(in, "a.txt", "alpha text about windows and filters")
    write(in, "b.txt", "beta text about joins and shuffles")
    write(in, "c.txt", "gamma text about windows again")
    def batch() = spark.read.format("binaryFile").load(in.toString)
      .select(col("path"), col("content"))
    StreamingIngest.processBatch(spark, batch(), in.toString, store,
      DeterministicEmbedder(16), StubAnalyzeExtractor(),
      IngestPipeline.Config())

    // attach BOTH index kinds, keyed by document_url (the store's key)
    val chunks = store.read()
    val byDoc = chunks.groupBy("document_url")
      .agg(concat_ws(" ", collect_list(col("chunk_text"))).as("text"))
    val tIdx = Files.createTempDirectory("graft-del-index-t").toString + "/t"
    val vIdx = Files.createTempDirectory("graft-del-index-v").toString + "/v"
    graft.ops.TextIndex.build(byDoc, tIdx, "document_url", "text")
    graft.ops.VectorIndex.buildQ8(
      chunks.filter(col("chunk_id") === 0), vIdx, "document_url", "embedding")
    def textHits() = graft.ops.TextIndex
      .query(spark, tIdx, Seq("beta"), k = 10)
      .collect().map(_.getString(0)).toSeq
    val bUrl = store.listDocumentUrls().find(_.endsWith("b.txt")).get
    val bVec = chunks
      .filter(col("document_url") === bUrl && col("chunk_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    assert(textHits().exists(_.endsWith("b.txt")))
    assert(graft.ops.VectorIndex.queryQ8(spark, vIdx, bVec, k = 1)
      .select("document_url").head().getString(0) == bUrl)

    // the upstream file disappears → the store AND both indexes drop it
    Files.delete(in.resolve("b.txt"))
    StreamingIngest.detectDeletes(spark, in.toString, store,
      indexPaths = Seq(tIdx, vIdx))
    assert(store.listDocumentUrls().forall(!_.endsWith("b.txt")))
    assert(!textHits().exists(_.endsWith("b.txt")))
    val nn = graft.ops.VectorIndex.queryQ8(spark, vIdx, bVec, k = 3)
      .select("document_url").collect().map(_.getString(0))
    assert(nn.nonEmpty && !nn.contains(bUrl))

    // an unstamped path must fail loudly, not silently skip the delete
    intercept[IllegalArgumentException] {
      graft.ops.IndexMaintenance.deleteFrom(spark,
        Files.createTempDirectory("graft-del-index-none").toString,
        Seq("x").toDF("document_url"))
    }
  }

  test("streaming dedup with watermark drops duplicate keys (C36)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val deduped = input.toDS()
      .toDF("event_id", "ts", "payload")
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("event_id")

    val q = deduped.writeStream.format("memory")
      .queryName("dedup_out").outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    input.addData((1L, t0, "a"), (2L, t0, "b"), (1L, t0, "dup"))
    q.processAllAvailable()
    input.addData((2L, t0, "dup2"), (3L, t0, "c"))
    q.processAllAvailable()
    val got = spark.table("dedup_out").select("event_id")
      .as[Long].collect().sorted.toSeq
    q.stop()
    assert(got == Seq(1L, 2L, 3L))
  }

  test("streaming window agg ≡ batch window agg on the events table (C33)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Tables(spark, sf(), "events")
      .select(col("ts"), col("event_type"), col("value"))
    val batch = events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("s"))
      .select(col("window.start").cast("long").as("w"), col("event_type"),
        col("n"), col("s"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet

    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q = input.toDS().toDF("ts", "event_type", "value")
      .withWatermark("ts", "10 years") // nothing dropped: pure equivalence
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("s"))
      .select(col("window.start").cast("long").as("w"), col("event_type"),
        col("n"), col("s"))
      .writeStream.format("memory").queryName("equiv_out")
      .outputMode("complete").start()
    input.addData(events.collect().map(r =>
      (r.getTimestamp(0), r.getString(1), r.getDouble(2))).toSeq: _*)
    q.processAllAvailable()
    val streamed = spark.table("equiv_out")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    q.stop()
    assert(streamed == batch)
  }

  test("stream-stream interval join with watermarks ≡ batch join (C8b)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(min: Int) = new java.sql.Timestamp(t0 + min * 60000L)
    // clicks attribute to an impression of the same ad within 10 min
    val impsData = Seq((1L, ts(0)), (2L, ts(5)), (3L, ts(40)))
    val clicksData = Seq((1L, ts(4)), (2L, ts(20)), (3L, ts(45)), (4L, ts(1)))
    def cond = col("ad_id") === col("c_ad_id") &&
      col("click_ts") >= col("imp_ts") &&
      col("click_ts") <= col("imp_ts") + expr("INTERVAL 10 MINUTES")

    val imps = MemoryStream[(Long, java.sql.Timestamp)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val joined = imps.toDS().toDF("ad_id", "imp_ts")
      .withWatermark("imp_ts", "30 minutes")
      .join(clicks.toDS().toDF("c_ad_id", "click_ts")
        .withWatermark("click_ts", "30 minutes"), cond)
      .select(col("ad_id"), col("click_ts"))
    val q = joined.writeStream.format("memory")
      .queryName("ssjoin_out").outputMode("append").start()
    imps.addData(impsData: _*)
    clicks.addData(clicksData: _*)
    q.processAllAvailable()
    val got = spark.table("ssjoin_out").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    q.stop()

    val expected = impsData.toDF("ad_id", "imp_ts")
      .join(clicksData.toDF("c_ad_id", "click_ts"), cond)
      .select(col("ad_id"), col("click_ts")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    assert(got == expected)
    assert(got == Set((1L, ts(4)), (3L, ts(45)))) // the attribution rule
  }

  test("streaming session window groups by 30-min gaps (C35)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val agg = input.toDS().toDF("user_id", "ts")
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))

    val q = agg.writeStream.format("memory")
      .queryName("sess_out").outputMode("complete").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    input.addData(
      (1L, ts("2024-01-01 00:00:00")), (1L, ts("2024-01-01 00:10:00")),
      (1L, ts("2024-01-01 01:00:00")), // > 30 min gap → new session
      (2L, ts("2024-01-01 00:05:00")))
    q.processAllAvailable()
    val rows = spark.table("sess_out")
      .select(col("user_id"), col("n")).as[(Long, Long)]
      .collect().sorted.toSeq
    q.stop()
    assert(rows == Seq((1L, 1L), (1L, 2L), (2L, 1L)))
  }

  test("custom streaming state via mapGroupsWithState (running count)") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    val counted = input.toDS()
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + rows.size
          state.update(total)
          (user, total)
      }

    val q = counted.toDF("user_id", "total").writeStream.format("memory")
      .queryName("state_out").outputMode(OutputMode.Update()).start()
    input.addData((1L, 1.0), (1L, 2.0), (2L, 5.0))
    q.processAllAvailable()
    input.addData((1L, 3.0))
    q.processAllAvailable()
    val last = spark.table("state_out")
      .groupBy("user_id").agg(max("total").as("t"))
      .as[(Long, Long)].collect().sorted.toSeq
    q.stop()
    assert(last == Seq((1L, 3L), (2L, 1L)))
  }

  test("custom sessionization closes sessions by event-time timeout (C35c)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val events = input.toDS().toDF("ts", "user_id", "value")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts"), col("value"))
      .as[graft.streaming.Sessionize.TimedEvent]
    val sessions = graft.streaming.Sessionize
      .sessionsStream(events, gapMicros = 1800000000L)

    val q = sessions.toDF().writeStream.format("memory")
      .queryName("custom_sess").outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    input.addData(
      (ts("2024-01-01 00:00:00"), 1L, 1.0),
      (ts("2024-01-01 00:10:00"), 1L, 2.0),
      (ts("2024-01-01 00:05:00"), 2L, 5.0))
    q.processAllAvailable()
    // nothing can close yet: the watermark sits 10 min behind 00:10
    assert(spark.table("custom_sess").count() == 0)

    // a cross-batch OUT-OF-ORDER event (earlier than user 2's open
    // session start, still inside the watermark) must extend the
    // session's start backwards
    input.addData((ts("2024-01-01 00:01:00"), 2L, 1.5))
    q.processAllAvailable()

    // a far-future event advances the watermark past both sessions'
    // close boundaries (+30 min gap) → both time out and emit
    input.addData((ts("2024-01-01 02:00:00"), 3L, 9.0))
    q.processAllAvailable()
    val rows = spark.table("custom_sess")
      .select("user_id", "session_start", "n", "sv")
      .as[(Long, Long, Long, Double)]
      .collect().sorted.toSeq
    q.stop()
    def us(s: String) = ts(s).getTime * 1000L
    assert(rows == Seq(
      (1L, us("2024-01-01 00:00:00"), 2L, 3.0),
      (2L, us("2024-01-01 00:01:00"), 2L, 6.5)))
  }

  test("custom sessionization batch form ≡ lag+cumsum sessions (C35c)") {
    import spark.implicits._
    val ev = Tables(spark, sf(), "events")
      .select(col("user_id"), unix_micros(col("ts")).as("tus"), col("value"))
      .as[graft.streaming.Sessionize.Event]
    val custom = graft.streaming.Sessionize.sessionsBatch(ev, 1800000000L)
      .toDF().select("user_id", "session_start", "n")

    import org.apache.spark.sql.expressions.Window
    val byTime = Window.partitionBy("user_id").orderBy("tus")
    val viaLag = ev.toDF()
      .withColumn("brk",
        when(col("tus") - lag("tus", 1).over(byTime) > 1800000000L, 1)
          .otherwise(0))
      .withColumn("sid", sum("brk").over(
        byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(min("tus").as("session_start"), count(lit(1)).as("n"))
      .select("user_id", "session_start", "n")
    assert(custom.exceptAll(viaLag).count() == 0)
    assert(viaLag.exceptAll(custom).count() == 0)
  }

  test("incremental near-dup detection across micro-batches (D2 streaming)") {
    import spark.implicits._
    import graft.pipeline.StreamingDedup
    val store = java.nio.file.Files
      .createTempDirectory("graft-sigstore").toString + "/sigs"
    // exact PAIR SETS, not a map: a wrongly-appended signature would
    // produce extra matches that .toMap would silently collapse
    def run(rows: (Long, String)*): Set[(Long, Long)] =
      StreamingDedup.processBatch(spark, rows.toSeq.toDF("doc_id", "text"),
          store, threshold = 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val base = Tables(spark, sf(), "documents").limit(3)
      .select("doc_id", "text").as[(Long, String)].collect()

    // batch 1: three fresh docs — no store yet, no matches
    assert(run(base.toIndexedSeq: _*).isEmpty)
    // batch 2: a re-upload of doc 0 (new id) + one genuinely new doc
    val m2 = run((100L, base(0)._2), (101L, base(0)._2 + " " + base(1)._2 * 3))
    assert(m2 == Set((100L, base(0)._1)))
    // batch 3: a copy of batch 2's NEW doc must match it (the store
    // accumulated it), and the re-upload's signature was NOT added —
    // exactly ONE pair, not also (200, 100)
    val m3 = run((200L, base(0)._2 + " " + base(1)._2 * 3))
    assert(m3 == Set((200L, 101L)))
    // a later copy of doc 0 matches ONLY the original (the batch-2
    // re-upload's signature must not be in the store)
    val m4 = run((300L, base(0)._2))
    assert(m4 == Set((300L, base(0)._1)))
    // at-least-once replay: re-processing doc 300 under its ORIGINAL
    // id must not self-match; it matches only doc 0 again
    val m5 = run((300L, base(0)._2))
    assert(m5 == Set((300L, base(0)._1)))
  }

  test("streaming ingest skips re-uploaded near-duplicates before " +
      "chunk+embed (D6 on ingest)") {
    import graft.pipeline.StreamingIngest
    val in = Files.createTempDirectory("graft-dedupingest-in")
    val storeDir = Files.createTempDirectory("graft-dedupingest-store")
      .toString + "/chunks"
    val sig = Files.createTempDirectory("graft-dedupingest-sig")
      .toString + "/sigs"
    val store = new ChunkStore(spark, storeDir)
    val dedup = Some(StreamingIngest.DedupConfig(sig))
    def batch() = spark.read.format("binaryFile").load(in.toString)
      .select(col("path"), col("content"))
    def ingest() = StreamingIngest.processBatch(spark, batch(),
      in.toString, store, DeterministicEmbedder(16),
      StubAnalyzeExtractor(), IngestPipeline.Config(), dedup)
    def text(prefix: String) =
      (1 to 60).map(i => s"$prefix$i").mkString(" ")

    write(in, "a.txt", text("alpha"))
    write(in, "b.txt", text("beta"))
    assert(ingest().count() == 0)
    assert(store.read().select("document_url").distinct().count() == 2)

    // a tail-edited re-upload of a.txt plus a genuinely new document;
    // the re-listing also replays a/b (at-least-once) — they must not
    // self-match
    write(in, "c.txt", text("alpha") + " tail edit")
    write(in, "d.txt", text("gamma"))
    val m2 = ingest().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(m2.size == 1)
    val (dup, orig) = m2.head
    assert(dup.endsWith("c.txt") && orig.endsWith("a.txt"), m2)

    // chunk store holds only keepers — the near-duplicate never
    // reached chunk+embed
    val urls = store.read().select("document_url").distinct()
      .collect().map(_.getString(0)).toSet
    assert(urls.size == 3 && !urls.exists(_.endsWith("c.txt")), urls)

    // signature store consistent: signatures for a, b, d only
    val sigIds = graft.ops.IndexTable.open(spark, sig).read()
      .select("id").distinct()
      .collect().map(_.getString(0)).toSet
    assert(sigIds.size == 3 && !sigIds.exists(_.endsWith("c.txt")), sigIds)
  }

  test("signature store compaction mid-stream: matches unchanged, " +
      "replay rows collapsed, probe bucket-pruned") {
    import spark.implicits._
    import graft.ops.IndexTable
    import graft.pipeline.StreamingDedup
    val store = java.nio.file.Files
      .createTempDirectory("graft-sigstore-compact").toString + "/sigs"
    def run(rows: (Long, String)*): Set[(Long, Long)] =
      StreamingDedup.processBatch(spark, rows.toSeq.toDF("doc_id", "text"),
          store, threshold = 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val base = Tables(spark, sf(), "documents").limit(3)
      .select("doc_id", "text").as[(Long, String)].collect()

    assert(run(base.toIndexedSeq: _*).isEmpty)
    // at-least-once replay of batch 1: no self-matches, but the store
    // now holds every signature row twice
    assert(run(base.toIndexedSeq: _*).isEmpty)
    val preCompact = IndexTable.open(spark, store).read()
    assert(preCompact.count() ==
      2 * preCompact.dropDuplicates("band", "key", "id").count())
    val before = IndexTable.open(spark, store).version

    StreamingDedup.compact(spark, store)

    // ONE commit collapsed the replay duplicates
    val t = IndexTable.open(spark, store)
    assert(t.version == before + 1)
    val post = t.read()
    assert(post.count() == post.dropDuplicates("band", "key", "id").count())
    assert(post.count() == preCompact.count() / 2)
    // …and the same duplicate contract holds after the compaction
    assert(run((100L, base(0)._2)) == Set((100L, base(0)._1)))
    // appends after compaction remain probe-visible
    assert(run((200L, base(1)._2 + " tail")) == Set((200L, base(1)._1)))

    // a probe reads only the files whose pid range holds a probed pair
    // id (probe cost follows batch size, not store size), and exactly
    // the rows of those pair ids
    StreamingDedup.compact(spark, store)
    val compacted = IndexTable.open(spark, store)
    val live = compacted.liveFiles.size
    val probed = StreamingDedup.probe(compacted, Seq(0, 256))
    assert(live > 1, s"compaction left $live file")
    assert(probed.inputFiles.length < live,
      s"probe of 2 pair ids read ${probed.inputFiles.length} of $live files")
    val want = compacted.read().filter(col("pid").isin(0, 256))
    assert(probed.collect().map(_.toSeq).toSet ==
      want.collect().map(_.toSeq).toSet)
  }

  test("a signature store in the retired layout is refused with a " +
      "rebuild message") {
    import spark.implicits._
    import graft.pipeline.StreamingDedup
    val legacy = java.nio.file.Files
      .createTempDirectory("graft-sigstore-legacy").toString + "/sigs"
    // the retired layout: band-partitioned parquet beside a stamp, no
    // manifest log
    Seq((0, 1L, 7L, Seq(1L, 2L))).toDF("band", "key", "id", "sig")
      .write.partitionBy("band").parquet(legacy)
    val stamp = new org.apache.hadoop.fs.Path(legacy, StreamingDedup.StampName)
    val out = stamp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(stamp, true)
    try out.write("numHashes=64 bands=16 shingles=3".getBytes("UTF-8"))
    finally out.close()
    def refused(e: IllegalStateException): Unit =
      assert(e.getMessage.contains("retired layout") &&
        e.getMessage.contains("rebuild"), e.getMessage)
    refused(intercept[IllegalStateException] {
      StreamingDedup.processBatch(spark,
        Seq((100L, "some text")).toDF("doc_id", "text"), legacy)
    })
    refused(intercept[IllegalStateException] {
      StreamingDedup.compact(spark, legacy)
    })
    // nothing was written beside the old files
    assert(!Files.exists(Paths.get(legacy, "_log")))
  }

  test("a signature-store append that dies after writing its data files " +
      "but before the log publish leaves the store unchanged") {
    import spark.implicits._
    import graft.ops.IndexTable
    import graft.pipeline.StreamingDedup
    import graft.sink.ManifestTableFormat
    val store = java.nio.file.Files
      .createTempDirectory("graft-sigstore-atomic").toString + "/sigs"
    def run(rows: (Long, String)*): Set[(Long, Long)] =
      StreamingDedup.processBatch(spark, rows.toSeq.toDF("doc_id", "text"),
          store, threshold = 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = Tables(spark, sf(), "documents").limit(3)
      .select("doc_id", "text").as[(Long, String)].collect()
    assert(run(base.take(2).toIndexedSeq: _*).isEmpty)
    val rows = IndexTable.open(spark, store).read().count()
    val version = IndexTable.open(spark, store).version

    // the failing handle: the batch's data files are on disk when the
    // commit dies
    def dataFiles(): Int = Files.walk(Paths.get(store, "data")).iterator()
      .asScala.count(_.toString.endsWith(".parquet"))
    val filesBefore = dataFiles()
    var staged = 0
    val failing = (s: org.apache.spark.sql.SparkSession, p: String) =>
      new ManifestTableFormat(s, p, new org.apache.spark.sql.types.StructType()) {
        override protected def beforeCommit(): Unit = {
          staged = dataFiles() - filesBefore
          throw new java.io.IOException("injected: died before publish")
        }
      }
    intercept[java.io.IOException] {
      StreamingDedup.processBatchOn(spark,
        Seq((300L, base(2)._2)).toDF("doc_id", "text"), store,
        "doc_id", "text", 0.8, 64, 16, 3, failing)
    }
    assert(staged > 0)

    // the store reads as before the failed batch: same rows, same
    // version, and doc 300's signature never became probe-visible
    assert(IndexTable.open(spark, store).read().count() == rows)
    assert(IndexTable.open(spark, store).version == version)
    assert(run((400L, base(2)._2)).isEmpty)
    assert(run((500L, base(0)._2)) == Set((500L, base(0)._1)))
  }

  test("function registration is session-isolated and idempotent") {
    // injection path: applying the extension class must cover every
    // registered builder without throwing
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    // session path: a sibling session gets its own registry
    val s2 = spark.newSession()
    GraftSession.install(s2)
    GraftSession.install(s2) // idempotent re-registration
    Tables(s2, sf(), "embeddings").createOrReplaceTempView("emb_ext")
    val n = s2.sql(
      "SELECT round(vector_norm(embedding), 3) AS n FROM emb_ext LIMIT 1")
      .collect().head.getDouble(0)
    assert(n > 0.9 && n < 1.1)
  }

  test("a second GraftSession.install leaves the function registry " +
      "untouched") {
    import org.apache.spark.sql.graftbridge.TestSessions
    val s2 = TestSessions.vanilla(spark)
    try {
      GraftSession.install(s2)
      val names = GraftExtensions.functions.map(_._1)
      val first = names.map(n => n -> TestSessions.registered(s2, n).get)
      // ours: the builders of the one registration list
      GraftExtensions.functions.foreach { case (n, b) =>
        assert(first.toMap.apply(n)._2 eq b, s"$n not bound to our builder")
      }
      GraftSession.install(s2)
      first.foreach { case (n, (info, builder)) =>
        val (info2, builder2) = TestSessions.registered(s2, n).get
        assert((info2 eq info) && (builder2 eq builder),
          s"re-install replaced the registry entry of $n")
      }
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
    }
  }

  test("spark.sql.extensions alone registers the whole function surface") {
    // no GraftSession.install: the typed aggregates must come from the
    // extension's registration list like every other function
    val s2 = org.apache.spark.sql.graftbridge.TestSessions
      .withExtensionsConf(spark, "graft.GraftExtensions")
    try {
      s2.createDataFrame(Seq((1, Seq(1f, 3f)), (1, Seq(3f, 5f))))
        .toDF("g", "v").createOrReplaceTempView("ext_only_in")
      val r = s2.sql("SELECT vector_avg(v) AS c, " +
        "minhash_agg(array(CAST(g AS BIGINT))) AS m, " +
        "round(vector_norm(first(v)), 3) AS n FROM ext_only_in GROUP BY g")
        .head()
      assert(r.getSeq[Double](0) == Seq(2.0, 4.0))
      assert(r.getSeq[Long](1) == Seq(1L))
      assert(r.getDouble(2) == 3.162)
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
    }
  }

  test("streaming tumbling window aggregation with watermark (C33)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Double)]
    val agg = input.toDS().toDF("ts", "value")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), sum("value").as("s"))

    val q = agg.writeStream.format("memory")
      .queryName("win_out").outputMode("update").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    input.addData((ts("2024-01-01 00:10:00"), 1.0),
      (ts("2024-01-01 00:50:00"), 2.0),
      (ts("2024-01-01 01:10:00"), 4.0))
    q.processAllAvailable()
    val rows = spark.table("win_out")
      .select(col("window.start").cast("string"), col("n"), col("s"))
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    q.stop()
    assert(rows == Seq(
      ("2024-01-01 00:00:00", 2L, 3.0),
      ("2024-01-01 01:00:00", 1L, 4.0)))
  }
}
