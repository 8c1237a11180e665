package graft.sink

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Manifest-log internals only reachable from the `sink` package:
  * protocol compatibility (v1 url-set logs, v1 JSON checkpoints) and
  * the parquet-checkpoint driver-state bound (VERDICT r6 item #3 —
  * snapshot assembly as a Spark read; the driver holds the tail and
  * live NAMES, never per-file stats of checkpointed files).
  */
class ManifestInternalsSpec extends SparkSpec {

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("graft-mis").toString + "/t"

  private def chunkRows(ids: Range, tag: String) = {
    import spark.implicits._
    ids.map(i => (0, s"$tag$i", Seq(1f), 1, f"doc://$i%05d"))
      .toDF("chunk_id", "chunk_text", "embedding", "page_number",
        "document_url")
  }

  private def writeLogFile(path: Path, lines: Seq[String]): Unit = {
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path, false)
    try out.write(lines.mkString("\n").getBytes(UTF_8))
    finally out.close()
  }

  test("DML pre-scans pre-prune from column stats: only candidate " +
      "files reach the predicate-pushed footer read") {
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    def batch(ids: Range, page: Int) = {
      import spark.implicits._
      ids.map(i => (0, s"t-$i", Seq(1f), page, f"doc://$i%05d"))
        .toDF("chunk_id", "chunk_text", "embedding", "page_number",
          "document_url").repartition(1)
    }
    store.append(batch(0 until 10, 5))
    store.append(batch(10 until 20, 15))
    store.append(batch(20 until 30, 25))
    val mtf = new ManifestTableFormat(spark, path, store.schema)
    val snap = mtf.log.snapshot()
    assert(mtf.log.liveNames(snap).size == 3)
    // a selective numeric predicate: stats prove 2 of 3 files clean
    assert(mtf.preScanCandidates(snap,
      col("page_number") > 20).size == 1)
    // a url equality routes through the bloom probe
    assert(mtf.preScanCandidates(snap,
      col("document_url") === "doc://00015").size == 1)
    // an unextractable condition falls open to the full list
    assert(mtf.preScanCandidates(snap,
      length(col("chunk_text")) > 2).size == 3)
    // and the full UPDATE through the pruned pre-scan stays correct
    mtf.update(Some(col("page_number") > 20),
      Seq("chunk_text" -> lit("upd")))
    assert(store.read().filter(col("chunk_text") === "upd").count() == 10)
    assert(store.read().count() == 30)
  }

  test("the checkpoint-frame memo holds at most one directory per " +
      "table: three checkpoints and a vacuum leave the newest") {
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    val mtf = new ManifestTableFormat(spark, path, store.schema)
    val logDir = new Path(path, "_log").toUri.getPath
    def held = ManifestLog.memoizedCheckpoints(spark)
      .filter(_._1.toUri.getPath == logDir).map(_._2.getName)
    val ckptVersions = (1 to 3).map { i =>
      store.append(chunkRows(i * 10 until i * 10 + 10, "m").repartition(1))
      mtf.checkpoint()
      assert(mtf.liveFiles.size == i) // replay reads the checkpoint
      assert(held == Seq(f"${mtf.version}%012d.checkpoint.parquet"),
        s"after checkpoint $i the memo holds $held")
      mtf.version
    }
    // a time-travel read of an older checkpoint is served uncached
    assert(mtf.readVersion(ckptVersions.head).count() == 10)
    assert(held == Seq(f"${ckptVersions.last}%012d.checkpoint.parquet"))
    mtf.vacuum()
    assert(held.size <= 1 && held.forall(_ ==
      f"${ckptVersions.last}%012d.checkpoint.parquet"), s"memo: $held")
    assert(store.read().count() == 30)
  }

  test("protocol v1 (url-set add-actions) logs stay readable; stats " +
      "are synthesized and point reads still prune") {
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    // two commits → two files with disjoint url ranges
    store.append(chunkRows(1 to 50, "a-"))
    store.append(chunkRows(51 to 100, "b-"))
    val mtf = new ManifestTableFormat(spark, path, store.schema)
    // rewrite the committed log into PROTOCOL V1: each add-action
    // carries the file's exact url set instead of bloom stats
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val logDir = new Path(path, "_log")
    def esc(s: String) = s // urls here need no escaping
    fs.listStatus(logDir).toSeq.map(_.getPath)
      .filter(_.getName.matches("\\d{12}\\.json")).foreach { p =>
        val lines = scala.io.Source.fromInputStream(fs.open(p), "UTF-8")
          .getLines().toList
        val v1 = lines.map { line =>
          val a = mtf.log.parseAction(line)
          if (!a.add) line
          else {
            val urls = spark.read.parquet(a.file)
              .select("document_url").distinct()
              .collect().map(_.getString(0)).sorted
            s"""{"a":"add","f":"${esc(a.file)}","u":[${
              urls.map(u => "\"" + esc(u) + "\"").mkString(",")}]}"""
          }
        }
        fs.delete(p, false)
        writeLogFile(p, v1)
      }
    // a fresh reader on the v1 log: full read, point read, and the
    // point read prunes to ONE file via the synthesized stats
    val reader = new ManifestTableFormat(spark, path, store.schema)
    assert(reader.read().count() == 100)
    val snap = reader.log.snapshot()
    assert(snap.base.values.forall(_.bits.exists(_ != 0L)),
      "v1 parse must synthesize non-empty bloom stats")
    val one = reader.readDocuments(Seq("doc://00007"))
    assert(one.count() == 1)
    assert(one.inputFiles.length == 1,
      s"v1 stats must prune to one file, read ${one.inputFiles.length}")
    // MERGE over a v1 log works (stats feed affected-file selection)
    store.upsert(chunkRows(7 to 7, "v2-"))
    assert(store.read().filter(col("chunk_text") === "v2-7").count() == 1)
    assert(store.read().count() == 100)
    // a checkpoint re-records everything in the current protocol
    reader.checkpoint()
    val after =
      new ManifestTableFormat(spark, path, store.schema).log.snapshot()
    assert(after.ckptParquet.nonEmpty)
  }

  test("unrecognized log lines fail with an explicit protocol message") {
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    store.append(chunkRows(1 to 5, "x-"))
    val mtf = new ManifestTableFormat(spark, path, store.schema)
    val e = intercept[IllegalArgumentException] {
      mtf.log.parseAction("""{"a":"add","f":"x","zz":true}""")
    }
    assert(e.getMessage.contains("protocol"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      mtf.log.parseAction("""{"a":"truncate"}""")
    }
    assert(e2.getMessage.contains("protocol"), e2.getMessage)
  }

  test("parquet checkpoint: 1e5-file log replays with NO per-file " +
      "stats on the driver (snapshot holds names + tail only)") {
    val path = freshPath()
    val schema = new ChunkStore(spark, freshPath()).schema
    // small blooms keep the synthetic log light; the structure under
    // test (checkpoint → Spark-read replay) is bloom-size-independent
    val mtf = new ManifestTableFormat(spark, path, schema,
      bloomBits = 64, bloomHashes = 2)
    val logDir = new Path(path, "_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(logDir)
    val n = 100000
    val perEntry = 25000
    (0 until n / perEntry).foreach { e =>
      val lines = (e * perEntry until (e + 1) * perEntry).map { i =>
        ManifestLog.renderAction(ManifestLog.Action(add = true,
          f"file:/fake/part-$i%06d.parquet",
          Some(ManifestLog.FileStats(Seq(0x5L), f"doc://$i%06d",
            f"doc://$i%06d", 64, 2))))
      }
      writeLogFile(new Path(logDir, f"$e%012d.json"), lines)
    }
    // bootstrap (no checkpoint yet): driver replay holds the stats —
    // the documented pre-checkpoint cost
    assert(mtf.version == 3L)
    assert(mtf.liveFiles.size == n)
    mtf.checkpoint()
    assert(fs.exists(new Path(path, "_log/000000000003.checkpoint.parquet/_SUCCESS")))
    // post-checkpoint: a fresh reader's snapshot holds NOTHING
    // file-stat-shaped on the driver — the parquet checkpoint is the
    // state, consumed as a Spark read
    val reader = new ManifestTableFormat(spark, path, schema,
      bloomBits = 64, bloomHashes = 2)
    val snap = reader.log.snapshot()
    assert(snap.ckptParquet.nonEmpty)
    assert(snap.base.isEmpty,
      s"driver snapshot carries ${snap.base.size} file stats " +
        "after a parquet checkpoint")
    assert(snap.removed.isEmpty)
    // names-only consumers still see the full table
    assert(reader.liveFiles.size == n)
    assert(reader.filesAtVersion(3L).size == n)
    // a post-checkpoint commit lands in the tail; checkpoint state
    // remains on disk
    val extra = ManifestLog.renderAction(ManifestLog.Action(add = true,
      "file:/fake/extra.parquet",
      Some(ManifestLog.FileStats(Seq(0x5L), "doc://x", "doc://x", 64, 2))))
    writeLogFile(new Path(logDir, f"${4}%012d.json"), Seq(extra))
    val snap2 = new ManifestTableFormat(spark, path, schema,
      bloomBits = 64, bloomHashes = 2).log.snapshot()
    assert(snap2.base.size == 1 && snap2.ckptParquet.nonEmpty)
    assert(snap2.version == 4L)
    // vacuum subsumes the pre-checkpoint entries; state unchanged
    mtf.vacuum()
    assert(!fs.exists(new Path(logDir, f"${0}%012d.json")))
    assert(new ManifestTableFormat(spark, path, schema,
      bloomBits = 64, bloomHashes = 2).liveFiles.size == n + 1)
  }

  test("1e6-file table: manifest-list checkpoint is multi-part and " +
      "every metadata op stays churn-bounded on the driver") {
    import spark.implicits._
    val path = freshPath()
    val schema = new ChunkStore(spark, freshPath()).schema
    val logDir = new Path(path, "_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(logDir)
    // synthesize the 1e6-file state DIRECTLY as a parquet checkpoint
    // (a distributed write — the stats never exist on the driver,
    // exactly as a real checkpoint is produced)
    val n = 1000000L
    spark.range(n).select(
        concat(lit("file:/fake/deep/part-"), col("id"),
          lit(".parquet")).as("file"),
        array(lit(0x5L)).as("bits"),
        concat(lit("doc://"), col("id")).as("lo"),
        concat(lit("doc://"), col("id")).as("hi"),
        lit(64).as("num_bits"), lit(2).as("num_hashes"))
      .repartition(10)
      .write.parquet(s"$path/_log/000000000000.checkpoint.parquet")
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    val mtf = new ManifestTableFormat(spark, path, schema)
    assert(mtf.version == 0L)
    // the driver's snapshot holds ZERO per-file stats — the 1e6-row
    // state lives in the checkpoint manifests, consumed executor-side
    assert(mtf.log.snapshot().base.isEmpty)

    // commits against the huge state: append (no affected files) and
    // a MERGE whose probe the stats must exclude — the affected-file
    // selection is a join against the 1e6-row frame, collecting the
    // empty survivor set, never the live names
    store.append(chunkRows(1 to 1, "seed-"))
    store.upsert(Seq((0, "zzz-doc", Seq(1f), 1, "doc://zzz"))
      .toDF("chunk_id", "chunk_text", "embedding", "page_number",
        "document_url"))
    // point read prunes THROUGH the 1e6-row stats frame to just the
    // real file (every fake file's [lo, hi] excludes the probe)
    val one = store.readDocuments(Seq("doc://zzz"))
    assert(one.count() == 1)
    assert(one.inputFiles.length == 1, one.inputFiles.length)

    // the new checkpoint is a MANIFEST LIST: ~100k stats per part,
    // so 1e6 files land as ~10 parallel parts
    mtf.checkpoint()
    val head = mtf.version
    val ckpt = new Path(s"$path/_log/" + f"$head%012d" +
      ".checkpoint.parquet")
    assert(fs.exists(new Path(ckpt, "_SUCCESS")))
    val parts = fs.listStatus(ckpt)
      .count(st => st.getPath.getName.startsWith("part-"))
    assert(parts >= 10, s"$parts checkpoint manifest parts")

    // vacuum's dead detection: plant strays under data/ — detection
    // anti-joins listing batches against the live-name frame, so the
    // driver holds one batch + the DEAD names (3), never 1e6 names
    val dataDir = new Path(path, "data")
    (1 to 3).foreach { i =>
      val out = fs.create(new Path(dataDir, s"stray-$i.parquet"), false)
      out.write(Array[Byte](1, 2, 3)); out.close()
    }
    val (nDead, _) = mtf.vacuum()
    assert(nDead == 3L, s"vacuum reclaimed $nDead")
    // the real files survived (their basenames are in the manifests)
    assert(store.readDocuments(Seq("doc://zzz")).count() == 1)
  }

  test("legacy JSON checkpoints are still read; the next checkpoint " +
      "upgrades to parquet and vacuum drops the twin") {
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    store.upsert(chunkRows(1 to 30, "a-"))
    store.upsert(chunkRows(10 to 20, "b-"))
    val mtf = new ManifestTableFormat(spark, path, store.schema)
    // write a LEGACY JSON checkpoint at the head version by hand
    // (what a pre-parquet engine left behind)
    val snap = mtf.log.snapshot()
    val lines = (snap.base.toSeq.sortBy(_._1)).map { case (f, st) =>
      ManifestLog.renderAction(ManifestLog.Action(add = true, f, Some(st)))
    }
    writeLogFile(new Path(path, f"_log/${snap.version}%012d.checkpoint.json"),
      lines)
    val reader = new ManifestTableFormat(spark, path, store.schema)
    assert(reader.read().count() == 30)
    // further commits + a new checkpoint → parquet takes over
    store.upsert(chunkRows(31 to 35, "c-"))
    reader.checkpoint()
    val s2 = new ManifestTableFormat(spark, path, store.schema).log.snapshot()
    assert(s2.ckptParquet.nonEmpty && s2.base.isEmpty)
    assert(reader.read().count() == 35)
    reader.vacuum()
    assert(reader.read().count() == 35)
  }
}
