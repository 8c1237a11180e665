package graft.sink

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** IN-COMMIT TIMESTAMPS (protocol v8 — the Delta ICT design): every
  * commit entry leads with its own monotone epoch-ms stamp, making
  * timestamp time travel and history a function of COMMIT CONTENT
  * rather than file mtime. Pins: monotonicity under a backward
  * clock, mtime-immunity of `versionAtTimestamp`, clone preserving
  * the timeline (cloneLog copies log objects — fresh mtimes), the
  * checkpoint sidecar carrying the stamp across vacuum, and the
  * pre-v8 mtime fallback.
  */
class InCommitTimestampSpec extends SparkSpec {

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("graft-ict").toString + "/t"

  private def chunkRows(ids: Range, tag: String) = {
    import spark.implicits._
    ids.map(i => (0, s"$tag$i", Seq(1f), 1, f"doc://$i%05d"))
      .toDF("chunk_id", "chunk_text", "embedding", "page_number",
        "document_url").coalesce(1)
  }

  /** A format whose commit clock the test scripts. */
  private class ClockedFormat(path: String,
      schema: org.apache.spark.sql.types.StructType)
      extends ManifestTableFormat(spark, path, schema) {
    @volatile var clock: Long = 0L
    override protected def nowMillis: Long = clock
  }

  private def entryCts(path: String): Seq[(Long, Long)] = {
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val mtf = new ManifestTableFormat(spark, path,
      new ChunkStore(spark, path,
        format = ManifestTableFormat.factory).schema)
    fs.listStatus(new Path(path, "_log")).toSeq.map(_.getPath)
      .filter(_.getName.matches("\\d{12}\\.json"))
      .sortBy(_.getName).map { p =>
        val first = scala.io.Source.fromInputStream(fs.open(p), "UTF-8")
          .getLines().find(_.nonEmpty).get
        (p.getName.stripSuffix(".json").toLong,
          mtf.log.parseAction(first).cts.getOrElse(
            fail(s"entry ${p.getName} does not lead with a cts line")))
      }
  }

  private def smudgeMtimes(path: String): Unit = {
    // simulate an object-store migration/copy: every log object's
    // mtime becomes meaningless (one fixed ancient stamp)
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new Path(path, "_log"), true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile) fs.setTimes(st.getPath, 1000L, -1L)
    }
  }

  test("commit stamps are monotone even when the clock steps back") {
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    val mtf = new ClockedFormat(path, store.schema)
    mtf.clock = 5000L
    mtf.append(chunkRows(4 to 6, "a-")) // v0 @ 5000
    mtf.clock = 2000L // clock steps BACKWARDS
    mtf.append(chunkRows(7 to 9, "b-")) // v1 must clamp to 5001
    mtf.clock = 10000L
    mtf.append(chunkRows(10 to 12, "c-")) // v2 @ 10000
    val cts = entryCts(path).toMap
    assert(cts(0L) == 5000L)
    assert(cts(1L) == 5001L,
      s"backward clock must clamp to predecessor+1, got ${cts(1L)}")
    assert(cts(2L) == 10000L)
    // the snapshot exposes the newest stamp (the next commit's floor)
    assert(mtf.log.snapshot().cts.contains(10000L))
  }

  test("versionAtTimestamp answers from the in-commit stamp, immune " +
      "to mtime (object-store copy / clock-skewed writers)") {
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    val mtf = new ClockedFormat(path, store.schema)
    mtf.clock = 1000L
    mtf.append(chunkRows(1 to 3, "a-")) // v0 @ 1000
    mtf.clock = 2000L
    mtf.append(chunkRows(4 to 6, "b-")) // v1 @ 2000
    mtf.clock = 3000L
    mtf.append(chunkRows(7 to 9, "c-")) // v2 @ 3000
    smudgeMtimes(path)
    assert(mtf.versionAtTimestamp(1000L) == 0L)
    assert(mtf.versionAtTimestamp(1500L) == 0L)
    assert(mtf.versionAtTimestamp(2000L) == 1L)
    assert(mtf.versionAtTimestamp(9999L) == 2L)
    val e = intercept[IllegalArgumentException] {
      mtf.versionAtTimestamp(500L)
    }
    assert(e.getMessage.contains("1000"),
      s"refusal names the earliest commit stamp: ${e.getMessage}")
    // history's timestamp column is the stamp, not the smudged mtime
    val hist = mtf.history().filter(_._5 == "commit")
    assert(hist.map(r => r._1 -> r._2).toMap ==
      Map(0L -> 1000L, 1L -> 2000L, 2L -> 3000L))
    // and the stamp line never counts as an add/rm action
    assert(hist.forall(r => r._3 == 1L && r._4 == 0L),
      s"cts must not count as an action: $hist")
  }

  test("clone preserves the timestamp timeline (copied log objects " +
      "carry their stamps; mtimes are fresh)") {
    val src = freshPath()
    val store = new ChunkStore(spark, src,
      format = ManifestTableFormat.factory)
    val mtf = new ClockedFormat(src, store.schema)
    mtf.clock = 1000L
    mtf.append(chunkRows(1 to 3, "a-"))
    mtf.clock = 2000L
    mtf.append(chunkRows(4 to 6, "b-"))
    val dst = freshPath()
    ManifestLog.cloneLog(spark, src, dst)
    val clone = new ManifestTableFormat(spark, dst, store.schema)
    assert(clone.versionAtTimestamp(1500L) == 0L)
    assert(clone.versionAtTimestamp(2000L) == 1L)
    // a post-clone commit continues the clone's own timeline
    // monotonically above the fork point
    val cmtf = new ClockedFormat(dst, store.schema)
    cmtf.clock = 1L // absurdly behind
    cmtf.append(chunkRows(7 to 9, "c-"))
    assert(entryCts(dst).toMap.apply(2L) == 2001L)
  }

  test("checkpoint + vacuum: the sidecar carries the stamp, the " +
      "timeline survives entry pruning") {
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    val mtf = new ClockedFormat(path, store.schema)
    mtf.clock = 1000L
    mtf.append(chunkRows(1 to 3, "a-")) // v0
    mtf.clock = 2000L
    mtf.append(chunkRows(4 to 6, "b-")) // v1
    mtf.checkpoint()
    mtf.vacuum() // prunes entries 0..1; checkpoint + sidecar remain
    smudgeMtimes(path)
    val fresh = new ClockedFormat(path, store.schema)
    // the checkpoint version answers from the sidecar stamp
    assert(fresh.versionAtTimestamp(5000L) == 1L)
    // monotonicity floor survives: a backdated commit after vacuum
    // still lands above the checkpointed stamp
    fresh.clock = 10L
    fresh.append(chunkRows(7 to 9, "c-")) // v2
    assert(entryCts(path).toMap.apply(2L) == 2001L)
    assert(fresh.versionAtTimestamp(2001L) == 2L)
  }

  test("pre-v8 entries (no stamp) fall back to mtime") {
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    store.append(chunkRows(1 to 3, "a-")) // v0
    store.append(chunkRows(4 to 6, "b-")) // v1
    // strip the stamp lines — a log written by a pre-v8 engine
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val mtf = new ManifestTableFormat(spark, path, store.schema)
    fs.listStatus(new Path(path, "_log")).toSeq.map(_.getPath)
      .filter(_.getName.matches("\\d{12}\\.json")).foreach { p =>
        val lines = scala.io.Source.fromInputStream(fs.open(p), "UTF-8")
          .getLines().filter(_.nonEmpty).toList
          .filter(l => mtf.log.parseAction(l).cts.isEmpty)
        fs.delete(p, false)
        val out = fs.create(p, false)
        try out.write(lines.mkString("\n").getBytes("UTF-8"))
        finally out.close()
      }
    def entry(v: Long) = new Path(path, f"_log/$v%012d.json")
    fs.setTimes(entry(0L), 4000L, -1L)
    fs.setTimes(entry(1L), 7000L, -1L)
    assert(mtf.versionAtTimestamp(4500L) == 0L)
    assert(mtf.versionAtTimestamp(7000L) == 1L)
    // reads still work on the stripped (pre-v8-shaped) log
    assert(mtf.read().count() == 6)
  }
}
