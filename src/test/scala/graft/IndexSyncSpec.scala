package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{IndexSync, VectorIndex}
import graft.sink.{ChunkStore, ManifestTableFormat}

/** D3i: a persistent IVF-PQ index follows a manifest table through
  * the change feed — upserts re-point, deletes stop serving, identical
  * re-inserts serve again, replaying any span appends nothing twice,
  * and a catch-up whose commit fails leaves nothing behind.
  */
class IndexSyncSpec extends SparkSpec {

  private def fresh(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def chunkOf(url: String, vec: Seq[Float], text: String): DataFrame = {
    import spark.implicits._
    Seq((0, text, vec, 1, url))
      .toDF("chunk_id", "chunk_text", "embedding", "page_number",
        "document_url")
  }

  /** Content-addressed index rows: id moves when the embedding does. */
  private def prepare(rows: DataFrame): DataFrame =
    rows.select(
      IndexSync.contentAddressedId(
        Seq(col("document_url"), col("chunk_id")),
        Seq(col("embedding"))).as("vid"),
      col("embedding").as("v"))

  /** The text index's live documents: its doc-length rows. */
  private def docCount(idxPath: String): Long =
    graft.ops.TextIndex.read(spark, idxPath)
      .filter(col("term").isNull).count()

  private def served(idxPath: String, probe: Seq[Float]): Seq[String] = {
    import spark.implicits._
    val probes = Seq(("p", probe)).toDF("vid", "v")
    VectorIndex.queryIvfPq(spark, idxPath, probes, k = 10,
        nprobe = 2, rerankPerProbe = 64)
      .select("nn_id").collect().map(_.getString(0)).toSeq
  }

  test("index follows the table: upsert, delete, revive, replay") {
    val tbl = fresh("graft-isync-tbl") + "/t"
    val idx = fresh("graft-isync-idx") + "/ix"
    val store = new ChunkStore(spark, tbl,
      format = ManifestTableFormat.factory)
    val mtf = new ManifestTableFormat(spark, tbl, store.schema)

    val va = Seq(1f, 0f, 0f, 0f)
    val vb = Seq(0f, 1f, 0f, 0f)
    val vc = Seq(0f, 0f, 1f, 0f)
    store.upsert(chunkOf("doc://a", va, "a"))
    store.upsert(chunkOf("doc://b", vb, "b"))
    store.upsert(chunkOf("doc://c", vc, "c"))

    VectorIndex.buildIvfPq(prepare(store.read()), idx, "vid", "v",
      nlist = 2, m = 2, ks = 4)
    IndexSync.markSynced(spark, idx, mtf.version)
    assert(IndexSync.lastSynced(spark, idx) == mtf.version)

    // a no-op catch-up does nothing
    assert(IndexSync.catchUp(spark, tbl, idx, prepare) ==
      IndexSync.Stats(mtf.version, mtf.version, 0L, 0L))

    // new doc d, rewritten a (vector moves), deleted b
    val vd = Seq(0f, 0f, 0f, 1f)
    val va2 = Seq(0.9f, 0.1f, 0f, 0f)
    store.upsert(chunkOf("doc://d", vd, "d"))
    store.upsert(chunkOf("doc://a", va2, "a2"))
    store.delete(Seq("doc://b"))
    val s1 = IndexSync.catchUp(spark, tbl, idx, prepare)
    assert(s1.appended == 2L, s1)   // d + rewritten a
    assert(s1.tombstoned == 2L, s1) // old a + b

    val all = served(idx, vd)
    assert(all.exists(_.startsWith("doc://d#")), all)
    assert(all.exists(_.startsWith("doc://a#")), all)
    assert(!all.exists(_.startsWith("doc://b#")), all)
    // the rewritten doc serves its NEW id only (old content id is gone)
    val aIds = all.filter(_.startsWith("doc://a#"))
    assert(aIds.size == 1, all)

    // idempotence: catching up again applies nothing
    val s2 = IndexSync.catchUp(spark, tbl, idx, prepare)
    assert(s2.appended == 0L && s2.tombstoned == 0L, s2)

    // full replay (the synced version moved back to -1) converges
    // without duplicates, and earlier deletes stay deleted
    IndexSync.markSynced(spark, idx, -1L)
    assert(IndexSync.lastSynced(spark, idx) == -1L)
    val s3 = IndexSync.catchUp(spark, tbl, idx, prepare)
    assert(s3.appended == 0L && s3.tombstoned == 0L, s3)
    val replayed = served(idx, vd)
    assert(replayed.count(_.startsWith("doc://d#")) == 1)
    assert(!replayed.exists(_.startsWith("doc://b#")), replayed)
    assert(replayed.count(_.startsWith("doc://a#")) == 1, replayed)

    // delete d, then re-insert it with IDENTICAL content: the delete
    // removed its row, so the re-insert appends it once
    store.delete(Seq("doc://d"))
    val s4 = IndexSync.catchUp(spark, tbl, idx, prepare)
    assert(s4.tombstoned == 1L, s4)
    val afterDelete = served(idx, vd)
    assert(!afterDelete.exists(_.startsWith("doc://d#")), afterDelete)
    assert(!afterDelete.exists(_.startsWith("doc://b#")), afterDelete)
    store.upsert(chunkOf("doc://d", vd, "d"))
    val s5 = IndexSync.catchUp(spark, tbl, idx, prepare)
    assert(s5.appended == 1L && s5.tombstoned == 0L, s5)
    assert(served(idx, vd).count(_.startsWith("doc://d#")) == 1)
  }

  test("text index follows the table: upsert, delete, revive, replay") {
    import graft.ops.TextIndex
    val tbl = fresh("graft-tsync-tbl") + "/t"
    val idx = fresh("graft-tsync-idx") + "/ix"
    val store = new ChunkStore(spark, tbl,
      format = ManifestTableFormat.factory)
    val mtf = new ManifestTableFormat(spark, tbl, store.schema)
    def doc(url: String, text: String) =
      chunkOf(url, Seq(1f, 0f, 0f, 0f), text)
    store.upsert(doc("doc://a", "apples and oranges"))
    store.upsert(doc("doc://b", "bananas and apples"))
    val tprep = (rows: DataFrame) => rows.select(
      graft.ops.IndexSync.contentAddressedId(
        Seq(col("document_url"), col("chunk_id")),
        Seq(col("chunk_text"))).as("tid"),
      col("chunk_text").as("text"))
    TextIndex.build(tprep(store.read()), idx, "tid", "text")
    IndexSync.markSynced(spark, idx, mtf.version)

    def hits(term: String): Seq[String] =
      TextIndex.query(spark, idx, Seq(term), k = 10)
        .select("doc_id").collect().map(_.getString(0)).toSeq

    // churn: new doc, rewritten a, deleted b
    store.upsert(doc("doc://c", "cherries everywhere"))
    store.upsert(doc("doc://a", "apples replaced by pears"))
    store.delete(Seq("doc://b"))
    val s1 = IndexSync.catchUpText(spark, tbl, idx, tprep)
    assert(s1.appended == 2L && s1.tombstoned == 2L, s1)
    assert(hits("cherries").exists(_.startsWith("doc://c#")))
    assert(hits("pears").exists(_.startsWith("doc://a#")))
    assert(!hits("oranges").exists(_.startsWith("doc://a#")))
    assert(!hits("bananas").exists(_.startsWith("doc://b#")))
    // the BM25 corpus stats (the live doc-length rows) track the live
    // corpus exactly: a(rewritten) and c live; b deleted
    assert(docCount(idx) == 2L)

    // idempotent + full replay converges
    val s2 = IndexSync.catchUpText(spark, tbl, idx, tprep)
    assert(s2.appended == 0L && s2.tombstoned == 0L, s2)
    IndexSync.markSynced(spark, idx, -1L)
    val s3 = IndexSync.catchUpText(spark, tbl, idx, tprep)
    assert(s3.appended == 0L && s3.tombstoned == 0L, s3)
    assert(!hits("bananas").exists(_.startsWith("doc://b#")))

    // delete + identical re-insert: the re-insert appends once, and
    // the corpus stats follow
    store.delete(Seq("doc://c"))
    val s4 = IndexSync.catchUpText(spark, tbl, idx, tprep)
    assert(s4.tombstoned == 1L, s4)
    assert(hits("cherries").isEmpty)
    assert(docCount(idx) == 1L)
    store.upsert(doc("doc://c", "cherries everywhere"))
    val s5 = IndexSync.catchUpText(spark, tbl, idx, tprep)
    assert(s5.appended == 1L && s5.tombstoned == 0L, s5)
    assert(hits("cherries").exists(_.startsWith("doc://c#")))
    assert(docCount(idx) == 2L)
  }

  test("a held sync lock refuses a second catch-up, release admits it") {
    val tbl = fresh("graft-isync-lock") + "/t"
    val idx = fresh("graft-isync-lock-idx") + "/ix"
    val store = new ChunkStore(spark, tbl,
      format = ManifestTableFormat.factory)
    store.upsert(chunkOf("doc://a", Seq(1f, 0f, 0f, 0f), "a"))
    VectorIndex.buildIvfPq(prepare(store.read()), idx, "vid", "v",
      nlist = 2, m = 2, ks = 4)
    IndexSync.markSynced(spark, idx, 0L)
    val lock = new org.apache.hadoop.fs.Path(idx + "/_sync_lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(lock, false).close()
    val e = intercept[IllegalStateException] {
      IndexSync.catchUp(spark, tbl, idx, prepare)
    }
    assert(e.getMessage.contains("_sync_lock"))
    fs.delete(lock, false)
    // released: the catch-up runs (no-op span) and removes its lock
    IndexSync.catchUp(spark, tbl, idx, prepare)
    assert(!fs.exists(lock))
  }

  test("a STALE sync lock (hard-killed holder) is taken over") {
    val tbl = fresh("graft-isync-stale") + "/t"
    val idx = fresh("graft-isync-stale-idx") + "/ix"
    val store = new ChunkStore(spark, tbl,
      format = ManifestTableFormat.factory)
    store.upsert(chunkOf("doc://a", Seq(1f, 0f, 0f, 0f), "a"))
    VectorIndex.buildIvfPq(prepare(store.read()), idx, "vid", "v",
      nlist = 2, m = 2, ks = 4)
    IndexSync.markSynced(spark, idx, 0L)
    val lock = new org.apache.hadoop.fs.Path(idx + "/_sync_lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(lock, false).close()
    // age the lock past the staleness bound: an OOM/SIGKILL'd sync
    // can never delete its own lock, and without takeover every later
    // catchUp / CALL sync_index would wedge until manual cleanup
    val old = System.currentTimeMillis() - 2L * 60 * 60 * 1000
    fs.setTimes(lock, old, old)
    IndexSync.catchUp(spark, tbl, idx, prepare) // takes over, runs
    assert(!fs.exists(lock))
  }

  test("a catch-up whose commit fails changes nothing; its re-run " +
      "equals one clean catch-up") {
    import graft.ops.TextIndex
    def tprep(rows: DataFrame) = rows.select(
      IndexSync.contentAddressedId(
        Seq(col("document_url"), col("chunk_id")),
        Seq(col("chunk_text"))).as("tid"),
      col("chunk_text").as("text"))
    /** A table with both indexes synced, then churn: a new document,
      * a rewritten one and a deleted one.
      */
    def setup(tag: String): (String, String, String, Long) = {
      val tbl = fresh(s"graft-isync-crash-$tag") + "/t"
      val vidx = fresh(s"graft-isync-crash-v-$tag") + "/ix"
      val tidx = fresh(s"graft-isync-crash-t-$tag") + "/ix"
      val store = new ChunkStore(spark, tbl)
      val mtf = new ManifestTableFormat(spark, tbl, store.schema)
      store.upsert(chunkOf("doc://a", Seq(1f, 0f, 0f, 0f), "apples a"))
      store.upsert(chunkOf("doc://b", Seq(0f, 1f, 0f, 0f), "bananas b"))
      VectorIndex.buildIvfPq(prepare(store.read()), vidx, "vid", "v",
        nlist = 2, m = 2, ks = 4)
      TextIndex.build(tprep(store.read()), tidx, "tid", "text")
      val v0 = mtf.version
      IndexSync.markSynced(spark, vidx, v0)
      IndexSync.markSynced(spark, tidx, v0)
      store.upsert(chunkOf("doc://c", Seq(0f, 0f, 1f, 0f), "cherries c"))
      store.upsert(chunkOf("doc://a", Seq(0.9f, 0.1f, 0f, 0f), "pears a"))
      store.delete(Seq("doc://b"))
      (tbl, vidx, tidx, v0)
    }
    def failing(idx: String) =
      new ManifestTableFormat(spark, idx,
          new org.apache.spark.sql.types.StructType()) {
        override protected def beforeCommit(): Unit =
          throw new IllegalStateException("injected commit failure")
      }
    def rowsOf(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

    val (tbl, vidx, tidx, v0) = setup("crash")
    val (refTbl, refV, refT, _) = setup("clean")
    for ((idx, text, read) <- Seq(
        (vidx, false, (p: String) => VectorIndex.read(spark, p)),
        (tidx, true, (p: String) => TextIndex.read(spark, p)))) {
      val before = rowsOf(read(idx))
      val e = intercept[IllegalStateException] {
        IndexSync.catchUpOn(failing(idx), spark, tbl, idx,
          if (text) tprep _ else prepare _, text)
      }
      assert(e.getMessage.contains("injected"))
      // nothing published: same rows, same synced version, lock freed
      assert(rowsOf(read(idx)) == before)
      assert(IndexSync.lastSynced(spark, idx) == v0)
    }
    val s = IndexSync.catchUp(spark, tbl, vidx, prepare)
    val sRef = IndexSync.catchUp(spark, refTbl, refV, prepare)
    assert(s == sRef && s.appended == 2L && s.tombstoned == 2L, s)
    assert(rowsOf(VectorIndex.read(spark, vidx)) ==
      rowsOf(VectorIndex.read(spark, refV)))
    val t = IndexSync.catchUpText(spark, tbl, tidx, tprep)
    val tRef = IndexSync.catchUpText(spark, refTbl, refT, tprep)
    assert(t == tRef && t.appended == 2L && t.tombstoned == 2L, t)
    assert(rowsOf(TextIndex.read(spark, tidx)) ==
      rowsOf(TextIndex.read(spark, refT)))
  }

  test("an index synced past the table fails loudly") {
    val tbl = fresh("graft-isync-bad") + "/t"
    val idx = fresh("graft-isync-bad-idx") + "/ix"
    val store = new ChunkStore(spark, tbl,
      format = ManifestTableFormat.factory)
    store.upsert(chunkOf("doc://a", Seq(1f, 0f, 0f, 0f), "a"))
    VectorIndex.buildIvfPq(prepare(store.read()), idx, "vid", "v",
      nlist = 2, m = 2, ks = 4)
    IndexSync.markSynced(spark, idx, 99L)
    val e = intercept[IllegalArgumentException] {
      IndexSync.catchUp(spark, tbl, idx, prepare)
    }
    assert(e.getMessage.contains("synced past"))
  }
}
