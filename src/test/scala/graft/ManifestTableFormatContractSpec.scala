package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.sink.ChunkStore

/** The chunk store's document-keyed contract, written against its
  * public API: idempotent whole-document upsert, whole-document
  * delete in both forms, and compaction that keeps rows and
  * writability.
  */
class ManifestTableFormatContractSpec extends SparkSpec {

  private val layoutName = "manifest/log-committed"

  private def makeStore(dir: String) = new ChunkStore(spark, dir)

  private def chunksOf(url: String, texts: String*): DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) =>
      (i, t, Seq(i.toFloat, 1f), 1, url)
    }.toDF("chunk_id", "chunk_text", "embedding", "page_number",
      "document_url")
  }

  private def state(store: ChunkStore): Set[(String, Int, String)] =
    store.read().select("document_url", "chunk_id", "chunk_text")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
      .toSet

  test(s"[$layoutName] merge replaces exactly the incoming documents " +
      "and re-running is a no-op (idempotent whole-document upsert)") {
    val store = makeStore(
      Files.createTempDirectory("graft-tfc").toString + "/t")
    store.upsert(chunksOf("doc://a", "a0", "a1")
      .unionByName(chunksOf("doc://b", "b0")))
    val s1 = state(store)
    assert(s1 == Set(("doc://a", 0, "a0"), ("doc://a", 1, "a1"),
      ("doc://b", 0, "b0")))
    // re-merge of an unchanged document: same final state
    store.upsert(chunksOf("doc://b", "b0"))
    assert(state(store) == s1)
    // merge of a CHANGED document replaces all its chunks, touches
    // nothing else (a re-ingested doc may have fewer chunks)
    store.upsert(chunksOf("doc://a", "a0-v2"))
    assert(state(store) == Set(("doc://a", 0, "a0-v2"),
      ("doc://b", 0, "b0")))
  }

  test(s"[$layoutName] delete drops whole documents; absent urls are " +
      "no-ops") {
    val store = makeStore(
      Files.createTempDirectory("graft-tfc").toString + "/t")
    store.upsert(chunksOf("doc://a", "a0")
      .unionByName(chunksOf("doc://b", "b0"))
      .unionByName(chunksOf("doc://c", "c0")))
    store.delete(Seq("doc://b", "doc://missing"))
    assert(state(store) == Set(("doc://a", 0, "a0"), ("doc://c", 0, "c0")))
    // delete then re-merge resurrects the document cleanly
    store.upsert(chunksOf("doc://b", "b0-v2"))
    assert(state(store).contains(("doc://b", 0, "b0-v2")))
  }

  test(s"[$layoutName] frame delete: same semantics as the Seq form, " +
      "url set never a driver Seq") {
    import spark.implicits._
    val store = makeStore(
      Files.createTempDirectory("graft-tfc").toString + "/t")
    store.upsert(chunksOf("doc://a", "a0")
      .unionByName(chunksOf("doc://b", "b0"))
      .unionByName(chunksOf("doc://c", "c0")))
    store.delete(Seq("doc://b", "doc://missing").toDF("document_url"))
    assert(state(store) == Set(("doc://a", 0, "a0"), ("doc://c", 0, "c0")))
    // empty frame: no-op, store untouched
    store.delete(Seq.empty[String].toDF("document_url"))
    assert(state(store).size == 2)
    // delete then re-merge resurrects the document cleanly
    store.upsert(chunksOf("doc://b", "b0-v2"))
    assert(state(store).contains(("doc://b", 0, "b0-v2")))
  }

  test(s"[$layoutName] compact preserves rows and the store stays " +
      "writable") {
    val store = makeStore(
      Files.createTempDirectory("graft-tfc").toString + "/t")
    // several small merges → several small file sets
    (1 to 4).foreach(i => store.upsert(chunksOf(s"doc://$i", s"t$i")))
    val before = state(store)
    store.compact()
    assert(state(store) == before)
    store.upsert(chunksOf("doc://5", "t5"))
    assert(state(store).size == 5)
  }
}
