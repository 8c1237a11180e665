package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sink.{ChunkStore, ManifestTableFormat}

/** SHALLOW CLONE (`CALL clone`): forking a manifest table's commit
  * log — metadata-only, data files shared by absolute reference.
  * The oracle gate (c37r) pins the relational outcome; these tests
  * pin the fork mechanics: write isolation in both directions,
  * history/evolution carry-over, vacuum safety on the clone side,
  * and the refusals.
  */
class CloneSpec extends SparkSpec {

  private var n = 0
  private def freshCatalog(): (String, String) = {
    n += 1
    val cat = s"clonecat$n"
    val wh = Files.createTempDirectory(s"graft-clone-$n").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  private def rows(ids: Range, tag: String): DataFrame = {
    import spark.implicits._
    ids.map(i => (0, s"$tag-$i", Seq(1f), i % 10, f"doc://$i%04d"))
      .toDF("chunk_id", "chunk_text", "embedding", "page_number",
        "document_url")
  }

  test("clone: metadata-only fork — reads equal, writes isolated in " +
      "both directions, history carries over") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/t",
      format = ManifestTableFormat.factory)
    store.append(rows(0 until 40, "a"))            // v0
    store.delete(Seq("doc://0003"))                // v1
    val copied = spark.sql(s"CALL $cat.clone('t', 't2')")
      .head().getLong(0)
    assert(copied >= 2, s"expected >=2 log objects copied, got $copied")

    // fork point: identical content
    val src = spark.sql(s"SELECT document_url FROM $cat.t")
    val cl = spark.sql(s"SELECT document_url FROM $cat.t2")
    assert(src.exceptAll(cl).count() == 0 && cl.exceptAll(src).count() == 0)

    // clone-side writes never reach the source...
    spark.sql(s"INSERT INTO $cat.t2 VALUES " +
      "(0, 'new', array(CAST(1.0 AS FLOAT)), 1, 'doc://9999')")
    spark.sql(s"UPDATE $cat.t2 SET page_number = 777 " +
      "WHERE document_url = 'doc://0005'")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) == 39)
    assert(spark.sql(s"SELECT page_number FROM $cat.t " +
      "WHERE document_url = 'doc://0005'").head().getInt(0) == 5)
    // ...and source-side writes never reach the clone
    spark.sql(s"DELETE FROM $cat.t WHERE document_url = 'doc://0010'")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t2 " +
      "WHERE document_url = 'doc://0010'").head().getLong(0) == 1)

    // full history carried over: the clone time-travels to pre-fork
    // versions (v0 still holds doc://0003)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t2 VERSION AS OF 0")
      .head().getLong(0) == 40)
  }

  test("clone: schema evolution carries over — renamed head, " +
      "old-era time travel, constraints intact") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/t",
      format = ManifestTableFormat.factory)
    store.append(rows(0 until 10, "a"))                           // v0
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN page_number TO pg") // v1
    spark.sql(s"CALL $cat.clone('t', 't2')")
    val head = spark.sql(s"SELECT * FROM $cat.t2")
    assert(head.columns.contains("pg") && !head.columns.contains("page_number"))
    val v0 = spark.sql(s"SELECT * FROM $cat.t2 VERSION AS OF 0")
    assert(v0.columns.contains("page_number") && !v0.columns.contains("pg"))
    // and the clone keeps evolving independently
    spark.sql(s"ALTER TABLE $cat.t2 ADD COLUMN note STRING")
    assert(!spark.sql(s"SELECT * FROM $cat.t").columns.contains("note"))
  }

  test("clone-side compact + vacuum never touches the source's " +
      "files (vacuum lists only the clone's own data dir)") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/t",
      format = ManifestTableFormat.factory)
    store.append(rows(0 until 20, "a"))
    store.append(rows(20 until 40, "b"))
    spark.sql(s"CALL $cat.clone('t', 't2')")
    // clone rewrites everything into its own dir, then vacuums: the
    // shared source files become unreferenced BY THE CLONE, but they
    // live under the source's data dir — the clone's vacuum must not
    // reach them
    spark.sql(s"CALL $cat.compact('t2')")
    spark.sql(s"CALL $cat.vacuum('t2')")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) == 40,
      "source must survive clone-side compact+vacuum untouched")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t2").head().getLong(0) == 40)

    // source vacuum with no post-fork churn reclaims nothing either
    val (nData, _) = {
      val r = spark.sql(s"CALL $cat.vacuum('t')").head()
      (r.getLong(0), r.getLong(1))
    }
    assert(nData == 0, s"source vacuum reclaimed $nData live files")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t2").head().getLong(0) == 40)
  }

  test("clone refusals: existing target, non-manifest source") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/t")
    store.append(rows(0 until 5, "a"))
    spark.sql(s"CALL $cat.clone('t', 't2')")
    val dup = intercept[Exception](
      spark.sql(s"CALL $cat.clone('t', 't2')"))
    assert(dup.getMessage.contains("refuses to overwrite"),
      s"wrong refusal: ${dup.getMessage}")
    // a plain parquet directory (no _log) is not cloneable
    rows(0 until 5, "p").write.parquet(s"$wh/plain")
    val notManifest = intercept[Exception](
      spark.sql(s"CALL $cat.clone('plain', 'p2')"))
    assert(notManifest.getMessage.contains("manifest"),
      s"wrong refusal: ${notManifest.getMessage}")
  }
}
