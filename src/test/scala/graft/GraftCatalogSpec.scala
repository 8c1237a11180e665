package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sink.{ChunkStore, ManifestTableFormat}

/** SQL-addressable catalog over the engine's own tables (the
  * reference stores are queryable by name in plain SQL; VERDICT r5
  * "what's missing" #1): `SELECT ... FROM <cat>.<table>`,
  * `VERSION AS OF` on the manifest log, `INSERT INTO` as A18 append,
  * per-layout read semantics, DDL basics.
  */
class GraftCatalogSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  private var n = 0
  /** A fresh catalog per test — catalog instances are cached by name
    * per session, so each test registers its own name + warehouse.
    */
  private def freshCatalog(): (String, String) = {
    n += 1
    val cat = s"graftcat$n"
    val wh = Files.createTempDirectory(s"graft-cat-$n").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  private def chunkRows(ids: Range, tag: String): DataFrame = {
    import spark.implicits._
    ids.map(i => (0, s"$tag$i", Seq(1f, 2f), 1, f"doc://$i%04d"))
      .toDF("chunk_id", "chunk_text", "embedding", "page_number",
        "document_url")
  }

  test("manifest table: SELECT through SQL matches the store's read") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory)
    store.upsert(chunkRows(1 to 50, "v1-"))
    store.upsert(chunkRows(10 to 20, "v2-"))
    store.delete(Seq("doc://0003", "doc://0004"))
    val viaSql = spark.sql(
      s"SELECT document_url, chunk_text FROM $cat.chunks")
    val viaApi = store.read().select("document_url", "chunk_text")
    assert(viaSql.exceptAll(viaApi).count() == 0 &&
      viaApi.exceptAll(viaSql).count() == 0)
    assert(viaSql.count() == 48)
    // predicate + projection go through Spark's own parquet pushdown:
    // the scan behind the catalog name must carry PushedFilters and a
    // pruned ReadSchema, exactly as a direct parquet read would
    val one = spark.sql(s"SELECT chunk_text FROM $cat.chunks " +
      "WHERE document_url = 'doc://0015'")
    assert(one.collect().map(_.getString(0)).toSeq == Seq("v2-15"))
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(document_url), " +
      "EqualTo(document_url,doc://0015)]"), plan.take(2000))
    assert(plan.contains("chunk_text") && !plan.contains("embedding"),
      plan.take(2000))
  }

  test("manifest table: VERSION AS OF replays the log through SQL syntax") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory)
    store.upsert(chunkRows(1 to 10, "v1-"))   // version 0
    store.upsert(chunkRows(1 to 10, "v2-"))   // version 1
    store.delete(Seq("doc://0001"))           // version 2
    assert(spark.sql(s"SELECT * FROM $cat.chunks VERSION AS OF 0")
      .filter(col("chunk_text").startsWith("v1-")).count() == 10)
    assert(spark.sql(s"SELECT * FROM $cat.chunks VERSION AS OF 1")
      .filter(col("chunk_text").startsWith("v2-")).count() == 10)
    assert(spark.sql(s"SELECT * FROM $cat.chunks").count() == 9)
    // frozen history: a time-travel identifier is not writable
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.chunks VERSION AS OF 0 " +
        "VALUES (0, 'x', array(1.0F), 1, 'doc://x')")
    }
    assert(e != null)
  }

  test("TIMESTAMP AS OF resolves to the last version committed by then") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory)
    store.upsert(chunkRows(1 to 10, "v1-"))   // version 0
    Thread.sleep(1100)                        // mtime separation
    val between = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now())
    Thread.sleep(1100)
    store.upsert(chunkRows(1 to 10, "v2-"))   // version 1
    val asOf = spark.sql(s"SELECT chunk_text FROM $cat.chunks " +
      s"TIMESTAMP AS OF '$between'")
    assert(asOf.filter(col("chunk_text").startsWith("v1-")).count() == 10)
    // before any commit → loud failure, not an empty table
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.chunks " +
        "TIMESTAMP AS OF '2000-01-01 00:00:00'").collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).mkString(" ").contains("no version"), chain(e).mkString(" ").take(400))
  }

  test("CTAS through the catalog lands as a created-and-filled table") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory)
    store.upsert(chunkRows(1 to 6, "src-"))
    spark.sql(s"CREATE TABLE $cat.copy AS SELECT * FROM $cat.chunks " +
      "WHERE document_url <= 'doc://0003'")
    assert(spark.sql(s"SELECT * FROM $cat.copy").count() == 3)
    assert(new ChunkStore(spark, s"$wh/copy").exists)
  }

  test("INSERT INTO is the A18 append, committed through the manifest log") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory)
    store.upsert(chunkRows(1 to 5, "v1-"))
    val v = new ManifestTableFormat(spark, s"$wh/chunks", store.schema)
      .version
    spark.sql(s"INSERT INTO $cat.chunks VALUES " +
      "(0, 'ins', array(1.0F, 2.0F), 1, 'doc://ins1')")
    // the insert is log-committed (version advanced), and visible to
    // both the SQL and the API read
    assert(new ManifestTableFormat(spark, s"$wh/chunks", store.schema)
      .version == v + 1)
    assert(spark.sql(s"SELECT * FROM $cat.chunks").count() == 6)
    assert(store.read()
      .filter(col("document_url") === "doc://ins1").count() == 1)
  }

  test("SQL reads are snapshot-isolated: a resolved plan outlives a merge") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory)
    store.upsert(chunkRows(1 to 20, "v1-"))
    val pinned = spark.sql(
      s"SELECT chunk_text FROM $cat.chunks WHERE document_url = 'doc://0007'")
    store.upsert(chunkRows(1 to 20, "v2-")) // rewrites every file
    // the pre-merge plan still reads the files it resolved (the
    // rewrite adds files; vacuum retention governs how long)
    assert(pinned.collect().map(_.getString(0)).toSeq == Seq("v1-7"))
    assert(spark.sql(s"SELECT chunk_text FROM $cat.chunks " +
      "WHERE document_url = 'doc://0007'")
      .collect().map(_.getString(0)).toSeq == Seq("v2-7"))
  }

  test("CALL merge_into / delete_documents: MERGE semantics through SQL") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory)
    store.upsert(chunkRows(1 to 20, "v1-"))
    // MERGE: a view of replacement rows for docs 5..8, CALLed by name
    chunkRows(5 to 8, "v2-").createOrReplaceTempView("cat_updates")
    spark.sql(s"CALL $cat.merge_into('chunks', 'cat_updates')")
    val read = store.read()
    assert(read.count() == 20)
    assert(read.filter(col("chunk_text").startsWith("v2-")).count() == 4)
    assert(read.filter(col("chunk_text") === "v1-5").count() == 0)
    // DELETE: urls listed in a view's first column
    import spark.implicits._
    Seq("doc://0001", "doc://0002").toDF("document_url")
      .createOrReplaceTempView("cat_stale")
    spark.sql(s"CALL $cat.delete_documents('chunks', 'cat_stale')")
    assert(store.read().count() == 18)
  }

  test("CALL delete_documents from a large source stays frame-native") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory)
    store.upsert(chunkRows(1 to 500, "v1-"))
    // the delete key set is a 100k-row TABLE (mostly absent urls) —
    // the procedure must push it down as a frame (an url collect here
    // would be O(source) driver memory; the store's frame path
    // anti-joins instead, pinned by ManifestFormatSpec's plan test)
    spark.range(1, 100001)
      .select(format_string("doc://%04d", col("id")).as("u"))
      .filter(col("u") <= "doc://0100" || col("u") >= "doc://1000")
      .createOrReplaceTempView("cat_bulk_stale")
    spark.sql(s"CALL $cat.delete_documents('chunks', 'cat_bulk_stale')")
    // docs 101..500 survive; 1..100 deleted; absent urls are no-ops
    assert(store.read().count() == 400)
    assert(store.read()
      .filter(col("document_url") === "doc://0101").count() == 1)
    assert(store.read()
      .filter(col("document_url") === "doc://0100").count() == 0)
  }

  test("DELETE FROM by document_url: equality, IN, refusals") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory)
    store.upsert(chunkRows(1 to 20, "v1-"))
    spark.sql(s"DELETE FROM $cat.chunks WHERE document_url = 'doc://0003'")
    assert(store.read().count() == 19)
    spark.sql(s"DELETE FROM $cat.chunks " +
      "WHERE document_url IN ('doc://0001', 'doc://0002', 'doc://absent')")
    assert(store.read().count() == 17)
    // non-url predicates route to the ROW-LEVEL copy-on-write path
    // on manifest tables (formerly a refusal)
    spark.sql(s"DELETE FROM $cat.chunks WHERE chunk_text = 'v1-7'")
    assert(store.read().count() == 16)
    // unqualified DELETE refuses — a wipe must be explicit
    val e2 = intercept[Exception] {
      spark.sql(s"DELETE FROM $cat.chunks")
    }
    assert(e2.getMessage != null)
    assert(store.read().count() == 16)
    // a second table (ensure() bootstraps its empty log): same surface
    val store2 = new ChunkStore(spark, s"$wh/docs")
    store2.ensure()
    store2.upsert(chunkRows(1 to 5, "d-"))
    spark.sql(s"DELETE FROM $cat.docs WHERE document_url = 'doc://0002'")
    assert(store2.read().count() == 4)
    // time-travel reads are frozen: DELETE refuses
    val e3 = intercept[Exception] {
      spark.sql(s"DELETE FROM $cat.chunks VERSION AS OF 0 " +
        "WHERE document_url = 'doc://0005'")
    }
    assert(e3.getMessage != null)
  }

  test("z-ordered table: SQL predicates prune through compact_zorder " +
      "stats and column blooms") {
    val (cat, wh) = freshCatalog()
    val df = spark.range(0, 10000).select(col("id"),
      (col("id") % 100).as("x"), (col("id") / 100).as("y"))
    df.createOrReplaceTempView("zt_src")
    spark.sql(s"CREATE TABLE $cat.zt TBLPROPERTIES ('format'='manifest') " +
      "AS SELECT * FROM zt_src")
    spark.sql(s"CALL $cat.set_bloom_columns('zt', 'id')")
    // CALL compact_zorder's 128 MB file target packs this table into
    // one file; the Scala call's target spreads the curve over many
    val mtf = new ManifestTableFormat(spark, s"$wh/zt", ChunkStore.schema)
    mtf.compactZorder(Seq("x", "y"), targetFileBytes = 8192)
    val all = mtf.liveFiles.size
    assert(all >= 8, s"layout produced only $all files")
    // the catalog lists and resolves the z-ordered table
    assert(spark.sql(s"SHOW TABLES IN $cat").collect()
      .map(_.getString(1)).contains("zt"))

    def plannedFiles(q: org.apache.spark.sql.DataFrame): Int = {
      val scans = collectWithSubqueries(q.queryExecution.executedPlan) {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b
      }
      org.apache.spark.sql.graftbridge.Scans.fileScan(scans.head.scan)
        .fileIndex.inputFiles.length
    }

    // selective z-region predicate: correct rows, file SUBSET planned
    val q = spark.sql(s"SELECT id FROM $cat.zt " +
      "WHERE x >= 10 AND x <= 12 AND y >= 10 AND y <= 12")
    val got = q.collect().map(_.getLong(0)).sorted.toSeq
    val want = df.filter(col("x").between(10, 12) &&
        col("y").between(10, 12))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want && got.nonEmpty)
    assert(plannedFiles(q) < all,
      s"min/max pruning planned ${plannedFiles(q)} of $all files")

    // point probe through the id bloom: one row, file subset
    val q2 = spark.sql(s"SELECT x FROM $cat.zt WHERE id = 4242")
    assert(q2.collect().map(_.getLong(0)).toSeq == Seq(42L))
    assert(plannedFiles(q2) < all,
      s"bloom pruning planned ${plannedFiles(q2)} of $all files")

    // parquet pushdown still reaches the scan under the pruned list
    assert(q2.queryExecution.executedPlan.toString
      .contains("PushedFilters: [IsNotNull(id), EqualTo(id,4242)]"),
      q2.queryExecution.executedPlan.toString.take(2000))

    // unselective reads stay full and exact
    assert(spark.sql(s"SELECT count(*) FROM $cat.zt").head().getLong(0)
      == 10000L)
  }

  test("CALL compact / checkpoint / vacuum: maintenance through SQL") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory)
    store.upsert(chunkRows(1 to 10, "a-"))
    store.upsert(chunkRows(1 to 10, "b-"))
    store.upsert(chunkRows(1 to 10, "c-"))
    spark.sql(s"CALL $cat.checkpoint('chunks')")
    // vacuum REPORTS what it reclaimed: the three upserts left two
    // superseded file generations + subsumed log entries
    val reclaimed = spark.sql(s"CALL $cat.vacuum('chunks')")
      .collect().head
    assert(reclaimed.getLong(0) >= 2, reclaimed)  // data files
    assert(reclaimed.getLong(1) >= 3, reclaimed)  // log entries
    // state identical after the log maintenance; rewritten files gone
    assert(store.read().count() == 10)
    assert(store.read().filter(col("chunk_text").startsWith("c-"))
      .count() == 10)
    spark.sql(s"CALL $cat.compact('chunks')")
    assert(store.read().count() == 10)
  }

  test("CREATE TABLE with format=manifest bootstraps an empty log-committed table") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.logged (chunk_id INT, " +
      "chunk_text STRING, embedding ARRAY<FLOAT>, page_number INT, " +
      "document_url STRING) TBLPROPERTIES ('format'='manifest')")
    // empty scan works; the table classifies as manifest (log present)
    assert(spark.sql(s"SELECT * FROM $cat.logged").count() == 0)
    spark.sql(s"INSERT INTO $cat.logged VALUES " +
      "(0, 'x', array(1.0F), 1, 'doc://x')")
    assert(spark.sql(s"SELECT * FROM $cat.logged").count() == 1)
    // the insert was log-committed, so time travel exists from birth
    assert(spark.sql(s"SELECT * FROM $cat.logged VERSION AS OF 0")
      .count() == 1)
    // and MERGE through the procedure works against it
    import spark.implicits._
    Seq((0, "y", Seq(2f), 1, "doc://x"))
      .toDF("chunk_id", "chunk_text", "embedding", "page_number",
        "document_url").createOrReplaceTempView("logged_updates")
    spark.sql(s"CALL $cat.merge_into('logged', 'logged_updates')")
    assert(spark.sql(s"SELECT chunk_text FROM $cat.logged")
      .collect().map(_.getString(0)).toSeq == Seq("y"))
  }

  private def plannedFiles(q: DataFrame): Int = {
    q.collect()
    val scans = collectWithSubqueries(q.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b
    }
    org.apache.spark.sql.graftbridge.Scans.fileScan(scans.head.scan)
      .fileIndex.inputFiles.length
  }

  test("arbitrary-schema CREATE TABLE: key-less manifest table works " +
      "through generic DML; url-keyed fast lanes refuse loudly") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.kv (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('format'='manifest')")
    spark.sql(s"INSERT INTO $cat.kv VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql(s"UPDATE $cat.kv SET v = 'B' WHERE k = 2")
    spark.sql(s"DELETE FROM $cat.kv WHERE k = 3")
    assert(spark.sql(s"SELECT k, v FROM $cat.kv ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "B")))
    // SQL MERGE with an explicit ON works without a url key
    import spark.implicits._
    Seq((2L, "merged"), (4L, "new")).toDF("k", "v")
      .createOrReplaceTempView("kv_src")
    spark.sql(s"MERGE INTO $cat.kv t USING kv_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)")
    assert(spark.sql(s"SELECT v FROM $cat.kv ORDER BY k")
      .collect().map(_.getString(0)).toSeq == Seq("a", "merged", "new"))
    // time travel holds from birth
    assert(spark.sql(s"SELECT * FROM $cat.kv VERSION AS OF 0").count() == 3)
    // the url-keyed fast lanes refuse with the reason
    val store = new ChunkStore(spark, s"$wh/kv",
      format = ManifestTableFormat.factory)
    val e1 = intercept[UnsupportedOperationException] {
      store.upsert(Seq((9L, "x")).toDF("k", "v"))
    }
    assert(e1.getMessage.contains("document_url"))
    val e2 = intercept[UnsupportedOperationException] {
      store.delete(Seq("doc://nope"))
    }
    assert(e2.getMessage.contains("document_url"))
    // base (creation-time) columns refuse to drop; evolved ones drop
    spark.sql(s"ALTER TABLE $cat.kv ADD COLUMN extra INT")
    val e3 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.kv DROP COLUMN v")
    }
    assert(e3.getMessage.contains("base"))
    spark.sql(s"ALTER TABLE $cat.kv DROP COLUMN extra")
    assert(!spark.table(s"$cat.kv").columns.contains("extra"))
  }

  test("CTAS with an arbitrary schema lands as a manifest table when " +
      "the properties say so") {
    val (cat, _) = freshCatalog()
    import spark.implicits._
    Seq((1L, 2.5, "x"), (2L, 3.5, "y")).toDF("id", "score", "tag")
      .createOrReplaceTempView("ctas_src")
    spark.sql(s"CREATE TABLE $cat.scored " +
      "TBLPROPERTIES ('format'='manifest') AS SELECT * FROM ctas_src")
    assert(spark.sql(s"SELECT * FROM $cat.scored").count() == 2)
    assert(spark.table(s"$cat.scored").columns.toSeq ==
      Seq("id", "score", "tag"))
    // the CTAS fill was log-committed: history exists from birth
    assert(spark.sql(s"SELECT * FROM $cat.scored VERSION AS OF 0")
      .count() == 2)
  }

  test("PARTITIONED BY: identity columns cluster writes and prune " +
      "partition predicates to a strict file subset") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.ev (id BIGINT, kind STRING, x DOUBLE) " +
      "PARTITIONED BY (kind) TBLPROPERTIES ('format'='manifest')")
    import spark.implicits._
    (0 until 300).map(i =>
        (i.toLong, Seq("click", "view", "buy")(i % 3), i * 0.5))
      .toDF("id", "kind", "x").createOrReplaceTempView("ev_src")
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM ev_src")
    val all = plannedFiles(spark.sql(s"SELECT * FROM $cat.ev"))
    assert(all >= 3, s"clustered write should emit >= 3 files, got $all")
    val q = spark.sql(s"SELECT id FROM $cat.ev WHERE kind = 'buy'")
    assert(q.collect().length == 100)
    val pruned = plannedFiles(q)
    assert(pruned < all,
      s"partition predicate must plan a strict file subset " +
        s"($pruned of $all)")
    // each clustered file covers exactly one kind here, so the subset
    // is minimal as well as strict
    assert(pruned == all / 3 || pruned == 1,
      s"expected ~1-in-3 files, got $pruned of $all")
  }

  test("PARTITIONED BY refuses loudly off the manifest format and on " +
      "non-identity transforms") {
    val (cat, _) = freshCatalog()
    val e1 = intercept[UnsupportedOperationException] {
      spark.sql(s"CREATE TABLE $cat.p1 (chunk_id INT, " +
        "chunk_text STRING, embedding ARRAY<FLOAT>, page_number INT, " +
        "document_url STRING) PARTITIONED BY (document_url) " +
        "TBLPROPERTIES ('format'='parquet')")
    }
    assert(e1.getMessage.contains("manifest"))
    val e2 = intercept[UnsupportedOperationException] {
      spark.sql(s"CREATE TABLE $cat.p2 (id BIGINT, kind STRING) " +
        "PARTITIONED BY (bucket(8, kind)) " +
        "TBLPROPERTIES ('format'='manifest')")
    }
    assert(e2.getMessage.contains("identity"))
    val e3 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.p3 (id BIGINT, kind STRING) " +
        "PARTITIONED BY (missing) TBLPROPERTIES ('format'='manifest')")
    }
    assert(e3.getMessage.toLowerCase.contains("missing"))
  }

  test("DDL basics: SHOW TABLES, CREATE TABLE, DROP TABLE") {
    val (cat, wh) = freshCatalog()
    new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory)
      .upsert(chunkRows(1 to 3, "a-"))
    new ChunkStore(spark, s"$wh/docs").ensure()
    val shown = spark.sql(s"SHOW TABLES IN $cat")
      .select("tableName").collect().map(_.getString(0)).toSet
    assert(shown == Set("chunks", "docs"))
    spark.sql(s"CREATE TABLE $cat.fresh (chunk_id INT, " +
      "chunk_text STRING, embedding ARRAY<FLOAT>, page_number INT, " +
      "document_url STRING)")
    spark.sql(s"INSERT INTO $cat.fresh VALUES " +
      "(0, 'x', array(1.0F), 1, 'doc://x')")
    assert(spark.sql(s"SELECT * FROM $cat.fresh").count() == 1)
    // no TBLPROPERTIES makes a manifest table: the insert committed
    assert(Files.exists(java.nio.file.Paths.get(wh, "fresh", "_log")))
    assert(spark.sql(s"SELECT * FROM $cat.fresh VERSION AS OF 0")
      .count() == 1)
    spark.sql(s"DROP TABLE $cat.fresh")
    assert(!spark.sql(s"SHOW TABLES IN $cat")
      .select("tableName").collect().map(_.getString(0)).contains("fresh"))
    // 'format'='manifest' stays accepted; any other format, or a
    // buckets property, refuses with one message and creates nothing
    spark.sql(s"CREATE TABLE $cat.m (chunk_id INT, chunk_text STRING, " +
      "embedding ARRAY<FLOAT>, page_number INT, document_url STRING) " +
      "TBLPROPERTIES ('format'='manifest')")
    assert(spark.sql(s"SELECT * FROM $cat.m").count() == 0)
    Seq("('format'='parquet')", "('buckets'='4')",
        "('format'='manifest', 'buckets'='4')").foreach { props =>
      val e = intercept[UnsupportedOperationException] {
        spark.sql(s"CREATE TABLE $cat.bad (chunk_id INT, " +
          "chunk_text STRING, embedding ARRAY<FLOAT>, page_number INT, " +
          s"document_url STRING) TBLPROPERTIES $props")
      }
      assert(e.getMessage.contains("graft tables are manifest tables"),
        e.getMessage)
      assert(!Files.exists(java.nio.file.Paths.get(wh, "bad")), props)
    }
  }

  test("a directory the retired parquet engine wrote refuses loudly " +
      "with its migration") {
    val (cat, wh) = freshCatalog()
    val dir = s"$wh/old"
    chunkRows(1 to 3, "p-").write.parquet(dir)
    Files.write(java.nio.file.Paths.get(dir, "_graft_layout"),
      "buckets=4".getBytes("UTF-8"))
    def refusal(e: Throwable): Unit = {
      assert(e.getMessage.contains("layout 'buckets=4'"), e.getMessage)
      assert(e.getMessage.contains(s"spark.read.parquet(\"$dir\")"),
        e.getMessage)
    }
    val store = new ChunkStore(spark, dir)
    refusal(intercept[IllegalStateException](store.read()))
    refusal(intercept[IllegalStateException](
      store.upsert(chunkRows(4 to 4, "n-"))))
    // nothing was written beside the old files
    assert(!Files.exists(java.nio.file.Paths.get(dir, "_log")))
    // the catalog resolves the same directory through the same check
    refusal(intercept[IllegalStateException](
      spark.sql(s"SELECT * FROM $cat.old").collect()))
    // the documented migration works
    val moved = new ChunkStore(spark, s"$wh/new")
    moved.upsert(spark.read.parquet(dir))
    assert(moved.read().count() == 3)
  }

  test("CALL sync_index advances a vector index to the table head") {
    import graft.ops.{IndexSync, VectorIndex}
    val (cat, wh) = freshCatalog()
    val idx = Files.createTempDirectory("graft-cat-sync-idx").toString + "/ix"
    val store = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory)
    val vecRows = (ids: Range, v: Float) => {
      import spark.implicits._
      ids.map(i => (0, s"t$i", Seq(v, i.toFloat, 0f, 1f), 1, s"doc://$i"))
        .toDF("chunk_id", "chunk_text", "embedding", "page_number",
          "document_url")
    }
    store.upsert(vecRows(0 until 40, 1f))
    val mtf = new ManifestTableFormat(spark, s"$wh/chunks", store.schema)
    VectorIndex.buildIvfPq(
      store.read().select(
        IndexSync.contentAddressedId(
          Seq(col("document_url"), col("chunk_id")),
          Seq(col("embedding"))).as("vid"),
        col("embedding").as("v")),
      idx, "vid", "v", nlist = 4, m = 2, ks = 4)
    IndexSync.markSynced(spark, idx, mtf.version)
    // churn through SQL, then CALL the sync
    spark.sql(s"INSERT INTO $cat.chunks VALUES " +
      "(0, 'new', array(9.0F, 9.0F, 9.0F, 9.0F), 1, 'doc://new')")
    spark.sql(s"DELETE FROM $cat.chunks WHERE document_url = 'doc://5'")
    // the CALL returns its stats row: span (v0, v0+2], 1 append, 1 kill
    val stats = spark.sql(s"CALL $cat.sync_index('chunks', '$idx')")
      .collect().head
    assert(stats.getLong(2) == 1L && stats.getLong(3) == 1L, stats)
    assert(stats.getLong(1) == stats.getLong(0) + 2, stats)
    import spark.implicits._
    val probes = Seq(("p", Seq(9f, 9f, 9f, 9f))).toDF("vid", "v")
    val got = VectorIndex.queryIvfPq(spark, idx, probes, k = 50,
        nprobe = 4, rerankPerProbe = 64)
      .select("nn_id").collect().map(_.getString(0)).toSeq
    assert(got.exists(_.startsWith("doc://new#")), got)
    assert(!got.exists(_.startsWith("doc://5#")), got)
    // idempotent: a second CALL is a no-op
    spark.sql(s"CALL $cat.sync_index('chunks', '$idx')")
    assert(IndexSync.lastSynced(spark, idx) == mtf.version)
  }

  test("CALL sync_text_index advances a text index to the table head") {
    import graft.ops.{IndexSync, TextIndex}
    val (cat, wh) = freshCatalog()
    val idx = Files.createTempDirectory("graft-cat-tsync-idx").toString + "/ix"
    val store = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory)
    store.upsert(chunkRows(1 to 20, "apples-"))
    val mtf = new ManifestTableFormat(spark, s"$wh/chunks", store.schema)
    TextIndex.build(
      store.read().select(
        IndexSync.contentAddressedId(
          Seq(col("document_url"), col("chunk_id")),
          Seq(col("chunk_text"))).as("tid"),
        col("chunk_text").as("text")),
      idx, "tid", "text")
    IndexSync.markSynced(spark, idx, mtf.version)
    spark.sql(s"INSERT INTO $cat.chunks VALUES " +
      "(0, 'bananas everywhere', array(1.0F, 2.0F), 1, 'doc://nb')")
    val stats = spark.sql(s"CALL $cat.sync_text_index('chunks', '$idx')")
      .collect().head
    assert(stats.getLong(2) == 1L && stats.getLong(3) == 0L, stats)
    val hits = TextIndex.query(spark, idx, Seq("bananas"), k = 5)
      .select("doc_id").collect().map(_.getString(0)).toSeq
    assert(hits.exists(_.startsWith("doc://nb#")), hits)
  }

  test("SQL UPDATE: copy-on-write rewrite of ONLY the affected files") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory)
    // two commits => at least two disjoint file sets in the live state
    store.upsert(chunkRows(1 to 20, "lo-"))
    store.append(chunkRows(100 to 120, "hi-"))
    val mtf = new ManifestTableFormat(spark, s"$wh/chunks", store.schema)
    val before = mtf.liveFiles.toSet
    spark.sql(s"UPDATE $cat.chunks SET chunk_text = chunk_text || '!', " +
      "page_number = 9 WHERE document_url >= 'doc://0100'")
    val after = mtf.liveFiles.toSet
    // the lo- files hold no matching row: they must survive UNTOUCHED
    // (same physical file names — copy-on-write at file granularity,
    // not a table rewrite)
    val untouched = before.intersect(after)
    assert(untouched.nonEmpty,
      s"no shared files between $before and $after — UPDATE rewrote " +
        "files its predicate never touched")
    val rows = spark.sql(s"SELECT chunk_text, page_number FROM " +
      s"$cat.chunks WHERE document_url = 'doc://0105'").collect().head
    assert(rows.getString(0) == "hi-105!" && rows.getInt(1) == 9)
    val lo = spark.sql(s"SELECT chunk_text, page_number FROM " +
      s"$cat.chunks WHERE document_url = 'doc://0005'").collect().head
    assert(lo.getString(0) == "lo-5" && lo.getInt(1) == 1)
    // assignment referencing other columns + no-WHERE full update
    spark.sql(s"UPDATE $cat.chunks SET chunk_id = page_number + 1")
    val ids = spark.sql(s"SELECT DISTINCT chunk_id FROM $cat.chunks")
      .collect().map(_.getInt(0)).toSet
    assert(ids == Set(2, 10), ids)
  }

  test("SQL UPDATE: snapshot isolation — a resolved reader outlives it") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory)
    store.upsert(chunkRows(1 to 10, "v1-"))
    // resolve the reader BEFORE the update: its file list is pinned
    val reader = spark.sql(
      s"SELECT chunk_text FROM $cat.chunks WHERE document_url = " +
        "'doc://0003'")
    spark.sql(s"UPDATE $cat.chunks SET chunk_text = 'gone' " +
      "WHERE document_url = 'doc://0003'")
    // the pre-update plan still serves the pre-update snapshot (rm
    // never deletes bytes; vacuum is a separate maintenance call)
    assert(reader.collect().map(_.getString(0)).toSeq == Seq("v1-3"))
    val now = spark.sql(
      s"SELECT chunk_text FROM $cat.chunks WHERE document_url = " +
        "'doc://0003'").collect().map(_.getString(0)).toSeq
    assert(now == Seq("gone"))
  }

  test("SQL UPDATE: matching-nothing is a no-op commit-wise; refusals") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory)
    store.upsert(chunkRows(1 to 5, "v1-"))
    val mtf = new ManifestTableFormat(spark, s"$wh/chunks", store.schema)
    val v = mtf.version
    spark.sql(s"UPDATE $cat.chunks SET chunk_text = 'x' " +
      "WHERE document_url = 'doc://nope'")
    assert(mtf.version == v, "no-match UPDATE must not commit")
    // time-travel targets are frozen history
    intercept[Exception] {
      spark.sql(s"UPDATE $cat.chunks VERSION AS OF 0 SET chunk_text='x'")
    }
    // subqueries in WHERE refuse loudly with the CALL alternative
    val e = intercept[UnsupportedOperationException] {
      spark.sql(s"UPDATE $cat.chunks SET chunk_text = 'x' WHERE " +
        s"document_url IN (SELECT document_url FROM $cat.chunks)")
    }
    assert(e.getMessage.contains("subquery"))
  }

  test("ALTER TABLE ADD COLUMN evolves the schema; the rest refuses") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory)
    store.upsert(chunkRows(1 to 10, "v1-"))
    spark.sql(s"ALTER TABLE $cat.chunks ADD COLUMN lang STRING")
    assert(spark.table(s"$cat.chunks").columns.contains("lang"))
    // old files scan NULL; INSERT and UPDATE speak the evolved shape
    spark.sql(s"INSERT INTO $cat.chunks VALUES " +
      "(0, 'neu', array(1.0F, 2.0F), 1, 'doc://new', 'de')")
    spark.sql(s"UPDATE $cat.chunks SET lang = 'en' " +
      "WHERE document_url = 'doc://0001'")
    val langs = spark.sql(s"SELECT document_url, lang FROM $cat.chunks")
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(langs("doc://new") == Some("de"))
    assert(langs("doc://0001") == Some("en"))
    assert(langs("doc://0002").isEmpty)
    // incompatible DDL refuses loudly, schema unchanged after each
    // (RENAME COLUMN left this list in round 10 — v5 column mapping
    // supports it; see the RENAME COLUMN test)
    Seq(
      s"ALTER TABLE $cat.chunks ALTER COLUMN lang TYPE INT",
      s"ALTER TABLE $cat.chunks ADD COLUMN score INT NOT NULL",
      s"ALTER TABLE $cat.chunks ADD COLUMN pos INT FIRST"
    ).foreach { ddl =>
      intercept[Exception] { spark.sql(ddl) }
      assert(spark.table(s"$cat.chunks").columns.toSeq ==
        Seq("chunk_id", "chunk_text", "embedding", "page_number",
          "document_url", "lang"), ddl)
    }
  }

  test("ALTER TABLE DROP COLUMN: evolved columns drop metadata-only; " +
      "base columns and resurrection refuse; time travel keeps eras") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory)
    store.upsert(chunkRows(1 to 10, "v1-"))            // version 0
    spark.sql(s"ALTER TABLE $cat.chunks ADD COLUMN lang STRING") // v1
    spark.sql(s"UPDATE $cat.chunks SET lang = 'en' " +
      "WHERE document_url = 'doc://0001'")             // version 2
    val preDrop = new ManifestTableFormat(
      spark, s"$wh/chunks", store.schema).version
    spark.sql(s"ALTER TABLE $cat.chunks DROP COLUMN lang")       // v3
    // head: base shape, every row intact, lang gone
    assert(!spark.table(s"$cat.chunks").columns.contains("lang"))
    assert(spark.sql(s"SELECT * FROM $cat.chunks").count() == 10)
    // pre-drop era still shows the column AND its written values
    val old = spark.sql(s"SELECT document_url, lang FROM $cat.chunks " +
      s"VERSION AS OF $preDrop")
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(old("doc://0001") == Some("en") && old("doc://0002").isEmpty)
    // base columns refuse
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.chunks DROP COLUMN chunk_text")
    }
    // RE-ADDING the dropped name works (v5 column mapping allocates a
    // fresh physical name) and must NOT resurrect the old values —
    // doc://0001 had lang='en' before the drop; the re-added column
    // reads NULL everywhere
    spark.sql(s"ALTER TABLE $cat.chunks ADD COLUMN lang STRING")
    assert(spark.table(s"$cat.chunks").columns.contains("lang"))
    val readded = spark.sql(s"SELECT document_url, lang FROM $cat.chunks")
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(readded.values.forall(_.isEmpty),
      s"stale values resurrected: $readded")
    // and the re-added column is writable under its logical name
    spark.sql(s"UPDATE $cat.chunks SET lang = 'de' " +
      "WHERE document_url = 'doc://0002'")
    val after = spark.sql(s"SELECT document_url, lang FROM $cat.chunks")
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(after("doc://0002") == Some("de") && after("doc://0001").isEmpty)
    // a FRESH name evolves fine after the drop
    spark.sql(s"ALTER TABLE $cat.chunks ADD COLUMN lang2 STRING")
    assert(spark.table(s"$cat.chunks").columns.contains("lang2"))
  }

  test("ALTER TABLE RENAME COLUMN: metadata-only, stats survive, " +
      "eras keep their names, refusals are loud") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory)
    // three one-file commits with disjoint page ranges → 3 live files
    def batch(ids: Range, base: Int): DataFrame = {
      import spark.implicits._
      ids.map(i => (0, s"t-$i", Seq(1f), base + i % 10, f"doc://$i%04d"))
        .toDF("chunk_id", "chunk_text", "embedding", "page_number",
          "document_url").repartition(1)
    }
    store.append(batch(0 until 10, 0))
    store.append(batch(10 until 20, 10))
    store.append(batch(20 until 30, 20))
    val mtfPre = new ManifestTableFormat(spark, s"$wh/chunks", store.schema)
    val filesBefore = mtfPre.liveFiles.toSet

    spark.sql(s"ALTER TABLE $cat.chunks RENAME COLUMN page_number TO pg")
    // metadata-only: the data files are untouched
    val mtfPost = new ManifestTableFormat(spark, s"$wh/chunks", store.schema)
    assert(mtfPost.liveFiles.toSet == filesBefore,
      "rename must not rewrite data files")
    assert(mtfPost.currentSchema.fieldNames.toSeq ==
      Seq("chunk_id", "chunk_text", "embedding", "pg", "document_url"))

    // the per-file stats recorded BEFORE the rename still prune a
    // predicate on the NEW name to a strict file subset
    val q = spark.sql(s"SELECT document_url FROM $cat.chunks " +
      "WHERE pg >= 20")
    assert(q.collect().length == 10)
    assert(plannedFiles(q) == 1,
      "pre-rename stats must keep pruning under the new name")

    // DML under the new name; the old name is gone
    spark.sql(s"UPDATE $cat.chunks SET pg = pg + 100 WHERE pg = 5")
    assert(spark.sql(s"SELECT count(*) FROM $cat.chunks WHERE pg = 105")
      .head().getLong(0) == 1)
    intercept[Exception] {
      spark.sql(s"SELECT page_number FROM $cat.chunks").collect()
    }
    // each era keeps its own name under time travel
    assert(spark.sql(s"SELECT * FROM $cat.chunks VERSION AS OF 0")
      .columns.contains("page_number"))
    // refusals: document_url (the key), collisions, unknown columns
    val e1 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.chunks RENAME COLUMN document_url TO u")
    }
    assert(e1.getMessage.contains("key column"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.chunks RENAME COLUMN pg TO chunk_id")
    }
    assert(e2.getMessage.contains("already exists"), e2.getMessage)
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.chunks RENAME COLUMN nope TO x")
    }
    // CDF after a rename is expressed in the head's logical names
    val feed = mtfPost.changesBetween(0, mtfPost.version)
    assert(feed.columns.contains("pg") &&
      !feed.columns.contains("page_number"))
    // appends keep working: the conform path wants the NEW name
    spark.sql(s"INSERT INTO $cat.chunks VALUES " +
      "(0, 'post-rename', array(1.0F), 77, 'doc://post')")
    assert(spark.sql(s"SELECT pg FROM $cat.chunks " +
      "WHERE document_url = 'doc://post'").head().getInt(0) == 77)
  }

  test("INSERT OVERWRITE: one atomic replace on manifest tables; the " +
      "old state stays time-travelable; other layouts refuse") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory)
    store.upsert(chunkRows(1 to 10, "v1-"))            // version 0
    spark.sql(s"INSERT OVERWRITE $cat.chunks VALUES " +
      "(0, 'ow-a', array(1.0F), 1, 'doc://a'), " +
      "(0, 'ow-b', array(1.0F), 2, 'doc://b')")
    val now = spark.sql(s"SELECT document_url FROM $cat.chunks")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(now == Seq("doc://a", "doc://b"), s"got $now")
    // the pre-overwrite snapshot survives until vacuum
    assert(spark.sql(
      s"SELECT * FROM $cat.chunks VERSION AS OF 0").count() == 10)
    // appends keep working on the replaced table
    spark.sql(s"INSERT INTO $cat.chunks VALUES " +
      "(0, 'c', array(1.0F), 3, 'doc://c')")
    assert(spark.sql(s"SELECT * FROM $cat.chunks").count() == 3)

    // a directory the retired parquet engine wrote: INSERT OVERWRITE
    // refuses loudly and leaves its rows alone
    val old = s"$wh/old"
    chunkRows(1 to 3, "p-").write.parquet(old)
    Files.write(java.nio.file.Paths.get(old, ChunkStore.parquetLayoutMarker),
      "buckets=4".getBytes("UTF-8"))
    val e = intercept[Exception] {
      spark.sql(s"INSERT OVERWRITE $cat.old VALUES " +
        "(0, 'ow', array(1.0F), 1, 'doc://ow')")
    }
    assert(e.getMessage.contains(old), e.getMessage)
    assert(spark.read.parquet(old).count() == 3)
  }

  test("TRUNCATE TABLE and CALL restore: reversible wipes, history " +
      "moves forward, vacuumed versions fail loudly") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory)
    store.upsert(chunkRows(1 to 10, "v1-"))            // version 0
    store.append(chunkRows(11 to 15, "v2-"))           // version 1
    assert(spark.sql(s"SELECT * FROM $cat.chunks").count() == 15)

    spark.sql(s"TRUNCATE TABLE $cat.chunks")           // version 2
    assert(spark.sql(s"SELECT * FROM $cat.chunks").count() == 0)
    assert(spark.sql(
      s"SELECT * FROM $cat.chunks VERSION AS OF 1").count() == 15)

    // RESTORE re-adds the original files — no data rewrite
    val r1 = spark.sql(s"CALL $cat.restore('chunks', '1')")
      .collect().head
    assert(r1.getLong(0) > 0 && r1.getLong(1) == 0, s"got $r1")
    assert(spark.sql(s"SELECT * FROM $cat.chunks").count() == 15)
    // restore FURTHER back: drops the appended files
    val r0 = spark.sql(s"CALL $cat.restore('chunks', '0')")
      .collect().head
    assert(r0.getLong(1) > 0, s"got $r0")
    assert(spark.sql(s"SELECT * FROM $cat.chunks").count() == 10)
    // the whole dance is itself history
    assert(spark.sql(
      s"SELECT * FROM $cat.chunks VERSION AS OF 2").count() == 0)

    // restore by TIMESTAMP: "now" resolves to the head state (no-op)
    val rt = spark.sql(s"CALL $cat.restore('chunks', " +
      s"'${System.currentTimeMillis()}')").collect().head
    assert(rt.getLong(0) == 0 && rt.getLong(1) == 0, s"got $rt")
    assert(spark.sql(s"SELECT * FROM $cat.chunks").count() == 10)

    // vacuum prunes reconstructability: restore then fails loudly
    val mtf = new ManifestTableFormat(spark, s"$wh/chunks", store.schema)
    mtf.checkpoint(); mtf.vacuum()
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.restore('chunks', '1')")
    }
    assert(e.getMessage != null)
    assert(spark.sql(s"SELECT * FROM $cat.chunks").count() == 10,
      "a failed restore must not have committed anything")
  }

  test("CALL add_constraint: CHECK enforced on every write path; " +
      "NULL passes; pre-existing violations refuse the ADD") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory)
    store.upsert(chunkRows(1 to 5, "v1-"))
    spark.sql(
      s"CALL $cat.add_constraint('chunks', 'pg_ok', 'page_number >= 0')")
    // INSERT violating the check refuses, nothing committed
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.chunks VALUES " +
        "(0, 'bad', array(1.0F), -1, 'doc://bad')")
    }
    assert(e.getMessage != null)
    assert(spark.sql(s"SELECT * FROM $cat.chunks").count() == 5)
    // UPDATE producing a violation refuses too (same choke point)
    intercept[Exception] {
      spark.sql(s"UPDATE $cat.chunks SET page_number = -7 " +
        "WHERE document_url = 'doc://0001'")
    }
    assert(spark.sql(s"SELECT * FROM $cat.chunks " +
      "WHERE page_number < 0").count() == 0)
    // a passing write lands; NULL passes (three-valued CHECK)
    spark.sql(s"ALTER TABLE $cat.chunks ADD COLUMN score DOUBLE")
    spark.sql(
      s"CALL $cat.add_constraint('chunks', 's_ok', 'score > 0.0')")
    spark.sql(s"INSERT INTO $cat.chunks VALUES " +
      "(0, 'neu', array(1.0F), 3, 'doc://new', NULL)") // score NULL ok
    assert(spark.sql(s"SELECT * FROM $cat.chunks").count() == 6)
    intercept[Exception] {
      spark.sql(s"UPDATE $cat.chunks SET score = -1.0 " +
        "WHERE document_url = 'doc://new'")
    }
    // ADD over data that already violates refuses
    intercept[Exception] {
      spark.sql(s"CALL $cat.add_constraint('chunks', 'impossible', " +
        "'page_number > 100')")
    }
    // the constraint set is SQL-visible
    val listed = spark.sql(s"CALL $cat.show_constraints('chunks')")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(listed == Map("pg_ok" -> "page_number >= 0",
      "s_ok" -> "score > 0.0"), s"got $listed")
    // DROP re-opens the gate
    spark.sql(s"CALL $cat.drop_constraint('chunks', 'pg_ok')")
    spark.sql(s"INSERT INTO $cat.chunks VALUES " +
      "(0, 'now ok', array(1.0F), -1, 'doc://neg', 1.0)")
    assert(spark.sql(s"SELECT * FROM $cat.chunks").count() == 7)
  }

  test("CALL train_quality_classifier / score_quality: D25 from SQL") {
    import spark.implicits._
    val (cat, wh) = freshCatalog()
    // separable corpus: quality rows are wordy prose, junk is noise
    val rows = (1 to 60).map { i =>
      if (i % 2 == 0)
        (i.toLong, "the quick brown fox jumps over the lazy dog again " +
          s"and tells a long story number $i", 1)
      else (i.toLong, s"@@## $i ~~~ %%% $i ###", 0)
    }
    rows.toDF("doc_id", "text", "label")
      .createOrReplaceTempView("qc_train_src")
    val model = s"$wh/qc_model"
    val trained = spark.sql(s"CALL $cat.train_quality_classifier(" +
      s"'qc_train_src', 'text', 'label', '$model')").collect().head
    assert(trained.getLong(0) == 60L)
    val scored = spark.sql(s"CALL $cat.score_quality(" +
      s"'qc_train_src', '$model', 'qc_scored')").collect().head
    assert(scored.getLong(0) == 60L)
    val acc = spark.sql(
      "SELECT AVG(CAST((quality_prob >= 0.5) = (label = 1) AS DOUBLE)) " +
        "FROM qc_scored").collect().head.getDouble(0)
    assert(acc >= 0.95, s"train-set accuracy $acc")
  }

  test("CALL semantic_chunk / fuzzy_pairs: D27/D28 from SQL") {
    import spark.implicits._
    val (cat, _) = freshCatalog()
    Seq((1L, "Spark shuffles partition data. Spark shuffles exchanges. " +
        "Cats purr milk bowls. Cats purr milk whiskers."))
      .toDF("doc_id", "text").createOrReplaceTempView("sc_src")
    val n = spark.sql(s"CALL $cat.semantic_chunk(" +
      "'sc_src', 'doc_id', 'text', 'sc_out')").collect().head.getLong(0)
    assert(n >= 2, s"$n chunks")
    val chunks = spark.sql(
      "SELECT chunk_text FROM sc_out ORDER BY chunk_number")
      .collect().map(_.getString(0))
    assert(chunks.head.startsWith("Spark") &&
      chunks.last.startsWith("Cats"))
    Seq((1L, "spark"), (2L, "spork"), (3L, "flink"), (4L, "blink"))
      .toDF("id", "w").createOrReplaceTempView("fp_src")
    val np = spark.sql(s"CALL $cat.fuzzy_pairs(" +
      "'fp_src', 'id', 'w', '1', 'fp_out')").collect().head.getLong(0)
    assert(np == 2L, s"$np pairs")
    // pairs are unordered, keyed id1 < id2: (1,2) and (3,4)
    val pairs = spark.sql("SELECT s1, s2 FROM fp_out ORDER BY s1")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs == Set(("flink", "blink"), ("spark", "spork")), pairs)
  }

  test("SQL row-level DELETE: copy-on-write file subset; refusals") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory)
    store.upsert(chunkRows(1 to 20, "lo-"))
    store.append(chunkRows(100 to 120, "hi-"))
    val mtf = new ManifestTableFormat(spark, s"$wh/chunks", store.schema)
    val before = mtf.liveFiles.toSet
    // predicate touches only the hi- rows: the lo- files must survive
    // physically untouched (file-subset copy-on-write)
    spark.sql(s"DELETE FROM $cat.chunks WHERE chunk_text LIKE 'hi-11%'")
    assert(before.intersect(mtf.liveFiles.toSet).nonEmpty)
    assert(store.read().count() == 20 + 21 - 10) // hi-110..hi-119 + hi-11
    // NULL predicate rows are KEPT (three-valued DELETE)
    spark.sql(s"UPDATE $cat.chunks SET chunk_id = 5 " +
      "WHERE document_url = 'doc://0001'")
    spark.sql(s"DELETE FROM $cat.chunks WHERE chunk_id != 5 " +
      "AND page_number = 99") // matches nothing; sanity
    // unqualified DELETE still refuses
    val e = intercept[UnsupportedOperationException] {
      spark.sql(s"DELETE FROM $cat.chunks")
    }
    assert(e.getMessage.contains("explicit"), e.getMessage)
  }

  test("SQL MERGE INTO: the full WHEN-clause algebra in one commit") {
    import spark.implicits._
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory)
    store.upsert(chunkRows(1 to 10, "v1-"))
    // source: updates for 1-3 (one flagged stale), new rows 21-22
    Seq(
      (1, "upd-1", 7, "doc://0001", false),
      (2, "upd-2", 7, "doc://0002", true), // stale → DELETE clause
      (3, "upd-3", 7, "doc://0003", false),
      (21, "new-21", 7, "doc://0021", false),
      (22, "new-22", 7, "doc://0022", true)) // stale new row → no insert
      .toDF("chunk_id", "chunk_text", "page_number", "document_url",
        "stale")
      .withColumn("embedding", array(lit(9f)))
      .createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO $cat.chunks t USING merge_src s
         |ON t.document_url = s.document_url
         |WHEN MATCHED AND s.stale THEN DELETE
         |WHEN MATCHED THEN UPDATE SET t.chunk_text = s.chunk_text,
         |  t.page_number = s.page_number + t.page_number
         |WHEN NOT MATCHED AND NOT s.stale THEN INSERT
         |  (chunk_id, chunk_text, embedding, page_number, document_url)
         |  VALUES (s.chunk_id, s.chunk_text, s.embedding,
         |    s.page_number, s.document_url)
         |WHEN NOT MATCHED BY SOURCE AND t.document_url = 'doc://0009'
         |  THEN DELETE""".stripMargin)
    val got = spark.sql(s"SELECT document_url, chunk_text, page_number " +
      s"FROM $cat.chunks ORDER BY document_url")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    val expected =
      Seq(("doc://0001", "upd-1", 8), ("doc://0003", "upd-3", 8)) ++
        (4 to 8).map(i => (f"doc://$i%04d", s"v1-$i", 1)) ++
        Seq(("doc://0010", "v1-10", 1), ("doc://0021", "new-21", 7))
    assert(got.toSeq == expected.sortBy(_._1), got.mkString("\n"))
    // one atomic commit for the whole statement: upsert (v0) + merge
    val mtf = new ManifestTableFormat(spark, s"$wh/chunks", store.schema)
    assert(mtf.version == 1L, mtf.version)

    // ambiguity guard: two source rows hitting one target row refuse
    Seq(("a", "doc://0004"), ("b", "doc://0004"))
      .toDF("chunk_text", "document_url")
      .createOrReplaceTempView("dup_src")
    val e = intercept[Exception] {
      spark.sql(s"MERGE INTO $cat.chunks t USING dup_src s " +
        "ON t.document_url = s.document_url " +
        "WHEN MATCHED THEN UPDATE SET t.chunk_text = s.chunk_text")
    }
    assert(e.getMessage.contains("more than one source"), e.getMessage)
  }

  test("CALL history / vacuum_retain: the operational log surface") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory)
    store.upsert(chunkRows(1 to 5, "a-"))                     // v0
    spark.sql(s"ALTER TABLE $cat.chunks ADD COLUMN lang STRING") // v1
    store.upsert(chunkRows(1 to 2, "b-"))                     // v2
    val rows = spark.sql(s"CALL $cat.history('chunks')")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L), rows.mkString(","))
    assert(rows(0)._4 == "commit" && rows(1)._4 == "schema" &&
      rows(2)._4 == "commit", rows.mkString(","))
    assert(rows(2)._2 > 0 && rows(2)._3 > 0) // merge: adds + removes
    // retention keeps the young dead files; the summary says so
    val kept = spark.sql(
      s"CALL $cat.vacuum_retain('chunks', '3600000')").collect().head
    assert(kept.getLong(0) == 0L, kept.toString)
    val now = spark.sql(
      s"CALL $cat.vacuum_retain('chunks', '0')").collect().head
    assert(now.getLong(0) >= 1L, now.toString)
  }

  test("MERGE url fast path: only bloom-admitted files rewrite when " +
      "ON carries a document_url equality and no BY SOURCE clause") {
    import spark.implicits._
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory)
    store.upsert(chunkRows(1 to 20, "lo-"))     // commit 0
    store.append(chunkRows(500 to 520, "hi-"))  // commit 1, new files
    val mtf = new ManifestTableFormat(spark, s"$wh/chunks", store.schema)
    val before = mtf.liveFiles.toSet
    Seq((0, "patched", 1, "doc://0505"))
      .toDF("chunk_id", "chunk_text", "page_number", "document_url")
      .withColumn("embedding", array(lit(1f)))
      .createOrReplaceTempView("fastpath_src")
    spark.sql(s"MERGE INTO $cat.chunks t USING fastpath_src s " +
      "ON t.document_url = s.document_url " +
      "WHEN MATCHED THEN UPDATE SET t.chunk_text = s.chunk_text " +
      "WHEN NOT MATCHED THEN INSERT *")
    val after = mtf.liveFiles.toSet
    // the lo- range cannot hold doc://0505 (min/max excludes it):
    // those files must survive physically untouched
    assert(before.intersect(after).nonEmpty,
      s"url-keyed MERGE rewrote files outside the bloom-admitted set")
    val got = spark.sql(s"SELECT chunk_text FROM $cat.chunks " +
      "WHERE document_url = 'doc://0505'").collect().head.getString(0)
    assert(got == "patched")
    // pure-insert MERGE: the probe admits NO files (all-new url), the
    // affected set is empty, and the insert side must still land
    Seq((0, "brand-new", 1, "doc://9999"))
      .toDF("chunk_id", "chunk_text", "page_number", "document_url")
      .withColumn("embedding", array(lit(1f)))
      .createOrReplaceTempView("pureinsert_src")
    spark.sql(s"MERGE INTO $cat.chunks t USING pureinsert_src s " +
      "ON t.document_url = s.document_url " +
      "WHEN MATCHED THEN UPDATE SET t.chunk_text = s.chunk_text " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(spark.sql(s"SELECT chunk_text FROM $cat.chunks " +
      "WHERE document_url = 'doc://9999'")
      .collect().head.getString(0) == "brand-new")
  }
}
