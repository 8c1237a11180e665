package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sink.{ChunkStore, ManifestTableFormat}

/** Manifest-native DATA SKIPPING: add-actions carry per-column
  * min/max + null counts (and the url bloom), and the SQL catalog's
  * manifest scans prune the planned FILE list from pushed predicates
  * — Delta-style file skipping with no sidecar. Every test pins both
  * halves: the result equals the unpruned scan's AND the plan read a
  * strict file subset (or, for the fail-open cases, did NOT prune).
  */
class ManifestStatsSkipSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  private var n = 0
  private def freshCatalog(): (String, String) = {
    n += 1
    val cat = s"statskip$n"
    val wh = Files.createTempDirectory(s"graft-skip-$n").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  /** One-file append: `ids` chunks with the given page + text. */
  private def batch(ids: Range, page: Int => Int,
      text: Int => String = i => s"t-$i"): DataFrame = {
    import spark.implicits._
    ids.map(i => (0, text(i), Seq(1f), page(i), f"doc://$i%04d"))
      .toDF("chunk_id", "chunk_text", "embedding", "page_number",
        "document_url")
      .repartition(1)
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

  test("numeric range predicates plan a file subset; results exact") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/t",
      format = ManifestTableFormat.factory)
    store.append(batch(0 until 10, _ => 5))    // pages all 5
    store.append(batch(10 until 20, _ => 15))  // pages all 15
    store.append(batch(20 until 30, _ => 25))  // pages all 25
    val all = plannedFiles(spark.sql(s"SELECT * FROM $cat.t"))
    assert(all == 3, s"expected 3 one-file commits, planned $all")

    val q = spark.sql(
      s"SELECT document_url FROM $cat.t WHERE page_number >= 20")
    assert(q.collect().length == 10)
    assert(plannedFiles(q) == 1, "page_number >= 20 must plan 1 file")

    val q2 = spark.sql(
      s"SELECT document_url FROM $cat.t WHERE page_number BETWEEN 10 AND 20")
    assert(q2.collect().length == 10)
    assert(plannedFiles(q2) == 1)

    // equality + IN over integral columns
    val q3 = spark.sql(
      s"SELECT document_url FROM $cat.t WHERE page_number = 15")
    assert(q3.collect().length == 10 && plannedFiles(q3) == 1)
    val q4 = spark.sql(
      s"SELECT document_url FROM $cat.t WHERE page_number IN (5, 7)")
    assert(q4.collect().length == 10 && plannedFiles(q4) == 1)

    // an unsatisfiable range prunes everything
    val q5 = spark.sql(
      s"SELECT document_url FROM $cat.t WHERE page_number > 1000")
    assert(q5.collect().isEmpty && plannedFiles(q5) == 0)
  }

  test("document_url point predicates prune via the log's bloom") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/t",
      format = ManifestTableFormat.factory)
    store.append(batch(0 until 100, _ => 0))
    store.append(batch(100 until 200, _ => 0))
    store.append(batch(200 until 300, _ => 0))

    val q = spark.sql(
      s"SELECT chunk_text FROM $cat.t WHERE document_url = 'doc://0150'")
    assert(q.collect().map(_.getString(0)).toSeq == Seq("t-150"))
    assert(plannedFiles(q) == 1, "url equality must plan 1 file")

    val q2 = spark.sql(s"SELECT chunk_text FROM $cat.t " +
      "WHERE document_url IN ('doc://0001', 'doc://0250')")
    assert(q2.collect().length == 2)
    assert(plannedFiles(q2) == 2)
  }

  test("IS NULL / IS NOT NULL prune from null counts") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/t",
      format = ManifestTableFormat.factory)
    store.append(batch(0 until 10, _ => 0))
    // a file whose chunk_text is entirely NULL
    store.append(batch(10 until 20, _ => 0)
      .withColumn("chunk_text", lit(null).cast("string")))

    val q = spark.sql(
      s"SELECT document_url FROM $cat.t WHERE chunk_text IS NULL")
    assert(q.collect().length == 10 && plannedFiles(q) == 1)

    val q2 = spark.sql(
      s"SELECT document_url FROM $cat.t WHERE chunk_text IS NOT NULL")
    assert(q2.collect().length == 10 && plannedFiles(q2) == 1)
  }

  test("string stats: truncation bounds stay sound for 64+ char values") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/t",
      format = ManifestTableFormat.factory)
    val long1 = "a" * 100 + "LOW"   // truncates to a*64
    val long2 = "z" * 100 + "HIGH"  // truncated max needs the U+10FFFF push
    store.append(batch(0 until 5, _ => 0, _ => long1))
    store.append(batch(5 until 10, _ => 0, _ => long2))
    store.append(batch(10 until 15, _ => 0, _ => "mid"))

    // equality on a truncated value must still find it (hi bound was
    // pushed ABOVE the true max, lo is a prefix below it)
    val q = spark.sql(
      s"SELECT document_url FROM $cat.t WHERE chunk_text = '${"z" * 100}HIGH'")
    assert(q.collect().length == 5)
    assert(plannedFiles(q) == 1, "only the z-file can hold the z-value")

    // a range above every TRUE value: the a- and mid-files prune on
    // their exact stats; the z-file's truncated hi was pushed ABOVE
    // the true max (that is what keeps equality sound), so it fails
    // open and is read — one extra file, zero rows, never a miss
    val q2 = spark.sql(
      s"SELECT document_url FROM $cat.t WHERE chunk_text > '${"z" * 101}'")
    assert(q2.collect().isEmpty && plannedFiles(q2) == 1)

    // and one below the a-file's lo keeps only files that may match
    val q3 = spark.sql(
      s"SELECT document_url FROM $cat.t WHERE chunk_text < 'b'")
    assert(q3.collect().length == 5 && plannedFiles(q3) == 1)
  }

  test("protocol-v1 add-actions (no column stats) fail open") {
    val (cat, wh) = freshCatalog()
    val dir = s"$wh/t"
    // a data file written out-of-band + a v1-era log line naming it
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    batch(0 until 3, _ => 42).write.parquet(s"$dir/data/legacy")
    val part = fs.listStatus(new Path(s"$dir/data/legacy")).toSeq
      .map(_.getPath).filter(_.getName.startsWith("part-")).head
    val urls = (0 until 3).map(i => f""""doc://$i%04d"""").mkString(",")
    val line = s"""{"a":"add","f":"${part.toString}","u":[$urls]}"""
    fs.mkdirs(new Path(dir, "_log"))
    val out = fs.create(new Path(dir, "_log/000000000000.json"), false)
    out.write(line.getBytes("UTF-8")); out.close()

    // no cs stats on the action: a page_number predicate cannot prune
    // this file, and the rows still come back (fail-open)
    val q = spark.sql(
      s"SELECT document_url FROM $cat.t WHERE page_number = 42")
    assert(q.collect().length == 3)
    assert(plannedFiles(q) == 1)
    // but the v1 SYNTHESIZED url stats do prune url probes
    val q2 = spark.sql(
      s"SELECT document_url FROM $cat.t WHERE document_url = 'doc://9999'")
    assert(q2.collect().isEmpty && plannedFiles(q2) == 0)
    // and table_stats fails HONEST: the v1 file has no row count
    val st = spark.sql(s"CALL $cat.table_stats('t')").collect().head
    assert(st.getLong(1) == 1 && st.getLong(2) == -1L,
      s"pre-v3 file must report rows=-1, got $st")
  }

  test("CALL table_stats: version/files/rows from metadata alone") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/t",
      format = ManifestTableFormat.factory)
    store.append(batch(0 until 10, _ => 0))
    store.append(batch(10 until 30, _ => 1))
    val r = spark.sql(s"CALL $cat.table_stats('t')").collect().head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L && r.getLong(2) == 30L,
      s"got $r")
    assert(r.getLong(3) > 0L, s"bytes must come from the stats: $r")
    // a delete rewrites the touched file; counts follow
    store.delete(Seq("doc://0005"))
    val r2 = spark.sql(s"CALL $cat.table_stats('t')").collect().head
    assert(r2.getLong(0) == 2L && r2.getLong(2) == 29L, s"got $r2")
  }

  test("log-answered aggregates: unfiltered count/min/max plan ONE " +
      "LocalScan row from the manifest stats — zero data or footer " +
      "reads") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/t",
      format = ManifestTableFormat.factory)
    store.append(batch(0 until 10, _ => 5))
    store.append(batch(10 until 20, _ => 15))
    // no parquet footer-agg conf needed: the LOG answers
    val q = spark.sql(s"SELECT count(*) AS c, min(page_number) AS lo, " +
      s"max(page_number) AS hi, count(page_number) AS cc FROM $cat.t")
    val r = q.collect().head
    assert(r.getLong(0) == 20 && r.getInt(1) == 5 && r.getInt(2) == 15 &&
      r.getLong(3) == 20)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GraftLogStatsAggScan") ||
      plan.contains("LocalTableScan"),
      s"log lane must plan a LocalScan, got:\n$plan")
    assert(!plan.contains("FileScan") && !plan.contains("BatchScanExec"),
      s"log-answered aggregate must read NO files:\n$plan")

    // a metadata-only delete moves the answer (stats are live-only)
    store.deleteWhere(col("page_number") === 5)
    val r2 = spark.sql(s"SELECT count(*), min(page_number), " +
      s"max(page_number) FROM $cat.t").collect().head
    assert(r2.getLong(0) == 10 && r2.getInt(1) == 15 && r2.getInt(2) == 15)

    // a FILTER refuses the lane (and results stay exact via the scan)
    val qf = spark.sql(
      s"SELECT count(*) FROM $cat.t WHERE page_number = 15")
    assert(qf.collect().head.getLong(0) == 10)

    // TIME TRAVEL keeps the lane off (a pinned version's files may
    // since have gained deletion vectors; head stats would skew live
    // counts) — the versioned aggregate scans and stays exact
    val mtf = new ManifestTableFormat(spark, s"$wh/t",
      new ChunkStore(spark, s"$wh/t",
        format = ManifestTableFormat.factory).schema)
    val vBefore = mtf.version - 1 // before the page-5 delete
    val tq = spark.sql(s"SELECT count(*), min(page_number) FROM " +
      s"$cat.t VERSION AS OF $vBefore")
    val tr = tq.collect().head
    assert(tr.getLong(0) == 20 && tr.getInt(1) == 5)
  }

  test("string MIN/MAX from the log: exact-bounds marker serves short " +
      "strings scan-free; truncated bounds fail open, results exact") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/t",
      format = ManifestTableFormat.factory)
    store.append(batch(0 until 10, _ => 0))   // texts t-0..t-9
    store.append(batch(10 until 20, _ => 0))  // texts t-10..t-19
    val q = spark.sql(s"SELECT MIN(chunk_text) AS lo, " +
      s"MAX(chunk_text) AS hi FROM $cat.t")
    val r = q.collect().head
    assert(r.getString(0) == "t-0" && r.getString(1) == "t-9")
    val plan = q.queryExecution.executedPlan.toString
    assert((plan.contains("GraftLogStatsAggScan") ||
      plan.contains("LocalTableScan")) && !plan.contains("BatchScan"),
      s"marked-exact string extrema must be log-answered:\n$plan")

    // supplementary characters order in UTF-8 bytes (Spark's own
    // string order), not UTF-16 code units: U+10000 > U+FFFF
    val (cat2, wh2) = freshCatalog()
    val s2 = new ChunkStore(spark, s"$wh2/t",
      format = ManifestTableFormat.factory)
    val supp = new String(Character.toChars(0x10000))
    s2.append(batch(0 until 2, _ => 0, i => if (i == 0) supp else "￿"))
    val r2 = spark.sql(s"SELECT MIN(chunk_text) AS lo, " +
      s"MAX(chunk_text) AS hi FROM $cat2.t").collect().head
    assert(r2.getString(0) == "￿" && r2.getString(1) == supp,
      s"UTF8 byte order must place U+10000 above U+FFFF, got " +
        s"(${r2.getString(0)}, ${r2.getString(1)})")

    // truncated bounds (a 100-char value) refuse the lane; the scan
    // answers exactly
    val (cat3, wh3) = freshCatalog()
    val s3 = new ChunkStore(spark, s"$wh3/t",
      format = ManifestTableFormat.factory)
    val long = "z" * 100 + "TAIL"
    s3.append(batch(0 until 3, _ => 0,
      i => if (i == 0) long else s"t-$i"))
    val q3 = spark.sql(s"SELECT MIN(chunk_text) AS lo, " +
      s"MAX(chunk_text) AS hi FROM $cat3.t")
    val r3 = q3.collect().head
    assert(r3.getString(0) == "t-1" && r3.getString(1) == long,
      "truncated stats must not leak into the answer")
    assert(q3.queryExecution.executedPlan.toString.contains("BatchScan") ||
      q3.queryExecution.executedPlan.toString.contains("FileScan"),
      "a truncated bound must refuse the string-extremum lane")

    // an all-null string file keeps the lane (contributes nothing);
    // a MIXED-null file keeps it too (bounds are over non-nulls)
    store.append(batch(20 until 25, _ => 0)
      .withColumn("chunk_text", lit(null).cast("string")))
    val r4 = spark.sql(s"SELECT MIN(chunk_text) AS lo, " +
      s"MAX(chunk_text) AS hi, COUNT(chunk_text) AS n FROM $cat.t")
      .collect().head
    assert(r4.getString(0) == "t-0" && r4.getString(1) == "t-9" &&
      r4.getLong(2) == 20)
  }

  test("filtered metadata COUNT: proven files log-count, ONLY the " +
      "boundary file is read, the query plans a LocalRelation") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/t",
      format = ManifestTableFormat.factory)
    // three value-contiguous files: pages 0-9 | 10-19 | 20-29
    store.append(batch(0 until 10, i => i))
    store.append(batch(10 until 20, i => i))
    store.append(batch(20 until 30, i => i))

    ManifestTableFormat.lastMetaCountSplit = null
    val q = spark.sql(s"SELECT count(*) AS n, count(page_number) AS nc " +
      s"FROM $cat.t WHERE page_number < 15")
    val r = q.collect().head
    assert(r.getLong(0) == 15 && r.getLong(1) == 15)
    // the whole answer folded at optimization: no table scan planned
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"),
      s"filtered metadata COUNT must fold to a LocalRelation:\n$plan")
    assert(!plan.contains("BatchScan") && !plan.contains("FileScan"),
      s"filtered metadata COUNT must not scan the table:\n$plan")
    // file split: 0-9 proven all-match, 20-29 proven none, 10-19 is
    // the ONLY boundary file read
    assert(ManifestTableFormat.lastMetaCountSplit == ((2L, 1L)),
      s"expected (2 proven, 1 boundary), got ${
        ManifestTableFormat.lastMetaCountSplit}")

    // zero-boundary case: the cutoff aligns with a file edge
    ManifestTableFormat.lastMetaCountSplit = null
    assert(spark.sql(s"SELECT count(*) FROM $cat.t " +
      "WHERE page_number < 20").collect().head.getLong(0) == 20)
    assert(ManifestTableFormat.lastMetaCountSplit == ((3L, 0L)))

    // conjunction + IS NOT NULL still folds; equality on a
    // single-valued file set proves exactly
    ManifestTableFormat.lastMetaCountSplit = null
    assert(spark.sql(s"SELECT count(*) FROM $cat.t WHERE " +
      "page_number >= 10 AND page_number < 12 AND " +
      "page_number IS NOT NULL").collect().head.getLong(0) == 2)
    assert(ManifestTableFormat.lastMetaCountSplit != null,
      "conjunctive exact probes must keep the lane on")

    // filtered MIN/MAX fold with the counts: proven files contribute
    // their recorded bounds, the boundary file is scanned for its
    // matching extrema — and string extrema ride the v7 marker
    ManifestTableFormat.lastMetaCountSplit = null
    val qm = spark.sql(s"SELECT count(*) AS n, min(page_number) AS lo, " +
      s"max(page_number) AS hi, max(chunk_text) AS ht FROM $cat.t " +
      "WHERE page_number < 15")
    val rm = qm.collect().head
    assert(rm.getLong(0) == 15 && rm.getInt(1) == 0 &&
      rm.getInt(2) == 14 && rm.getString(3) == "t-9",
      s"filtered extrema wrong: $rm")
    val mPlan = qm.queryExecution.executedPlan.toString
    assert(mPlan.contains("LocalTableScan") &&
      !mPlan.contains("BatchScan"),
      s"filtered MIN/MAX must fold with the counts:\n$mPlan")
    assert(ManifestTableFormat.lastMetaCountSplit == ((2L, 1L)))
    // an empty match yields NULL extrema and zero counts, scan-free
    val qe = spark.sql(s"SELECT count(*) AS n, min(page_number) AS lo " +
      s"FROM $cat.t WHERE page_number > 1000")
    val re = qe.collect().head
    assert(re.getLong(0) == 0L && re.isNullAt(1))
    assert(!qe.queryExecution.executedPlan.toString.contains("BatchScan"))

    // fail-open: a string predicate is not exactly probeable — the
    // normal scan answers, exactly
    val qs = spark.sql(s"SELECT count(*) FROM $cat.t " +
      "WHERE chunk_text = 't-3'")
    assert(qs.collect().head.getLong(0) == 1)
    assert(qs.queryExecution.executedPlan.toString
      .contains("LocalTableScan") == false)

    // fail-open under DV: a boundary file carrying a deletion vector
    // refuses the lane (raw reads would count deleted rows); the
    // result stays exact through the scan
    spark.conf.set("spark.graft.deletionVectors", "true")
    try spark.sql(s"DELETE FROM $cat.t WHERE page_number = 12")
    finally spark.conf.unset("spark.graft.deletionVectors")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t " +
      "WHERE page_number < 15").collect().head.getLong(0) == 14)
    // proven-all files with DVs still log-count (live = rows - dv):
    // page < 20 proves files 1+2 all-match; file 2 has the DV
    assert(spark.sql(s"SELECT count(*) FROM $cat.t " +
      "WHERE page_number < 20").collect().head.getLong(0) == 19)
  }

  test("GROUP BY a clustering column folds to log arithmetic: one " +
      "LocalScan of G rows, zero data reads; spanning files fail open") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/t",
      format = ManifestTableFormat.factory)
    // single-valued files: two files of page 5, one each of 15/25
    store.append(batch(0 until 10, _ => 5))
    store.append(batch(10 until 14, _ => 5))
    store.append(batch(14 until 20, _ => 15))
    store.append(batch(20 until 30, _ => 25))
    val q = spark.sql(s"SELECT page_number, count(*) AS n, " +
      s"count(chunk_id) AS nc, min(chunk_id) AS lo, " +
      s"max(chunk_id) AS hi FROM $cat.t GROUP BY page_number " +
      "ORDER BY page_number")
    val rs = q.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4)))
    assert(rs.toSeq == Seq((5, 14L, 14L, 0, 0), (15, 6L, 6L, 0, 0),
      (25, 10L, 10L, 0, 0)), s"got ${rs.toSeq}")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GraftLogStatsAggScan") ||
      plan.contains("LocalTableScan"),
      s"grouped log lane must plan the LocalScan:\n$plan")
    assert(!plan.contains("BatchScan") && !plan.contains("FileScan"),
      s"grouped log aggregate must read NO files:\n$plan")

    // chunk_id is single-valued (0) in every file: the lane also
    // serves a degenerate one-group GROUP BY exactly
    val q2 = spark.sql(s"SELECT chunk_id, count(*) AS n FROM $cat.t " +
      "GROUP BY chunk_id")
    assert(q2.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      == Seq((0, 30L)))
    val plan2 = q2.queryExecution.executedPlan.toString
    assert(!plan2.contains("BatchScan") && !plan2.contains("FileScan"))

    // fail-open: one VALUE-SPANNING file (pages 0..9 in one commit)
    // refuses the lane for page grouping; results exact via the scan
    store.append(batch(30 until 40, i => i - 30))
    val q3 = spark.sql(s"SELECT page_number, count(*) AS n FROM $cat.t " +
      "GROUP BY page_number")
    assert(q3.collect().map(_.getLong(1)).sum == 40)
    assert(q3.queryExecution.executedPlan.toString
      .contains("BatchScan"),
      "value-spanning files must refuse the grouped log lane (scan)")
  }

  test("aggregate pushdown forwards to the parquet delegate when the " +
      "log lane refuses (double extremum: grid not exact)") {
    import spark.implicits._
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT, score DOUBLE) " +
      "TBLPROPERTIES ('format'='manifest')")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 1.5), (2, 7.25), (3, 0.5)")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      val q = spark.sql(s"SELECT min(score), max(score) FROM $cat.t")
      val r = q.collect().head
      assert(r.getDouble(0) == 0.5 && r.getDouble(1) == 7.25)
      assert(q.queryExecution.executedPlan.toString
        .contains("PushedAggregation"),
        "double min/max must fall through to the parquet footers")
    } finally spark.conf.unset("spark.sql.parquet.aggregatePushdown")
  }

  test("NaN in an evolved double column fails open and still matches") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/t",
      format = ManifestTableFormat.factory)
    store.append(batch(0 until 5, _ => 0))
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN score DOUBLE")
    spark.sql(s"UPDATE $cat.t SET score = cast('NaN' as double) " +
      "WHERE document_url = 'doc://0002'")
    spark.sql(s"UPDATE $cat.t SET score = 1.0 " +
      "WHERE document_url = 'doc://0003'")
    // Spark orders NaN above every double: the NaN row MATCHES
    // score > 5.0 and its file's max renders "NaN" → uncastable →
    // fail-open, so the row must survive any pruning
    val q = spark.sql(
      s"SELECT document_url FROM $cat.t WHERE score > 5.0")
    assert(q.collect().map(_.getString(0)).toSeq == Seq("doc://0002"))
  }

  test("skipping keeps working after checkpoint + vacuum (parquet stats)") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/t",
      format = ManifestTableFormat.factory)
    store.append(batch(0 until 10, _ => 5))
    store.append(batch(10 until 20, _ => 15))
    val mtf = new ManifestTableFormat(spark, s"$wh/t", store.schema)
    mtf.checkpoint()
    mtf.vacuum()
    // entries are gone; the stats now live ONLY in the parquet
    // checkpoint and must still drive the prune
    store.append(batch(20 until 30, _ => 25))
    val q = spark.sql(
      s"SELECT document_url FROM $cat.t WHERE page_number < 10")
    assert(q.collect().length == 10)
    assert(plannedFiles(q) == 1,
      "checkpointed stats must prune to the page-5 file")
    val q2 = spark.sql(
      s"SELECT document_url FROM $cat.t WHERE page_number >= 20")
    assert(q2.collect().length == 10 && plannedFiles(q2) == 1)
  }

  test("compactZorder clusters the live set; range predicates then " +
      "prune to a strict file subset through the stats") {
    import spark.implicits._
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/t",
      format = ManifestTableFormat.factory)
    // 4000 rows over a 40x100 grid, appended in INTERLEAVED order so
    // every pre-compaction file spans the whole x-range
    val rows = spark.range(4000).select(
      (col("id") % 100).cast("int").as("chunk_id"),
      concat(lit("t-"), col("id")).as("chunk_text"),
      array(lit(1f)).as("embedding"),
      (col("id") / 100).cast("int").as("page_number"),
      concat(lit("doc://"), col("id")).as("document_url"))
      .repartition(4) // round-robin: files span the full grid
    store.append(rows)
    val mtf = new ManifestTableFormat(spark, s"$wh/t", store.schema)
    // tiny target files so the rewrite produces a multi-file layout
    mtf.compactZorder(Seq("page_number", "chunk_id"),
      targetFileBytes = 16 << 10)
    val all = plannedFiles(spark.sql(s"SELECT * FROM $cat.t"))
    assert(all >= 4, s"compaction produced only $all files")

    val q = spark.sql(s"SELECT document_url FROM $cat.t " +
      "WHERE page_number BETWEEN 3 AND 6 AND chunk_id BETWEEN 10 AND 19")
    val got = q.collect().map(_.getString(0)).sorted.toSeq
    val want = (0 until 4000).filter(i =>
        (i / 100) >= 3 && (i / 100) <= 6 &&
        (i % 100) >= 10 && (i % 100) <= 19)
      .map(i => s"doc://$i").sorted
    assert(got == want && got.nonEmpty)
    assert(plannedFiles(q) < all,
      s"curve locality must prune: planned ${plannedFiles(q)} of $all")

    // the CALL surface drives the same rewrite
    spark.sql(s"CALL $cat.compact_zorder('t', 'page_number, chunk_id')")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect()
      .head.getLong(0) == 4000)
  }

  test("compactWhere bin-packs only the small files the predicate's " +
      "stats overlap; rows unchanged, untouched files stay put") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/t",
      format = ManifestTableFormat.factory)
    // four small fragments in the page<20 region, one in page>=20
    store.append(batch(0 until 5, _ => 5))
    store.append(batch(5 until 10, _ => 6))
    store.append(batch(10 until 15, _ => 7))
    store.append(batch(15 until 20, _ => 8))
    store.append(batch(20 until 30, _ => 25))
    val mtf = new ManifestTableFormat(spark, s"$wh/t", store.schema)
    val before = store.read().inputFiles.toSet
    assert(before.size == 5)

    val n = mtf.compactWhere(col("page_number") < 20)
    assert(n == 4L, s"must rewrite the 4 overlapping fragments, got $n")
    val after = store.read().inputFiles.toSet
    // the page-25 file was untouched (same physical file)
    assert(before.intersect(after).size == 1)
    assert(after.size < before.size, "fragments must bin-pack")
    // compaction is row-invariant
    assert(store.read().count() == 30)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t " +
      "WHERE page_number < 20").collect().head.getLong(0) == 20)

    // nothing left to do in that region: a second sweep is a no-op
    assert(mtf.compactWhere(col("page_number") < 20) == 0L)
    // the CALL surface reports the same
    val r = spark.sql(
      s"CALL $cat.compact_where('t', 'page_number >= 20')")
      .collect().head
    assert(r.getLong(0) == 0L, s"single candidate file, got $r")
  }

  test("compactZorderWhere re-clusters only the predicate's region: " +
      "untouched files stay put, the swept region prunes on the curve") {
    import spark.implicits._
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/t",
      format = ManifestTableFormat.factory)
    // fragmented low region (interleaved appends spanning chunk_id)
    // + one untouched high-page file
    def grid(seed: Int) = spark.range(1000).select(
      (col("id") % 100).cast("int").as("chunk_id"),
      concat(lit(s"t$seed-"), col("id")).as("chunk_text"),
      array(lit(1f)).as("embedding"),
      (col("id") / 100).cast("int").as("page_number"),
      concat(lit(s"doc://$seed/"), col("id")).as("document_url"))
      .repartition(2)
    store.append(grid(1))
    store.append(grid(2))
    store.append(spark.range(100).select(
      (col("id") % 100).cast("int").as("chunk_id"),
      concat(lit("hi-"), col("id")).as("chunk_text"),
      array(lit(1f)).as("embedding"),
      lit(50).cast("int").as("page_number"),
      concat(lit("doc://hi/"), col("id")).as("document_url")))
    val mtf = new ManifestTableFormat(spark, s"$wh/t", store.schema)
    val before = store.read().inputFiles.toSet

    val n = mtf.compactZorderWhere(Seq("page_number", "chunk_id"),
      col("page_number") < 20, targetFileBytes = 16 << 10)
    assert(n == 4L, s"must rewrite the 4 low-region fragments, got $n")
    val after = store.read().inputFiles.toSet
    assert(before.intersect(after).size == before.size - n,
      "every non-candidate (high-page) file must stay physically " +
        s"untouched: ${before.size} before, $n rewritten, " +
        s"${before.intersect(after).size} kept")
    assert(store.read().count() == 2100, "layout op must keep rows")

    // the swept region now prunes on the curve
    val all = plannedFiles(spark.sql(
      s"SELECT * FROM $cat.t WHERE page_number < 20"))
    val q = spark.sql(s"SELECT document_url FROM $cat.t " +
      "WHERE page_number BETWEEN 1 AND 3 AND chunk_id BETWEEN 5 AND 14")
    assert(q.count() == 60) // 3 pages × 10 ids × 2 grids
    assert(plannedFiles(q) < all,
      s"curve locality must prune: ${plannedFiles(q)} of $all")

    // the high region sweeps independently; a re-sweep of the now
    // single-file region is a no-op
    assert(mtf.compactZorderWhere(Seq("page_number"),
      col("page_number") >= 50, targetFileBytes = 16 << 10) == 4L)
    assert(mtf.compactZorderWhere(Seq("page_number"),
      col("page_number") >= 50, targetFileBytes = 16 << 10) == 0L)
    val r = spark.sql(s"CALL $cat.compact_zorder_where(" +
      "'t', 'page_number, chunk_id', 'page_number < 20')")
      .collect().head
    assert(r.getLong(0) >= 2L, s"CALL must sweep the region, got $r")
  }

  test("timestamp columns skip via epoch-micros stats") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/t",
      format = ManifestTableFormat.factory)
    val mtf = new ManifestTableFormat(spark, s"$wh/t", store.schema)
    mtf.addColumn("ts", org.apache.spark.sql.types.TimestampType)
    def tsBatch(ids: Range, day: String) =
      batch(ids, _ => 0).withColumn("ts",
        to_timestamp(concat(lit(s"$day "),
          format_string("%02d:00:00", col("chunk_id") % 24))))
    store.append(tsBatch(0 until 10, "2026-01-01"))
    store.append(tsBatch(10 until 20, "2026-06-15"))
    store.append(tsBatch(20 until 30, "2026-12-31"))

    val q = spark.sql(s"SELECT document_url FROM $cat.t " +
      "WHERE ts >= TIMESTAMP '2026-12-01 00:00:00'")
    assert(q.collect().length == 10)
    assert(plannedFiles(q) == 1, "micros-encoded stats must prune")
    val q2 = spark.sql(s"SELECT document_url FROM $cat.t " +
      "WHERE ts BETWEEN TIMESTAMP '2026-06-01 00:00:00' " +
      "AND TIMESTAMP '2026-07-01 00:00:00'")
    assert(q2.collect().length == 10 && plannedFiles(q2) == 1)
  }

  test("log roundtrip: column stats survive render/parse with hostile text") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/t",
      format = ManifestTableFormat.factory)
    val hostile = "line1\nline2\t\"quoted\\slash\","
    store.append(batch(0 until 3, _ => 7, _ => hostile))
    val q = spark.sql(
      s"SELECT chunk_text FROM $cat.t WHERE page_number = 7")
    assert(q.collect().map(_.getString(0)).toSeq ==
      Seq.fill(3)(hostile))
    // the hostile value as an equality probe (DataFrame API sidesteps
    // SQL literal escaping; the pushed filter is the same)
    val q2 = spark.table(s"$cat.t")
      .filter(col("chunk_text") === hostile)
      .select("document_url")
    assert(q2.collect().length == 3)
  }

  test("LIMIT pushdown: an un-predicated LIMIT plans only the file " +
      "prefix covering it; filters and big limits fail open") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/t",
      format = ManifestTableFormat.factory)
    store.append(batch(0 until 10, _ => 5))
    store.append(batch(10 until 20, _ => 15))
    store.append(batch(20 until 30, _ => 25))

    // LIMIT 7 < one file's 10 rows → exactly 1 file planned
    val q = spark.sql(s"SELECT * FROM $cat.t LIMIT 7")
    assert(q.collect().length == 7)
    assert(plannedFiles(q) == 1,
      "LIMIT 7 over 10-row files must plan exactly 1 file")

    // LIMIT 15 spans two files
    val q2 = spark.sql(s"SELECT document_url FROM $cat.t LIMIT 15")
    assert(q2.collect().length == 15)
    assert(plannedFiles(q2) == 2)

    // LIMIT beyond the table: all files, full result
    val q3 = spark.sql(s"SELECT * FROM $cat.t LIMIT 500")
    assert(q3.collect().length == 30)
    assert(plannedFiles(q3) == 3)

    // a PREDICATED limit must NOT trim by raw row counts (the per-file
    // match count is unknowable) — stats skipping still applies, and
    // the result keeps LIMIT's min(n, matching) contract
    val q4 = spark.sql(
      s"SELECT * FROM $cat.t WHERE page_number >= 20 LIMIT 8")
    assert(q4.collect().length == 8)
    assert(plannedFiles(q4) == 1, "stats skipping (not limit) prunes here")
    val q5 = spark.sql(
      s"SELECT * FROM $cat.t WHERE chunk_id = 0 LIMIT 25")
    assert(q5.collect().length == 25,
      "a filtered LIMIT must still return min(n, matching) rows")

    // deletes shrink the recorded counts: after dropping the first
    // file's rows, LIMIT 7 needs the next file
    store.deleteWhere(col("page_number") === 5)
    val q6 = spark.sql(s"SELECT * FROM $cat.t LIMIT 7")
    assert(q6.collect().length == 7)
    assert(q6.select("page_number").distinct().collect()
      .map(_.getInt(0)).forall(_ != 5))
  }

  test("TopN pushdown: ORDER BY + LIMIT plans only the files whose " +
      "ranges can reach the top-k; exact results both directions") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/t",
      format = ManifestTableFormat.factory)
    // three files with DISJOINT page ranges: [0..9], [10..19], [20..29]
    store.append(batch(0 until 10, i => i))
    store.append(batch(10 until 20, i => i))
    store.append(batch(20 until 30, i => i))

    // ASC LIMIT 5: only the low file can hold the 5 smallest
    val asc = spark.sql(
      s"SELECT page_number FROM $cat.t ORDER BY page_number LIMIT 5")
    assert(asc.collect().map(_.getInt(0)).toSeq == (0 until 5))
    assert(plannedFiles(asc) == 1,
      "ORDER BY ASC LIMIT 5 must plan only the lowest-range file")

    // DESC LIMIT 12 spans the top two files
    val desc = spark.sql(s"SELECT page_number FROM $cat.t " +
      "ORDER BY page_number DESC LIMIT 12")
    assert(desc.collect().map(_.getInt(0)).toSeq ==
      (29 to 18 by -1))
    assert(plannedFiles(desc) == 2,
      "ORDER BY DESC LIMIT 12 must plan the two highest-range files")

    // LIMIT beyond the table: everything planned, full sorted result
    val all = spark.sql(s"SELECT page_number FROM $cat.t " +
      "ORDER BY page_number LIMIT 100")
    assert(all.collect().map(_.getInt(0)).toSeq == (0 until 30))
    assert(plannedFiles(all) == 3)

    // a predicate disables the trim (match counts unknowable) but
    // stats skipping still applies and results stay exact
    val filtered = spark.sql(s"SELECT page_number FROM $cat.t " +
      "WHERE page_number >= 10 ORDER BY page_number LIMIT 5")
    assert(filtered.collect().map(_.getInt(0)).toSeq == (10 until 15))
  }

  test("TopN pushdown with NULLs: NULLS FIRST keeps null-carrying " +
      "files; NULLS LAST drops them when enough non-null rows precede") {
    import spark.implicits._
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/t",
      format = ManifestTableFormat.factory)
    def scored(ids: Range, score: Int => java.lang.Double): DataFrame =
      ids.map(i => (i, s"t-$i", Seq(1f), 0, f"doc://$i%04d",
          score(i): java.lang.Double))
        .toDF("chunk_id", "chunk_text", "embedding", "page_number",
          "document_url", "score").repartition(1)
    // file A: scores 1..10; file B: scores 11..20; file C: all NULL
    spark.sql(s"CREATE TABLE $cat.s (chunk_id INT, chunk_text STRING, " +
      "embedding ARRAY<FLOAT>, page_number INT, document_url STRING, " +
      "score DOUBLE) TBLPROPERTIES ('format'='manifest')")
    val t = s"$wh/s"
    val st2 = new ChunkStore(spark, t, format = ManifestTableFormat.factory)
    st2.append(scored(1 to 10, i => i.toDouble))
    st2.append(scored(11 to 20, i => i.toDouble))
    st2.append(scored(21 to 25, _ => null))
    store.read() // keep first store referenced

    // ASC (NULLS FIRST default): the all-null file MUST stay planned —
    // its rows ARE the top of the ordering
    val nf = spark.sql(
      s"SELECT chunk_id FROM $cat.s ORDER BY score LIMIT 3")
    assert(nf.collect().map(_.getInt(0)).toSet.subsetOf((21 to 25).toSet),
      "NULLS FIRST top-3 must be null-score rows")

    // DESC (NULLS LAST default) LIMIT 5: the top file covers it; both
    // the low file and the all-null file prune away
    val nl = spark.sql(
      s"SELECT chunk_id FROM $cat.s ORDER BY score DESC LIMIT 5")
    assert(nl.collect().map(_.getInt(0)).toSeq == (20 to 16 by -1))
    assert(plannedFiles(nl) == 1,
      "DESC NULLS LAST LIMIT 5 must plan only the top-range file " +
        "(null rows sort last, low file provably after top-5)")
  }

  test("planner stats lanes give the same answers from the log tail " +
      "and from a parquet checkpoint; the tail launches no job") {
    val (cat, wh) = freshCatalog()
    val store = new ChunkStore(spark, s"$wh/t",
      format = ManifestTableFormat.factory)
    store.append(batch(0 until 10, i => i))
    store.append(batch(10 until 20, i => i))
    store.append(batch(20 until 30, i => i))
    val mtf = new ManifestTableFormat(spark, s"$wh/t", store.schema)

    // each lane: (planning jobs, answer); planning is where the lanes
    // consult the stats lookup, and each asserts that its lane fired
    def pass(): Seq[(String, Int, Any)] = {
      def logAnswered(sql: String) = {
        val q = spark.sql(sql)
        val (plan, jobs) = jobsDuring(q.queryExecution.executedPlan.toString)
        assert((plan.contains("GraftLogStatsAggScan") ||
          plan.contains("LocalTableScan")) && !plan.contains("BatchScan"),
          s"$sql must be log-answered:\n$plan")
        (sql, jobs, q.collect().toSeq)
      }
      def trimmed(sql: String, files: Int) = {
        val q = spark.sql(sql)
        val (_, jobs) = jobsDuring(q.queryExecution.executedPlan)
        assert(plannedFiles(q) == files, s"$sql must plan $files file(s)")
        (sql, jobs, q.collect().toSeq)
      }
      val cbo = {
        val q = spark.sql(s"SELECT * FROM $cat.t")
        val (rows, jobs) = jobsDuring {
          val scan = collectWithSubqueries(q.queryExecution.executedPlan) {
            case b: org.apache.spark.sql.execution.datasources.v2
                .BatchScanExec => b.scan
          }.head
          assert(scan.isInstanceOf[org.apache.spark.sql.graftbridge
            .ManifestRuntimeFilterScan])
          scan.asInstanceOf[org.apache.spark.sql.connector.read
            .SupportsReportStatistics].estimateStatistics().numRows()
        }
        assert(rows.isPresent, "the log must answer the CBO's numRows")
        ("numRows", jobs, rows.getAsLong)
      }
      Seq(
        logAnswered(s"SELECT count(*), min(page_number), " +
          s"max(page_number), count(page_number) FROM $cat.t"),
        logAnswered(s"SELECT min(chunk_text), max(chunk_text) FROM $cat.t"),
        trimmed(s"SELECT * FROM $cat.t LIMIT 7", 1),
        trimmed(s"SELECT page_number FROM $cat.t " +
          "ORDER BY page_number DESC LIMIT 12", 2),
        cbo)
    }

    val tail = pass()
    tail.foreach { case (lane, jobs, _) =>
      assert(jobs == 0, s"$lane: the log tail must answer without a " +
        s"Spark job, planning launched $jobs")
    }
    mtf.checkpoint()
    val ckpt = pass()
    ckpt.foreach { case (lane, jobs, _) =>
      assert(jobs > 0, s"$lane: after a checkpoint the lookup reads " +
        "the stats frame")
    }
    assert(tail.map(t => (t._1, t._3)) == ckpt.map(t => (t._1, t._3)))
    assert(tail.last._3 == 30L)
  }
}
