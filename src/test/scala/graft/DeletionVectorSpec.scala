package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sink.{ChunkStore, ManifestLog, ManifestTableFormat}

/** Protocol v6 DELETION VECTORS — merge-on-read row-level DELETE on
  * the manifest format (the Delta DV / Iceberg position-delete idea):
  * a DELETE commits one position sidecar + metadata instead of
  * rewriting files. The oracle gates (c37s/c37t) pin the relational
  * outcomes; these tests pin the mechanics:
  *
  *  - a DV DELETE leaves every data file IN PLACE (the whole point);
  *  - reads (store, SQL catalog via the V1 fallback, time travel,
  *    CDF, point reads) apply the vectors exactly;
  *  - a second DELETE unions positions; a fully-covered file rm's;
  *  - rewrites (compact, UPDATE, upsert) never resurrect deleted rows
  *    and MATERIALIZE the vectors; CALL rewrite_dvs purges on demand;
  *  - the metadata-only lane rm's provably-all-matching files with no
  *    read OR write of data;
  *  - vacuum keeps live DV objects, reclaims superseded ones;
  *  - RESTORE resets DV drift; a concurrent DV commit is a file-level
  *    conflict (pair-compared), not a silent lost update.
  */
class DeletionVectorSpec extends SparkSpec {

  private def freshPath(): String =
    Files.createTempDirectory("graft-dv").toString + "/t"

  /** 40 docs, page_number = doc % 10, one commit → a handful of
    * files each holding a mix of pages.
    */
  private def rows(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => (0, s"text-$i", Seq(1f), i % 10, f"doc://$i%04d"))
      .toDF("chunk_id", "chunk_text", "embedding", "page_number",
        "document_url")
  }

  private def mtfOf(path: String): ManifestTableFormat = {
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    new ManifestTableFormat(spark, path, store.schema)
  }

  private def urls(df: DataFrame): Set[String] =
    df.select("document_url").collect().map(_.getString(0)).toSet

  test("DV delete: data files stay put, reads apply the vector, " +
      "a second delete unions, tableStats subtracts") {
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    store.append(rows(0 until 40))
    val mtf = mtfOf(path)
    val filesBefore = mtf.liveFiles.toSet

    val (rm1, dv1) = mtf.deleteWhereDv(col("page_number") === 3)
    assert(rm1 == 0, s"no file holds only page 3 — expected 0 rm, got $rm1")
    assert(dv1 > 0)
    assert(mtf.liveFiles.toSet == filesBefore,
      "a DV delete must not add or remove data files")
    assert(urls(store.read()) ==
      (0 until 40).filter(_ % 10 != 3).map(i => f"doc://$i%04d").toSet)

    // second delete: positions union into a fresh vector
    val (rm2, dv2) = mtf.deleteWhereDv(col("page_number") === 4)
    assert(rm2 == 0 && dv2 > 0)
    assert(mtf.liveFiles.toSet == filesBefore)
    assert(urls(store.read()) ==
      (0 until 40).filterNot(i => i % 10 == 3 || i % 10 == 4)
        .map(i => f"doc://$i%04d").toSet)

    // metadata-only row accounting: live rows from the log alone
    val (_, _, liveRows, _) = mtf.tableStats()
    assert(liveRows == 32, s"tableStats rows: expected 32, got $liveRows")

    // re-running the same delete is a no-op commit-wise
    val v = mtf.version
    assert(mtf.deleteWhereDv(col("page_number") === 4) == ((0L, 0L)))
    assert(mtf.version == v, "an all-covered re-delete must not commit")
  }

  test("SQL reads of a DV snapshot (catalog + path source) are exact; " +
      "conf routes SQL DELETE to the DV path") {
    val wh = Files.createTempDirectory("graft-dvsql").toString
    val store = new ChunkStore(spark, s"$wh/t",
      format = ManifestTableFormat.factory)
    store.append(rows(0 until 40))
    val mtf = mtfOf(s"$wh/t")
    val before = mtf.liveFiles.toSet

    val cat = "dvcat1"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.conf.set("spark.graft.deletionVectors", "true")
    try spark.sql(s"DELETE FROM $cat.t WHERE page_number = 7")
    finally spark.conf.unset("spark.graft.deletionVectors")
    assert(mtf.liveFiles.toSet == before,
      "SQL DELETE under the conf must take the DV path (files in place)")

    // catalog scan (V1 fallback): full read + filtered read
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0)
      == 36)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t WHERE page_number = 7")
      .head().getLong(0) == 0)
    assert(spark.sql(s"SELECT chunk_text FROM $cat.t " +
      "WHERE document_url = 'doc://0011'").head().getString(0)
      == "text-11")
    // path-based source sees the same
    assert(spark.read.format("graft").load(s"$wh/t").count() == 36)
    // point read prunes through blooms and still applies the vector
    assert(urls(store.readDocuments(Seq("doc://0007", "doc://0008")))
      == Set("doc://0008"))
  }

  test("metadata COUNT(*) on a held DV handle is pinned at resolution: " +
      "a concurrent DV delete cannot skew it against collect()") {
    val wh = Files.createTempDirectory("graft-dvpin").toString
    val store = new ChunkStore(spark, s"$wh/t",
      format = ManifestTableFormat.factory)
    store.append(rows(0 until 40))
    val cat = "dvpincat"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.conf.set("spark.graft.deletionVectors", "true")
    try {
      spark.sql(s"DELETE FROM $cat.t WHERE page_number = 7") // 36 live
      // resolve a handle NOW — its files + DV pairs pin here
      val held = spark.table(s"$cat.t")
      // concurrent DV delete lands between resolution and execution
      spark.sql(s"DELETE FROM $cat.t WHERE page_number = 3") // 32 live
      // the held handle's metadata count must agree with its own
      // collect() (the resolution-time snapshot), not the new head
      assert(held.count() == held.collect().length.toLong)
      assert(held.count() == 36,
        "held DV handle must count its pinned snapshot, not HEAD")
      // a fresh handle sees the head
      assert(spark.table(s"$cat.t").count() == 32)
    } finally spark.conf.unset("spark.graft.deletionVectors")
  }

  test("document-keyed DV delete: the A20 delete shape goes " +
      "merge-on-read under the conf (bloom candidates, position " +
      "tombstones, no rewrite) — including the SQL url fast lane") {
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    store.append(rows(0 until 40))
    val mtf = mtfOf(path)
    val before = mtf.liveFiles.toSet

    import spark.implicits._
    val (rm, dvd) = mtf.deleteDocumentsDv(
      Seq("doc://0003", "doc://0017", "doc://absent").toDF("document_url"))
    assert(rm == 0 && dvd > 0)
    assert(mtf.liveFiles.toSet == before,
      "a document-keyed DV delete must not rewrite files")
    assert(urls(store.read()) ==
      (0 until 40).filterNot(i => i == 3 || i == 17)
        .map(i => f"doc://$i%04d").toSet)

    // SQL `DELETE WHERE document_url = …` (the SupportsDelete fast
    // lane) routes merge-on-read under the conf too
    val wh = path.stripSuffix("/t")
    val cat = "dvdoccat"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.conf.set("spark.graft.deletionVectors", "true")
    try spark.sql(
      s"DELETE FROM $cat.t WHERE document_url = 'doc://0021'")
    finally spark.conf.unset("spark.graft.deletionVectors")
    assert(mtfOf(path).liveFiles.toSet == before)
    assert(store.read().count() == 37)
    assert(store.readDocuments(Seq("doc://0021")).isEmpty)

    // dv_stats: the merge-on-read debt gauge
    val gauge = spark.sql(s"CALL $cat.dv_stats('t')").head()
    assert(gauge.getLong(0) > 0 && gauge.getLong(1) == 3L &&
      gauge.getLong(2) == 37L, s"dv_stats: $gauge")
    spark.sql(s"CALL $cat.rewrite_dvs('t')")
    val purged = spark.sql(s"CALL $cat.dv_stats('t')").head()
    assert(purged.getLong(0) == 0L && purged.getLong(1) == 0L &&
      purged.getLong(2) == 37L)
  }

  test("metadata-only lane: a provably-all-matching file rm's with " +
      "no data read or write (CoW and DV modes)") {
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    // three commits land disjoint page decades in disjoint file sets
    def decade(base: Int) = {
      import spark.implicits._
      (0 until 12).map(i =>
        (0, s"t-$base-$i", Seq(1f), base + i % 10, f"doc://$base%03d-$i%04d"))
        .toDF("chunk_id", "chunk_text", "embedding", "page_number",
          "document_url")
    }
    store.append(decade(10)); store.append(decade(30)); store.append(decade(50))
    val mtf = mtfOf(path)
    val before = mtf.liveFiles.toSet

    // page_number < 25 covers EXACTLY the first decade's files: stats
    // prove the full match — the commit must be rm-only (no new data
    // files, no DV objects)
    mtf.deleteWhere(col("page_number") < 25)
    val after = mtf.liveFiles.toSet
    assert(after.subsetOf(before),
      s"metadata-only delete must write nothing: new files ${after -- before}")
    assert(before.size - after.size > 0, "whole files must have been rm'd")
    assert(store.read().filter(col("page_number") < 25).isEmpty)
    assert(store.read().count() == 24)
    // READ-SIDE PIN: "writes nothing" above can't distinguish the
    // metadata lane from a CoW delete of fully-matching files (both
    // write zero files). The lane counter can: > 0 means those files
    // were excluded from the pre-scan AND the rewrite — rm'd from
    // stats proof alone. The round-11 Bridge regression silently
    // zeroed exactly this (extractExact saw an opaque wrapper), and
    // every result-level assertion stayed green; this counter is the
    // assertion that would have gone red.
    assert(mtf.lastMetadataOnlyFiles > 0,
      "Column-predicate delete took the scan lane on a provably-all-" +
        "matching decade — the metadata-only lane is dead (extractExact " +
        "returned None/empty on an exact-probe predicate)")

    // same lane inside the DV path
    val (rm, dvd) = mtf.deleteWhereDv(col("page_number") >= 45)
    assert(rm > 0 && dvd == 0,
      s"expected rm-only on a fully-covered decade, got ($rm, $dvd)")
    assert(mtf.lastMetadataOnlyFiles > 0,
      "DV delete's metadata-only lane is dead: the rm came from the " +
        "vector-covers-all check (which READS the files), not stats proof")
    assert(urls(store.read()) ==
      (0 until 12).map(i => f"doc://${30}%03d-$i%04d").toSet)
  }

  test("rewrites materialize vectors: compact + rewrite_dvs purge, " +
      "UPDATE/upsert never resurrect") {
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    store.append(rows(0 until 40))
    val mtf = mtfOf(path)
    mtf.deleteWhereDv(col("page_number") === 3)
    assert(mtf.liveFilesWithDv.exists(_._2.isDefined))

    // UPDATE touches every file (full-table) — the rewrite must apply
    // the vector, not resurrect page 3
    store.update(None, Seq("chunk_text" -> concat(col("chunk_text"), lit("!"))))
    assert(store.read().filter(col("page_number") === 3).isEmpty)
    assert(store.read().filter(!col("chunk_text").endsWith("!")).isEmpty)
    assert(!mtfOf(path).liveFilesWithDv.exists(_._2.isDefined),
      "a full rewrite must drop every DV reference")

    // fresh vector, then CALL rewrite_dvs purges it
    mtf.deleteWhereDv(col("page_number") === 5)
    assert(mtf.liveFilesWithDv.exists(_._2.isDefined))
    val purged = mtf.rewriteDvs()
    assert(purged > 0)
    assert(!mtf.liveFilesWithDv.exists(_._2.isDefined))
    assert(urls(store.read()) ==
      (0 until 40).filterNot(i => i % 10 == 3 || i % 10 == 5)
        .map(i => f"doc://$i%04d").toSet)

    // upsert (keyed merge) over a DV'd file
    mtf.deleteWhereDv(col("page_number") === 6)
    store.upsert(rows(0 until 1)) // rewrites doc 0's file copy-on-write
    assert(store.read().filter(col("page_number") === 6).isEmpty)
  }

  test("MERGE-ON-READ UPDATE: old files stay, matched rows tombstone " +
      "+ re-append updated, deleted rows never update back to life") {
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    store.append(rows(0 until 40))
    val mtf = mtfOf(path)
    val before = mtf.liveFiles.toSet

    // DV-delete page 3 first: the update below must not resurrect it
    mtf.deleteWhereDv(col("page_number") === 3)

    val (dvd, updated) = mtf.updateDv(
      Some(col("page_number") === 5),
      Seq("chunk_text" -> concat(col("chunk_text"), lit("+u"))))
    assert(dvd > 0 && updated == 4, s"got ($dvd, $updated)")
    assert(before.subsetOf(mtf.liveFiles.toSet),
      "MoR UPDATE must keep every original data file in place")

    val now = store.read()
    assert(now.count() == 36) // page 3 still deleted
    assert(urls(now.filter(col("chunk_text").endsWith("+u"))) ==
      (0 until 40).filter(_ % 10 == 5).map(i => f"doc://$i%04d").toSet)
    assert(now.filter(col("page_number") === 3).isEmpty)
    // non-matched rows byte-identical
    assert(now.filter(col("page_number") === 6 &&
      !col("chunk_text").startsWith("text-")).isEmpty)

    // SQL UPDATE routes to MoR under the conf; second update unions
    // tombstones over the already-vectored files
    val wh = path.stripSuffix("/t")
    val cat = "dvupcat"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.conf.set("spark.graft.deletionVectors", "true")
    try spark.sql(
      s"UPDATE $cat.t SET page_number = 77 WHERE page_number = 7")
    finally spark.conf.unset("spark.graft.deletionVectors")
    assert(before.subsetOf(mtfOf(path).liveFiles.toSet))
    val after = store.read()
    assert(after.count() == 36)
    assert(after.filter(col("page_number") === 7).isEmpty)
    assert(after.filter(col("page_number") === 77).count() == 4)

    // an update matching nothing commits nothing
    val v = mtfOf(path).version
    assert(mtf.updateDv(Some(col("page_number") === 999),
      Seq("chunk_text" -> lit("x"))) == ((0L, 0L)))
    assert(mtfOf(path).version == v)

    // CDF across the MoR update commit: updated rows as delete+insert
    val delta = mtf.changesBetween(v - 1, v)
    assert(urls(delta.filter(col("_change_type") === "delete")) ==
      urls(delta.filter(col("_change_type") === "insert")))
    assert(delta.filter(col("_change_type") === "insert" &&
      col("page_number") =!= 77).isEmpty)
  }

  test("time travel, CDF, checkpoint and RESTORE are DV-exact") {
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    store.append(rows(0 until 40))
    val mtf = mtfOf(path)
    val v0 = mtf.version
    mtf.deleteWhereDv(col("page_number") === 3)
    val v1 = mtf.version
    assert(v1 == v0 + 1)

    // time travel: each version under its own vector state
    assert(mtf.readVersion(v0).count() == 40)
    assert(mtf.readVersion(v1).count() == 36)

    // CDF across the DV-only commit: 4 deletes, 0 inserts
    val delta = mtf.changesBetween(v0, v1)
    assert(delta.filter(col("_change_type") === "insert").isEmpty)
    assert(urls(delta.filter(col("_change_type") === "delete")) ==
      (0 until 40).filter(_ % 10 == 3).map(i => f"doc://$i%04d").toSet)

    // checkpoint round-trips the DV columns
    mtf.checkpoint()
    val fresh = mtfOf(path)
    assert(fresh.liveFilesWithDv.exists(_._2.isDefined))
    assert(urls(store.read()) ==
      (0 until 40).filter(_ % 10 != 3).map(i => f"doc://$i%04d").toSet)

    // RESTORE to v0 resets the vector drift (same names, old pairs)
    fresh.restore(v0)
    assert(store.read().count() == 40)
    // and forward again to the DV'd state
    fresh.restore(v1)
    assert(store.read().count() == 36)
  }

  test("a concurrent DV delete is a file-level conflict for a racing " +
      "rewrite — pair-compared, never a lost update") {
    val path = freshPath()
    val seed = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    seed.append(rows(0 until 40))
    var raced = false
    val store: ChunkStore = new ChunkStore(spark, path,
      format = s => new ManifestTableFormat(s.spark, s.path, s.schema) {
        override protected def beforeCommit(): Unit =
          if (!raced) {
            raced = true
            // in OUR race window a DV delete lands on the files our
            // staged compact read raw — the names all survive, only
            // the (file, dv) pairs changed
            mtfOf(path).deleteWhereDv(col("page_number") === 9)
          }
      })
    store.compact() // reads every live file, then loses the pair check
    assert(raced)
    assert(store.read().filter(col("page_number") === 9).isEmpty,
      "the racing DV delete must survive the compaction (re-run, not " +
        "lost update)")
    assert(store.read().count() == 36)
  }

  test("a DV update racing a DV delete on the same files re-runs: " +
      "both effects land and no deleted row comes back") {
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    store.append(rows(0 until 40))
    var raced = false
    val mtf = new ManifestTableFormat(spark, path, store.schema) {
      override protected def beforeCommit(): Unit =
        if (!raced) {
          raced = true
          // page 3 dies on the files whose OLD vectors the staged
          // update read
          mtfOf(path).deleteWhereDv(col("page_number") === 3)
        }
    }
    val (_, updated) = mtf.updateDv(
      Some(col("page_number") === 3 || col("page_number") === 5),
      Seq("chunk_text" -> concat(col("chunk_text"), lit("+u"))))
    assert(raced)
    // the re-run found only page 5 left to update
    assert(updated == 4L, s"updated $updated rows")
    val now = store.read()
    assert(now.count() == 36)
    assert(now.filter(col("page_number") === 3).isEmpty,
      "a row the racing delete removed came back as an updated copy")
    assert(urls(now.filter(col("chunk_text").endsWith("+u"))) ==
      (0 until 40).filter(_ % 10 == 5).map(i => f"doc://$i%04d").toSet)
  }

  private def launchProbe(wh: String, tag: String, batches: Int,
      rowsArg: Int, mode: String): (Process, java.io.File) = {
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val cp = sys.props("java.class.path")
    val log = java.io.File.createTempFile(s"dvrace-$tag", ".log")
    val pb = new ProcessBuilder(javaBin, "-cp", cp, "-Xmx2g",
      "graft.tools.ManifestRaceProbe", wh, tag, batches.toString,
      rowsArg.toString, mode)
    pb.redirectErrorStream(true)
    pb.redirectOutput(log)
    (pb.start(), log)
  }

  private def probeTail(f: java.io.File): String = {
    val s = scala.io.Source.fromFile(f)
    try s.getLines().toSeq.takeRight(25).mkString("\n") finally s.close()
  }

  private def awaitProbes(ps: Seq[(Process, java.io.File)]): Unit = {
    ps.foreach { case (p, _) =>
      assert(p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS),
        "probe JVM did not finish") }
    ps.foreach { case (p, l) =>
      assert(p.exitValue() == 0, s"probe failed:\n${probeTail(l)}") }
  }

  test("two JVMs: concurrent DV deletes on the SAME files — the " +
      "(file, dv) pair conflict serializes them, no vector is lost") {
    // every seeded file holds all ten pages, so both processes'
    // vectors target every file: each commit must observe the other's
    // latest vector (carry its positions forward) or re-run — a lost
    // update resurrects a page
    val wh = Files.createTempDirectory("graft-dvrace1").toString
    new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory).append(rows(0 until 80))
    awaitProbes(Seq(
      launchProbe(wh, "da", 3, 0, "dv-delete"),   // pages 0, 1, 2
      launchProbe(wh, "db", 3, 3, "dv-delete")))  // pages 3, 4, 5
    val read = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory).read()
    assert(read.count() == 32, // 80 − 6 pages × 8 rows
      s"lost/doubled vectors: ${read.count()} rows survive")
    assert(read.filter(col("page_number") < 6).isEmpty,
      "a racing DV delete was lost (deleted page resurrected)")
  }

  test("two JVMs: DV deletes racing compaction — a rewrite that read " +
      "stale vectors must re-run, deletes never resurrect") {
    val wh = Files.createTempDirectory("graft-dvrace2").toString
    val store = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory)
    // several commits → several files for the compactor to bin
    store.append(rows(0 until 30))
    store.append(rows(30 until 60))
    store.append(rows(60 until 80))
    awaitProbes(Seq(
      launchProbe(wh, "dc", 3, 0, "dv-delete"),   // pages 0, 1, 2
      launchProbe(wh, "cc", 3, 25, "compact-loop")))
    val read = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory).read()
    assert(read.count() == 56, s"expected 56 rows, got ${read.count()}")
    assert(read.filter(col("page_number") < 3).isEmpty,
      "compaction resurrected DV-deleted rows")
  }

  test("vacuum keeps live DV objects and reclaims superseded ones; " +
      "clone shares them by reference") {
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    store.append(rows(0 until 40))
    val mtf = mtfOf(path)
    mtf.deleteWhereDv(col("page_number") === 3)
    val dv1 = mtf.liveFilesWithDv.flatMap(_._2).map(_.path).distinct
    mtf.deleteWhereDv(col("page_number") === 4) // supersedes dv1
    val dv2 = mtf.liveFilesWithDv.flatMap(_._2).map(_.path).distinct
    assert(dv1 != dv2)

    mtf.checkpoint()
    mtf.vacuum()
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(dv2.forall(p => fs.exists(new Path(p))),
      "vacuum reclaimed a LIVE deletion vector")
    assert(dv1.forall(p => !fs.exists(new Path(p))),
      "vacuum kept a superseded deletion vector")
    assert(store.read().count() == 32)

    // shallow clone: the fork reads the shared vectors by reference
    val dest = path + "2"
    ManifestLog.cloneLog(spark, path, dest)
    val cloneStore = new ChunkStore(spark, dest,
      format = ManifestTableFormat.factory)
    assert(cloneStore.read().count() == 32)
    assert(urls(cloneStore.read()) == urls(store.read()))
  }
}
