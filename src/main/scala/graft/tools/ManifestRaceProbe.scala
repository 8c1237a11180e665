package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sink.{ChunkStore, ManifestTableFormat}

/** Dev probe (spawned as a SEPARATE JVM by the cross-process race
  * tests): performs `batches` writes of `rows` chunk rows each into
  * the manifest store at `path`, then exits 0. Two of these racing
  * against one log is the real multi-writer scenario the in-process
  * spec can only simulate — every commit must land as its own version
  * or retry loudly; exit code != 0 means a lost/livelocked commit.
  *
  * Modes:
  *  - `api` (default): disjoint-keyed `ChunkStore.upsert` merges —
  *    the store-API race.
  *  - `sql-insert`: `INSERT INTO <catalog>.chunks` through a
  *    registered [[graft.catalog.GraftCatalog]] — the SQL layer on
  *    top of the same commit protocol (`path` is the WAREHOUSE root;
  *    the table is `<path>/chunks`). Appends, so rows accumulate.
  *  - `sql-update`: `batches` × full-table
  *    `UPDATE chunks SET page_number = page_number + 1` — the
  *    copy-on-write conflict path: two writers rewriting overlapping
  *    files must serialize (loser re-runs on the new snapshot), so
  *    every increment applies exactly once.
  *  - `sql-merge-inc`: `batches` × SQL MERGE incrementing
  *    page_number on the `rows` seed urls — UPDATE-vs-MERGE
  *    serializability when raced against `sql-update`.
  *  - `sql-delete`: batch b deletes seed urls
  *    ((b-1)*rows, b*rows] by `DELETE FROM … WHERE document_url IN`
  *    — raced against `compact-loop`, deletes must never resurrect.
  *  - `dv-delete`: batch b runs `DELETE … WHERE page_number =
  *    rows + b - 1` under `spark.graft.deletionVectors=true` (`rows`
  *    doubles as the PAGE OFFSET so two probes can target disjoint
  *    pages of the SAME files) — merge-on-read commits racing another
  *    DV writer or a compaction: the (file, dv) pair conflict check
  *    must serialize them, no vector may be lost.
  *  - `compact-loop`: `batches` × `CALL compact('chunks')` — the
  *    maintenance rewrite racing the other writer's commits.
  *
  * Usage: ManifestRaceProbe <path> <tag> <batches> <rowsPerBatch> [mode]
  */
object ManifestRaceProbe {
  def main(args: Array[String]): Unit = {
    val (path, tag, batchesS, rowsS, mode) = args match {
      case Array(p, t, b, r) => (p, t, b, r, "api")
      case Array(p, t, b, r, m) => (p, t, b, r, m)
    }
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName(s"graft-race-probe-$tag")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      import spark.implicits._
      val batches = batchesS.toInt
      val rows = rowsS.toInt
      def batchDf(b: Int) =
        (1 to rows).map(i =>
          (0, s"$tag-b$b-r$i", Seq(1f), 1, f"doc://$tag/$i%04d"))
          .toDF("chunk_id", "chunk_text", "embedding", "page_number",
            "document_url")
      mode match {
        case "api" =>
          val store = new ChunkStore(spark, path)
          for (b <- 1 to batches) store.upsert(batchDf(b))
        case "sql-insert" =>
          spark.conf.set("spark.sql.catalog.graftrace",
            classOf[graft.catalog.GraftCatalog].getName)
          spark.conf.set("spark.sql.catalog.graftrace.warehouse", path)
          spark.sql(
            "CREATE TABLE IF NOT EXISTS graftrace.chunks (" +
              "chunk_id INT, chunk_text STRING, embedding ARRAY<FLOAT>, " +
              "page_number INT, document_url STRING) " +
              "TBLPROPERTIES('format'='manifest')")
          for (b <- 1 to batches) {
            batchDf(b).createOrReplaceTempView("race_batch")
            spark.sql("INSERT INTO graftrace.chunks " +
              "SELECT * FROM race_batch")
          }
        case "sql-update" | "sql-merge-inc" | "sql-delete" |
            "dv-delete" | "compact-loop" =>
          graft.GraftSession.install(spark) // DML strategies
          spark.conf.set("spark.sql.catalog.graftrace",
            classOf[graft.catalog.GraftCatalog].getName)
          spark.conf.set("spark.sql.catalog.graftrace.warehouse", path)
          def seedUrls(from: Int, to: Int) =
            (from to to).map(i => f"doc://seed/$i%04d")
          mode match {
            case "sql-update" =>
              for (_ <- 1 to batches)
                spark.sql("UPDATE graftrace.chunks " +
                  "SET page_number = page_number + 1")
            case "sql-merge-inc" =>
              seedUrls(1, rows).toDF("document_url")
                .createOrReplaceTempView("merge_src")
              for (_ <- 1 to batches)
                spark.sql("MERGE INTO graftrace.chunks t " +
                  "USING merge_src s " +
                  "ON t.document_url = s.document_url " +
                  "WHEN MATCHED THEN UPDATE SET " +
                  "page_number = t.page_number + 1")
            case "sql-delete" =>
              for (b <- 1 to batches) {
                val urls = seedUrls((b - 1) * rows + 1, b * rows)
                  .map(u => s"'$u'").mkString(", ")
                spark.sql("DELETE FROM graftrace.chunks " +
                  s"WHERE document_url IN ($urls)")
              }
            case "dv-delete" =>
              spark.conf.set("spark.graft.deletionVectors", "true")
              for (b <- 1 to batches)
                spark.sql("DELETE FROM graftrace.chunks " +
                  s"WHERE page_number = ${rows + b - 1}")
            case _ =>
              for (_ <- 1 to batches)
                spark.sql("CALL graftrace.compact('chunks')")
          }
        case other =>
          sys.error(s"unknown ManifestRaceProbe mode '$other'")
      }
    } finally spark.stop()
  }
}
