package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sink.{ChunkStore, ManifestTableFormat}

/** Path-based `format("graft")`: catalog-free reads (head + time
  * travel, stats file skipping wired) and writes (append, atomic
  * overwrite) on a manifest table.
  */
class GraftDataSourceSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  private def chunkRows(ids: Range, tag: String, page: Int): DataFrame = {
    import spark.implicits._
    ids.map(i => (0, s"$tag$i", Seq(1f), page, f"doc://$i%04d"))
      .toDF("chunk_id", "chunk_text", "embedding", "page_number",
        "document_url").repartition(1)
  }

  private def plannedFiles(q: DataFrame): Int = {
    q.collect()
    collectWithSubqueries(q.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b
    }.head.scan match {
      case s => org.apache.spark.sql.graftbridge.Scans.fileScan(s)
        .fileIndex.inputFiles.length
    }
  }

  test("head + time-travel reads; stats skipping prunes pushed ranges") {
    val path = Files.createTempDirectory("graft-ds").toString + "/t"
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    store.append(chunkRows(0 until 10, "a-", 5))   // version 0
    store.append(chunkRows(10 until 20, "b-", 15)) // version 1

    val head = spark.read.format("graft").load(path)
    assert(head.count() == 20)
    assert(spark.read.format("graft").option("versionAsOf", "0")
      .load(path).count() == 10)
    val mtf = new ManifestTableFormat(spark, path, store.schema)
    val ts = System.currentTimeMillis()
    assert(spark.read.format("graft").option("timestampAsOf", ts.toString)
      .load(path).count() == 20)

    val q = spark.read.format("graft").load(path)
      .filter(col("page_number") >= 10).select("document_url")
    assert(q.collect().length == 10)
    assert(plannedFiles(q) == 1, "stats skipping must plan 1 of 2 files")

    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("versionAsOf", "0")
        .option("timestampAsOf", ts.toString).load(path).collect()
    }
  }

  test("writes: mode append is the log-committed A18; mode overwrite " +
      "is the atomic replace; time-travel handles refuse writes") {
    val path = Files.createTempDirectory("graft-dsw").toString + "/t"
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    store.append(chunkRows(0 until 5, "seed-", 1))

    chunkRows(5 until 8, "app-", 2).write.format("graft")
      .mode("append").save(path)
    assert(store.read().count() == 8)

    chunkRows(100 until 102, "ow-", 3).write.format("graft")
      .mode("overwrite").save(path)
    assert(store.read().count() == 2)
    // the pre-overwrite state survives as history
    assert(spark.read.format("graft").option("versionAsOf", "1")
      .load(path).count() == 8)

    intercept[Exception] {
      chunkRows(0 until 1, "x-", 0).write.format("graft")
        .mode("append").option("versionAsOf", "0").save(path)
    }
  }

  test("non-manifest paths refuse with the parquet pointer") {
    val dir = Files.createTempDirectory("graft-dsp").toString + "/plain"
    chunkRows(0 until 3, "p-", 0).repartition(1).write.parquet(dir)
    val e = intercept[Exception] {
      spark.read.format("graft").load(dir).collect()
    }
    assert(e.getMessage.contains("manifest"), e.getMessage)
  }
}
