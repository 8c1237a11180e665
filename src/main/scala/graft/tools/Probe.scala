package graft.tools

import org.apache.spark.sql.functions._
import graft.{GraftSession, SparkEntry, Tables}

/** Scratch probe main (verification harness, not part of the API). */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.getOrCreate("local[8]")
    spark.sparkContext.setLogLevel("WARN")

    println("== entry() smoke ==")
    val e = SparkEntry.entry(spark)
    println("entry rows: " + e.count())
    e.show(5, truncate = false)

    println("== SQL registration path ==")
    Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .createOrReplaceTempView("embeddings")
    spark.sql(
      """SELECT vec_id, round(cosine_distance(embedding, embedding), 6) d,
        |       round(vector_norm(embedding), 6) n
        |FROM embeddings ORDER BY vec_id LIMIT 3""".stripMargin)
      .show(truncate = false)

    println("== dimension mismatch probe ==")
    try {
      spark.sql(
        """SELECT cosine_distance(embedding, slice(embedding, 1, 8))
          |FROM embeddings LIMIT 1""".stripMargin).collect()
      println("NO ERROR (unexpected)")
    } catch {
      case ex: Throwable =>
        println("error class: " + ex.getClass.getSimpleName)
        val root = Option(ex.getCause).getOrElse(ex)
        println("msg: " + root.getMessage.linesIterator.take(2).mkString(" | "))
    }

    println("== null safety probe ==")
    spark.sql(
      """SELECT cosine_distance(CAST(NULL AS ARRAY<FLOAT>), embedding) d
        |FROM embeddings LIMIT 1""".stripMargin).show()

    println("== physical plan of top-k ==")
    SparkEntry.all("b2_vector_topk").fn(spark, "/root/testdata/sf0.001")
      .explain("formatted")

    println("== round-7 kernels through SQL ==")
    Tables(spark, "/root/testdata/sf0.001", "documents")
      .createOrReplaceTempView("documents")
    spark.sql(
      """SELECT doc_id,
        |       size(bpe_encode(text, '')) n_raw,
        |       round(cosine_distance(bow_embed(text, 16),
        |                             bow_embed(text, 16)), 6) self_d
        |FROM documents ORDER BY doc_id LIMIT 3""".stripMargin)
      .show(truncate = false)

    println("== graft-cdf streaming source smoke ==")
    locally {
      import graft.sink.{ChunkStore, ManifestTableFormat}
      import spark.implicits._
      val dir = java.nio.file.Files
        .createTempDirectory("graft-probe-cdf").toString + "/t"
      new ChunkStore(spark, dir)
        .upsert(Seq((0, "probe", Seq(1f, 2f), 1, "doc://p"))
          .toDF("chunk_id", "chunk_text", "embedding", "page_number",
            "document_url"))
      val q = spark.readStream.format("graft-cdf").option("path", dir)
        .load()
        .writeStream.format("memory").queryName("probe_cdf")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      println("cdf rows: " + spark.table("probe_cdf").count())
    }

    println("== manifest data skipping + maintenance smoke ==")
    locally {
      import graft.sink.{ChunkStore, ManifestTableFormat}
      import spark.implicits._
      val wh = java.nio.file.Files
        .createTempDirectory("graft-probe-skip").toString
      val store = new ChunkStore(spark, s"$wh/t")
      def batch(ids: Range, page: Int) =
        ids.map(i => (0, s"t-$i", Seq(1f), page, f"doc://$i%04d"))
          .toDF("chunk_id", "chunk_text", "embedding", "page_number",
            "document_url").repartition(1)
      store.append(batch(0 until 50, 5))
      store.append(batch(50 until 100, 15))
      store.append(batch(100 until 150, 25))
      spark.conf.set("spark.sql.catalog.probecat",
        classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.probecat.warehouse", wh)
      val q = spark.sql("SELECT document_url FROM probecat.t " +
        "WHERE page_number >= 20")
      println("skip rows: " + q.count())
      // the planned file subset (explicit-file-list scan: accurate)
      println("planned files: " + q.queryExecution.executedPlan
        .collectFirst {
          case b: org.apache.spark.sql.execution.datasources.v2
              .BatchScanExec =>
            org.apache.spark.sql.graftbridge.Scans.fileScan(b.scan)
              .fileIndex.inputFiles.length
        }.getOrElse(-1) + " of 3")
      val mtf = new ManifestTableFormat(spark, s"$wh/t", store.schema)
      mtf.compactZorder(Seq("page_number"))
      val (v, nf, nr, nb) = mtf.tableStats()
      println(s"table_stats after zorder: v=$v files=$nf rows=$nr " +
        s"bytes>0=${nb > 0}")
      val ok = mtf.appendStream(batch(150 until 151, 30), "probe", 0L)
      val replay = mtf.appendStream(batch(150 until 151, 30), "probe", 0L)
      println(s"appendStream first=$ok replay=$replay")
    }

    spark.stop()
  }
}
