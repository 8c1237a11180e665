package graft.tools

import org.apache.spark.sql.functions._

import graft.sink.{ChunkStore, ManifestTableFormat}

/** Decomposes the DV read tax: same aggregate over the same files as
  * (a) a plain parquet scan, (b) + `_metadata.row_index`
  * materialized, (c) + the broadcast anti-join against the position
  * sidecar (the full DV'd branch). Prints one JSON line with the
  * three times — separating the row-index materialization cost (the
  * parquet reader gives up page-level skipping and materializes a
  * position per row) from the join itself.
  */
object DvTaxProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val rep = sys.env.getOrElse("SPARK_GRAFT_DVBENCH_REP", "400").toInt
    val spark = graft.GraftSession.install(graft.GraftSession
      .builder(master = s"local[$cpus]", shufflePartitions = cpus)
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    val wh = java.nio.file.Files
      .createTempDirectory("graft-dvprobe").toString
    val tbl = s"$wh/t"
    val store = new ChunkStore(spark, tbl)
    val docs = graft.Tables(spark, sfDir, "documents")
      .crossJoin(spark.range(rep).select(col("id").cast("int").as("r")))
    (0 until 8).foreach { k =>
      store.append(docs.filter((col("doc_id") * rep + col("r")) % 8 === k)
        .select(
          (col("doc_id") * rep + col("r")).cast("int").as("chunk_id"),
          col("text").as("chunk_text"),
          array(lit(1f)).as("embedding"),
          (col("doc_id") % 10).cast("int").as("page_number"),
          concat(lit("doc://"), col("doc_id")).as("document_url")))
    }
    val mtf = new ManifestTableFormat(spark, tbl, store.schema)
    mtf.deleteWhereDv(col("chunk_id") % 97 === 0)
    val files = mtf.liveFilesWithDv.map(_._1)
    val dvPaths = mtf.liveFilesWithDv.flatMap(_._2.map(_.path)).distinct

    def time(df: => org.apache.spark.sql.DataFrame): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once(); (0 until 3).map(_ => once()).min
    }

    def agg(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("page_number") =!= 3)
      .groupBy("page_number")
      .agg(count(lit(1)).as("n"), sum(length(col("chunk_text"))).as("b"))

    val plain = time(agg(spark.read.parquet(files: _*)))
    val withPos = time(agg(spark.read.parquet(files: _*)
      .select(col("_metadata.file_name").as("__name"),
        col("_metadata.row_index").as("__pos"),
        col("page_number"), col("chunk_text"))))
    val deleted = spark.read.parquet(dvPaths: _*).select("__name", "__pos")
    val joined = time(agg(spark.read.parquet(files: _*)
      .select(col("_metadata.file_name").as("__name"),
        col("_metadata.row_index").as("__pos"),
        col("page_number"), col("chunk_text"))
      .join(broadcast(deleted), Seq("__name", "__pos"), "left_anti")))

    // the catalog path (what DvReadBench measures), split into
    // PLANNING (optimizer + DvColumnarRead substitution + parquet
    // relation build) and EXECUTION (the noop write)
    spark.conf.set("spark.sql.catalog.dvprobe",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.dvprobe.warehouse", wh)
    val q = "SELECT page_number, count(*) AS n, " +
      "sum(length(chunk_text)) AS b FROM dvprobe.t " +
      "WHERE page_number <> 3 GROUP BY page_number"
    def catSplit(): (Double, Double) = {
      val t0 = System.nanoTime()
      val df = spark.sql(q)
      df.queryExecution.executedPlan // force planning
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }
    // interleave catalog runs with the hand-built query so JVM/GC/page
    // -cache drift cannot masquerade as a plan difference
    def handOnce(): Double = {
      val df = agg(spark.read.parquet(files: _*)
        .select(col("_metadata.file_name").as("__name"),
          col("_metadata.row_index").as("__pos"),
          col("page_number"), col("chunk_text"))
        .join(broadcast(deleted), Seq("__name", "__pos"), "left_anti"))
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // hand query but with the deleted side built EXACTLY like
    // readDvdFiles (sidecar semi-join against the (name, dv) refs) —
    // isolates whether the build-side chain is the catalog's extra cost
    val refs2 = {
      import spark.implicits._
      mtf.liveFilesWithDv.collect { case (f, Some(d)) =>
        (f.substring(f.lastIndexOf('/') + 1),
          d.path.substring(d.path.lastIndexOf('/') + 1))
      }.toDF("__name", "__dv")
    }
    val deletedChain = spark.read.parquet(dvPaths: _*)
      .withColumn("__dv", col("_metadata.file_name"))
      .join(broadcast(refs2), Seq("__name", "__dv"), "left_semi")
      .select("__name", "__pos")
    def handChainOnce(): Double = {
      val df = agg(spark.read.parquet(files: _*)
        .select(col("_metadata.file_name").as("__name"),
          col("_metadata.row_index").as("__pos"),
          col("page_number"), col("chunk_text"))
        .join(broadcast(deletedChain), Seq("__name", "__pos"), "left_anti"))
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // the exact frame PinnedScan.read produces, aggregated directly —
    // separates "our reader is slow" from "the substitution context is"
    def pinnedOnce(): Double = {
      val df = agg(mtf.readPinned(mtf.liveFilesWithDv, store.schema))
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    catSplit(); handOnce(); handChainOnce(); pinnedOnce()
    val chain = (0 until 3).map(_ => handChainOnce())
    System.err.println(s"hand-with-chain: $chain")
    val pinned = (0 until 3).map(_ => pinnedOnce())
    System.err.println(s"readPinned-direct: $pinned")
    val pairs = (0 until 4).map(_ => (catSplit(), handOnce()))
    val plan = pairs.map(_._1._1).min
    val exec = pairs.map(_._1._2).min
    val handMin = pairs.map(_._2).min
    System.err.println(
      f"interleaved: cat=${pairs.map(_._1._2)} hand=${pairs.map(_._2)}")
    val _ = handMin

    println(f"""{"plain_s":$plain%.3f,"with_pos_s":$withPos%.3f,""" +
      f""""anti_join_s":$joined%.3f,"cat_plan_s":$plan%.3f,""" +
      f""""cat_exec_s":$exec%.3f}""")
    if (sys.env.contains("SPARK_GRAFT_DVPROBE_EXPLAIN")) {
      val df = spark.sql(q)
      df.write.format("noop").mode("overwrite").save()
      System.err.println("=== CATALOG PLAN ===")
      System.err.println(df.queryExecution.executedPlan.toString)
      val hand = agg(spark.read.parquet(files: _*)
        .select(col("_metadata.file_name").as("__name"),
          col("_metadata.row_index").as("__pos"),
          col("page_number"), col("chunk_text"))
        .join(broadcast(deleted), Seq("__name", "__pos"), "left_anti"))
      hand.write.format("noop").mode("overwrite").save()
      System.err.println("=== HAND PLAN ===")
      System.err.println(hand.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
