package graft.tools

import org.apache.spark.sql.functions._

import graft.sink.{ChunkStore, ManifestTableFormat}

/** auto_optimize convergence gauge: build a maintenance-debt-laden
  * table from `SPARK_GRAFT_SF_DIR`'s documents (12 small-file
  * commits + ~2% DV tombstones), run [[graft.ops.AutoOptimize]] to
  * convergence, and print ONE JSON line:
  * `{"build_s":…,"opt1_s":…,"opt2_s":…,"rows":…,"actions1":…,
  *   "actions2":…}` — opt1 is the debt-clearing pass, opt2 must be a
  * cheap no-op pass (convergence). Run at sf0.1 and sf1 for the
  * decade row.
  */
object AutoOptimizeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.install(graft.GraftSession
      .builder(master = s"local[$cpus]", shufflePartitions = cpus)
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    val wh = java.nio.file.Files
      .createTempDirectory("graft-aob").toString
    val tbl = s"$wh/t"
    val store = new ChunkStore(spark, tbl)
    val docs = graft.Tables(spark, sfDir, "documents")

    val t0 = System.nanoTime()
    (0 until 12).foreach { k =>
      store.append(docs.filter(col("doc_id") % 12 === k).select(
        col("doc_id").cast("int").as("chunk_id"),
        col("text").as("chunk_text"),
        array(lit(1f)).as("embedding"),
        (col("doc_id") % 10).cast("int").as("page_number"),
        concat(lit("doc://"), col("doc_id")).as("document_url")))
    }
    val mtf = new ManifestTableFormat(spark, tbl, store.schema)
    mtf.deleteWhereDv(col("chunk_id") % 53 === 0)
    val t1 = System.nanoTime()

    val r1 = graft.ops.AutoOptimize.run(spark, tbl)
    val t2 = System.nanoTime()
    val r2 = graft.ops.AutoOptimize.run(spark, tbl)
    val t3 = System.nanoTime()
    val (_, _, rows, _) = mtf.tableStats()

    println(f"""{"build_s":${(t1 - t0) / 1e9}%.3f,""" +
      f""""opt1_s":${(t2 - t1) / 1e9}%.3f,""" +
      f""""opt2_s":${(t3 - t2) / 1e9}%.3f,"rows":$rows,""" +
      s""""actions1":"${r1.actions.mkString("; ")}",""" +
      s""""actions2":"${r2.actions.mkString("; ")}"}""")
    spark.stop()
  }
}
