package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.ops.{Similarity, TextIndex, VectorIndex}

/** Opening a persistent index reads its manifest log on the driver:
  * the live file list, the table schema and the per-file min/max that
  * pick the probed cells or term buckets. So building a query frame
  * launches no file-listing job and no parquet schema-inference job —
  * the jobs a directory read (`spark.read.parquet(dir)`) pays before
  * any row is read.
  */
class IndexReadJobsSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val d = s"/tmp/graft-index-read-jobs-spec/$name"
    val p = new Path(d)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    d
  }

  test("building a TextIndex.query frame launches no job") {
    val path = tmp("text")
    TextIndex.build(Tables(spark, sf(), "documents"), path, "doc_id", "text")
    TextIndex.query(spark, path, Seq("window"), 5).collect() // warm
    val (df, jobs) = jobsDuring(
      TextIndex.query(spark, path, Seq("window", "filter"), 20))
    assert(jobs == 0, s"building the BM25 frame ran $jobs jobs")
    assert(df.collect().nonEmpty)
  }

  test("building a VectorIndex.queryIvfPq frame launches only the " +
      "probe-cell job") {
    val emb = Tables(spark, sf(), "embeddings")
    val path = tmp("ivfpq")
    VectorIndex.buildIvfPq(emb, path, "vec_id", "embedding",
      nlist = 16, m = 8, ks = 16)
    val probes = emb.filter(col("vec_id") < 10)
    val meta = VectorIndex.load(spark, path, expectKind = "ivfpq")
    def cells() = Similarity.ivfProbeCells(probes, "vec_id", "embedding",
      4, meta.centroids).select("cell").distinct().collect()
    def frame() = VectorIndex.queryIvfPq(spark, path, probes, k = 5,
      nprobe = 4, rerankPerProbe = 96)
    cells(); frame().collect() // warm
    val (_, cellJobs) = jobsDuring(cells())
    val (df, jobs) = jobsDuring(frame())
    assert(jobs == cellJobs,
      s"building the ANN frame ran $jobs jobs; its probe cells take $cellJobs")
    assert(df.count() == 50)
  }
}
