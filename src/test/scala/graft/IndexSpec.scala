package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.ops.{Quantize, Similarity, VectorIndex}

/** Persistent vector-index lifecycle (SURVEY B2/D3 at-scale form):
  * build writes a stamped index table; query answers from the stamp +
  * table alone — bit-identical to the transient retrain path and with
  * provably no access to the training inputs.
  */
class IndexSpec extends SparkSpec {

  private lazy val emb = Tables(spark, sf(), "embeddings").cache()

  private def tmp(name: String): String = {
    val d = s"/tmp/graft-index-spec/${getClass.getSimpleName}-$name"
    val p = new Path(d)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    d
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("probe_id"), col("nn_id"), col("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet

  test("ivfpq: prebuilt index answers identically to the retrain path") {
    val path = tmp("ivfpq-identical")
    VectorIndex.buildIvfPq(emb, path, "vec_id", "embedding",
      nlist = 16, m = 8, ks = 16)
    val probes = emb.filter(col("vec_id") < 10)
    val viaIndex = VectorIndex.queryIvfPq(spark, path, probes, k = 5,
      nprobe = 4, rerankPerProbe = 96)
    val retrain = Similarity.ivfPqAnnJoin(emb, probes, "vec_id",
      "embedding", k = 5, nlist = 16, nprobe = 4, rerankPerProbe = 96)
    assert(rows(viaIndex) == rows(retrain))
    assert(viaIndex.count() == 50)
    // the coarse scan must prune to the probed cells' files (picked by
    // per-file cell min/max from the log) and filter on the collected
    // cell set
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*(In|EqualTo)\\(cell,".r
      .findFirstIn(plan).isDefined,
      plan.take(2000))
  }

  test("ivfpq: query touches neither the training inputs nor a trainer " +
      "(base deleted after build)") {
    val path = tmp("ivfpq-noretrain")
    val basePath = tmp("ivfpq-noretrain-base")
    emb.select("vec_id", "embedding").write.parquet(basePath)
    val base = spark.read.parquet(basePath)
    VectorIndex.buildIvfPq(base, path, "vec_id", "embedding")

    // delete the training inputs: any retraining / code recomputation
    // in the query path would now fail loudly
    val p = new Path(basePath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)

    val probes = emb.filter(col("vec_id") < 10)
    val out = VectorIndex.queryIvfPq(spark, path, probes, k = 5)
    assert(out.count() == 50)
    // and the answers still match a retrain over the (identical) source
    val retrain = Similarity.ivfPqAnnJoin(emb, probes, "vec_id",
      "embedding", k = 5)
    assert(rows(out) == rows(retrain))
  }

  test("lsh: prebuilt index answers identically to the transient join") {
    val path = tmp("lsh-identical")
    VectorIndex.buildLsh(emb, path, "vec_id", "embedding", dim = 64,
      numPlanes = 8, numTables = 2)
    val probes = emb.filter(col("vec_id") < 20)
    val viaIndex = VectorIndex.queryLsh(spark, path, probes, k = 5)
    val transient = Similarity.lshAnnJoin(emb, probes, "vec_id",
      "embedding", k = 5, dim = 64, numPlanes = 8, numTables = 2)
    assert(rows(viaIndex) == rows(transient))
  }

  test("q8: prebuilt index matches topKQuantized on (id, dist)") {
    val path = tmp("q8-identical")
    VectorIndex.buildQ8(emb, path, "vec_id", "embedding")
    val queryVec = emb.filter(col("vec_id") === 7L)
      .select("embedding").collect().head.getSeq[Float](0)
    val viaIndex = VectorIndex.queryQ8(spark, path, queryVec, k = 10)
      .select(col("vec_id"), col("dist"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val transient = Quantize.topKQuantized(
        Quantize.withIndexColumns(emb, "embedding"), queryVec, k = 10,
        idCol = "vec_id")
      .select(col("vec_id"), col("dist"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(viaIndex == transient)
    // the query vector itself is in the base: self must rank top-1
    assert(VectorIndex.queryQ8(spark, path, queryVec, k = 1)
      .select("vec_id").collect().head.getLong(0) == 7L)
  }

  test("stamp round-trips the trained model exactly") {
    val cents = Seq(Seq(0.1f, -2.5e-8f), Seq(Float.MinPositiveValue, 3f))
    val model = Quantize.PqModel(2, 2, 1,
      Seq(Seq(Seq(1.5f), Seq(-0.25f)), Seq(Seq(1e-30f), Seq(7f))))
    val meta = VectorIndex.Meta("ivfpq", "id", "v", 2, 42L, 2, 0, 0,
      cents, Some(model))
    assert(VectorIndex.parse(VectorIndex.render(meta), "t") == meta)
  }

  test("querying a missing or kind-mismatched index fails loudly") {
    val none = intercept[IllegalArgumentException] {
      VectorIndex.queryIvfPq(spark, tmp("absent"),
        emb.filter(col("vec_id") < 1), k = 1)
    }
    assert(none.getMessage.contains("no vector index"))

    val path = tmp("kind-mismatch")
    VectorIndex.buildQ8(emb.filter(col("vec_id") < 50), path,
      "vec_id", "embedding")
    val wrong = intercept[IllegalArgumentException] {
      VectorIndex.queryIvfPq(spark, path,
        emb.filter(col("vec_id") < 1), k = 1)
    }
    assert(wrong.getMessage.contains("kind"))
  }

  test("append (model-free kinds): build(A)+append(B) == build(A∪B) " +
      "bit-for-bit") {
    // q8 and lsh carry no trained state, so incremental and batch
    // construction must be indistinguishable at query time
    val a = emb.filter(col("vec_id") < 300)
    val b = emb.filter(col("vec_id") >= 300)
    val inc = tmp("q8-append-inc"); val full = tmp("q8-append-full")
    VectorIndex.buildQ8(a, inc, "vec_id", "embedding")
    VectorIndex.append(b, inc)
    VectorIndex.buildQ8(emb, full, "vec_id", "embedding")
    val queryVec = emb.filter(col("vec_id") === 321L)
      .select("embedding").collect().head.getSeq[Float](0)
    def q(p: String) = VectorIndex.queryQ8(spark, p, queryVec, k = 10)
      .select(col("vec_id"), col("dist"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(q(inc) == q(full))
    assert(q(inc).head._1 == 321L)

    val incL = tmp("lsh-append-inc"); val fullL = tmp("lsh-append-full")
    VectorIndex.buildLsh(a, incL, "vec_id", "embedding", dim = 64,
      numPlanes = 8, numTables = 2)
    VectorIndex.append(b, incL)
    VectorIndex.buildLsh(emb, fullL, "vec_id", "embedding", dim = 64,
      numPlanes = 8, numTables = 2)
    val probes = emb.filter(col("vec_id") >= 300 && col("vec_id") < 310)
    assert(rows(VectorIndex.queryLsh(spark, incL, probes, k = 5)) ==
      rows(VectorIndex.queryLsh(spark, fullL, probes, k = 5)))
  }

  test("append reads neither the training inputs nor the prior data's " +
      "source (both deleted)") {
    val path = tmp("ivfpq-append-noread")
    val aPath = tmp("ivfpq-append-a"); val bPath = tmp("ivfpq-append-b")
    emb.filter(col("vec_id") < 400).select("vec_id", "embedding")
      .write.parquet(aPath)
    emb.filter(col("vec_id") >= 400).select("vec_id", "embedding")
      .write.parquet(bPath)
    VectorIndex.buildIvfPq(spark.read.parquet(aPath), path,
      "vec_id", "embedding")
    val fs = new Path(aPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(aPath), true)
    val b = spark.read.parquet(bPath)
    VectorIndex.append(b, path)
    fs.delete(new Path(bPath), true)
    // appended vectors are searchable, full top-k, self at dist 0
    val probes = emb.filter(col("vec_id") >= 400 && col("vec_id") < 410)
    val out = VectorIndex.queryIvfPq(spark, path, probes, k = 5,
      nprobe = 4, rerankPerProbe = 96)
    assert(out.count() == 50)
    val tops = out.withColumn("rk",
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("probe_id").orderBy(col("dist"), col("nn_id"))))
      .filter(col("rk") === 1)
      .select("probe_id", "nn_id", "dist")
      .collect()
    tops.foreach { r =>
      assert(r.getLong(0) == r.getLong(1) && r.getDouble(2) == 0.0,
        s"appended vec ${r.getLong(0)} not self-top-1: $r")
    }
  }

  test("append to a missing index fails loudly") {
    val err = intercept[IllegalArgumentException] {
      VectorIndex.append(emb.limit(1), tmp("append-absent"))
    }
    assert(err.getMessage.contains("append cannot create"))
  }

  test("delete masks rows immediately in every kind; compact drops them " +
      "physically and preserves answers") {
    import spark.implicits._
    // q8: the query vector's own row is top-1 at dist 0 — delete it
    // and the next-best must backfill, pre-compaction
    val q8p = tmp("delete-q8")
    VectorIndex.buildQ8(emb, q8p, "vec_id", "embedding")
    val queryVec = emb.filter(col("vec_id") === 7L)
      .select("embedding").collect().head.getSeq[Float](0)
    assert(VectorIndex.queryQ8(spark, q8p, queryVec, k = 1)
      .select("vec_id").head().getLong(0) == 7L)
    VectorIndex.delete(Seq(7L).toDF("vec_id"), q8p)
    val after = VectorIndex.queryQ8(spark, q8p, queryVec, k = 10)
      .select("vec_id").collect().map(_.getLong(0))
    assert(!after.contains(7L) && after.length == 10)

    // lsh: deleted ids never surface, survivors unchanged
    val lshp = tmp("delete-lsh")
    VectorIndex.buildLsh(emb, lshp, "vec_id", "embedding", dim = 64,
      numPlanes = 8, numTables = 2)
    val probes = emb.filter(col("vec_id") < 5)
    val pre = rows(VectorIndex.queryLsh(spark, lshp, probes, k = 5))
    val victims = pre.map(_._2).toSeq.distinct.sorted.take(3)
    VectorIndex.delete(victims.toDF("vec_id"), lshp)
    val post = rows(VectorIndex.queryLsh(spark, lshp, probes, k = 5))
    assert(post.forall(r => !victims.contains(r._2)))

    // ivfpq: delete, then compact — answers identical before and
    // after; the delete's own commit already removed the rows from the
    // index table, and the compaction keeps them gone
    val ivfp = tmp("delete-ivfpq")
    VectorIndex.buildIvfPq(emb, ivfp, "vec_id", "embedding")
    VectorIndex.delete(Seq(1L, 2L, 3L).toDF("vec_id"), ivfp)
    def held() = VectorIndex.read(spark, ivfp)
      .filter(col("nn_id").isin(1L, 2L, 3L)).count()
    assert(held() == 0)
    val preC = rows(VectorIndex.queryIvfPq(spark, ivfp, probes, k = 5,
      nprobe = 4, rerankPerProbe = 96))
    assert(preC.forall(r => !Seq(1L, 2L, 3L).contains(r._2)))
    VectorIndex.compact(spark, ivfp)
    val postC = rows(VectorIndex.queryIvfPq(spark, ivfp, probes, k = 5,
      nprobe = 4, rerankPerProbe = 96))
    assert(preC == postC)
    assert(held() == 0)
    assert(VectorIndex.read(spark, ivfp).count() == emb.count() - 3)
    // a second compaction changes no answer
    VectorIndex.compact(spark, ivfp)
    assert(rows(VectorIndex.queryIvfPq(spark, ivfp, probes, k = 5,
      nprobe = 4, rerankPerProbe = 96)) == postC)
  }

  test("delete casts probe ids to the data id type (no silent " +
      "type-mismatch misses)") {
    import spark.implicits._
    val path = tmp("delete-cast")
    VectorIndex.buildQ8(emb, path, "vec_id", "embedding")
    val queryVec = emb.filter(col("vec_id") === 11L)
      .select("embedding").collect().head.getSeq[Float](0)
    // ids arrive as INT and STRING — both must mask the LONG vec_id
    VectorIndex.delete(Seq(11).toDF("vec_id"), path)
    VectorIndex.delete(Seq("12").toDF("vec_id"), path)
    val out = VectorIndex.queryQ8(spark, path, queryVec, k = 20)
      .select("vec_id").collect().map(_.getLong(0))
    assert(!out.contains(11L) && !out.contains(12L))
  }

  test("rebuild clears tombstones: a fresh build must not inherit the " +
      "old generation's deletes") {
    import spark.implicits._
    val path = tmp("delete-rebuild")
    VectorIndex.buildQ8(emb, path, "vec_id", "embedding")
    VectorIndex.delete(Seq(7L).toDF("vec_id"), path)
    VectorIndex.buildQ8(emb, path, "vec_id", "embedding")
    val queryVec = emb.filter(col("vec_id") === 7L)
      .select("embedding").collect().head.getSeq[Float](0)
    assert(VectorIndex.queryQ8(spark, path, queryVec, k = 1)
      .select("vec_id").head().getLong(0) == 7L)
  }

  test("rebuild overwrites: query reflects the new base, not the old") {
    val path = tmp("rebuild")
    VectorIndex.buildQ8(emb.filter(col("vec_id") < 100), path,
      "vec_id", "embedding")
    val queryVec = emb.filter(col("vec_id") === 200L)
      .select("embedding").collect().head.getSeq[Float](0)
    // vec 200 is absent from the first build…
    val before = VectorIndex.queryQ8(spark, path, queryVec, k = 1)
      .select("vec_id").collect().head.getLong(0)
    assert(before != 200L)
    // …and present after the rebuild over the wider base
    VectorIndex.buildQ8(emb.filter(col("vec_id") < 300), path,
      "vec_id", "embedding")
    val after = VectorIndex.queryQ8(spark, path, queryVec, k = 1)
      .select("vec_id").collect().head.getLong(0)
    assert(after == 200L)
  }

  test("an index in the retired layout is refused with a rebuild " +
      "message; a rebuild at the same path serves again") {
    val path = tmp("old-layout")
    // the retired layout: a stamp beside a parquet data directory, no
    // manifest log
    Quantize.withIndexColumns(emb.select("vec_id", "embedding"), "embedding")
      .write.parquet(s"$path/data")
    val out = new Path(path, "_graft_vector_index").getFileSystem(
      spark.sparkContext.hadoopConfiguration)
      .create(new Path(path, "_graft_vector_index"), true)
    out.write(VectorIndex.render(VectorIndex.Meta("q8", "vec_id",
      "embedding", 0, 0L, 0, 0, 0, Seq.empty, None)).getBytes("UTF-8"))
    out.close()
    val queryVec = emb.filter(col("vec_id") === 7L)
      .select("embedding").collect().head.getSeq[Float](0)
    val e = intercept[IllegalStateException] {
      VectorIndex.queryQ8(spark, path, queryVec, k = 1)
    }
    assert(e.getMessage.contains("retired layout") &&
      e.getMessage.contains("rebuild"), e.getMessage)
    intercept[IllegalStateException] {
      VectorIndex.append(emb.limit(1), path)
    }
    VectorIndex.buildQ8(emb, path, "vec_id", "embedding")
    assert(VectorIndex.queryQ8(spark, path, queryVec, k = 1)
      .select("vec_id").head().getLong(0) == 7L)
  }
}
