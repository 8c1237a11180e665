package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Physical plan-shape guards (the 100 TB properties): predicate
  * pushdown reaches the scan, projections prune the read schema,
  * dimension joins broadcast, top-k lowers to TakeOrderedAndProject,
  * and the as-of join is an equi hash join — not a nested loop.
  * These are the properties .explain audits manually; pinning them
  * here keeps perf regressions out of future rounds.
  */
class PlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def planString(df: DataFrame): String = {
    df.collect() // materialize so AQE settles on the final plan
    df.queryExecution.executedPlan.toString
  }

  private def q(name: String): DataFrame =
    SparkEntry.all(name).fn(spark, sf())

  test("c3: filter pushes down to the parquet scan") {
    val p = planString(q("c3_filter"))
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)") ||
      p.contains("GreaterThan(l_quantity,30.0)"), p.take(2000))
  }

  test("c2: projection prunes the read schema to two columns") {
    val p = planString(q("c2_projection"))
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int>"),
      p.take(2000))
  }

  test("c5: dimension join broadcasts") {
    val p = planString(q("c5_join_broadcast"))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("c20/b2: top-k lowers to TakeOrderedAndProject (no full sort)") {
    assert(planString(q("c20_topk")).contains("TakeOrderedAndProject"))
    assert(planString(q("b2_vector_topk")).contains("TakeOrderedAndProject"))
  }

  test("c10: as-of join probes the calendar via broadcast equi-join") {
    // the only nested-loop allowed is the scalar (1-row bounds) cross
    // join; the per-event work must be a BroadcastHashJoin probe.
    // (AQE's toString repeats the tree as Initial Plan — inspect only
    // the final section.)
    val p = planString(q("c10_asof_join")).split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1, p.take(2000))
  }

  test("c11: aggregate runs partial then final (map-side combine)") {
    val p = planString(q("c11_agg_hash"))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p.take(2000))
  }

  test("d3c: IVF plan has no partition-less window (no global funnel)") {
    // a Window with an empty PARTITION BY funnels the whole base
    // through one task — the round-1 centroid-seeding bug. Every
    // window in the IVF path must be keyed (by probe_id).
    val p = planString(q("d3c_ann_ivf"))
    // WindowExec prints `Window [exprs], [partitionSpec], [orderSpec]`
    // — an empty second bracket is a global window.
    val globalWindow = "Window \\[[^\\]]*\\], \\[\\],".r
    assert(globalWindow.findFirstIn(p).isEmpty, p.take(2000))
  }

  test("c8b: binned range join plans as an equi-join, not a nested loop") {
    val p = planString(q("c8b_interval_join")).split("== Initial Plan ==").head
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
  }

  test("d8b: quantized coarse pass lowers to TakeOrderedAndProject") {
    val p = planString(q("d8b_quantized_topk"))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    val globalWindow = "Window \\[[^\\]]*\\], \\[\\],".r
    assert(globalWindow.findFirstIn(p).isEmpty, p.take(2000))
  }

  test("literal-probe cosine rewrites to pre-normalized dot (rule)") {
    import org.apache.spark.sql.functions._
    val e = Tables(spark, sf(), "embeddings")
    val probe = e.filter(col("vec_id") === 0)
      .select("embedding").collect().head.getSeq[Float](0)

    val rewritten = graft.ops.VectorSearch.topK(e, probe, 5)
    assert(rewritten.queryExecution.optimizedPlan.toString
      .contains("cosine_distance_known_norm"),
      rewritten.queryExecution.optimizedPlan.toString.take(2000))

    // BIT equivalence: the join-probe formulation (not foldable — rule
    // does not fire) must produce identical ids AND doubles; the rule
    // contract is exact-to-the-ulp, not approximate
    val viaJoin = graft.ops.Similarity
      .knnJoinBrute(e, e.filter(col("vec_id") === 0), "vec_id", "embedding", 5)
      .orderBy("dist", "nn_id")
      .select("nn_id", "dist").collect()
      .map(r => (r.getLong(0), r.getDouble(1) + 0.0)).toSeq
    assert(!graft.ops.Similarity
      .knnJoinBrute(e, e.filter(col("vec_id") === 0), "vec_id", "embedding", 5)
      .queryExecution.optimizedPlan.toString.contains("known_norm"))
    val got = rewritten.orderBy("dist", "vec_id")
      .select("vec_id", "dist").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == viaJoin, s"$got vs $viaJoin")
  }

  test("zero-norm literal probe rewrites and keeps the distance-1.0 contract") {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.cosine_distance
    val e = Tables(spark, sf(), "embeddings")
    val zeros = Seq.fill(64)(0f)
    val df = e.select(cosine_distance(col("embedding"), typedlit(zeros)).as("d"))
    assert(df.queryExecution.optimizedPlan.toString.contains("known_norm"))
    assert(df.limit(3).collect().forall(_.getDouble(0) == 1.0))
  }

  test("b2b: stored-norm scan does only the dot product (probe norm folds)") {
    import org.apache.spark.sql.functions._
    val e = Tables(spark, sf(), "embeddings")
    val probe = e.filter(col("vec_id") === 0)
      .select("embedding").collect().head.getSeq[Float](0)
    val stored = graft.ops.VectorSearch.withNorm(e)
    val df = graft.ops.VectorSearch.topKStoredNorm(stored, probe, 5)
    val opt = df.queryExecution.optimizedPlan.toString
    // per-row work is the stored-norm kernel (dot product only)...
    assert(opt.contains("cosine_distance_stored_norm"), opt.take(2000))
    // ...and the probe's vector_norm constant-folded at plan time: the
    // single remaining vector_norm is the write-side column
    // materialization (read from parquet in the real stored path)
    assert(opt.indexOf("vector_norm") == opt.lastIndexOf("vector_norm"),
      opt.take(2000))
    // bit-equality with the recompute-both-norms path, over EVERY row
    // — no k-cut, so a distance tie at a limit boundary can never pick
    // different (equally correct) rows on the two paths
    val n = e.count().toInt
    val viaFull = graft.ops.VectorSearch.topK(e, probe, n)
      .orderBy("dist", "vec_id").select("vec_id", "dist").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = graft.ops.VectorSearch.topKStoredNorm(stored, probe, n)
      .orderBy("dist", "vec_id").select("vec_id", "dist").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == viaFull,
      s"stored-norm kernel diverges: ${got.diff(viaFull).take(5)}")
  }

  test("b2b: topK lowers to the stored-norm kernel automatically when the norm column exists") {
    import org.apache.spark.sql.functions._
    val e = Tables(spark, sf(), "embeddings")
    val probe = e.filter(col("vec_id") === 0)
      .select("embedding").collect().head.getSeq[Float](0)
    // no norm column → the recompute-both-norms kernel
    val plain = graft.ops.VectorSearch.topK(e, probe, 5)
      .queryExecution.optimizedPlan.toString
    assert(!plain.contains("cosine_distance_stored_norm"), plain.take(1500))
    // withNorm-written table → the SAME call chooses the stored-norm
    // kernel, no opt-in at the call site
    val auto = graft.ops.VectorSearch
      .topK(graft.ops.VectorSearch.withNorm(e), probe, 5)
      .queryExecution.optimizedPlan.toString
    assert(auto.contains("cosine_distance_stored_norm"), auto.take(1500))
  }

  test("SQL function arity errors name the function, not an index") {
    Tables(spark, sf(), "embeddings").createOrReplaceTempView("arity_emb")
    val e = intercept[Exception] {
      spark.sql("SELECT cosine_distance_stored_norm(embedding, embedding) " +
        "FROM arity_emb").collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    val msgs = chain(e).mkString(" | ")
    assert(msgs.contains("cosine_distance_stored_norm") &&
      msgs.contains("4 argument"), msgs.take(500))
  }

  test("co-located bucketed join plans with zero exchanges") {
    import org.apache.spark.sql.functions._
    // chunks ↔ embeddings co-location: both sides bucketed on doc_id
    val docs = Tables(spark, sf(), "documents")
      .select(col("doc_id"), col("text"))
    val emb = Tables(spark, sf(), "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    // clean catalog + warehouse leftovers (a fresh JVM's in-memory
    // catalog forgets managed tables but their directories survive)
    Seq("colo_docs", "colo_emb").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val wh = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir") + s"/$t")
      val f = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (f.exists(wh)) f.delete(wh, true)
    }
    graft.sink.CoLocate.saveBucketed(docs, "colo_docs", "doc_id", 4)
    graft.sink.CoLocate.saveBucketed(emb, "colo_emb", "doc_id", 4)

    // disable broadcast so the plan exercises the bucketed merge path
    // (at 100 TB neither side broadcasts — that is the point)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = graft.sink.CoLocate.read(spark, "colo_docs")
        .join(graft.sink.CoLocate.read(spark, "colo_emb"), "doc_id")
      assert(joined.count() > 0)
      val p = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!p.contains("ShuffleExchange") && !p.contains("Exchange hashpartitioning"),
        p.take(2000))
      assert(p.contains("Bucketed: true"), p.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("b4c: BM25 corpus side joins by broadcast — no corpus-length shuffle") {
    // the doc-length scan (corpus-sized at 100 TB) must receive the
    // query-term-bounded tf set via BroadcastHashJoin; a SortMergeJoin
    // here would shuffle every document's length row for a 2-keyword
    // query
    val p = planString(q("b4c_fulltext_bm25")).split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("d4c: lang-ID classifiers run the one-pass kernel (no interpreted HOF)") {
    // the profile scoring must be the codegen'd profile_scores kernel;
    // the interpreted formulation — a filter + array_contains probe per
    // profile over the full unit array — cost ~10 ms/row and must not
    // come back. (`bound`'s one-element-array let-binding lambdas over
    // the 4-element score array are fine.)
    val p = q("d4c_lang_id").queryExecution.executedPlan.toString
    assert(p.contains("profile_scores"), p.take(2000))
    assert(!p.contains("array_contains"), p.take(2000))
  }

  test("curation duplicate check never ships the corpus text through " +
      "an exchange") {
    // the is_duplicate flag must come from the narrow (hash, id)
    // aggregate + broadcast join-back — a window over sha2(text) on
    // the full rows would ship every column (the whole corpus at
    // 100 TB) through its exchange to compute one boolean
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    val docs = Tables(spark, sf(), "documents")
      .select(col("doc_id"), col("text"))
    val df = graft.ops.Curation.annotate(docs, "doc_id", "text")
    df.collect()
    val shuffles = collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    shuffles.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.contains("text"),
        s"corpus text crosses an exchange: ${names.mkString(", ")}")
    }
    // and the docs side joins the duplicate flags by broadcast
    assert(df.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
  }

  test("d11: decontamination never ships the corpus text through an " +
      "exchange; the blocklist probe broadcasts") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    val docs = Tables(spark, sf(), "documents")
      .select(col("doc_id"), col("text"))
    val df = graft.ops.Decontaminate.flag(docs,
      docs.filter(col("doc_id") % 25 === 0), "doc_id", "text")
    df.collect()
    val shuffles = collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    shuffles.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.contains("text"),
        s"corpus text crosses an exchange: ${names.mkString(", ")}")
    }
    assert(df.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
  }

  test("d12: shard packing is one keyed exchange — no global sort") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.functions.col
    import graft.functions.GraftFunctions.token_count
    val docs = Tables(spark, sf(), "documents").select(
      col("doc_id"), token_count(col("text")).cast("long").as("tc"))
    val df = graft.ops.Packing.packShards(docs, "doc_id", "tc", 2000L, 16)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val shuffles = collectWithSubqueries(plan) {
      case e: ShuffleExchangeExec => e
    }
    assert(shuffles.length == 1, s"expected 1 exchange, got ${
      shuffles.length}")
    // the window's sort is per-partition (keyed), never global
    val globalSorts = collectWithSubqueries(plan) {
      case s: SortExec if s.global => s
    }
    assert(globalSorts.isEmpty, "global sort in the packing plan")
  }

  test("d15: DSIR scoring pass is shuffle-free — the corpus never " +
      "moves, only the 256-bucket counts do") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    val docs = Tables(spark, sf(), "documents")
      .select(col("doc_id"), col("text"))
    val df = graft.ops.Sampling.importanceWeights(docs,
      col("doc_id") % 10 === 0, "doc_id", "text")
    df.collect()
    // the counting aggregates ran eagerly inside importanceWeights
    // (driver-collected model); the RETURNED plan is the scoring pass
    // — per-row expressions against the literal weight table, so any
    // exchange at all means the corpus is being shuffled to score it
    val shuffles = collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty,
      s"scoring pass shuffles: ${shuffles.map(_.output.map(_.name))}")
  }

  test("p6: audit report never ships the corpus text through an " +
      "exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = q("p6_corpus_audit")
    df.collect()
    val shuffles = collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    shuffles.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.contains("text"),
        s"corpus text crosses an exchange: ${names.mkString(", ")}")
    }
  }

  test("d18: repeated-span exchanges carry (hash, id, pos) — never text") {
    // gram hashing happens row-side in the codegen kernel; every
    // exchange under the repeated-gram aggregate, the hit join, and
    // the span window must be 24-byte-per-gram narrow
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    val docs = Tables(spark, sf(), "documents")
      .select(col("doc_id"), col("text"))
    val df = graft.ops.Dedup.repeatedNgramSpans(docs, "doc_id", "text")
    df.collect()
    val shuffles = collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    assert(shuffles.nonEmpty)
    shuffles.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.contains("text"),
        s"corpus text crosses an exchange: ${names.mkString(", ")}")
    }
  }

  test("d17: a k-means iteration exchanges only fixed-size cell buffers") {
    // the per-iteration update must be a two-phase (partial → final)
    // aggregate over (__cell, vector_avg buffer); no exchange may
    // carry the input vector column itself, and no window/sort may
    // appear anywhere in the iteration plan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.cosine_distance
    import graft.functions.VectorAggregates.vector_avg
    val e = Tables(spark, sf(), "embeddings")
    val cents = graft.ops.KMeans.initCentroids(e, "vec_id", "embedding", 4)
    val distsOf = array(cents.toSeq.map(c =>
      cosine_distance(col("__v"), typedlit(c.toSeq))): _*)
    val df = e.select(col("embedding").as("__v"))
      .withColumn("__ds", distsOf)
      .select(col("__v"),
        (array_position(col("__ds"), array_min(col("__ds"))) - 1)
          .cast("int").as("__cell"),
        array_min(col("__ds")).as("__d"))
      .groupBy("__cell")
      .agg(vector_avg(col("__v")).as("__mean"), sum(col("__d")).as("__cost"))
    df.collect()
    val plan = df.queryExecution.executedPlan
    val shuffles = collectWithSubqueries(plan) {
      case ex: ShuffleExchangeExec => ex
    }
    shuffles.foreach { ex =>
      val names = ex.output.map(_.name)
      assert(!names.contains("__v"),
        s"vectors cross the k-means exchange: ${names.mkString(", ")}")
    }
    val ps = plan.toString
    assert(!ps.contains("Window") && !ps.contains("Sort "), ps.take(2000))
  }

  test("d8e: prefix coarse pass lowers to TakeOrderedAndProject") {
    val p = planString(q("d8e_prefix_topk"))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("b11: morton curve is codegen'd scan arithmetic under a top-k") {
    val p = planString(q("b11_zorder_curve"))
    // the interleave must stay inside whole-stage codegen (built-in
    // shift/mask columns, no UDF) and the ordered LIMIT must lower to
    // partial per-partition top-k — never a global sort
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    // `*(n)` prefixes mark whole-stage-codegen spans in the string plan
    assert(p.contains("*("), p.take(2000))
    assert(!p.contains("ScalaUDF"), p.take(2000))
    assert(!p.contains("Exchange"), p.take(2000))
  }

  test("d19: hard negatives rank via the bounded aggregate, not a window") {
    // the per-anchor top-k must be topk_agg (map-side combine reduces
    // each anchor to ≤ k pairs before the exchange) — a ranking
    // window would shuffle AND sort every surviving pair
    val p = planString(q("d19_hard_negatives"))
    assert(!p.contains("Window "), p.take(2000))
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2, p.take(2000))
    // anchors broadcast (the D3 probe contract)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("IVF-PQ over string ids: both top-k stages are partial topk_agg") {
    // ids like the ingest path's "url#chunk": the coarse and the rerank
    // top-k both combine map-side (the one window left ranks each
    // probe's nlist centroid distances, on the probe side)
    import org.apache.spark.sql.functions._
    val emb = Tables(spark, sf(), "embeddings")
      .select(concat(lit("doc#"), col("vec_id")).as("id"), col("embedding"))
    val path = java.nio.file.Files.createTempDirectory("ivfpq-str").toString
    graft.ops.VectorIndex.buildIvfPq(emb, path, "id", "embedding", nlist = 4)
    val p = planString(graft.ops.VectorIndex.queryIvfPq(spark, path,
      emb.limit(3), k = 5, nprobe = 2, rerankPerProbe = 20))
      .split("== Initial Plan ==").head
    assert("partial_topk_agg".r.findAllIn(p).length == 2, p.take(4000))
    val windowOrders = "windowspecdefinition\\(probe_id#\\d+L?, (\\w+)#".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(windowOrders == Set("cd"), p.take(4000))
  }

  test("b9: late interaction is two map-side aggregates + top-k, no window") {
    val p = planString(q("b9_late_interaction"))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Window "), p.take(2000))
    // both MaxSim stages run partial→final (map-side combine)
    assert("HashAggregate".r.findAllIn(p).length >= 4, p.take(2000))
  }

  test("d5c: no payload bytes cross a media-dedup exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val media = graft.multimodal.Media.mediaFromDocuments(
      Tables(spark, sf(), "documents"))
    val df = graft.multimodal.Media.frameSignatureGroups(
      media, graft.multimodal.StubMediaDecoder(8), nFrames = 4)
    df.collect()
    val shuffles = collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    assert(shuffles.nonEmpty)
    shuffles.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.contains("content") && !names.contains("frame"),
        s"payload bytes cross an exchange: ${names.mkString(", ")}")
    }
  }

  test("p8: composed export never ships the corpus text through an " +
      "exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    val docs = Tables(spark, sf(), "documents")
      .select(col("doc_id"), col("text"))
    val df = graft.ops.Curation.exportShards(docs, "doc_id", "text",
      graft.ops.Curation.Config(minQuality = 0.3, lang = "en"),
      budget = 2000L, numGroups = 16)
    df.collect()
    val shuffles = collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    shuffles.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.contains("text"),
        s"corpus text crosses an exchange: ${names.mkString(", ")}")
    }
  }

  test("d23: line dedup never ships line text through an exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    val docs = Tables(spark, sf(), "documents")
      .select(col("doc_id"), col("text"))
    val df = graft.ops.Dedup.cutCommonLines(docs, "doc_id", "text",
      minDocs = 2)
    df.collect()
    val shuffles = collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    assert(shuffles.nonEmpty)
    shuffles.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.contains("text") && !names.contains("line"),
        s"line text crosses an exchange: ${names.mkString(", ")}")
    }
  }

  test("change feed reads only churn-touched files (B13)") {
    import org.apache.spark.sql.functions.col
    import graft.sink.{ChunkStore, ManifestTableFormat}
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft-plan-cdf").toString + "/t"
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    def doc(u: String, t: String) =
      Seq((0, t, Seq(1f, 2f), 1, u)).toDF("chunk_id", "chunk_text",
        "embedding", "page_number", "document_url")
    store.upsert(doc("doc://a", "a"))   // v0
    store.upsert(doc("doc://b", "b"))   // v1
    store.upsert(doc("doc://c", "c"))   // v2
    val mtf = new ManifestTableFormat(spark, path, store.schema)
    // the (v1, v2] delta must open ONLY the files that commit touched
    // (inputFiles is exact here: changesBetween plans from explicit
    // file lists)
    val span = mtf.changesBetween(1L, 2L)
    val touched = span.inputFiles.toSet
    val all = mtf.liveFiles.toSet
    assert(touched.nonEmpty && touched.size < all.size,
      s"delta opened ${touched.size} of ${all.size} live files")
    // a's and b's files (untouched by v2) never open
    val v1Files = mtf.filesAtVersion(1L).toSet
    assert(touched.intersect(v1Files).isEmpty,
      "delta read files live at both span ends")
  }

  test("BPE type counting is a bounded TakeOrdered, not a global sort (D26)") {
    val docs = Tables(spark, sf(), "documents")
    // wordTypeCounts collects, so pin the plan of the same shape
    import org.apache.spark.sql.functions._
    val pat = "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"
    val shaped = docs.select(explode(
        regexp_extract_all(col("text"), lit(pat), lit(0))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc)
      .limit(1000)
    val p = planString(shaped)
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Exchange rangepartitioning"),
      "global sort exchange in the type-count path:\n" + p.take(2000))
  }

  test("semantic chunking is two doc-keyed exchanges, kernels in codegen (D27)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import spark.implicits._
    val docs = Seq((1L, "One sentence here. Another sentence there."))
      .toDF("doc_id", "text")
    val out = graft.chunk.SemanticChunker.chunk(docs, "doc_id", "text")
    out.collect() // materialize so AQE finalizes the plan
    val shuffles = collectWithSubqueries(out.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    assert(shuffles.size <= 2,
      s"${shuffles.size} exchanges in the semantic-chunk plan")
    // both exchanges are doc-keyed (never a global repartition)
    shuffles.foreach { e =>
      assert(e.outputPartitioning.toString.contains("doc_id"),
        e.outputPartitioning.toString)
    }
  }

  test("point lookup pushes the key filter to the scan (B5)") {
    // partition-level pruning on the chunk store is covered in
    // PipelineSpec; here: the key predicate must reach the parquet
    // scan (an uncached table — other suites cache embeddings, which
    // would turn its scan into an InMemory scan in full-suite runs)
    import org.apache.spark.sql.functions.col
    val p = planString(Tables(spark, sf(), "orders")
      .filter(col("o_orderkey") === 42).select("o_orderkey", "o_totalprice"))
    assert(p.contains("EqualTo(o_orderkey,42)"), p.take(2000))
  }

  test("d28: the fuzzy-join candidate exchanges carry ids, not strings") {
    // a string rides the variant-key exchange once PER deletion key
    // (|s|+1 copies at k=1) — if s1/s2 were projected through it, the
    // exchange bytes would multiply by the neighborhood size; the
    // strings must rejoin only AFTER the (id1, id2) dedup
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import spark.implicits._
    val df = Seq((1L, "spark"), (2L, "spork"), (3L, "flink"))
      .toDF("id", "w")
    val out = graft.ops.FuzzyJoin.similarPairs(df, "id", "w", maxDist = 1)
    out.collect()
    val shuffles = collectWithSubqueries(out.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    val preVerify = shuffles.filter { e =>
      val names = e.output.map(_.name).toSet
      names.contains("__fk") ||
        (names.contains("id1") && names.contains("id2"))
    }
    assert(preVerify.nonEmpty, "expected variant-key/dedup exchanges")
    preVerify.foreach { e =>
      val names = e.output.map(_.name).toSet
      assert(!names.contains("s1") && !names.contains("s2"),
        s"candidate exchange carries strings: $names")
    }
  }
}
