package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.embed.DeterministicEmbedder
import graft.multimodal.{Media, StubMediaDecoder}
import graft.pipeline.IngestPipeline
import graft.functions.GraftFunctions.token_count
import graft.ops.{Decontaminate, Dedup, Packing, Sampling, Similarity, TextAnalysis, TextIndex, VectorIndex}

/** Tier D — LLM-data-pipeline operators through the conformance gate
  * (SURVEY §2.4) plus the Tier B full-text surface (B4). Oracle
  * wherever ANSI SQL can express the semantics; hash-family operators
  * (MinHash/SimHash/LSH) are engine-deterministic but engine-specific,
  * so they ship rows-only here and are pinned by unit tests instead.
  */
object LlmOpsQueries {

  /** Total symmetric multiset-difference cardinality of two
    * same-schema frames as a 1-row frame (`__diff`) — equals
    * `a.exceptAll(b).unionAll(b.exceptAll(a)).count()`, but computes
    * each SIDE once (the exceptAll pair unions and shuffles the same
    * inputs twice; several index gates pay full ANN/BM25 query
    * pipelines per side). Same sign-count shape as the change feed's
    * one-pass diff.
    */
  private def symDiffCount(
      a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    a.withColumn("__sgn", lit(1L))
      .unionAll(b.withColumn("__sgn", lit(-1L)))
      .groupBy(a.columns.toSeq.map(col): _*)
      .agg(sum(col("__sgn")).as("__net"))
      .agg(coalesce(sum(abs(col("__net"))), lit(0L)).as("__diff"))

  def defs: Map[String, QueryDef] = Map(

    // D1: exact dedup by content hash over a synthetic re-upload (the
    // union makes every text appear twice — dedup must collapse them).
    "d1_exact_dedup" -> QueryDef(
      """SELECT MIN(doc_id) AS keeper, COUNT(*) AS dups
        |FROM (SELECT doc_id, text FROM documents
        |      UNION ALL SELECT doc_id + 1000000, text FROM documents)
        |GROUP BY sha256(text) ORDER BY keeper""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir, "documents")
      val doubled = d.select(col("doc_id"), col("text"))
        .unionAll(d.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.exactDedup(doubled, "doc_id", "text")
        .select(col("keeper"), col("dups"))
        .orderBy("keeper")
    },

    // D2 (MinHash+LSH): signature hashes are engine-specific, but the
    // operator's CONTRACT is not — a tail-edited copy shares nearly
    // every shingle with its source (Jaccard ≫ 0.5), so LSH banding +
    // exact-Jaccard verification must recover EVERY planted pair
    // (doc_id, doc_id + 1M). The oracle recomputes that invariant as
    // per-doc booleans (probe-measured 500/500 at sf0.01).
    "d2_minhash_lsh" -> QueryDef(
      """SELECT doc_id, TRUE AS planted_recovered
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir, "documents")
      val edited = d.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" tail edit")).as("text"))
      val pairs = Dedup.minhashLshPairs(
        d.select(col("doc_id"), col("text")).unionAll(edited),
        "doc_id", "text", threshold = 0.5)
      val planted = pairs
        .filter(col("id2") === col("id1") + 1000000L)
        .select(col("id1").as("doc_id"), lit(1).as("hit"))
      d.select("doc_id")
        .join(planted, Seq("doc_id"), "left")
        .groupBy("doc_id")
        .agg((count(col("hit")) >= 1).as("planted_recovered"))
        .orderBy("doc_id")
    },

    // D2 (SimHash): near-dup pairs within Hamming radius 3. The
    // pigeonhole banding GUARANTEES an exact copy is recovered (equal
    // signatures → equal bands → joined, Hamming 0), so the gate
    // plants an exact copy (doc_id + 3M) alongside the probabilistic
    // " x"-edited copy (doc_id + 1M, kept for workload realism — its
    // recall is probabilistic by design and not gated).
    "d2b_simhash_neardup" -> QueryDef(
      """SELECT doc_id, TRUE AS copy_recovered, CAST(0 AS BIGINT) AS copy_hamming
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir, "documents")
      val edited = d.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" x")).as("text"))
      val exactCopy = d.select((col("doc_id") + 3000000L).as("doc_id"),
        col("text"))
      val pairs = Dedup.simhashPairs(
        d.select(col("doc_id"), col("text"))
          .unionAll(edited).unionAll(exactCopy),
        "doc_id", "text", maxHamming = 3)
      val copies = pairs
        .filter(col("id1") < 1000000L && col("id2") === col("id1") + 3000000L)
        .select(col("id1").as("doc_id"), col("hamming"))
      d.select("doc_id")
        .join(copies, Seq("doc_id"), "left")
        .groupBy("doc_id")
        .agg((count(col("hamming")) >= 1).as("copy_recovered"),
          max(col("hamming")).cast("long").as("copy_hamming"))
        .orderBy("doc_id")
    },

    // D2e: near-dup CLUSTERS — connected components over the
    // duplicate-pair graph (min-label propagation), collapsing chains
    // A~B, B~C into one cluster with the smallest id as root (the
    // canonical keeper). Two planted copies per document (+1M, +3M)
    // form 3-cliques; the oracle recomputes every node's root as the
    // content-group minimum, which equals the component root because
    // exact-dup edges connect exactly the content groups.
    "d2e_dedup_clusters" -> QueryDef(
      """WITH input AS (
        |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents
        |                 WHERE text IS NOT NULL
        |  UNION ALL SELECT doc_id + 3000000, text FROM documents
        |                 WHERE text IS NOT NULL)
        |SELECT doc_id AS id, MIN(doc_id) OVER (PARTITION BY text) AS root
        |FROM input ORDER BY id""".stripMargin) { (s, dir) =>
      // NULL-text guard on BOTH sides: sha2(NULL) joins nothing in
      // Spark (edgeless nodes are absent from component output) while
      // DuckDB's window would group NULLs into one partition
      val d = Tables(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      val input = d
        .unionAll(d.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        .unionAll(d.select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
      val hashed = input.select(col("doc_id"), sha2(col("text"), 256).as("h"))
      val pairs = hashed.as("a")
        .join(hashed.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      Dedup.connectedComponents(pairs)
        .select(col("id"), col("root"))
        .orderBy("id")
    },

    // D2 (exact flavor): word-set Jaccard join — fully SQL-checkable.
    "d2c_word_jaccard" -> QueryDef(
      """WITH w AS (SELECT DISTINCT doc_id AS id, UNNEST(string_split(text, ' ')) AS w
        |           FROM documents WHERE doc_id < 50),
        |c AS (SELECT id, COUNT(*) AS n FROM w GROUP BY id),
        |i AS (SELECT a.id AS id1, b.id AS id2, COUNT(*) AS ix
        |      FROM w a JOIN w b ON a.w = b.w AND a.id < b.id GROUP BY 1, 2)
        |SELECT id1, id2, ROUND(ix * 1.0 / (c1.n + c2.n - ix), 6) AS jac
        |FROM i JOIN c c1 ON c1.id = id1 JOIN c c2 ON c2.id = id2
        |WHERE ix * 1.0 / (c1.n + c2.n - ix) >= 0.5
        |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
      Dedup.wordJaccardPairs(
          Tables(s, dir, "documents").filter(col("doc_id") < 50),
          "doc_id", "text", threshold = 0.5)
        .orderBy("id1", "id2")
    },

    // D3: exact k-NN join (brute-force cosine top-k per probe),
    // oracle via DuckDB's list_cosine_similarity + QUALIFY.
    "d3_knn_join" -> QueryDef(
      """SELECT p.vec_id AS probe_id, b.vec_id AS nn_id,
        |       ROUND(1.0 - list_cosine_similarity(b.embedding::DOUBLE[],
        |                                          p.embedding::DOUBLE[]), 6) AS dist
        |FROM embeddings b, embeddings p
        |WHERE p.vec_id < 10
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY dist, nn_id) <= 5
        |ORDER BY probe_id, dist, nn_id""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      Similarity.knnJoinBrute(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
        .orderBy("probe_id", "dist", "nn_id")
    },

    // D19: hard-negative mining for contrastive training (DPR-style):
    // for each anchor, the k nearest DIFFERENT-label vectors at
    // distance >= minDist. The planted trap: an EXACT copy of every
    // anchor carrying a different label (an "unlabeled positive")
    // sits at dist 0 — the minDist guard must exclude it, or it
    // would be top-1 for its anchor. Full hash-match oracle: DuckDB
    // replays the construction, the label rule, the guard, and the
    // ranking.
    "d19_hard_negatives" -> QueryDef(
      """WITH lab AS (
        |  SELECT vec_id, embedding, vec_id % 4 AS label FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, embedding, (vec_id + 1) % 4
        |  FROM embeddings WHERE vec_id < 8),
        |cand AS (
        |  SELECT p.vec_id AS anchor_id, b.vec_id AS neg_id,
        |         ROUND(1.0 - list_cosine_similarity(b.embedding::DOUBLE[],
        |                                            p.embedding::DOUBLE[]), 6) AS dist
        |  FROM lab b, embeddings p
        |  WHERE p.vec_id < 8 AND b.label <> p.vec_id % 4)
        |SELECT anchor_id, CAST(rnk AS BIGINT) AS rnk, neg_id, dist FROM (
        |  SELECT anchor_id, neg_id, dist,
        |         ROW_NUMBER() OVER (PARTITION BY anchor_id
        |                            ORDER BY dist, neg_id) AS rnk
        |  FROM cand WHERE dist >= 0.05)
        |WHERE rnk <= 5 ORDER BY anchor_id, rnk""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val labeled = e.select(col("vec_id"), col("embedding"),
        pmod(col("vec_id"), lit(4)).as("label"))
      val planted = e.filter(col("vec_id") < 8).select(
        (col("vec_id") + 1000000L).as("vec_id"), col("embedding"),
        pmod(col("vec_id") + 1, lit(4)).as("label"))
      Similarity.hardNegatives(labeled.unionByName(planted),
          labeled.filter(col("vec_id") < 8),
          "vec_id", "embedding", "label", k = 5, minDist = 0.05)
        .orderBy("anchor_id", "rnk")
    },

    // D3 scale path: LSH-bucketed ANN. Bucket assignments are
    // engine-specific and raw recall on isotropic gaussian vectors is
    // structurally low (no cluster structure for the hyperplanes to
    // exploit — probe-measured 24%@5), so the gate pins the contract
    // the operator is DESIGNED for: a near-duplicate vector collides
    // with its source's bucket (within the 1-bit multi-probe) and the
    // exact rerank returns the source as top-1. Every planted
    // perturbed copy (vec_id + 1M, ±0.006/element) must retrieve its
    // source (probe-measured 50/50 at sf0.01).
    "d3b_ann_lsh" -> QueryDef(
      """SELECT vec_id + 1000000 AS probe_id, TRUE AS src_top1
        |FROM embeddings WHERE vec_id < 50 ORDER BY probe_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = Tables(s, dir, "embeddings")
      val perturbed = e.filter(col("vec_id") < 50).select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x + (i % 7 - lit(3)) * lit(0.002)).cast("array<float>")
          .as("embedding"))
      Similarity.lshAnnJoin(e, perturbed, "vec_id", "embedding",
          k = 5, dim = 64)
        .withColumn("rn", row_number().over(
          Window.partitionBy("probe_id").orderBy(col("dist"), col("nn_id"))))
        .filter(col("rn") === 1)
        .select(col("probe_id"),
          (col("nn_id") === col("probe_id") - 1000000L).as("src_top1"))
        .orderBy("probe_id")
    },

    // D3 scale path #2: IVF-partitioned ANN. Centroids are
    // engine-derived, so the gate is twofold: (a) corpus recall@5 vs
    // the brute-force exact answer over the same probes clears a
    // floor (probe-measured 0.70 at sf0.01 with nprobe=4/16; gated at
    // ≥ 0.5), and (b) every probe gets a full top-5 (the candidate
    // cells always hold ≥ k rows).
    "d3c_ann_ivf" -> QueryDef(
      "SELECT TRUE AS recall_ok, TRUE AS complete_topk") { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val probes = e.filter(col("vec_id") < 10)
      val approx = Similarity.ivfAnnJoin(e, probes,
        "vec_id", "embedding", k = 5, nlist = 16, nprobe = 4)
      val brute = Similarity.knnJoinBrute(e, probes,
        "vec_id", "embedding", k = 5)
      val hits = brute.select("probe_id", "nn_id")
        .join(approx.select("probe_id", "nn_id"), Seq("probe_id", "nn_id"),
          "left_semi")
      hits.agg(count(lit(1)).as("nhits"))
        .crossJoin(approx.agg(count(lit(1)).as("napprox")))
        .select((col("nhits") >= lit(25)).as("recall_ok"),
          (col("napprox") === lit(50)).as("complete_topk"))
    },

    // D3 scale path #3: IVF-PQ — coarse cells + residual product
    // quantization; the coarse stage reads only the m-byte code
    // column. Same gate design as d3c: recall@5 vs brute force over
    // the same probes clears a floor (probe-measured 35/50 at sf0.01,
    // 31/50 at sf0.1 with rerankPerProbe=96; gated at ≥ 25) and every
    // probe returns a full top-5.
    "d3d_ann_ivfpq" -> QueryDef(
      "SELECT TRUE AS recall_ok, TRUE AS complete_topk") { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val probes = e.filter(col("vec_id") < 10)
      val approx = Similarity.ivfPqAnnJoin(e, probes,
        "vec_id", "embedding", k = 5, nlist = 16, nprobe = 4,
        rerankPerProbe = 96)
      val brute = Similarity.knnJoinBrute(e, probes,
        "vec_id", "embedding", k = 5)
      val hits = brute.select("probe_id", "nn_id")
        .join(approx.select("probe_id", "nn_id"), Seq("probe_id", "nn_id"),
          "left_semi")
      hits.agg(count(lit(1)).as("nhits"))
        .crossJoin(approx.agg(count(lit(1)).as("napprox")))
        .select((col("nhits") >= lit(25)).as("recall_ok"),
          (col("napprox") === lit(50)).as("complete_topk"))
    },

    // D3 index lifecycle (the reference's actual architecture: the
    // vector index is PROVISIONED once and every query reuses it —
    // CosmosDBClientWrapper.cs:119-144). The gate builds a stamped
    // IVF-PQ index table once, then queries it with ZERO training
    // work (model from the stamp, per-row codes from the table) and
    // requires the answers to be row-identical to the retrain path
    // (d3d's operator with the same parameters) and every probe to
    // get a full top-5.
    "d3e_ann_index" -> QueryDef(
      "SELECT TRUE AS index_identical, TRUE AS complete_topk") { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val probes = e.filter(col("vec_id") < 10)
      // deterministic per-sf scratch path; rebuild is idempotent
      val path = s"/tmp/graft-vindex-${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
      VectorIndex.buildIvfPq(e, path, "vec_id", "embedding",
        nlist = 16, m = 8, ks = 16)
      val viaIndex = VectorIndex.queryIvfPq(s, path, probes, k = 5,
        nprobe = 4, rerankPerProbe = 96)
      val retrain = Similarity.ivfPqAnnJoin(e, probes,
        "vec_id", "embedding", k = 5, nlist = 16, nprobe = 4,
        rerankPerProbe = 96)
      symDiffCount(viaIndex, retrain)
        .select((col("__diff") === 0L).as("index_identical"))
        .crossJoin(viaIndex.agg((count(lit(1)) === lit(50))
          .as("complete_topk")))
    },

    // D3h: graph ANN — the persistent per-cell NSW index (the index
    // CLASS the reference's README reaches for with DiskANN,
    // AzureCosmosDB/csharp/README.md:29, decomposed for a
    // shared-nothing engine: stamped IVF routing + an independent
    // navigable-small-world graph per cell, built and beam-searched
    // inside one task each). Same gate design as d3c/d3d: recall@5 vs
    // brute force over the same probes clears the floor and every
    // probe returns a full top-5; GraphIndexSpec pins batch-invariant
    // append, tombstone delete, compaction, and exhaustive-search
    // exactness.
    "d3h_ann_graph" -> QueryDef(
      "SELECT TRUE AS recall_ok, TRUE AS complete_topk") { (s, dir) =>
      import graft.ops.GraphIndex
      val e = Tables(s, dir, "embeddings")
      val probes = e.filter(col("vec_id") < 10)
      val path = s"/tmp/graft-gindex-${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
      GraphIndex.build(e, path, "vec_id", "embedding",
        nlist = 16, m = 8, efConstruction = 64)
      val approx = GraphIndex.query(s, path, probes, k = 5,
        nprobe = 4, ef = 64)
      val brute = Similarity.knnJoinBrute(e, probes,
        "vec_id", "embedding", k = 5)
      val hits = brute.select("probe_id", "nn_id")
        .join(approx.select("probe_id", "nn_id"), Seq("probe_id", "nn_id"),
          "left_semi")
      hits.agg(count(lit(1)).as("nhits"))
        .crossJoin(approx.agg(count(lit(1)).as("napprox")))
        .select((col("nhits") >= lit(25)).as("recall_ok"),
          (col("napprox") === lit(50)).as("complete_topk"))
    },

    // D3i: the index FOLLOWS the table — IndexSync.catchUp advances a
    // persistent IVF-PQ index to a manifest table's head off the
    // change feed (B13). Contract booleans: one catch-up applies
    // exactly the churn (100 new + 20 rewritten appended; 20 old
    // contents + 20 deletes removed), a second catch-up is a no-op,
    // and a full replay forced by markSynced(-1) converges without
    // appending anything twice. IndexSyncSpec adds the query-level
    // serving checks (a delete stops serving, a re-insert serves).
    "d3i_ann_index_sync" -> QueryDef(
      "SELECT TRUE AS follows_ok, TRUE AS idempotent_ok, " +
        "TRUE AS replay_ok") { (s, dir) =>
      import graft.ops.IndexSync
      import graft.sink.{ChunkStore, ManifestTableFormat}
      val e = Tables(s, dir, "embeddings")
      def rowsOf(df: org.apache.spark.sql.DataFrame,
          flip: Boolean): org.apache.spark.sql.DataFrame =
        df.select(lit(0).as("chunk_id"), lit("t").as("chunk_text"),
          (if (flip) transform(col("embedding"), x => -x)
           else col("embedding")).as("embedding"),
          lit(1).as("page_number"),
          concat(lit("vec://"), col("vec_id")).as("document_url"))
      val prepare = (rows: org.apache.spark.sql.DataFrame) =>
        rows.select(
          IndexSync.contentAddressedId(
            Seq(col("document_url"), col("chunk_id")),
            Seq(col("embedding"))).as("vid"),
          col("embedding").as("v"))
      val base = java.nio.file.Files
        .createTempDirectory("graft-isync-gate").toString
      val tbl = s"$base/t"
      val idx = s"$base/ix"
      val store = new ChunkStore(s, tbl)
      val mtf = new ManifestTableFormat(s, tbl, store.schema)
      store.upsert(rowsOf(e.filter(col("vec_id") < 200), flip = false))
      VectorIndex.buildIvfPq(prepare(store.read()), idx, "vid", "v",
        nlist = 8, m = 8, ks = 16)
      IndexSync.markSynced(s, idx, mtf.version)
      // churn: 100 new, 20 rewritten (vector flips), 20 deleted
      store.upsert(rowsOf(
        e.filter(col("vec_id") >= 200 && col("vec_id") < 300),
        flip = false))
      store.upsert(rowsOf(e.filter(col("vec_id") < 20), flip = true))
      store.delete((20 until 40).map(i => s"vec://$i"))
      val s1 = IndexSync.catchUp(s, tbl, idx, prepare)
      val s2 = IndexSync.catchUp(s, tbl, idx, prepare)
      IndexSync.markSynced(s, idx, -1L)
      val s3 = IndexSync.catchUp(s, tbl, idx, prepare)
      import s.implicits._
      Seq((s1.appended == 120L && s1.tombstoned == 40L,
          s2 == IndexSync.Stats(s1.toVersion, s1.toVersion, 0L, 0L),
          s3.appended == 0L && s3.tombstoned == 0L))
        .toDF("follows_ok", "idempotent_ok", "replay_ok")
    },

    // D6: embedding-cosine near-duplicate pairs.
    "d6_embedding_neardup" -> QueryDef(
      """SELECT a.vec_id AS id1, b.vec_id AS id2,
        |       ROUND(1.0 - list_cosine_similarity(a.embedding::DOUBLE[],
        |                                          b.embedding::DOUBLE[]), 6) AS dist
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < 200 AND b.vec_id < 200 AND a.vec_id < b.vec_id
        |  AND 1.0 - list_cosine_similarity(a.embedding::DOUBLE[],
        |                                   b.embedding::DOUBLE[]) <= 0.75
        |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
      Similarity.cosineNearDupPairs(
          Tables(s, dir, "embeddings").filter(col("vec_id") < 200),
          "vec_id", "embedding", maxDistance = 0.75)
        .orderBy("id1", "id2")
    },

    // D6 (cache flavor): skip-unchanged re-ingest. The second pass
    // uses a zero-vector embedder — if ANY chunk were re-embedded its
    // norm would be 0, so the all-norms-are-1 oracle proves every
    // vector came from the cache.
    "d6b_embedding_cache" -> QueryDef(
      """SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS document_url,
        |       CAST(1.0 AS DOUBLE) AS nrm
        |FROM documents ORDER BY document_url""".stripMargin) { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val existing = IngestPipeline.ingestDocumentsTable(
        s, docs, DeterministicEmbedder(64))
      val pending = IngestPipeline.chunkDocumentsTable(docs)
        .as[graft.pipeline.PendingChunk]
      val zeroEmbedder = new graft.embed.Embedder {
        val dimensions = 64
        def embed(ts: Seq[String]) = ts.map(_ => new Array[Float](64))
      }
      IngestPipeline.incrementalEmbed(pending, existing, zeroEmbedder)
        .groupBy("document_url")
        .agg(round(min(graft.functions.GraftFunctions
          .vector_norm(col("embedding"))), 6).as("nrm"))
        .orderBy("document_url")
    },

    // D4: quality scoring — formula recomputed verbatim in DuckDB.
    "d4b_quality_score" -> QueryDef(
      """SELECT doc_id,
        |       ROUND(LEAST(LENGTH(text), 500) * 1.0 / 500 * 0.4
        |         + len(list_filter(string_split(lower(text), ' '),
        |             x -> x IN ('the','and','of','to','in','is','a','that','it','for')))
        |           * 1.0 / len(string_split(text, ' ')) * 0.4
        |         + CASE WHEN (LENGTH(text) - len(string_split(text, ' ')) + 1) * 1.0
        |                     / len(string_split(text, ' ')) BETWEEN 3.0 AND 8.0
        |                THEN 0.2 ELSE 0.0 END, 6) AS q
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("q"))
        .orderBy("doc_id")
    },

    // D4: heuristic language-ID. The profile tables are engine spec
    // (the synthetic corpus legitimately classifies as mixed), so the
    // gate plants one unambiguous sentence per supported language —
    // appended to a real document text so the corpus-scan workload
    // stays in the measured path — and requires BOTH classifiers
    // (stopword + trigram) to argmax the planted language. The marker
    // is repeated so it dominates the mixed-language body.
    "d4c_lang_id" -> QueryDef(
      """SELECT d.doc_id, l.lang AS expected, TRUE AS stopword_ok, TRUE AS trigram_ok
        |FROM (SELECT doc_id FROM documents WHERE doc_id < 100) d
        |CROSS JOIN (VALUES ('en'), ('es'), ('de'), ('fr')) l(lang)
        |ORDER BY doc_id, expected""".stripMargin) { (s, dir) =>
      import s.implicits._
      val markers = Seq(
        ("en", "the cat and the dog that is in the house of it for the win"),
        ("es", "el que los del se las y en la casa que los del se"),
        ("de", "der die und das ist ein zu den mit nicht der die und das"),
        ("fr", "les parents paient lentement leurs paiements pendant que les chanteurs parlent aux fleurs"))
        .toDF("expected", "marker")
      val boosted = Tables(s, dir, "documents")
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), col("text"))
        .crossJoin(broadcast(markers))
        // marker repeated 12× ≫ any ~550-char document body
        .withColumn("t", concat(col("text"), lit(" "),
          array_join(array_repeat(col("marker"), 12), " ")))
      boosted.select(col("doc_id"), col("expected"),
          (TextAnalysis.langId(col("t")) === col("expected")).as("stopword_ok"),
          (TextAnalysis.langIdNgram(col("t")) === col("expected")).as("trigram_ok"))
        .orderBy("doc_id", "expected")
    },

    // D4: content fingerprint (md5 of normalized text).
    "d4d_fingerprint" -> QueryDef(
      """SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    // D4: PII redaction for corpus curation. The harness corpus is
    // PII-free, so both sides plant identical synthetic contact info
    // before scrubbing — the oracle applies the same RE2-compatible
    // patterns with the 'g' flag (DuckDB replaces first-only without).
    "d4e_redact" -> QueryDef(
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        text || ' contact user' || CAST(doc_id AS VARCHAR)
        |             || '@example.com or +1 (555) 123-9876 ref 123456789',
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '[0-9]{7,}', '[NUMBER]', 'g'),
        |    '\+?[0-9][0-9() .-]{5,}[0-9]', '[PHONE]', 'g') AS clean
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.redactPii(
            concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com or +1 (555) 123-9876 ref 123456789")))
            .as("clean"))
        .orderBy("doc_id")
    },

    // D4f: boilerplate-line removal — both sides plant a footer in
    // every document (df = 100% > 50% threshold → dropped) plus a
    // unique per-doc line (kept); the oracle rebuilds the frequent
    // set and filters with the same threshold.
    "d4f_boilerplate" -> QueryDef(
      """WITH docs AS (
        |  SELECT doc_id,
        |         text || chr(10) || 'Copyright Example Corp'
        |              || chr(10) || 'ref ' || CAST(doc_id AS VARCHAR) AS t
        |  FROM documents),
        |lines AS (
        |  SELECT DISTINCT doc_id, UNNEST(string_split(t, chr(10))) AS line
        |  FROM docs),
        |freq AS (
        |  SELECT line FROM (SELECT line, COUNT(*) AS df FROM lines GROUP BY 1)
        |  WHERE df > 0.5 * (SELECT COUNT(*) FROM documents)),
        |bl AS (SELECT list(line) AS b FROM freq)
        |SELECT doc_id,
        |       array_to_string(list_filter(string_split(t, chr(10)),
        |         x -> NOT list_contains(b, x)), chr(10)) AS clean
        |FROM docs, bl ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("text"), lit("\nCopyright Example Corp\nref "),
            col("doc_id").cast("string")).as("t"))
      TextAnalysis.removeBoilerplate(docs, "doc_id", "t", maxDocShare = 0.5)
        .orderBy("doc_id")
    },

    // D4g: rolling-hash (winnowed) fingerprint overlap — partial
    // plagiarism detection. Hash values are engine spec, but the
    // winnowing GUARANTEE is not: two documents sharing a substring of
    // length ≥ w + k - 1 = 23 chars share ≥ 1 fingerprint. Each
    // planted composite (front 120 chars of doc i + back of doc i+1)
    // shares ≥ 80 chars with each parent once parents are filtered to
    // length ≥ 200, so at minShared = 3 BOTH parent links must
    // surface (probe-measured 44/44 at sf0.01, 62/62 at sf0.1). The
    // oracle recomputes eligible composite ids from the same length
    // filter.
    "d4g_winnow_overlap" -> QueryDef(
      """SELECT a.doc_id + 1000000 AS comp_id,
        |       TRUE AS front_parent_found, TRUE AS back_parent_found
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |WHERE a.doc_id < 50 AND LENGTH(a.text) >= 200
        |  AND b.doc_id < 50 AND LENGTH(b.text) >= 200
        |ORDER BY comp_id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir, "documents")
        .filter(col("doc_id") < 50 && length(col("text")) >= 200)
        .select("doc_id", "text")
      val halves = d.select(col("doc_id"),
        substring(col("text"), 1, 120).as("front"),
        substring(col("text"), 121, 100000).as("back"))
      val composites = halves.as("x")
        .join(halves.as("y"), col("x.doc_id") + 1 === col("y.doc_id"))
        .select((col("x.doc_id") + 1000000L).as("doc_id"),
          concat(col("x.front"), lit(" "), col("y.back")).as("text"))
      val pairs = Dedup.winnowOverlapPairs(d.unionByName(composites),
        "doc_id", "text", k = 16, w = 8, minShared = 3)
      // pairs emit id1 < id2, so parent links arrive as (parent, comp)
      val links = pairs.filter(col("id2") >= 1000000L)
        .select(col("id2").as("comp_id"), col("id1").as("parent_id"))
      composites.select(col("doc_id").as("comp_id"))
        .join(links, Seq("comp_id"), "left")
        .groupBy("comp_id")
        .agg(
          (count(when(col("parent_id") === col("comp_id") - 1000000L, 1)) >= 1)
            .as("front_parent_found"),
          (count(when(col("parent_id") === col("comp_id") - 1000000L + 1L, 1)) >= 1)
            .as("back_parent_found"))
        .orderBy("comp_id")
    },

    // D4h: BPE-style token counting — a GPT-2-shaped pre-tokenizer
    // regex (contraction suffixes, space-prefixed letter/digit runs,
    // punctuation runs) counted per document, alongside the whitespace
    // word count and the len/4 estimator the chunker budgets with.
    // Both engines run the same RE2-compatible pattern, so the counts
    // are bit-identical.
    "d4h_bpe_tokens" -> QueryDef(
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text,
        |         '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+'))
        |         AS BIGINT) AS n_bpe,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
        |       CAST(LENGTH(text) // 4 AS BIGINT) AS n_est
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val pat = "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(pat), lit(0)))
            .cast("long").as("n_bpe"),
          size(split(col("text"), " ")).cast("long").as("n_ws"),
          graft.functions.GraftFunctions.token_count(col("text"))
            .cast("long").as("n_est"))
        .orderBy("doc_id")
    },

    // D4i: repetition signals for corpus curation (the
    // duplicate-fraction family of quality filters): duplicate-word
    // fraction and duplicate-bigram fraction per row (array ops, no
    // shuffle), top-word fraction as a two-level aggregate (per-word
    // counts then per-doc max/sum — map-side combine keeps the
    // exchange bounded by vocabulary, not tokens).
    "d4i_repetition" -> QueryDef(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |base AS (
        |  SELECT doc_id, len(ws) AS n,
        |         ROUND(1.0 - len(list_distinct(ws)) * 1.0 / len(ws), 6)
        |           AS dup_word_frac,
        |         ROUND(CASE WHEN len(ws) < 2 THEN 0.0
        |           ELSE 1.0 - len(list_distinct(list_transform(
        |                  range(1, len(ws)), i -> ws[i] || chr(31) || ws[i + 1])))
        |                * 1.0 / (len(ws) - 1) END, 6) AS dup_bigram_frac
        |  FROM w),
        |tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tw FROM documents),
        |wc AS (SELECT doc_id, tw, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |top AS (SELECT doc_id, ROUND(MAX(c) * 1.0 / SUM(c), 6) AS top_word_frac
        |        FROM wc GROUP BY 1)
        |SELECT b.doc_id, CAST(b.n AS BIGINT) AS n,
        |       b.dup_word_frac, b.dup_bigram_frac, t.top_word_frac
        |FROM base b JOIN top t ON t.doc_id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val base = docs.select(col("doc_id"),
          split(col("text"), " ").as("ws"))
        .select(col("doc_id"), size(col("ws")).cast("long").as("n"),
          round(lit(1.0) - size(array_distinct(col("ws"))) * lit(1.0) /
            size(col("ws")), 6).as("dup_word_frac"),
          round(when(size(col("ws")) < 2, lit(0.0)).otherwise(
            lit(1.0) - size(array_distinct(transform(
              sequence(lit(1), size(col("ws")) - 1),
              i => concat(element_at(col("ws"), i), lit("\u001f"),
                element_at(col("ws"), i + 1))))) * lit(1.0) /
              (size(col("ws")) - 1)), 6).as("dup_bigram_frac"))
      val top = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tw"))
        .groupBy("doc_id", "tw").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(round(max(col("c")) * lit(1.0) / sum(col("c")), 6)
          .as("top_word_frac"))
      base.join(top, "doc_id").orderBy("doc_id")
    },

    // D4j: Unicode NFC normalization — sources emitting decomposed
    // sequences (e + U+0301) must hash/shingle/fingerprint identically
    // to composed ones (é). Both sides plant decomposed suffixes
    // in-query and must produce byte-identical composed output
    // (DuckDB's nfc_normalize vs the JDK Normalizer — both implement
    // the Unicode standard).
    "d4j_nfc_normalize" -> QueryDef(
      """SELECT doc_id,
        |       nfc_normalize(text || ' cafe' || chr(769) || ' u'
        |                     || chr(776) || 'ber') AS t
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import graft.functions.GraftFunctions.nfc_normalize
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          nfc_normalize(concat(col("text"),
            lit(" cafe\u0301 u\u0308ber"))).as("t"))
        .orderBy("doc_id")
    },

    // D7: deterministic hash-based sampling — reproducible corpus
    // snapshots whose membership any engine recomputes bit-for-bit
    // (md5-prefix threshold; rand() would be layout-dependent and
    // engine-specific). Grouping by event_type shows the sample is
    // uniform within every stratum.
    "d7_hash_sample" -> QueryDef(
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(MIN(event_id) AS BIGINT) AS first_id
        |FROM events
        |WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 4) < '3333'
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      graft.ops.Sampling
        .deterministicSample(Tables(s, dir, "events"), "event_id", 0.2)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), min("event_id").as("first_id"))
        .orderBy("event_type")
    },

    // D7e: leakage-safe train/validation split — the assignment key
    // is the SOURCE, so a whole domain lands on one side (doc-level
    // splits leak within-source near-dups into validation). The
    // oracle recomputes the md5-threshold assignment per source and
    // the per-(source, split) counts; one_side pins group atomicity
    // against any refactor toward a non-source-determined expression.
    "d7e_source_split" -> QueryDef(
      """SELECT source,
        |       CASE WHEN substr(md5(source || 'v1'), 1, 4) < '1999'
        |            THEN 'val' ELSE 'train' END AS split,
        |       TRUE AS one_side,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
        graft.ops.Sampling
          .splitBySource(Tables(s, dir, "documents"), "source", 0.1, "v1")
          .groupBy("source")
          .agg(max(col("split")).as("split"),
            (count_distinct(col("split")) === 1).as("one_side"),
            count(lit(1)).as("n"))
          .orderBy("source")
    },

    // D7b: deterministic fixed-size per-stratum sampling — the
    // reproducible replacement for reservoir sampling: the n
    // hash-smallest keys of each stratum, identical in any engine and
    // under any data layout. One keyed window (shuffle on the stratum,
    // bounded per-stratum state) — never a global sort.
    "d7b_stratified_sample" -> QueryDef(
      """SELECT event_type, event_id
        |FROM events
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type
        |  ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) <= 20
        |ORDER BY event_type, event_id""".stripMargin) { (s, dir) =>
      graft.ops.Sampling
        .stratifiedSample(Tables(s, dir, "events"), "event_id", "event_type",
          n = 20)
        .select("event_type", "event_id")
        .orderBy("event_type", "event_id")
    },

    // D9: per-group embedding centroid via the typed vector_avg
    // Aggregator (SURVEY §2.5's UDAF surface) — fixed-size buffer,
    // map-side partial aggregation, no vector list materialized. The
    // oracle recomputes spot dimensions as plain AVGs over the array
    // elements (double accumulation both sides).
    "d9_vector_centroid" -> QueryDef(
      """SELECT CAST(vec_id % 8 AS BIGINT) AS grp,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       ROUND(AVG(CAST(embedding[1] AS DOUBLE)), 6) + 0.0 AS c1,
        |       ROUND(AVG(CAST(embedding[17] AS DOUBLE)), 6) + 0.0 AS c17,
        |       ROUND(AVG(CAST(embedding[33] AS DOUBLE)), 6) + 0.0 AS c33,
        |       ROUND(AVG(CAST(embedding[64] AS DOUBLE)), 6) + 0.0 AS c64
        |FROM embeddings GROUP BY 1 ORDER BY grp""".stripMargin) { (s, dir) =>
      import graft.functions.VectorAggregates.vector_avg
      Tables(s, dir, "embeddings")
        .groupBy((col("vec_id") % 8).as("grp"))
        .agg(count(lit(1)).as("n"), vector_avg(col("embedding")).as("c"))
        .select(col("grp"), col("n"),
          (round(element_at(col("c"), 1), 6) + 0.0).as("c1"),
          (round(element_at(col("c"), 17), 6) + 0.0).as("c17"),
          (round(element_at(col("c"), 33), 6) + 0.0).as("c33"),
          (round(element_at(col("c"), 64), 6) + 0.0).as("c64"))
        .orderBy("grp")
    },

    // D10: group-level MinHash via the minhash_agg UDAF — the
    // signature of a document GROUP's shingle union as an elementwise
    // min fold (collection-level dedup/similarity without rereading
    // texts). Signatures are engine spec; the gate is a
    // cross-implementation check: the typed Aggregator must agree
    // bit-for-bit with the independent posexplode + per-position-min
    // formulation on every group.
    "d10_minhash_group" -> QueryDef(
      """SELECT CAST(doc_id % 8 AS BIGINT) AS g, TRUE AS agg_matches
        |FROM documents GROUP BY 1 ORDER BY g""".stripMargin) { (s, dir) =>
      import graft.functions.GraftFunctions.minhash_signature
      import graft.functions.VectorAggregates.minhash_agg
      val sigs = Tables(s, dir, "documents")
        .select((col("doc_id") % 8).as("g"),
          minhash_signature(col("text"), lit(64), lit(3)).as("sig"))
      val viaAgg = sigs.groupBy("g").agg(minhash_agg(col("sig")).as("sa"))
      val viaExplode = sigs
        .select(col("g"), posexplode(col("sig")).as(Seq("i", "h")))
        .groupBy("g", "i").agg(min("h").as("h"))
        .groupBy("g")
        .agg(transform(array_sort(collect_list(struct(col("i"), col("h")))),
          x => x.getField("h")).as("se"))
      viaAgg.join(viaExplode, "g")
        .select(col("g").cast("long").as("g"),
          (col("sa") === col("se")).as("agg_matches"))
        .orderBy("g")
    },

    // D10b: cross-source overlap matrix — estimated shingle-set
    // Jaccard between every source pair from ONE narrow group-MinHash
    // aggregate (the corpus never shuffles), verified against the
    // exact pairwise Jaccard the oracle recomputes from scratch.
    // exact_jaccard hash-matches; self-pairs must estimate exactly 1
    // (identical signatures); off-diagonal estimator error is bounded
    // by 0.1 (k=128 → 3σ ≈ 0.13 at worst-case J; measured max on this
    // corpus ≈ 0.04).
    "d10b_source_overlap" -> QueryDef(
      """WITH toks AS (
        |  SELECT source, list_filter(string_split_regex(lower(text), '\s+'),
        |                             x -> x <> '') AS ts
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT source, array_to_string(ts[i:i+2], ' ') AS g
        |  FROM (SELECT source, ts, UNNEST(range(1, len(ts) - 1)) AS i
        |        FROM toks WHERE len(ts) >= 3)),
        |sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
        |inter AS (SELECT a.source AS s1, b.source AS s2, COUNT(*) AS ix
        |          FROM sh a JOIN sh b ON a.g = b.g AND a.source <= b.source
        |          GROUP BY 1, 2)
        |SELECT x.source AS g1, y.source AS g2,
        |       ROUND(COALESCE(i.ix, 0) * 1.0
        |             / (x.n + y.n - COALESCE(i.ix, 0)), 6) AS exact_jaccard,
        |       TRUE AS est_ok
        |FROM sizes x JOIN sizes y ON x.source <= y.source
        |LEFT JOIN inter i ON i.s1 = x.source AND i.s2 = y.source
        |ORDER BY g1, g2""".stripMargin) { (s, dir) =>
      import graft.functions.GraftFunctions.word_shingles
      val docs = Tables(s, dir, "documents").select("source", "text")
      val est = Dedup.groupMinhashOverlap(docs, "source", "text",
        numHashes = 128, shingleSize = 3)
      val sh = docs.select(col("source"),
          explode(word_shingles(col("text"), lit(3))).as("g"))
        .distinct()
      val sizes = sh.groupBy("source").agg(count(lit(1)).as("n"))
      val inter = sh.as("a").join(sh.as("b"),
          col("a.g") === col("b.g") && col("a.source") <= col("b.source"))
        .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
        .agg(count(lit(1)).as("ix"))
      val exact = sizes.as("x").join(broadcast(sizes.as("y")),
          col("x.source") <= col("y.source"))
        .join(inter, col("x.source") === col("s1")
          && col("y.source") === col("s2"), "left")
        .select(col("x.source").as("g1"), col("y.source").as("g2"),
          round(coalesce(col("ix"), lit(0L)) * lit(1.0)
            / (col("x.n") + col("y.n") - coalesce(col("ix"), lit(0L))), 6)
            .as("exact_jaccard"))
      exact.join(est, Seq("g1", "g2"))
        .select(col("g1"), col("g2"), col("exact_jaccard"),
          (when(col("g1") === col("g2"), col("est_jaccard") === 1.0)
            .otherwise(abs(col("est_jaccard") - col("exact_jaccard"))
              <= 0.1)).as("est_ok"))
        .orderBy("g1", "g2")
    },

    // D8: int8 scalar quantization (the reference's QuantizedFlat
    // vector index scheme). The BIGINT code checksum proves the codes
    // are bit-identical across engines; the boolean pins the
    // scale/2 reconstruction-error bound.
    "d8_quantize_int8" -> QueryDef(
      """WITH dv AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |st AS (
        |  SELECT vec_id, v, list_min(v) AS mn,
        |         CASE WHEN (list_max(v) - list_min(v)) / 255.0 = 0.0 THEN 1.0
        |              ELSE (list_max(v) - list_min(v)) / 255.0 END AS scale
        |  FROM dv)
        |SELECT vec_id,
        |       CAST(list_sum(list_transform(v,
        |         x -> CAST(FLOOR((x - mn)/scale + 0.5) AS BIGINT))) AS BIGINT)
        |         AS code_sum,
        |       list_max(list_transform(v,
        |         x -> ABS(mn + FLOOR((x - mn)/scale + 0.5) * scale - x)))
        |         <= scale/2 + 1e-12 AS within_bound
        |FROM st ORDER BY vec_id""".stripMargin) { (s, dir) =>
      import graft.ops.Quantize
      Tables(s, dir, "embeddings")
        .select(col("vec_id"),
          aggregate(Quantize.int8Codes(col("embedding")), lit(0L),
            (acc, c) => acc + c).as("code_sum"),
          (Quantize.maxRoundTripError(col("embedding")) <=
            Quantize.quantScale(col("embedding")) / 2 + lit(1e-12))
            .as("within_bound"))
        .orderBy("vec_id")
    },

    // D8b: two-stage quantized top-k — coarse ranking over the packed
    // int8 codes (asymmetric distance), exact rerank of 40 survivors.
    // The oracle replays both stages over the dequantized vectors
    // (codes are bit-identical per d8, so the coarse order agrees).
    "d8b_quantized_topk" -> QueryDef(
      """WITH dv AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |st AS (
        |  SELECT vec_id, v, list_min(v) AS mn,
        |         CASE WHEN (list_max(v) - list_min(v)) / 255.0 = 0.0 THEN 1.0
        |              ELSE (list_max(v) - list_min(v)) / 255.0 END AS scale
        |  FROM dv),
        |dq AS (
        |  SELECT vec_id, v,
        |         list_transform(v, x -> mn + FLOOR((x - mn)/scale + 0.5) * scale) AS vq
        |  FROM st),
        |probe AS (SELECT v AS pv FROM dv WHERE vec_id = 0),
        |coarse AS (
        |  SELECT d.vec_id, d.v,
        |         ROUND(1.0 - list_cosine_similarity(d.vq, p.pv), 6) AS qd
        |  FROM dq d, probe p
        |  ORDER BY qd, d.vec_id LIMIT 40)
        |SELECT c.vec_id, ROUND(1.0 - list_cosine_similarity(c.v, p.pv), 6) + 0.0 AS dist
        |FROM coarse c, probe p
        |ORDER BY dist, vec_id LIMIT 10""".stripMargin) { (s, dir) =>
      import graft.ops.Quantize
      val e = Tables(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      Quantize.topKQuantized(
          Quantize.withIndexColumns(e, "embedding"), qv,
          k = 10, idCol = "vec_id", rerank = 40)
        .select(col("vec_id"), col("dist"))
        .orderBy("dist", "vec_id")
    },

    // D8c: product quantization (trained codebook, 32× compression,
    // ADC coarse ranking + exact rerank). Codes/codebook are
    // engine-derived, so the gate pins the operator contract: the
    // probe's own vector must come back rank-1 (ADC keeps an exact
    // copy inside any sane rerank cut), and recall@10 vs the exact
    // top-10 must clear a floor. On clusterless gaussian data the
    // rerank cut must scale with the corpus (probe-measured: n/10 →
    // 9/10 at sf0.01, 7/10 at sf0.1; gated at ≥ 5) — at real scale
    // PQ composes with IVF cells (coarse-quantize then PQ within the
    // cell) so the cut stays bounded; PQ-flat is the index-free form.
    "d8c_pq_topk" -> QueryDef(
      "SELECT TRUE AS recall_ok, TRUE AS self_top1") { (s, dir) =>
      import graft.ops.Quantize
      val e = Tables(s, dir, "embeddings")
      val model = Quantize.trainPq(e, "vec_id", "embedding", m = 8, ks = 16)
      val probe = e.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      val rerank = math.max(100L, e.count() / 10).toInt
      val pq = Quantize.topKPq(Quantize.withPqCodes(e, "embedding", model),
        model, probe, k = 10, idCol = "vec_id", rerank = rerank)
      val exactTop = graft.ops.VectorSearch.topK(e, probe, 10)
        .select("vec_id")
      val hits = exactTop.join(pq.select("vec_id"), Seq("vec_id"), "left_semi")
      val top1 = pq.orderBy(col("dist"), col("vec_id")).limit(1)
        .select(col("vec_id").as("first_id"))
      hits.agg(count(lit(1)).as("nhits")).crossJoin(top1)
        .select((col("nhits") >= 5).as("recall_ok"),
          (col("first_id") === 0L).as("self_top1"))
    },

    // D8d: binary (1-bit) quantization — sign bits against the sample
    // mean, packed 64/long (32× compression), XOR+popcount Hamming
    // coarse ranking + exact rerank. Codes are engine-derived, so the
    // gate pins the operator contract like d8c: the probe's own vector
    // must come back rank-1 (its Hamming distance to itself is 0 —
    // always inside the cut), recall@10 vs the exact top-10 must clear
    // a floor at rerank = n/10, and the distributed encoder must agree
    // bit-for-bit with the driver-side probe encoder.
    "d8d_binary_topk" -> QueryDef(
      "SELECT TRUE AS recall_ok, TRUE AS self_top1, TRUE AS codes_agree") {
      (s, dir) =>
      import graft.ops.Quantize
      val e = Tables(s, dir, "embeddings")
      val model = Quantize.trainBq(e, "vec_id", "embedding")
      val probe = e.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      val rerank = math.max(100L, e.count() / 10).toInt
      val indexed = Quantize.withBqCodes(e, "embedding", model)
      val bq = Quantize.topKBinary(indexed, model, probe,
        k = 10, idCol = "vec_id", rerank = rerank)
      val exactTop = graft.ops.VectorSearch.topK(e, probe, 10)
        .select("vec_id")
      val hits = exactTop.join(bq.select("vec_id"), Seq("vec_id"), "left_semi")
      val top1 = bq.orderBy(col("dist"), col("vec_id")).limit(1)
        .select(col("vec_id").as("first_id"))
      // the probe row's DISTRIBUTED code must equal the driver encode
      val agree = indexed.filter(col("vec_id") === 0)
        .select((col("bq_codes") ===
          typedlit(Quantize.bqEncode(probe, model))).as("ok"))
      hits.agg(count(lit(1)).as("nhits")).crossJoin(top1).crossJoin(agree)
        .select((col("nhits") >= 5).as("recall_ok"),
          (col("first_id") === 0L).as("self_top1"),
          col("ok").as("codes_agree"))
    },

    // D8e: matryoshka (truncated-prefix) two-stage top-k — coarse
    // cosine over the first 16 of 64 components (the narrow
    // `vec_prefix` column the coarse scan reads instead of the full
    // vector), exact rerank of the top-40. Full hash-match oracle:
    // DuckDB recomputes both stages, including the round-6 + id
    // tiebreak at the coarse boundary that makes the candidate cut
    // engine-reproducible.
    "d8e_prefix_topk" -> QueryDef(
      """WITH dv AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |probe AS (SELECT v AS pv FROM dv WHERE vec_id = 0),
        |coarse AS (
        |  SELECT d.vec_id, d.v,
        |         ROUND(1.0 - list_cosine_similarity(d.v[1:16], p.pv[1:16]), 6) AS pd
        |  FROM dv d, probe p
        |  ORDER BY pd, d.vec_id LIMIT 40)
        |SELECT c.vec_id, ROUND(1.0 - list_cosine_similarity(c.v, p.pv), 6) + 0.0 AS dist
        |FROM coarse c, probe p
        |ORDER BY dist, vec_id LIMIT 10""".stripMargin) { (s, dir) =>
      import graft.ops.Quantize
      val e = Tables(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      Quantize.topKPrefix(
          Quantize.withPrefixColumn(e, "embedding", 16), qv,
          k = 10, idCol = "vec_id", prefixDim = 16, rerank = 40)
        .select(col("vec_id"), col("dist"))
        .orderBy("dist", "vec_id")
    },

    // D5b: the frame-sampling stage through the gate — the oracle
    // recomputes the slicing arithmetic (frames = min(n, bytes),
    // frame size = max(1, bytes div frames), total = covered prefix)
    // from the payload byte length alone.
    "d5b_frame_sample" -> QueryDef(
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |         octet_length(CAST(text AS BLOB)) AS blen
        |  FROM documents),
        |f AS (
        |  SELECT media_id, LEAST(4, blen) AS nf,
        |         GREATEST(1, blen // LEAST(4, blen)) AS fsize, blen
        |  FROM m WHERE blen > 0)
        |SELECT media_id,
        |       CAST(nf AS BIGINT) AS n_frames,
        |       CAST(LEAST(blen, nf * fsize) AS BIGINT) AS total_bytes,
        |       CAST(nf - 1 AS BIGINT) AS last_ix
        |FROM f ORDER BY media_id""".stripMargin) { (s, dir) =>
      val media = Media.mediaFromDocuments(Tables(s, dir, "documents"))
      Media.sampleFrames(media, StubMediaDecoder(8), nFrames = 4)
        .toDF()
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_frames"),
          sum(length(col("frame"))).cast("long").as("total_bytes"),
          max(col("frame_index")).cast("long").as("last_ix"))
        .orderBy("media_id")
    },

    // D5c: media near-dup grouping by sampled-frame signature — the
    // video analog of content-hash dedup through the same distributed
    // plumbing (with a real codec the frames are keyframes, making
    // the signature container-metadata-invariant). The corpus has
    // planted duplicate texts (→ identical payload bytes → identical
    // frames), so real groups exist. The oracle recomputes the
    // 4-frame byte slices from the payload blob, the signature
    // grouping, and the min-id keeper rule.
    "d5c_media_dedup" -> QueryDef(
      """WITH m AS (
        |  SELECT doc_id AS media_id, CAST(text AS BLOB) AS b,
        |         octet_length(CAST(text AS BLOB)) AS blen
        |  FROM documents
        |  WHERE octet_length(CAST(text AS BLOB)) >= 4),
        |f AS (SELECT media_id, hex(b) AS h, blen // 4 AS fs FROM m),
        |sig AS (
        |  -- signature = md5 over the per-frame md5s of the 4
        |  -- contiguous fs-byte slices (hashed per frame engine-side
        |  -- so payload bytes never cross an exchange)
        |  SELECT media_id,
        |         md5(md5(substring(h, 1, 2 * fs))
        |             || md5(substring(h, 2*fs + 1, 2 * fs))
        |             || md5(substring(h, 4*fs + 1, 2 * fs))
        |             || md5(substring(h, 6*fs + 1, 2 * fs))) AS sg
        |  FROM f)
        |SELECT media_id,
        |       MIN(media_id) OVER (PARTITION BY sg) AS root,
        |       media_id <> MIN(media_id) OVER (PARTITION BY sg) AS is_dup,
        |       COUNT(*) OVER (PARTITION BY sg) AS n_members
        |FROM sig ORDER BY media_id""".stripMargin) { (s, dir) =>
      val media = Media.mediaFromDocuments(Tables(s, dir, "documents"))
        .filter(length(col("content")) >= 4)
      Media.frameSignatureGroups(media, StubMediaDecoder(8), nFrames = 4)
        .orderBy("media_id")
    },

    // B4: keyword full-text search.
    "b4_fulltext_like" -> QueryDef(
      """SELECT doc_id FROM documents
        |WHERE text LIKE '%window%' ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .filter(col("text").like("%window%"))
        .select("doc_id").orderBy("doc_id")
    },

    // B4 scored variant: TF-IDF ranking for a keyword query. The
    // query-term filter sits BELOW both aggregates: per-term document
    // frequency is unchanged by dropping other terms, so tf and idf
    // shuffle only rows whose token is a query term — a full-corpus
    // vocabulary shuffle to answer a 2-keyword query would never
    // survive 100 TB.
    "b4b_fulltext_tfidf" -> QueryDef(
      """WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents),
        |qtok AS (SELECT doc_id, w FROM tok WHERE w IN ('window', 'filter')),
        |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM qtok GROUP BY 1, 2),
        |idf AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM qtok GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT t.doc_id, ROUND(SUM(t.tf * LN(n.n * 1.0 / d.df)), 6) AS score
        |FROM tf t JOIN idf d ON t.w = d.w CROSS JOIN n
        |GROUP BY t.doc_id
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val qtok = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w").isin("window", "filter"))
      val tf = qtok.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val idf = qtok.groupBy("w").agg(countDistinct("doc_id").as("df"))
      val n = docs.count() // dimension-scale scalar (doc count), driver-side by design
      tf.join(broadcast(idf), "w")
        .groupBy("doc_id")
        .agg(round(sum(col("tf") * log(lit(n) * lit(1.0) / col("df"))), 6)
          .as("score"))
        .orderBy(desc("score"), asc("doc_id"))
        .limit(20)
    },

    // B4 scored variant #2: BM25 ranking (the reference's "eventually
    // Full-text" endpoint, Okapi weighting, k1=1.2 b=0.75). Same
    // scale shape as b4b — the query-term filter sits below both
    // aggregates — plus the BM25-specific length normalization: doc
    // length joins in by BROADCASTING the (tiny, query-term-bounded)
    // tf set into the length scan, so the corpus-sized side never
    // shuffles. n/avgdl are dimension-scale scalars (driver-side by
    // design, like b4b's n). Per-doc sums have ≤ 2 addends (2 query
    // terms), so float summation order cannot skew the 6-dp round.
    "b4c_fulltext_bm25" -> QueryDef(
      """WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents),
        |qtok AS (SELECT doc_id, w FROM tok WHERE w IN ('window', 'filter')),
        |tf AS (SELECT doc_id, w, CAST(COUNT(*) AS DOUBLE) AS tf FROM qtok GROUP BY 1, 2),
        |idf AS (SELECT w, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM qtok GROUP BY 1),
        |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl FROM documents),
        |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |              AVG(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl
        |       FROM documents)
        |SELECT t.doc_id,
        |       ROUND(SUM(LN(1 + (st.n - i.df + 0.5) / (i.df + 0.5)) * t.tf * 2.2
        |                 / (t.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / st.avgdl))), 6)
        |         AS score
        |FROM tf t JOIN idf i ON t.w = i.w
        |JOIN dl d ON d.doc_id = t.doc_id CROSS JOIN st
        |GROUP BY t.doc_id
        |ORDER BY score DESC, t.doc_id LIMIT 20""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val stats = docs.agg(
        count(lit(1)).cast("double").as("n"),
        avg(size(split(col("text"), " ")).cast("double")).as("avgdl")).head()
      val (n, avgdl) = (stats.getDouble(0), stats.getDouble(1))
      val qtok = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w").isin("window", "filter"))
      val tf = qtok.groupBy("doc_id", "w")
        .agg(count(lit(1)).cast("double").as("tf"))
      val idf = qtok.groupBy("w")
        .agg(countDistinct("doc_id").cast("double").as("df"))
      val dl = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("double").as("dl"))
      val idfW = log(lit(1.0) + (lit(n) - col("df") + 0.5) / (col("df") + 0.5))
      val lenNorm = lit(1.2) * (lit(1.0) - lit(0.75) +
        lit(0.75) * col("dl") / lit(avgdl))
      dl.join(broadcast(tf.join(broadcast(idf), "w")), "doc_id")
        .groupBy("doc_id")
        .agg(round(sum(idfW * col("tf") * lit(2.2) /
          (col("tf") + lenNorm)), 6).as("score"))
        .orderBy(desc("score"), asc("doc_id"))
        .limit(20)
    },

    // D5: multimodal plumbing — binary payload + typed metadata
    // through the partition-parallel (stub) decode stage; oracle
    // checks the content-derived invariants.
    "d5_multimodal_features" -> QueryDef(
      """SELECT doc_id AS media_id,
        |       CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
        |            WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |       CAST(LENGTH(text) AS BIGINT) AS n_bytes,
        |       CAST(8 AS BIGINT) AS dim
        |FROM documents ORDER BY media_id""".stripMargin) { (s, dir) =>
      val media = Media.mediaFromDocuments(Tables(s, dir, "documents"))
      Media.extractFeatures(media, StubMediaDecoder(8))
        .select(col("media_id"), col("kind"), col("n_bytes"),
          size(col("features")).cast("long").as("dim"))
        .orderBy("media_id")
    },

    // D11: benchmark decontamination — 8-gram overlap vs an "eval set"
    // (every 25th document). The oracle recomputes the same grams with
    // DuckDB list ops, so the flag AND the exact distinct-shared-gram
    // count must both match. Planted structure: each blocklist member
    // self-matches (contaminated by construction), and the corpus's
    // near-dup pairs of blocklist members must be caught through their
    // shared 8-grams.
    "d11_decontaminate" -> QueryDef(
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\s+'),
        |                     x -> x <> '') AS ts
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, array_to_string(ts[i:i+7], ' ') AS g
        |  FROM (SELECT doc_id, ts,
        |               UNNEST(range(1, GREATEST(len(ts) - 6, 2))) AS i
        |        FROM toks WHERE len(ts) >= 1)),
        |bl AS (SELECT DISTINCT g FROM grams WHERE doc_id % 25 = 0),
        |hits AS (SELECT doc_id, COUNT(*) AS n_hits
        |         FROM grams JOIN bl USING (g) GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
        |       (COALESCE(h.n_hits, 0) > 0) AS contaminated
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents").select("doc_id", "text")
      Decontaminate.flag(docs, docs.filter(col("doc_id") % 25 === 0),
          "doc_id", "text", n = 8)
        .select("doc_id", "n_hits", "contaminated")
        .orderBy("doc_id")
    },

    // D11b: SEMANTIC decontamination — the embedding-space sibling of
    // the 8-gram rule (catches paraphrased eval leakage exact grams
    // miss; a real pipeline unions both flags). The eval set is the
    // high-id tail of the embeddings table; the corpus side never
    // shuffles (broadcast eval × codegen cosine kernel, then an
    // (id, max/count)-partial aggregate). The oracle recomputes every
    // similarity with DuckDB's own cosine and must agree on the max,
    // the threshold count, and the flag for every corpus row.
    "d11b_semantic_decontaminate" -> QueryDef(
      """WITH ev AS (
        |  SELECT embedding FROM embeddings WHERE vec_id >= 480),
        |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 400),
        |sims AS (
        |  SELECT c.vec_id,
        |         list_cosine_similarity(c.embedding::DOUBLE[],
        |                                ev.embedding::DOUBLE[]) AS sim
        |  FROM c, ev)
        |SELECT vec_id, ROUND(MAX(sim), 6) + 0.0 AS max_sim,
        |       CAST(SUM(CASE WHEN sim >= 0.6 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_hits,
        |       (SUM(CASE WHEN sim >= 0.6 THEN 1 ELSE 0 END) > 0)
        |         AS contaminated
        |FROM sims GROUP BY vec_id ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      Decontaminate.semanticFlags(
          emb.filter(col("vec_id") < 400),
          emb.filter(col("vec_id") >= 480),
          "vec_id", "embedding", minSimilarity = 0.6)
        .orderBy("vec_id")
    },

    // D12: deterministic token-budget shard packing (training export).
    // The oracle recomputes the full scheme — md5 shuffle order, hex
    // pack group, exclusive prefix sum, budget division — so every
    // document's (grp, shard) assignment must match bit-for-bit.
    "d12_pack_shards" -> QueryDef(
      """WITH t AS (
        |  SELECT doc_id, CAST(LENGTH(text) // 4 AS BIGINT) AS tc,
        |         md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, tc, h,
        |         CAST(((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
        |               + strpos('0123456789abcdef', substr(h, 2, 1)) - 1)
        |              % 16 AS BIGINT) AS grp
        |  FROM t)
        |SELECT doc_id, tc, grp,
        |       CAST(COALESCE(SUM(tc) OVER (PARTITION BY grp ORDER BY h, doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |            // 2000 AS BIGINT) AS shard
        |FROM g ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents").select(
        col("doc_id"), token_count(col("text")).cast("long").as("tc"))
      Packing.packShards(docs, "doc_id", "tc",
          budget = 2000L, numGroups = 16)
        .select(col("doc_id"), col("tc"),
          col("grp").cast("long").as("grp"), col("shard"))
        .orderBy("doc_id")
    },

    // D24: token-budget SEQUENCE packing — the pretraining
    // concat-and-chop: documents concatenate onto one md5-ordered
    // token tape, the tape cuts into 512-token training sequences,
    // and a straddling document emits one span row per sequence it
    // touches. The engine computes the tape position as a two-level
    // distributed prefix sum (per-bucket keyed window + broadcast
    // bucket offsets — no global window, no Exchange SinglePartition,
    // PackingSpec plan-pinned); the oracle recomputes it as DuckDB's
    // global window, so every span boundary must agree exactly.
    "d24_pack_sequences" -> QueryDef(
      """WITH t AS (
        |  SELECT doc_id, CAST(LENGTH(text) // 4 AS BIGINT) AS tc,
        |         md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents
        |  WHERE LENGTH(text) // 4 > 0),
        |c AS (
        |  SELECT doc_id, tc,
        |         CAST(COALESCE(SUM(tc) OVER (ORDER BY h, doc_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |              0) AS BIGINT) AS gstart
        |  FROM t),
        |s AS (
        |  SELECT doc_id, tc, gstart,
        |         UNNEST(range(gstart // 512, (gstart + tc - 1) // 512 + 1))
        |           AS seq_id
        |  FROM c)
        |SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id, tc,
        |       CAST(GREATEST(seq_id * 512, gstart) - seq_id * 512 AS BIGINT)
        |         AS seq_offset,
        |       CAST(GREATEST(seq_id * 512, gstart) - gstart AS BIGINT)
        |         AS doc_offset,
        |       CAST(LEAST((seq_id + 1) * 512, gstart + tc)
        |            - GREATEST(seq_id * 512, gstart) AS BIGINT)
        |         AS span_tokens
        |FROM s ORDER BY seq_id, doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents").select(
        col("doc_id"), token_count(col("text")).cast("long").as("tc"))
      Packing.packSequences(docs, "doc_id", "tc", seqLen = 512L)
        .orderBy("seq_id", "doc_id")
    },

    // D12b: export manifest over the packed shards — doc count, token
    // total, and an order-immune md5-based membership checksum per
    // (grp, shard). The oracle recomputes the full packing scheme AND
    // the checksum arithmetic, so a single misplaced/dropped/recounted
    // document anywhere in the export breaks the hash match.
    "d12b_pack_manifest" -> QueryDef(
      """WITH t AS (
        |  SELECT doc_id, CAST(LENGTH(text) // 4 AS BIGINT) AS tc,
        |         md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, tc, h,
        |         CAST(((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
        |               + strpos('0123456789abcdef', substr(h, 2, 1)) - 1)
        |              % 16 AS BIGINT) AS grp
        |  FROM t),
        |p AS (
        |  SELECT doc_id, tc, grp,
        |         CAST(COALESCE(SUM(tc) OVER (PARTITION BY grp ORDER BY h, doc_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |              // 2000 AS BIGINT) AS shard
        |  FROM g)
        |SELECT grp, shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(tc) AS BIGINT) AS token_sum,
        |       CAST(SUM(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
        |                || CAST(tc AS VARCHAR)), 1, 8) AS BIGINT)) AS BIGINT)
        |         AS checksum
        |FROM p GROUP BY grp, shard
        |ORDER BY grp, shard""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents").select(
        col("doc_id"), token_count(col("text")).cast("long").as("tc"))
      Packing.manifest(
          Packing.packShards(docs, "doc_id", "tc",
            budget = 2000L, numGroups = 16),
          "doc_id", "tc")
        .select(col("grp").cast("long").as("grp"), col("shard"),
          col("n_docs"), col("token_sum"), col("checksum"))
        .orderBy("grp", "shard")
    },

    // B4d: BM25 from the PERSISTENT text index (ops.TextIndex) — the
    // provisioned form of b4c. Same oracle as b4c: a prebuilt index
    // must answer the scan-path query bit-for-bit, while reading only
    // the query terms' posting buckets + the narrow doclen table.
    "b4d_fulltext_index" -> QueryDef(
      """WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents),
        |qtok AS (SELECT doc_id, w FROM tok WHERE w IN ('window', 'filter')),
        |tf AS (SELECT doc_id, w, CAST(COUNT(*) AS DOUBLE) AS tf FROM qtok GROUP BY 1, 2),
        |idf AS (SELECT w, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM qtok GROUP BY 1),
        |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl FROM documents),
        |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |              AVG(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl
        |       FROM documents)
        |SELECT t.doc_id,
        |       ROUND(SUM(LN(1 + (st.n - i.df + 0.5) / (i.df + 0.5)) * t.tf * 2.2
        |                 / (t.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / st.avgdl))), 6)
        |         AS score
        |FROM tf t JOIN idf i ON t.w = i.w
        |JOIN dl d ON d.doc_id = t.doc_id CROSS JOIN st
        |GROUP BY t.doc_id
        |ORDER BY score DESC, t.doc_id LIMIT 20""".stripMargin) { (s, dir) =>
      val path = s"/tmp/graft-tindex-${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
      TextIndex.build(Tables(s, dir, "documents"), path, "doc_id", "text")
      TextIndex.query(s, path, Seq("window", "filter"), k = 20)
    },

    // B4f: positional phrase query (the store-side CONTAINS '"w1 w2"'
    // surface) answered from the v2 postings alone — zero corpus
    // access at query time. The oracle recomputes consecutive-token
    // matches from raw 1-based token positions; membership, the
    // overlapping-occurrence count, and the first match position must
    // all agree with the index path's 0-based position algebra.
    "b4f_phrase_search" -> QueryDef(
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |hit AS (
        |  SELECT doc_id,
        |         [i FOR i IN range(1, len(t) - 1)
        |          IF t[i] = 'slow' AND t[i+1] = 'hash' AND t[i+2] = 'batch'] AS st
        |  FROM tok)
        |SELECT doc_id, CAST(len(st) AS BIGINT) AS n_occ,
        |       CAST(list_min(st) - 1 AS BIGINT) AS first_pos
        |FROM hit WHERE len(st) > 0 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val path =
        s"/tmp/graft-tindex-phrase-${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
      TextIndex.build(Tables(s, dir, "documents"), path, "doc_id", "text")
      TextIndex.phraseQuery(s, path, Seq("slow", "hash", "batch"))
        .orderBy("doc_id")
    },

    // D7c: data-mixture sampling — per-source fractions as one
    // scan-level deterministic filter (the "X% web, Y% code" recipe
    // knob). The oracle replays the md5 16-bit thresholds per source;
    // sources outside the mixture (src4.., and src3 at 0.0) must
    // vanish entirely.
    "d7c_mixture_sample" -> QueryDef(
      """SELECT doc_id, source FROM documents
        |WHERE source = 'src0'
        |   OR (source = 'src1'
        |       AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000')
        |   OR (source = 'src2'
        |       AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000')
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Sampling.mixtureSample(Tables(s, dir, "documents"),
          "doc_id", "source",
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.0))
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    // D7d: temperature-rebalanced mixture — the per-source fractions
    // are DERIVED from the corpus's own source distribution
    // (acceptance ∝ p^(τ-1), τ=0.5, normalized so the most-boosted
    // source keeps everything, 6 dp). The harness sources are uniform
    // (25 docs each — every acceptance would be 1.0), so the gate
    // derives a skewed 70/20/10 grouping first; the oracle recomputes
    // the whole scheme — counts, power weights, normalized 16-bit
    // thresholds, md5 membership — so both the derivation and the
    // filter must agree bit-for-bit.
    "d7d_temperature_mixture" -> QueryDef(
      """WITH d AS (SELECT doc_id,
        |                  CASE WHEN doc_id % 10 < 7 THEN 'web'
        |                       WHEN doc_id % 10 < 9 THEN 'books'
        |                       ELSE 'code' END AS src
        |           FROM documents),
        |c AS (SELECT src, COUNT(*) AS n FROM d GROUP BY src),
        |t AS (SELECT SUM(n) * 1.0 AS tot FROM c),
        |r AS (SELECT src, POWER(n / (SELECT tot FROM t), -0.5) AS rw FROM c),
        |a AS (SELECT src,
        |             CAST(FLOOR(ROUND(rw / (SELECT MAX(rw) FROM r), 6) * 65536)
        |                  AS BIGINT) AS thr
        |      FROM r)
        |SELECT d.doc_id, d.src
        |FROM d JOIN a ON d.src = a.src
        |WHERE a.thr >= 65536
        |   OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
        |      < lower(lpad(to_hex(a.thr), 4, '0'))
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 10 < 7, "web")
          .when(col("doc_id") % 10 < 9, "books")
          .otherwise("code").as("src"))
      Sampling.temperatureMixture(d, "doc_id", "src", tau = 0.5)
        .select("doc_id", "src")
        .orderBy("doc_id")
    },

    // D4k: corpus-model fluency — mean unigram log-prob per document
    // under the corpus's own unigram distribution (the perplexity
    // filter's cheap stand-in). The oracle rebuilds the model and the
    // per-doc mean from scratch in SQL.
    "d4k_unigram_logprob" -> QueryDef(
      """WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w
        |             FROM documents),
        |v AS (SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w),
        |t AS (SELECT SUM(cnt) AS tot FROM v)
        |SELECT doc_id, ROUND(AVG(LN(cnt * 1.0 / tot)), 6) AS logprob
        |FROM tok JOIN v USING (w) CROSS JOIN t
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.unigramLogProb(
          Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // D4m: bigram stupid-backoff fluency — the LM trains on the EVEN
    // documents (the clean-reference half) and scores every document,
    // so odd documents hit unseen bigrams and the backoff tiers
    // (hit → ln(cb/c1), unigram backoff → ln(α·c2/N), unseen-word
    // floor → ln(α/N), α = 0.4) all fire. The oracle rebuilds the
    // model and every tier from scratch in SQL; DuckDB zips bigram
    // pairs with two UNNESTs over shifted list slices.
    "d4m_bigram_backoff" -> QueryDef(
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS l
        |              FROM documents),
        |sb AS (SELECT doc_id, UNNEST(l[1:len(l)-1]) AS w1,
        |              UNNEST(l[2:len(l)]) AS w2 FROM docs),
        |mdocs AS (SELECT l FROM docs WHERE doc_id % 2 = 0),
        |mt AS (SELECT UNNEST(l) AS w FROM mdocs),
        |uni AS (SELECT w, COUNT(*) AS c FROM mt GROUP BY w),
        |tot AS (SELECT SUM(c) AS tot FROM uni),
        |mb AS (SELECT w1, w2, COUNT(*) AS cb FROM (
        |         SELECT UNNEST(l[1:len(l)-1]) AS w1,
        |                UNNEST(l[2:len(l)]) AS w2 FROM mdocs)
        |       GROUP BY w1, w2),
        |s AS (SELECT d.doc_id,
        |        ROUND(AVG(CASE
        |          WHEN mb.cb IS NOT NULL THEN LN(mb.cb * 1.0 / u1.c)
        |          WHEN u2.c IS NOT NULL THEN LN(0.4 * u2.c / tot.tot)
        |          ELSE LN(0.4 / tot.tot) END), 6) AS logprob
        |      FROM sb d
        |      LEFT JOIN mb ON d.w1 = mb.w1 AND d.w2 = mb.w2
        |      LEFT JOIN uni u1 ON d.w1 = u1.w
        |      LEFT JOIN uni u2 ON d.w2 = u2.w
        |      CROSS JOIN tot
        |      GROUP BY d.doc_id)
        |SELECT documents.doc_id, s.logprob
        |FROM documents LEFT JOIN s ON documents.doc_id = s.doc_id
        |ORDER BY documents.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      TextAnalysis.bigramBackoffLogProb(
          docs, docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text")
        .orderBy("doc_id")
    },

    // D4l: URL canonicalization + URL-level dedup — the normalization
    // every web-corpus pipeline runs before content filtering (drop
    // re-crawls of the same page behind cosmetic URL variation). The
    // gate synthesizes four messy variants per logical page (case,
    // default ports, www, utm params, fragments, trailing slashes);
    // variant pairs (0,1) and (2,3) must collapse to one canonical
    // URL. Full hash-match oracle: DuckDB replays every rule in order.
    "d4l_url_canon" -> QueryDef(
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE doc_id % 4
        |      WHEN 0 THEN 'HTTPS://WWW.Example.COM:443/docs/'
        |                  || CAST(doc_id // 2 AS VARCHAR) || '/?utm_source=feed&id=7#frag'
        |      WHEN 1 THEN 'https://example.com/docs/'
        |                  || CAST(doc_id // 2 AS VARCHAR) || '?id=7'
        |      WHEN 2 THEN 'http://Example.com:80/raw/'
        |                  || CAST(doc_id // 2 AS VARCHAR) || '/'
        |      ELSE 'http://example.com/raw/'
        |                  || CAST(doc_id // 2 AS VARCHAR) || '#x'
        |    END AS url
        |  FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nf FROM u),
        |s2 AS (SELECT doc_id,
        |         lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |         lower(regexp_extract(nf, '^[^:/?#]+://([^/?#]*)', 1)) AS hostport,
        |         regexp_extract(nf, '^[^:/?#]+://[^/?#]*(.*)$', 1) AS rest
        |       FROM s1),
        |s3 AS (SELECT doc_id, scheme, rest,
        |         regexp_replace(
        |           CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |                WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |                ELSE hostport END,
        |           '^www\.', '') AS host
        |       FROM s2),
        |s4 AS (SELECT doc_id, scheme, host,
        |         regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '') AS path,
        |         array_to_string(list_filter(
        |           string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
        |           p -> NOT starts_with(p, 'utm_') AND p <> ''), '&') AS query
        |       FROM s3),
        |canon AS (
        |  SELECT doc_id,
        |         scheme || '://' || host || path ||
        |         CASE WHEN length(query) > 0 THEN '?' || query ELSE '' END AS canon_url
        |  FROM s4)
        |SELECT doc_id, canon_url,
        |       MIN(doc_id) OVER (PARTITION BY canon_url) AS root,
        |       doc_id <> MIN(doc_id) OVER (PARTITION BY canon_url) AS is_dup
        |FROM canon ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val did2 = expr("doc_id DIV 2").cast("string")
      val url = when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit("HTTPS://WWW.Example.COM:443/docs/"), did2,
            lit("/?utm_source=feed&id=7#frag")))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          concat(lit("https://example.com/docs/"), did2, lit("?id=7")))
        .when(pmod(col("doc_id"), lit(4)) === 2,
          concat(lit("http://Example.com:80/raw/"), did2, lit("/")))
        .otherwise(concat(lit("http://example.com/raw/"), did2, lit("#x")))
      val w = Window.partitionBy("canon_url")
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.canonicalizeUrl(url).as("canon_url"))
        .select(col("doc_id"), col("canon_url"),
          min("doc_id").over(w).as("root"),
          (col("doc_id") =!= min("doc_id").over(w)).as("is_dup"))
        .orderBy("doc_id")
    },

    // B4e: incremental text-index maintenance — build on 80% of the
    // corpus, append the other 20%, query against the SAME full-corpus
    // BM25 oracle as b4c/b4d: the incrementally-maintained index must
    // be indistinguishable from a fresh full build (exact postings
    // append + exact integer-sum stat update make this bit-for-bit,
    // not approximately).
    "b4e_fulltext_index_incr" -> QueryDef(
      """WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents),
        |qtok AS (SELECT doc_id, w FROM tok WHERE w IN ('window', 'filter')),
        |tf AS (SELECT doc_id, w, CAST(COUNT(*) AS DOUBLE) AS tf FROM qtok GROUP BY 1, 2),
        |idf AS (SELECT w, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM qtok GROUP BY 1),
        |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl FROM documents),
        |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |              AVG(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl
        |       FROM documents)
        |SELECT t.doc_id,
        |       ROUND(SUM(LN(1 + (st.n - i.df + 0.5) / (i.df + 0.5)) * t.tf * 2.2
        |                 / (t.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / st.avgdl))), 6)
        |         AS score
        |FROM tf t JOIN idf i ON t.w = i.w
        |JOIN dl d ON d.doc_id = t.doc_id CROSS JOIN st
        |GROUP BY t.doc_id
        |ORDER BY score DESC, t.doc_id LIMIT 20""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val path =
        s"/tmp/graft-tindex-incr-${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
      TextIndex.build(docs.filter(col("doc_id") % 5 =!= 0), path,
        "doc_id", "text")
      TextIndex.append(docs.filter(col("doc_id") % 5 === 0), path, "text")
      TextIndex.query(s, path, Seq("window", "filter"), k = 20)
    },

    // D3f: incremental index append — build on 80% of the vectors,
    // append the rest WITHOUT retraining (model from the stamp). The
    // gate pins: (1) batch-invariance — appending in one batch vs two
    // yields an identical index (same model, row-local codes, so the
    // split cannot matter); (2) every appended vector is searchable —
    // probing with it returns itself as top-1 at distance 0; (3) every
    // probe gets a full top-5.
    "d3f_ann_index_append" -> QueryDef(
      "SELECT TRUE AS batch_invariant, TRUE AS appended_found, " +
        "TRUE AS complete_topk") { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val a = e.filter(col("vec_id") % 5 =!= 0)
      val b = e.filter(col("vec_id") % 5 === 0)
      val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val p1 = s"/tmp/graft-vindex-append1-$tag"
      val p2 = s"/tmp/graft-vindex-append2-$tag"
      VectorIndex.buildIvfPq(a, p1, "vec_id", "embedding",
        nlist = 16, m = 8, ks = 16)
      VectorIndex.buildIvfPq(a, p2, "vec_id", "embedding",
        nlist = 16, m = 8, ks = 16)
      VectorIndex.append(b, p1)
      VectorIndex.append(b.filter(col("vec_id") % 10 === 0), p2)
      VectorIndex.append(b.filter(col("vec_id") % 10 =!= 0), p2)
      val probes = e.filter(col("vec_id") % 5 === 0 && col("vec_id") < 50)
      val q1 = VectorIndex.queryIvfPq(s, p1, probes, k = 5,
        nprobe = 4, rerankPerProbe = 96)
      val q2 = VectorIndex.queryIvfPq(s, p2, probes, k = 5,
        nprobe = 4, rerankPerProbe = 96)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("probe_id").orderBy(col("dist"), col("nn_id"))
      val self = q1.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1 && col("nn_id") === col("probe_id") &&
          col("dist") === 0.0)
      symDiffCount(q1, q2)
        .select((col("__diff") === 0L).as("batch_invariant"))
        .crossJoin(self.agg((count(lit(1)) === 10).as("appended_found")))
        .crossJoin(q1.agg((count(lit(1)) === 50).as("complete_topk")))
    },

    // D3g: delete propagation through the persistent vector index —
    // the read-path correctness gap the reference store never has (its
    // index lives ON the container, so deletes are index-consistent by
    // construction; an append-only external index would keep serving a
    // deleted document until a rebuild). Two sub-contracts:
    //  - q8 (model-free, so EXACT): build, delete vec_id < 10
    //    (including the probe itself — the strongest case: the
    //    distance-0 top-1 must vanish), then a full-rerank query must
    //    hash-match DuckDB's brute-force cosine top-k over the REDUCED
    //    corpus — deleted rows gone, next-best backfilled, bit-equal.
    //  - ivfpq: deleted ids never surface and every probe still
    //    gets a full top-5 (masked_ok); [[VectorIndex.compact]] leaves
    //    query answers identical (compact_identical) and its physical
    //    data bit-equal to re-encoding the reduced corpus with the
    //    stamped model (reencode_identical) — row-local codes make
    //    that an equality, not an approximation.
    "d3g_ann_index_delete" -> QueryDef(
      """WITH red AS (SELECT * FROM embeddings WHERE vec_id >= 10),
        |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |pairs AS (
        |  SELECT r.vec_id,
        |         CAST(UNNEST(r.embedding) AS DOUBLE) AS x,
        |         CAST(UNNEST(q.qe) AS DOUBLE) AS y
        |  FROM red r, q)
        |SELECT vec_id,
        |       ROUND(1.0 - SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))), 6) + 0.0 AS dist,
        |       TRUE AS masked_ok, TRUE AS compact_identical,
        |       TRUE AS reencode_identical
        |FROM pairs GROUP BY vec_id
        |ORDER BY dist, vec_id LIMIT 10""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val delIds = e.filter(col("vec_id") < 10).select("vec_id")
      // --- q8: exact brute-force contract over the reduced corpus
      val q8p = s"/tmp/graft-vindex-del-q8-$tag"
      VectorIndex.buildQ8(e, q8p, "vec_id", "embedding")
      VectorIndex.delete(delIds, q8p)
      val probeVec = e.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      val topk = VectorIndex.queryQ8(s, q8p, probeVec, k = 10,
          rerank = e.count().toInt)
        .select("vec_id", "dist")
      // --- ivfpq: masking, backfill, compaction identity
      val ivfp = s"/tmp/graft-vindex-del-ivf-$tag"
      VectorIndex.buildIvfPq(e, ivfp, "vec_id", "embedding",
        nlist = 16, m = 8, ks = 16)
      VectorIndex.delete(delIds, ivfp)
      val probes = e.filter(col("vec_id") >= 10 && col("vec_id") < 15)
      val pre = VectorIndex.queryIvfPq(s, ivfp, probes, k = 5,
        nprobe = 4, rerankPerProbe = 96).localCheckpoint()
      VectorIndex.compact(s, ivfp)
      val post = VectorIndex.queryIvfPq(s, ivfp, probes, k = 5,
        nprobe = 4, rerankPerProbe = 96)
      val meta = VectorIndex.load(s, ivfp, expectKind = "ivfpq")
      val reenc = Similarity.ivfPqIndexFrame(
        e.filter(col("vec_id") >= 10), "vec_id", "embedding",
        meta.centroids, meta.pq.get, keepVec = true)
      val compacted = VectorIndex.read(s, ivfp)
        .select(col("nn_id"), col("cell").cast("int").as("cell"),
          col("pq"), col("vec"))
      topk
        .crossJoin(broadcast(pre.agg(
          (sum(when(col("nn_id") < 10, 1).otherwise(0)) === 0 &&
            count(lit(1)) === 25).as("masked_ok"))))
        .crossJoin(broadcast(symDiffCount(pre, post)
          .select((col("__diff") === 0L).as("compact_identical"))))
        .crossJoin(broadcast(symDiffCount(compacted, reenc)
          .select((col("__diff") === 0L).as("reencode_identical"))))
        .orderBy(col("dist"), col("vec_id"))
    },

    // B4h: delete propagation through the persistent text index — the
    // text-side twin of d3g. A delete removes the documents' postings
    // and doc-length rows in one commit; queries derive document
    // frequencies and the corpus stats (exact integer-valued sums)
    // from the live rows, so post-delete BM25 must hash-match DuckDB's
    // scan over the REDUCED corpus (same formula as b4c/b4d/b4e, N and
    // avgdl shrunk). compact() then rewrites the files without
    // changing any answer, and the index rows verifiably no longer
    // contain the deleted documents.
    "b4h_fulltext_index_delete" -> QueryDef(
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        |tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM docs),
        |qtok AS (SELECT doc_id, w FROM tok WHERE w IN ('window', 'filter')),
        |tf AS (SELECT doc_id, w, CAST(COUNT(*) AS DOUBLE) AS tf FROM qtok GROUP BY 1, 2),
        |idf AS (SELECT w, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM qtok GROUP BY 1),
        |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl FROM docs),
        |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |              AVG(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl
        |       FROM docs)
        |SELECT t.doc_id,
        |       ROUND(SUM(LN(1 + (st.n - i.df + 0.5) / (i.df + 0.5)) * t.tf * 2.2
        |                 / (t.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / st.avgdl))), 6)
        |         AS score,
        |       TRUE AS compact_identical, TRUE AS physically_dropped
        |FROM tf t JOIN idf i ON t.w = i.w
        |JOIN dl d ON d.doc_id = t.doc_id CROSS JOIN st
        |GROUP BY t.doc_id
        |ORDER BY score DESC, t.doc_id LIMIT 20""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val path = s"/tmp/graft-tindex-del-${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
      TextIndex.build(docs, path, "doc_id", "text")
      TextIndex.delete(
        docs.filter(col("doc_id") % 7 === 0).select("doc_id"), path)
      val pre = TextIndex.query(s, path, Seq("window", "filter"), k = 20)
        .localCheckpoint()
      TextIndex.compact(s, path)
      val post = TextIndex.query(s, path, Seq("window", "filter"), k = 20)
      val leftover = TextIndex.read(s, path)
        .filter(col("doc_id") % 7 === 0)
      post
        .crossJoin(broadcast(symDiffCount(pre, post)
          .select((col("__diff") === 0L).as("compact_identical"))))
        .crossJoin(broadcast(leftover.agg(
          (count(lit(1)) === 0).as("physically_dropped"))))
        .orderBy(desc("score"), asc("doc_id"))
    }
  )
}
