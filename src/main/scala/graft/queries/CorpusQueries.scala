package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TopKAggregate.topk_agg
import graft.ops.{BpeTrainer, Curation, Dedup, KMeans, QualityClassifier, Sampling, TextAnalysis}

/** Corpus-scale curation conformance queries (SURVEY D13-D17, P6):
  * semantic dedup, vocabulary statistics (exact + sketch), importance
  * weighting, distributed k-means, and the per-source audit report.
  */
object CorpusQueries {

  def defs: Map[String, QueryDef] = Map(

    // D17: distributed k-means (full Lloyd, one scan per iteration).
    // Cells/centroids are engine-derived, so the gate plants the
    // contract: 5 near-orthogonal base vectors (vec_id < 5) fan out
    // into 40 perturbed members each (+0.08 × another base vector →
    // within-cluster cosine sim ≈ 0.99, cross-cluster ≈ 0). Pinned:
    // every planted cluster lands whole in its own cell (purity 1 over
    // 5 distinct cells), the assignment cost never increases across
    // iterations, the run converges inside the iteration budget, and
    // the distributed loop agrees with the driver-side reference
    // implementation (same init, same rounds) to 1e-5 per dimension.
    "d17_kmeans" -> QueryDef(
      """SELECT CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 5)
        |          * (SELECT COUNT(*) FROM embeddings
        |             WHERE vec_id >= 100 AND vec_id < 140) AS BIGINT) AS n_points,
        |       CAST(5 AS BIGINT) AS k_cells, TRUE AS purity_ok,
        |       TRUE AS converged, TRUE AS cost_ok,
        |       TRUE AS driver_ok""".stripMargin) { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val centers = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("cid"), col("embedding").as("c"))
      val perts = emb.filter(col("vec_id") >= 100 && col("vec_id") < 140)
        .select((col("vec_id") - 100).as("pid"), col("embedding").as("p"))
      val members = centers.crossJoin(perts).select(
        (col("cid") * 1000 + col("pid")).as("id"),
        col("cid").cast("int").as("planted"),
        zip_with(col("c"), col("p"),
          (a, b) => (a + lit(0.08f) * b).cast("float")).as("v"))
      val init = KMeans.initCentroids(members, "id", "v", 5)
      val m = KMeans.fit(members, "id", "v", 5, maxIter = 10,
        tol = 1e-6, init = Some(init))
      val drv = KMeans.fitDriver(
        members.orderBy("id").select("v").collect()
          .map(_.getSeq[Float](0).toArray),
        init, maxIter = 10, tol = 1e-6)
      val nPoints = members.count()
      val cellsPerLabel = members
        .select(col("planted"), KMeans.assign(col("v"), m.centroids).as("cell"))
        .distinct().collect().map(r => r.getInt(0) -> r.getInt(1))
      val purityOk = cellsPerLabel.length == 5 &&
        cellsPerLabel.map(_._2).distinct.length == 5
      val costOk = m.costs.sliding(2).forall {
        case Seq(a, b) => b <= a + 1e-9
        case _         => true
      }
      val driverOk = m.iterations == drv.iterations &&
        m.converged == drv.converged &&
        m.centroids.zip(drv.centroids).forall { case (a, b) =>
          a.zip(b).forall { case (x, y) => math.abs(x - y) <= 1e-5 }
        }
      import s.implicits._
      Seq((nPoints, cellsPerLabel.map(_._2).distinct.length.toLong,
          purityOk, m.converged, costOk, driverOk))
        .toDF("n_points", "k_cells", "purity_ok", "converged",
          "cost_ok", "driver_ok")
    },

    // D18: cross-document repeated n-gram span detection (the
    // substring-dedup form: report the exact word spans shared by ≥2
    // documents, merged maximally per document). Full hash-match
    // oracle: DuckDB recomputes the same spans from gram STRINGS
    // (raw single-space split), so the engine's 64-bit gram-hash
    // shortcut must introduce zero collisions at test scale and the
    // session-merge window must agree row-for-row.
    "d18_repeated_spans" -> QueryDef(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, ws, UNNEST(range(0, GREATEST(len(ws) - 7, 0))) AS p FROM w),
        |g2 AS (SELECT doc_id, CAST(p AS BIGINT) AS pos,
        |              array_to_string(ws[p+1:p+8], ' ') AS gram FROM g),
        |rep AS (SELECT gram FROM g2 GROUP BY gram
        |        HAVING COUNT(DISTINCT doc_id) >= 2),
        |hit AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN rep USING (gram)),
        |s AS (SELECT doc_id, pos,
        |             CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
        |                  THEN 1 ELSE 0 END AS brk FROM hit),
        |sp AS (SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |                                          ROWS UNBOUNDED PRECEDING) AS span_id
        |       FROM s)
        |SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
        |       MIN(pos) AS start_pos, MAX(pos) + 7 AS end_pos,
        |       CAST(COUNT(*) AS BIGINT) AS n_grams
        |FROM sp GROUP BY doc_id, span_id
        |ORDER BY doc_id, start_pos""".stripMargin) { (s, dir) =>
      Dedup.repeatedNgramSpans(Tables(s, dir, "documents"),
          "doc_id", "text", n = 8, minDocs = 2)
        .orderBy("doc_id", "start_pos")
    },

    // D18b: the action step of substring dedup — cut every repeated
    // span's words out of the text, keep the document. The oracle
    // recomputes D18's spans from gram strings AND replays the
    // positional cut, so the cleaned text must agree byte-for-byte on
    // every row (including rows with no spans, which pass through
    // untouched).
    "d18b_cut_spans" -> QueryDef(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, ws, UNNEST(range(0, GREATEST(len(ws) - 7, 0))) AS p FROM w),
        |g2 AS (SELECT doc_id, CAST(p AS BIGINT) AS pos,
        |              array_to_string(ws[p+1:p+8], ' ') AS gram FROM g),
        |rep AS (SELECT gram FROM g2 GROUP BY gram
        |        HAVING COUNT(DISTINCT doc_id) >= 2),
        |hit AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN rep USING (gram)),
        |s AS (SELECT doc_id, pos,
        |             CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
        |                  THEN 1 ELSE 0 END AS brk FROM hit),
        |sp AS (SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |                                          ROWS UNBOUNDED PRECEDING) AS span_id
        |       FROM s),
        |spans AS (SELECT doc_id, span_id, MIN(pos) AS ss, MAX(pos) + 7 AS ee
        |          FROM sp GROUP BY doc_id, span_id),
        |sl AS (SELECT doc_id, list({'s': ss, 'e': ee}) AS spans
        |       FROM spans GROUP BY doc_id),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |cut AS (
        |  SELECT d.doc_id, d.t,
        |    [t[i] FOR i IN range(1, len(t)+1)
        |     IF len(list_filter(COALESCE(sl.spans, []),
        |            x -> (i-1) >= x.s AND (i-1) <= x.e)) = 0] AS kept
        |  FROM toks d LEFT JOIN sl USING (doc_id))
        |-- a fully-cut doc is the empty string, not NULL (DuckDB's
        |-- array_to_string([]) is NULL; Spark's array_join is '')
        |SELECT doc_id, COALESCE(array_to_string(kept, ' '), '') AS cleaned_text,
        |       CAST(len(t) - len(kept) AS BIGINT) AS n_cut
        |FROM cut ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.cutRepeatedSpans(Tables(s, dir, "documents"),
          "doc_id", "text", n = 8, minDocs = 2)
        .orderBy("doc_id")
    },

    // D23: corpus-level repeated-line removal (RefinedWeb/Gopher line
    // dedup) — the corpus has no newlines, so the gate synthesizes a
    // line-structured version with PLANTED boilerplate that exercises
    // the threshold both ways at minDocs=100: a header on every doc
    // (500 ≥ 100 → cut) and a cookie line on every 3rd (167 ≥ 100 →
    // cut), while the real text (dup groups ≪ 100) and a rare promo
    // line on every 50th (10 < 100) must SURVIVE. The oracle replays
    // the whole construction and the cut on exact line text, so the
    // hash-based engine path must agree byte-for-byte per row.
    "d23_line_dedup" -> QueryDef(
      """WITH lined AS (
        |  SELECT doc_id,
        |         concat_ws(chr(10),
        |           'nav home about contact',
        |           CASE WHEN doc_id % 3 = 0 THEN 'accept cookies to continue' END,
        |           text,
        |           CASE WHEN doc_id % 50 = 0 THEN 'limited time offer today' END) AS t2
        |  FROM documents
        |), l AS (
        |  SELECT doc_id,
        |         unnest(string_split(t2, chr(10))) AS line,
        |         generate_subscripts(string_split(t2, chr(10)), 1) AS pos
        |  FROM lined
        |), common AS (
        |  SELECT line FROM l WHERE trim(line) <> ''
        |  GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 100
        |)
        |SELECT l.doc_id,
        |       COALESCE(string_agg(CASE WHEN c.line IS NULL THEN l.line END,
        |                           chr(10) ORDER BY l.pos), '') AS cleaned_text,
        |       CAST(COUNT(c.line) AS BIGINT) AS n_cut
        |FROM l LEFT JOIN common c ON l.line = c.line
        |GROUP BY l.doc_id ORDER BY l.doc_id""".stripMargin) { (s, dir) =>
      val lined = Tables(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n",
          lit("nav home about contact"),
          when(col("doc_id") % 3 === 0, lit("accept cookies to continue")),
          col("text"),
          when(col("doc_id") % 50 === 0, lit("limited time offer today")))
          .as("t2"))
      Dedup.cutCommonLines(lined, "doc_id", "t2", minDocs = 100)
        .orderBy("doc_id")
    },

    // D20: corpus snapshot diff — dataset governance between two
    // corpus versions. v2 drops every 7th doc, edits every 5th, and
    // adds 20 new ids; the full-outer hash compare must classify
    // every id on either side. (A doc_id divisible by both 5 and 7 is
    // removed — removal wins by construction, and the oracle agrees.)
    "d20_corpus_diff" -> QueryDef(
      """WITH v2 AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 20)
        |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |       CASE WHEN a.doc_id IS NULL THEN 'added'
        |            WHEN b.doc_id IS NULL THEN 'removed'
        |            WHEN a.text <> b.text THEN 'changed'
        |            ELSE 'unchanged' END AS status
        |FROM documents a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val v1 = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val v2 = v1.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")).as("text"))
        .unionByName(v1.filter(col("doc_id") < 20).select(
          (col("doc_id") + 1000000L).as("doc_id"), col("text")))
      graft.ops.Curation.snapshotDiff(v1, v2, "doc_id", "text")
        .orderBy("doc_id")
    },

    // D22: cluster-balanced diversity sampling — n per k-means cell,
    // members by md5-smallest id (D7b's reproducible rule). Planted
    // geometry (d17's construction: 5 near-orthogonal clusters × 40
    // members) makes the assignment ground truth SQL-expressible: the
    // oracle knows each member's true cluster, so any engine
    // misassignment changes a cell's membership and breaks the hash.
    "d22_cluster_sample" -> QueryDef(
      """WITH m AS (
        |  SELECT c.vec_id * 1000 + (p.vec_id - 100) AS id,
        |         CAST(c.vec_id AS INTEGER) AS cell
        |  FROM embeddings c, embeddings p
        |  WHERE c.vec_id < 5 AND p.vec_id >= 100 AND p.vec_id < 140),
        |r AS (SELECT cell, id,
        |        ROW_NUMBER() OVER (PARTITION BY cell
        |          ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn
        |      FROM m)
        |SELECT cell, id FROM r WHERE rn <= 8 ORDER BY cell, id""".stripMargin) { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val centers = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("cid"), col("embedding").as("c"))
      val perts = emb.filter(col("vec_id") >= 100 && col("vec_id") < 140)
        .select((col("vec_id") - 100).as("pid"), col("embedding").as("p"))
      val members = centers.crossJoin(perts).select(
        (col("cid") * 1000 + col("pid")).as("id"),
        zip_with(col("c"), col("p"),
          (a, b) => (a + lit(0.08f) * b).cast("float")).as("v"))
      val cents = centers.orderBy("cid").collect()
        .map(_.getSeq[Float](1).toSeq).toSeq
      Sampling.clusterSample(members, "id", "v", cents, nPerCell = 8)
        .orderBy("cell", "id")
    },

    // D21: tokenizer/vocab coverage — per-doc OOV rate against the
    // top-20 corpus vocabulary (the sf corpus holds 31 distinct
    // unigrams, so 11 are OOV and rates are non-trivial). The oracle
    // recomputes the vocab induction (count DESC, word ASC tiebreak)
    // and the per-doc membership counts exactly.
    "d21_oov_rate" -> QueryDef(
      """WITH tok AS (
        |  SELECT doc_id,
        |         UNNEST(list_filter(string_split_regex(lower(text), '\s+'),
        |                x -> x <> '')) AS w
        |  FROM documents),
        |v AS (SELECT w FROM (
        |        SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w
        |        ORDER BY cnt DESC, w LIMIT 20)),
        |j AS (SELECT t.doc_id, (v.w IS NOT NULL) AS inv
        |      FROM tok t LEFT JOIN v ON t.w = v.w)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |       CAST(SUM(CASE WHEN inv THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
        |       ROUND(SUM(CASE WHEN inv THEN 0 ELSE 1 END) * 1.0 / COUNT(*), 6)
        |         AS oov_rate
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.oovRate(Tables(s, dir, "documents"),
          "doc_id", "text", vocabSize = 20)
        .orderBy("doc_id")
    },

    // D13: SemDeDup — semantic dedup in embedding space. Cells and
    // centroids are engine-derived (k-means), so the gate plants the
    // contract: 50 perturbed copies (one per base vector id < 50,
    // displaced by ±1e-4 per component → cosine sim ≈ 1 ≫ τ=0.99)
    // union into the corpus; every copy must be flagged with its own
    // original as the dup root (original id < copy id, so the min-id
    // keeper rule must select it).
    "d13_semantic_dedup" -> QueryDef(
      """SELECT vec_id + 100000 AS copy_id, TRUE AS flagged, TRUE AS root_ok
        |FROM embeddings WHERE vec_id < 50 ORDER BY copy_id""".stripMargin) {
      (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
        .select("vec_id", "embedding", "label")
      val planted = emb.filter(col("vec_id") < 50).select(
        (col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x + ((i % 3) - 1).cast("float") * lit(1e-4f)).as("embedding"),
        col("label"))
      val flagged = Dedup.semanticDedup(emb.union(planted),
        "vec_id", "embedding", nCells = 16, tau = 0.99)
      flagged.filter(col("vec_id") >= 100000)
        .select(col("vec_id").as("copy_id"),
          col("is_dup").as("flagged"),
          coalesce(col("dup_of") === col("vec_id") - 100000, lit(false))
            .as("root_ok"))
        .orderBy("copy_id")
    },

    // D14: vocabulary induction — exact top-20 bigrams with counts
    // (multiset n-grams via wordNgrams; the oracle recomputes the
    // same tokenization with DuckDB list ops).
    "d14_ngram_vocab" -> QueryDef(
      """WITH toks AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |                     x -> x <> '') AS ts
        |  FROM documents),
        |g AS (
        |  SELECT ts[i] || ' ' || ts[i+1] AS gram
        |  FROM (SELECT ts, UNNEST(range(1, len(ts))) AS i
        |        FROM toks WHERE len(ts) >= 2))
        |SELECT gram, COUNT(*) AS cnt FROM g
        |GROUP BY gram ORDER BY cnt DESC, gram LIMIT 20""".stripMargin) {
      (s, dir) =>
      TextAnalysis.topNgrams(Tables(s, dir, "documents"), "text", 2, 20)
    },

    // D14b: heavy hitters by count-min sketch — the 100 TB companion
    // of d14: the sketch is fixed-size (w·d counters), merged
    // map-side, and never shuffles the vocabulary. Gate: for each of
    // the exact top-20 bigrams, the CMS estimate must dominate the
    // true count (the sketch's one-sided guarantee) and stay within
    // the eps·N error envelope (deterministic for the pinned seed).
    "d14b_cms_heavy_hitters" -> QueryDef(
      """WITH toks AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |                     x -> x <> '') AS ts
        |  FROM documents),
        |g AS (
        |  SELECT ts[i] || ' ' || ts[i+1] AS gram
        |  FROM (SELECT ts, UNNEST(range(1, len(ts))) AS i
        |        FROM toks WHERE len(ts) >= 2))
        |SELECT gram, COUNT(*) AS cnt, TRUE AS lower_ok, TRUE AS upper_ok
        |FROM g GROUP BY gram ORDER BY cnt DESC, gram LIMIT 20""".stripMargin) {
      (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val grams = docs.select(
        explode(TextAnalysis.wordNgrams(col("text"), 2)).as("gram"))
      val total = grams.count()
      val eps = 1e-4
      val sketch = grams.stat.countMinSketch("gram", eps, 0.99, 42)
      val envelope = math.max(1L, math.ceil(eps * total).toLong)
      val exact = TextAnalysis.topNgrams(docs, "text", 2, 20).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      import s.implicits._
      exact.toSeq.map { case (gram, cnt) =>
        val est = sketch.estimateCount(gram)
        (gram, cnt, est >= cnt, est <= cnt + envelope)
      }.toDF("gram", "cnt", "lower_ok", "upper_ok")
        .orderBy(desc("cnt"), asc("gram"))
    },

    // D15: DSIR importance weighting — target = every 10th document.
    // The oracle recomputes the whole scheme (md5 feature buckets,
    // add-one smoothed log-ratio in integer micro-nats, per-doc mean)
    // so every document's (n_grams, w6_sum, score) must match
    // bit-for-bit; integer quantization makes the sums immune to
    // addition order on both engines.
    "d15_dsir_importance" -> QueryDef(
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                             x -> x <> '') AS ts
        |  FROM documents),
        |gb AS (
        |  SELECT doc_id,
        |         CAST((strpos('0123456789abcdef', substr(md5(g), 1, 1)) - 1) * 16
        |              + strpos('0123456789abcdef', substr(md5(g), 2, 1)) - 1
        |              AS BIGINT) AS b
        |  FROM (SELECT doc_id, ts[i] || ' ' || ts[i+1] AS g
        |        FROM (SELECT doc_id, ts, UNNEST(range(1, len(ts))) AS i
        |              FROM toks WHERE len(ts) >= 2))),
        |bc AS (SELECT b, COUNT(*) AS cr,
        |              COUNT(*) FILTER (WHERE doc_id % 10 = 0) AS ct
        |       FROM gb GROUP BY b),
        |tot AS (SELECT CAST(SUM(cr) AS DOUBLE) AS r,
        |               CAST(SUM(ct) AS DOUBLE) AS t FROM bc),
        |w AS (SELECT b, CAST(ROUND((LN((ct + 1.0) / (t + 256.0))
        |                            - LN((cr + 1.0) / (r + 256.0))) * 1000000)
        |                     AS BIGINT) AS w6
        |      FROM bc CROSS JOIN tot),
        |ds AS (SELECT doc_id, CAST(SUM(w.w6) AS BIGINT) AS w6_sum,
        |              COUNT(*) AS n_grams
        |       FROM gb JOIN w USING (b) GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(ds.n_grams, 0) AS n_grams, ds.w6_sum,
        |       ROUND(ds.w6_sum / 1000000.0 / ds.n_grams, 6) AS score
        |FROM documents d LEFT JOIN ds ON d.doc_id = ds.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      Sampling.importanceWeights(Tables(s, dir, "documents"),
          col("doc_id") % 10 === 0, "doc_id", "text", buckets = 256)
        .orderBy("doc_id")
    },

    // D16: bounded top-k per group via the `topk_agg` aggregate —
    // semantics identical to the window row_number() form (the oracle),
    // but the physical shape is a map-side-combined aggregate: each
    // partition reduces a group to ≤ k pairs before the exchange, so
    // no full per-group sort ever runs (the window form shuffles and
    // sorts every row). topk_agg keeps the SMALLEST keys, so DESC is
    // the negated key (nulls stay last, as DESC places them).
    "d16_topk_per_group" -> QueryDef(
      """SELECT source, rnk, doc_id, n_chars FROM (
        |  SELECT source, doc_id, n_chars,
        |         ROW_NUMBER() OVER (PARTITION BY source
        |                            ORDER BY n_chars DESC, doc_id) AS rnk
        |  FROM documents)
        |WHERE rnk <= 3 ORDER BY source, rnk""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .groupBy("source")
        .agg(topk_agg(3)(-col("n_chars"), col("doc_id")).as("tk"))
        .select(col("source"), posexplode(col("tk")))
        .select(col("source"),
          (col("pos") + 1).cast("long").as("rnk"),
          col("col.id").as("doc_id"),
          (-col("col.key")).cast("long").as("n_chars"))
        .orderBy("source", "rnk")
    },

    // P6: per-source corpus audit report (the datasheet pass before
    // export): counts, token budget, language spread, corpus-wide
    // exact-duplicate count, exact median length, mean quality (in
    // exact integer micro-units — see Curation.auditReport).
    "p6_corpus_audit" -> QueryDef(
      """WITH dup AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY text) AS m
        |    FROM documents)
        |  WHERE doc_id <> m),
        |q AS (
        |  SELECT doc_id,
        |         ROUND(LEAST(LENGTH(text), 500) * 1.0 / 500 * 0.4
        |           + len(list_filter(string_split(lower(text), ' '),
        |               x -> x IN ('the','and','of','to','in','is','a','that','it','for')))
        |             * 1.0 / len(string_split(text, ' ')) * 0.4
        |           + CASE WHEN (LENGTH(text) - len(string_split(text, ' ')) + 1) * 1.0
        |                       / len(string_split(text, ' ')) BETWEEN 3.0 AND 8.0
        |                  THEN 0.2 ELSE 0.0 END, 6) AS q
        |  FROM documents)
        |SELECT d.source, COUNT(*) AS n_docs,
        |       CAST(SUM(LENGTH(d.text) // 4) AS BIGINT) AS total_tokens,
        |       COUNT(DISTINCT d.lang) AS n_langs,
        |       CAST(SUM(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_dups,
        |       quantile_cont(d.n_chars, 0.5) AS median_chars,
        |       ROUND(SUM(CAST(ROUND(q.q * 1000000) AS BIGINT)) / 1000000.0
        |             / COUNT(*), 6) AS avg_quality
        |FROM documents d
        |LEFT JOIN dup ON d.doc_id = dup.doc_id
        |JOIN q ON q.doc_id = d.doc_id
        |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, dir) =>
      Curation.auditReport(Tables(s, dir, "documents"),
          "source", "doc_id", "text", "lang", "n_chars")
        .orderBy("source")
    },

    // D25: trained quality classifier (fastText-style hashed-n-gram
    // logistic regression via spark.ml). Training outcome isn't
    // SQL-expressible, so the gate plants the contract: positives are
    // the real documents, negatives their deterministic hex-soup
    // twins (md5-chain tokens — no real words, alien token
    // distribution); train on even doc_ids, score the held-out odd
    // half. Pinned: train/test sizes, held-out accuracy >= 0.95 at
    // the 0.5 threshold, and mean score separation >= 0.5 between
    // real and garbled test docs — a linear model that learned
    // anything about "looks like the corpus" clears both with room.
    "d25_quality_classifier" -> QueryDef(
      """SELECT CAST(2 * (SELECT COUNT(*) FROM documents
        |                 WHERE doc_id % 2 = 0) AS BIGINT) AS n_train,
        |       CAST(2 * (SELECT COUNT(*) FROM documents
        |                 WHERE doc_id % 2 = 1) AS BIGINT) AS n_test,
        |       TRUE AS acc_ok, TRUE AS sep_ok""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val garbled = concat_ws(" ",
        transform(sequence(lit(1), lit(6)),
          i => md5(concat(col("text"), i.cast("string")))))
      val all = docs.select(col("doc_id"), col("text"),
          lit(1).as("label"))
        .unionByName(docs.select(col("doc_id"), garbled.as("text"),
          lit(0).as("label")))
      // gate-scale tuning: hex soup is trivially separable, so a few
      // L-BFGS rounds and a narrow hash width reach the contract
      // thresholds; coalesce keeps per-iteration task overhead from
      // dominating a training set this small (the 100 TB path samples
      // into a bounded training set the same way — SCALE.md D25)
      val model = QualityClassifier.train(
        all.filter(col("doc_id") % 2 === 0).coalesce(8),
        "text", col("label"),
        QualityClassifier.Config(numFeatures = 1 << 13, maxIter = 8))
      val scored = QualityClassifier.score(
        all.filter(col("doc_id") % 2 === 1), model)
      val nTrain = all.filter(col("doc_id") % 2 === 0).count()
      val stats = scored.agg(
        count(lit(1)).as("n_test"),
        avg(((col("quality_prob") >= 0.5).cast("int") === col("label"))
          .cast("int")).as("acc"),
        (avg(when(col("label") === 1, col("quality_prob"))) -
          avg(when(col("label") === 0, col("quality_prob")))).as("sep"))
        .collect().head
      import s.implicits._
      Seq((nTrain, stats.getLong(0),
          stats.getDouble(1) >= 0.95, stats.getDouble(2) >= 0.5))
        .toDF("n_train", "n_test", "acc_ok", "sep_ok")
    },

    // D26: BPE vocabulary induction (Sennrich merge training) +
    // per-row encode. Merge CHOICES depend on corpus frequencies, so
    // the gate pins the trainer's contract instead of the table: the
    // merge budget is met (the corpus has pair mass to spare),
    // encoding round-trips the GPT-2 pre-tokens byte-losslessly on
    // EVERY document, learned merges strictly compress vs the
    // character baseline, and the wire form round-trips.
    "d26_bpe_vocab" -> QueryDef(
      """SELECT CAST(40 AS BIGINT) AS n_merges,
        |       CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs,
        |       TRUE AS lossless_ok, TRUE AS compress_ok,
        |       TRUE AS wire_ok""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val model = BpeTrainer.learn(docs, "text", numMerges = 40,
        maxTypes = 1 << 14)
      val pat =
        "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"
      val enc = docs
        .withColumn("toks", BpeTrainer.encode(col("text"), model))
        .withColumn("pre",
          regexp_extract_all(col("text"), lit(pat), lit(0)))
      val stats = enc.agg(
        count(lit(1)).as("n_docs"),
        min((concat_ws("", col("toks")) === concat_ws("", col("pre")))
          .cast("int")).as("lossless"),
        sum(size(col("toks")).cast("long")).as("n_toks"),
        sum(aggregate(col("pre"), lit(0L), (a, w) => a + length(w)))
          .as("n_chars"))
        .collect().head
      import s.implicits._
      Seq((model.merges.size.toLong, stats.getLong(0),
          stats.getInt(1) == 1,
          stats.getLong(2) < stats.getLong(3),
          BpeTrainer.BpeModel.parse(model.serialized) == model))
        .toDF("n_merges", "n_docs", "lossless_ok", "compress_ok", "wire_ok")
    },

    // D28: fuzzy string join (edit distance <= 1) over the corpus
    // vocabulary — deletion-neighborhood (FastSS) blocking + exact
    // levenshtein verify, hash-checked pair-for-pair against DuckDB's
    // brute-force quadratic formulation (both engines ship the same
    // levenshtein). The blocked plan touches only neighborhood
    // collisions; the oracle proves it loses and invents nothing.
    "d28_fuzzy_join" -> QueryDef(
      """WITH base AS (SELECT DISTINCT UNNEST(string_split(text, ' ')) AS w
        |              FROM documents),
        |f AS (SELECT w FROM (
        |        SELECT w FROM base
        |        UNION SELECT substring(w, 2) FROM base)
        |      WHERE LENGTH(w) >= 4)
        |SELECT a.w AS w1, b.w AS w2,
        |       CAST(levenshtein(a.w, b.w) AS INT) AS dist
        |FROM f a JOIN f b ON a.w < b.w AND levenshtein(a.w, b.w) <= 1
        |ORDER BY w1, w2""".stripMargin) { (s, dir) =>
      val base = Tables(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
      // planted typo twins: each word's first-char-dropped variant is
      // exactly one deletion away, so real pairs exist at every SF
      val words = base
        .unionByName(base.select(expr("substring(w, 2)").as("w")))
        .filter(length(col("w")) >= 4).distinct()
        .withColumn("id", col("w"))
      graft.ops.FuzzyJoin.similarPairs(words, "id", "w", maxDist = 1)
        .select(col("s1").as("w1"), col("s2").as("w2"), col("dist"))
        .orderBy("w1", "w2")
    },

    // D28b: the SAME fuzzy-pair semantics reached purely through SQL —
    // `CALL <catalog>.fuzzy_pairs(source, id, str, k, out_view)` runs
    // the deletion-neighborhood join and registers the pair view;
    // the oracle is d28's quadratic DuckDB formulation unchanged, so
    // the CALL surface must be semantics-identical to the Scala API.
    "d28b_fuzzy_pairs_sql" -> QueryDef(
      """WITH base AS (SELECT DISTINCT UNNEST(string_split(text, ' ')) AS w
        |              FROM documents),
        |f AS (SELECT w FROM (
        |        SELECT w FROM base
        |        UNION SELECT substring(w, 2) FROM base)
        |      WHERE LENGTH(w) >= 4)
        |SELECT a.w AS w1, b.w AS w2,
        |       CAST(levenshtein(a.w, b.w) AS INT) AS dist
        |FROM f a JOIN f b ON a.w < b.w AND levenshtein(a.w, b.w) <= 1
        |ORDER BY w1, w2""".stripMargin) { (s, dir) =>
      val base = Tables(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
      val words = base
        .unionByName(base.select(expr("substring(w, 2)").as("w")))
        .filter(length(col("w")) >= 4).distinct()
        .withColumn("id", col("w"))
      words.createOrReplaceTempView("d28b_words")
      val wh = java.nio.file.Files
        .createTempDirectory("graft-fp").toString
      val cat = QueryDef.freshCatalog(s, "graft_fp", wh)
      s.sql(s"CALL $cat.fuzzy_pairs(" +
        "'d28b_words', 'id', 'w', '1', 'd28b_pairs')")
      s.sql("SELECT s1 AS w1, s2 AS w2, dist FROM d28b_pairs " +
        "ORDER BY w1, w2")
    }
  )
}
