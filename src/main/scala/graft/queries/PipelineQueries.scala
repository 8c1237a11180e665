package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.embed.DeterministicEmbedder
import graft.functions.GraftFunctions.vector_norm
import graft.pipeline.IngestPipeline

/** End-to-end ingestion dataflow through the conformance gate
  * (SURVEY §3.1). The embedding itself is engine-defined (the
  * deterministic offline embedder), so the oracle checks the
  * SQL-checkable invariants: one chunk per harness doc at the default
  * 250-token budget (docs are ≤553 chars ≈ ≤138 tokens), dimension 64,
  * unit norm, and chunk text == source text.
  */
object PipelineQueries {

  def defs: Map[String, QueryDef] = Map(

    "p1_ingest_invariants" -> QueryDef(
      """SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS document_url,
        |       CAST(1 AS BIGINT) AS nchunks,
        |       CAST(64 AS BIGINT) AS dim,
        |       CAST(1.0 AS DOUBLE) AS nrm,
        |       text AS chunk_text
        |FROM documents ORDER BY document_url""".stripMargin) { (s, dir) =>
      val chunks = IngestPipeline.ingestDocumentsTable(
        s, Tables(s, dir, "documents"), DeterministicEmbedder(64))
      chunks.groupBy("document_url")
        .agg(count(lit(1)).as("nchunks"),
          max(size(col("embedding"))).cast("long").as("dim"),
          round(max(vector_norm(col("embedding"))), 6).as("nrm"),
          max(col("chunk_text")).as("chunk_text"))
        .orderBy("document_url")
    },

    // P3: the composed corpus-curation pipeline (ops.Curation) — one
    // declarative plan annotating quality, language, exact-duplicate
    // status (planted +1M copies exercise it) and deterministic
    // sample membership, with the first failing reason. The oracle
    // recomputes every signal from first principles: the d4b quality
    // formula, the stopword argmax (en wins ties as the earliest
    // profile), MIN-per-content-hash keeper, and the md5 16-bit
    // sample threshold.
    "p3_curation" -> QueryDef(
      """WITH input AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents),
        |q AS (
        |  SELECT doc_id, text,
        |    ROUND(LEAST(LENGTH(text), 500) * 1.0 / 500 * 0.4
        |      + len(list_filter(string_split(lower(text), ' '),
        |          x -> x IN ('the','and','of','to','in','is','a','that','it','for')))
        |        * 1.0 / len(string_split(text, ' ')) * 0.4
        |      + CASE WHEN (LENGTH(text) - len(string_split(text, ' ')) + 1) * 1.0
        |                  / len(string_split(text, ' ')) BETWEEN 3.0 AND 8.0
        |             THEN 0.2 ELSE 0.0 END, 6) AS quality,
        |    len(list_filter(string_split(lower(text), ' '),
        |      x -> x IN ('the','and','of','to','in','is','a','that','it','for'))) AS en_h,
        |    len(list_filter(string_split(lower(text), ' '),
        |      x -> x IN ('el','la','de','que','y','en','los','del','se','las'))) AS es_h,
        |    len(list_filter(string_split(lower(text), ' '),
        |      x -> x IN ('der','die','und','das','ist','ein','zu','den','mit','nicht'))) AS de_h,
        |    len(list_filter(string_split(lower(text), ' '),
        |      x -> x IN ('le','la','de','et','est','un','les','des','une','dans'))) AS fr_h,
        |    MIN(doc_id) OVER (PARTITION BY sha256(text)) AS keeper,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000' AS in_sample
        |  FROM input)
        |SELECT doc_id, quality,
        |  CASE WHEN quality < 0.3 THEN 'quality'
        |       WHEN NOT (en_h > 0 AND en_h >= es_h AND en_h >= de_h
        |                 AND en_h >= fr_h) THEN 'lang'
        |       WHEN keeper <> doc_id THEN 'duplicate'
        |       WHEN NOT in_sample THEN 'sample'
        |       ELSE '' END AS reason,
        |  (quality >= 0.3 AND en_h > 0 AND en_h >= es_h AND en_h >= de_h
        |   AND en_h >= fr_h AND keeper = doc_id AND in_sample) AS keep
        |FROM q ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val input = d.unionAll(
        d.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      graft.ops.Curation.annotate(input, "doc_id", "text",
          graft.ops.Curation.Config(minQuality = 0.3, lang = "en",
            sampleFraction = 0.5))
        .select(col("doc_id"), col("quality"),
          col("drop_reason").as("reason"), col("keep"))
        .orderBy("doc_id")
    },

    // P5: curation with benchmark decontamination composed in — the
    // P3 pipeline plus a blocklist (every 25th original document as
    // the stand-in eval set). Drop-reason order gains 'contaminated'
    // between 'duplicate' and 'sample': a blocklisted original that
    // passes quality+lang must drop as contaminated (it shares all
    // its 8-grams with itself), its +1M exact copy as duplicate
    // (duplicate wins the order), and near misses stay governed by
    // the 8-gram rule the oracle recomputes from scratch.
    "p5_curation_decontaminated" -> QueryDef(
      """WITH input AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents),
        |toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                             x -> x <> '') AS ts FROM input),
        |grams AS (
        |  SELECT DISTINCT doc_id, array_to_string(ts[i:i+7], ' ') AS g
        |  FROM (SELECT doc_id, ts,
        |               UNNEST(range(1, GREATEST(len(ts) - 6, 2))) AS i
        |        FROM toks WHERE len(ts) >= 1)),
        |bl AS (SELECT DISTINCT g FROM grams
        |       WHERE doc_id % 25 = 0 AND doc_id < 1000000),
        |cont AS (SELECT DISTINCT doc_id FROM grams JOIN bl USING (g)),
        |q AS (
        |  SELECT i.doc_id, text,
        |    ROUND(LEAST(LENGTH(text), 500) * 1.0 / 500 * 0.4
        |      + len(list_filter(string_split(lower(text), ' '),
        |          x -> x IN ('the','and','of','to','in','is','a','that','it','for')))
        |        * 1.0 / len(string_split(text, ' ')) * 0.4
        |      + CASE WHEN (LENGTH(text) - len(string_split(text, ' ')) + 1) * 1.0
        |                  / len(string_split(text, ' ')) BETWEEN 3.0 AND 8.0
        |             THEN 0.2 ELSE 0.0 END, 6) AS quality,
        |    len(list_filter(string_split(lower(text), ' '),
        |      x -> x IN ('the','and','of','to','in','is','a','that','it','for'))) AS en_h,
        |    len(list_filter(string_split(lower(text), ' '),
        |      x -> x IN ('el','la','de','que','y','en','los','del','se','las'))) AS es_h,
        |    len(list_filter(string_split(lower(text), ' '),
        |      x -> x IN ('der','die','und','das','ist','ein','zu','den','mit','nicht'))) AS de_h,
        |    len(list_filter(string_split(lower(text), ' '),
        |      x -> x IN ('le','la','de','et','est','un','les','des','une','dans'))) AS fr_h,
        |    MIN(i.doc_id) OVER (PARTITION BY sha256(text)) AS keeper,
        |    substr(md5(CAST(i.doc_id AS VARCHAR)), 1, 4) < '8000' AS in_sample,
        |    (c.doc_id IS NOT NULL) AS is_cont
        |  FROM input i LEFT JOIN cont c ON i.doc_id = c.doc_id)
        |SELECT doc_id, quality, is_cont AS is_contaminated,
        |  CASE WHEN quality < 0.3 THEN 'quality'
        |       WHEN NOT (en_h > 0 AND en_h >= es_h AND en_h >= de_h
        |                 AND en_h >= fr_h) THEN 'lang'
        |       WHEN keeper <> doc_id THEN 'duplicate'
        |       WHEN is_cont THEN 'contaminated'
        |       WHEN NOT in_sample THEN 'sample'
        |       ELSE '' END AS reason,
        |  (quality >= 0.3 AND en_h > 0 AND en_h >= es_h AND en_h >= de_h
        |   AND en_h >= fr_h AND keeper = doc_id AND NOT is_cont
        |   AND in_sample) AS keep
        |FROM q ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val input = d.unionAll(
        d.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      graft.ops.Curation.annotate(input, "doc_id", "text",
          graft.ops.Curation.Config(minQuality = 0.3, lang = "en",
            sampleFraction = 0.5),
          blocklist = Some(d.filter(col("doc_id") % 25 === 0)))
        .select(col("doc_id"), col("quality"), col("is_contaminated"),
          col("drop_reason").as("reason"), col("keep"))
        .orderBy("doc_id")
    },

    // P7: provenance blocklist composed into curation — the URL/domain
    // filter every web-corpus pipeline runs first (RefinedWeb/CCNet
    // order: provenance before content). Three sources are blocked;
    // 'blocked' leads the drop-reason order, so a blocked document
    // drops as blocked even when it would also fail quality or lang.
    // Full row-level oracle: DuckDB recomputes quality, lang argmax,
    // the min-id duplicate rule, and the source membership check.
    "p7_source_blocklist" -> QueryDef(
      """WITH q AS (
        |  SELECT doc_id, source,
        |    ROUND(LEAST(LENGTH(text), 500) * 1.0 / 500 * 0.4
        |      + len(list_filter(string_split(lower(text), ' '),
        |          x -> x IN ('the','and','of','to','in','is','a','that','it','for')))
        |        * 1.0 / len(string_split(text, ' ')) * 0.4
        |      + CASE WHEN (LENGTH(text) - len(string_split(text, ' ')) + 1) * 1.0
        |                  / len(string_split(text, ' ')) BETWEEN 3.0 AND 8.0
        |             THEN 0.2 ELSE 0.0 END, 6) AS quality,
        |    len(list_filter(string_split(lower(text), ' '),
        |      x -> x IN ('the','and','of','to','in','is','a','that','it','for'))) AS en_h,
        |    len(list_filter(string_split(lower(text), ' '),
        |      x -> x IN ('el','la','de','que','y','en','los','del','se','las'))) AS es_h,
        |    len(list_filter(string_split(lower(text), ' '),
        |      x -> x IN ('der','die','und','das','ist','ein','zu','den','mit','nicht'))) AS de_h,
        |    len(list_filter(string_split(lower(text), ' '),
        |      x -> x IN ('le','la','de','et','est','un','les','des','une','dans'))) AS fr_h,
        |    MIN(doc_id) OVER (PARTITION BY sha256(text)) AS keeper,
        |    source IN ('src3', 'src7', 'src11') AS is_blocked
        |  FROM documents)
        |SELECT doc_id, is_blocked,
        |  CASE WHEN is_blocked THEN 'blocked'
        |       WHEN quality < 0.3 THEN 'quality'
        |       WHEN NOT (en_h > 0 AND en_h >= es_h AND en_h >= de_h
        |                 AND en_h >= fr_h) THEN 'lang'
        |       WHEN keeper <> doc_id THEN 'duplicate'
        |       ELSE '' END AS reason,
        |  (NOT is_blocked AND quality >= 0.3 AND en_h > 0 AND en_h >= es_h
        |   AND en_h >= de_h AND en_h >= fr_h AND keeper = doc_id) AS keep
        |FROM q ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val blocked = Seq("src3", "src7", "src11").toDF("source")
      graft.ops.Curation.annotate(
          Tables(s, dir, "documents")
            .select(col("doc_id"), col("text"), col("source")),
          "doc_id", "text",
          graft.ops.Curation.Config(minQuality = 0.3, lang = "en"),
          srcCol = Some("source"), blockedSources = Some(blocked))
        .select(col("doc_id"), col("is_blocked"),
          col("drop_reason").as("reason"), col("keep"))
        .orderBy("doc_id")
    },

    // P4: NEAR-duplicate removal in the curation pipeline — MinHash
    // pairs cluster via connected components; non-root members flag
    // with their cluster root. The gate pins the guaranteed invariant:
    // a planted tail-edited copy (+1M) pairs with its source (Jaccard
    // ≫ 0.5 — d2 measures 100% planted recall at both SFs) and its id
    // exceeds every potential cluster member, so it can never be a
    // root → EVERY copy must flag, with a root below the copy-id
    // offset. (Originals aren't gated: the corpus carries ~100 organic
    // near-dup pairs that legitimately flag engine-side.)
    "p4_near_dup_curation" -> QueryDef(
      """SELECT doc_id + 1000000 AS id, TRUE AS flagged, TRUE AS root_is_original
        |FROM documents ORDER BY id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val input = d.unionAll(
        d.select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" tail edit")).as("text")))
      graft.ops.Curation.annotateNearDups(input, "doc_id", "text",
          jaccardThreshold = 0.5)
        .filter(col("doc_id") >= 1000000L)
        .select(col("doc_id").as("id"),
          col("is_near_duplicate").as("flagged"),
          (col("near_dup_root") < 1000000L).as("root_is_original"))
        .orderBy("id")
    },

    // P8: the end-to-end training-export composition — P3 curation
    // decides membership, D12 packing assigns shards, D12b's manifest
    // checksums the result. ONE declarative plan engine-side; the
    // oracle recomputes the whole chain from first principles
    // (quality, lang argmax, min-id keeper, md5 sample threshold,
    // md5-ordered greedy fill, order-immune membership checksum), so
    // a document misplaced by ANY stage breaks the hash match.
    "p8_export_manifest" -> QueryDef(
      """WITH input AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents),
        |q AS (
        |  SELECT doc_id, text,
        |    ROUND(LEAST(LENGTH(text), 500) * 1.0 / 500 * 0.4
        |      + len(list_filter(string_split(lower(text), ' '),
        |          x -> x IN ('the','and','of','to','in','is','a','that','it','for')))
        |        * 1.0 / len(string_split(text, ' ')) * 0.4
        |      + CASE WHEN (LENGTH(text) - len(string_split(text, ' ')) + 1) * 1.0
        |                  / len(string_split(text, ' ')) BETWEEN 3.0 AND 8.0
        |             THEN 0.2 ELSE 0.0 END, 6) AS quality,
        |    len(list_filter(string_split(lower(text), ' '),
        |      x -> x IN ('the','and','of','to','in','is','a','that','it','for'))) AS en_h,
        |    len(list_filter(string_split(lower(text), ' '),
        |      x -> x IN ('el','la','de','que','y','en','los','del','se','las'))) AS es_h,
        |    len(list_filter(string_split(lower(text), ' '),
        |      x -> x IN ('der','die','und','das','ist','ein','zu','den','mit','nicht'))) AS de_h,
        |    len(list_filter(string_split(lower(text), ' '),
        |      x -> x IN ('le','la','de','et','est','un','les','des','une','dans'))) AS fr_h,
        |    MIN(doc_id) OVER (PARTITION BY sha256(text)) AS keeper,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000' AS in_sample
        |  FROM input),
        |k AS (
        |  SELECT doc_id, text FROM q
        |  WHERE quality >= 0.3 AND en_h > 0 AND en_h >= es_h AND en_h >= de_h
        |    AND en_h >= fr_h AND keeper = doc_id AND in_sample),
        |t AS (
        |  SELECT doc_id, CAST(LENGTH(text) // 4 AS BIGINT) AS tc,
        |         md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM k),
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
      val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val input = d.unionAll(
        d.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val packed = graft.ops.Curation.exportShards(input, "doc_id", "text",
        graft.ops.Curation.Config(minQuality = 0.3, lang = "en",
          sampleFraction = 0.5),
        budget = 2000L, numGroups = 16)
      graft.ops.Packing.manifest(packed, "doc_id", "tc")
        .select(col("grp").cast("long").as("grp"), col("shard"),
          col("n_docs"), col("token_sum"), col("checksum"))
        .orderBy("grp", "shard")
    },

    // P9: the round-5 operators composed into a training export —
    // line-dedup the corpus (D23, planted boilerplate cut corpus-wide),
    // split leakage-safe by SOURCE (D7e, whole domains on one side),
    // then pack EACH SPLIT into token-budget shards with an
    // order-immune manifest (D12/D12b). The oracle replays the entire
    // chain — the exact-line cut, the md5 source assignment, the
    // per-(split, group) greedy fill window, and the checksum — so
    // every stage must agree with the second engine end-to-end.
    "p9_split_export" -> QueryDef(
      """WITH lined AS (
        |  SELECT doc_id, source,
        |         concat_ws(chr(10),
        |           'nav home about contact',
        |           CASE WHEN doc_id % 3 = 0 THEN 'accept cookies to continue' END,
        |           text,
        |           CASE WHEN doc_id % 50 = 0 THEN 'limited time offer today' END) AS t2
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, unnest(string_split(t2, chr(10))) AS line,
        |         generate_subscripts(string_split(t2, chr(10)), 1) AS pos
        |  FROM lined),
        |common AS (
        |  SELECT line FROM l WHERE trim(line) <> ''
        |  GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 100),
        |cleaned AS (
        |  SELECT l.doc_id,
        |         COALESCE(string_agg(CASE WHEN c.line IS NULL THEN l.line END,
        |                             chr(10) ORDER BY l.pos), '') AS ct
        |  FROM l LEFT JOIN common c ON l.line = c.line
        |  GROUP BY l.doc_id),
        |sp AS (
        |  SELECT cl.doc_id, cl.ct,
        |         CASE WHEN substr(md5(d.source || 'v1'), 1, 4) < '4000'
        |              THEN 'val' ELSE 'train' END AS split
        |  FROM cleaned cl JOIN documents d USING (doc_id)),
        |t AS (
        |  SELECT doc_id, split, CAST(LENGTH(ct) // 4 AS BIGINT) AS tc,
        |         md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM sp),
        |g AS (
        |  SELECT doc_id, split, tc, h,
        |         CAST(((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
        |               + strpos('0123456789abcdef', substr(h, 2, 1)) - 1)
        |              % 16 AS BIGINT) AS grp
        |  FROM t),
        |p AS (
        |  SELECT doc_id, split, tc, grp,
        |         CAST(COALESCE(SUM(tc) OVER (PARTITION BY split, grp
        |                ORDER BY h, doc_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |              // 2000 AS BIGINT) AS shard
        |  FROM g)
        |SELECT split, grp, shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(tc) AS BIGINT) AS token_sum,
        |       CAST(SUM(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
        |                || CAST(tc AS VARCHAR)), 1, 8) AS BIGINT)) AS BIGINT)
        |         AS checksum
        |FROM p GROUP BY split, grp, shard
        |ORDER BY split, grp, shard""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val lined = docs.select(col("doc_id"), col("source"),
        concat_ws("\n",
          lit("nav home about contact"),
          when(col("doc_id") % 3 === 0, lit("accept cookies to continue")),
          col("text"),
          when(col("doc_id") % 50 === 0, lit("limited time offer today")))
          .as("t2"))
      val cleaned = graft.ops.Dedup
        .cutCommonLines(lined, "doc_id", "t2", minDocs = 100)
        .join(docs.select("doc_id", "source"), Seq("doc_id"))
      val split = graft.ops.Sampling
        .splitBySource(cleaned, "source", 0.25, "v1")
        .select(col("doc_id"), col("split"),
          graft.functions.GraftFunctions.token_count(col("cleaned_text"))
            .cast("long").as("tc"))
      def mani(side: String) = graft.ops.Packing.manifest(
          graft.ops.Packing.packShards(
            split.filter(col("split") === side), "doc_id", "tc",
            budget = 2000L, numGroups = 16),
          "doc_id", "tc")
        .withColumn("split", lit(side))
      mani("train").unionByName(mani("val"))
        .select(col("split"), col("grp").cast("long").as("grp"),
          col("shard"), col("n_docs"), col("token_sum"), col("checksum"))
        .orderBy("split", "grp", "shard")
    },

    // P10: poison-document quarantine — the per-blob failure isolation
    // the reference host gets from the Functions runtime
    // (BlobTriggerFunction.cs:40-54 / blob-trigger poison queue),
    // re-expressed engine-side. Every 25th document is planted as a
    // corrupt binary (an extension routed to an extractor that
    // rejects it); the isolating router must quarantine exactly those
    // (stage 'extract', a non-empty error, the exact byte length) and
    // chunk every other document normally — one job, no task failure.
    // The oracle recomputes membership, stage, and the UTF-8 byte
    // length from first principles.
    "p11_quarantine" -> QueryDef(
      """SELECT doc_id,
        |       doc_id % 25 = 0 AS quarantined,
        |       CASE WHEN doc_id % 25 = 0 THEN 'extract' ELSE '' END AS stage,
        |       CAST(CASE WHEN doc_id % 25 = 0 THEN 0 ELSE 1 END AS BIGINT)
        |         AS nchunks,
        |       CASE WHEN doc_id % 25 = 0
        |            THEN CAST(octet_length(encode(text)) AS BIGINT)
        |            ELSE CAST(-1 AS BIGINT) END AS qbytes
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val files = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val ext = if (id % 25 == 0) "bin" else "txt"
          (s"doc://$id.$ext", text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      val poison = new graft.extract.Extractor {
        override def extract(path: String, content: Array[Byte]) =
          throw new IllegalArgumentException(s"corrupt payload: $path")
      }
      val outcomes = IngestPipeline.routeAndChunkIsolated(files, poison)
      val both = outcomes.toDF().select(
        coalesce(col("chunk.document_url"), col("quarantined.document_url"))
          .as("url"),
        col("quarantined").isNotNull.as("q"),
        coalesce(col("quarantined.stage"), lit("")).as("stage"),
        coalesce(col("quarantined.byte_length"), lit(-1L)).as("qbytes"))
      both.groupBy(
          regexp_extract(col("url"), "^doc://(\\d+)\\.", 1)
            .cast("long").as("doc_id"))
        .agg(max(col("q")).as("quarantined"),
          max(col("stage")).as("stage"),
          sum(when(col("q"), 0L).otherwise(1L)).as("nchunks"),
          max(col("qbytes")).as("qbytes"))
        .orderBy("doc_id")
    },

    // Raw pipeline output surface. Embedding VALUES are spec'd by the
    // deterministic embedder (not SQL), so the embedding projects to
    // its unit norm plus a well-formedness check of the sha2 content
    // digest; everything else — one chunk per doc, chunk id 0, chunk
    // text == source text, url shape — the oracle recomputes exactly.
    "p2_ingest_chunks" -> QueryDef(
      """SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS document_url,
        |       CAST(0 AS BIGINT) AS chunk_id,
        |       text AS chunk_text,
        |       CAST(1.0 AS DOUBLE) AS embedding_norm,
        |       TRUE AS embedding_sha_ok
        |FROM documents ORDER BY document_url, chunk_id""".stripMargin) { (s, dir) =>
      IngestPipeline.ingestDocumentsTable(
          s, Tables(s, dir, "documents"), DeterministicEmbedder(64))
        .select(col("document_url"),
          col("chunk_id").cast("long").as("chunk_id"),
          col("chunk_text"),
          round(vector_norm(col("embedding")), 6).as("embedding_norm"),
          sha2(to_json(col("embedding")), 256).rlike("^[0-9a-f]{64}$")
            .as("embedding_sha_ok"))
        .orderBy("document_url", "chunk_id")
    },

    // P12: INCREMENTAL AGGREGATE MAINTENANCE off the change feed —
    // a derived GROUP BY table (count + SQL-semantics SUM + non-null
    // count per measure) advances to the source's head in O(churn)
    // via signed CDF deltas merged exactly-once (txn marker atomic
    // with the merge commit). The agg table is maintained through a
    // bootstrap catch-up, then an upsert that MOVES documents across
    // groups + a row-level DELETE, then a second catch-up; the oracle
    // recomputes the final GROUP BY from scratch — any double-applied
    // delta, missed group, wrong NULL-sum rule, or undead group row
    // breaks the hash. Mechanics (markers, vanishing groups, DV
    // sources, refusals) are pinned in IncrementalAggSpec.
    "p12_incremental_agg" -> QueryDef(
      """WITH base AS (
        |  SELECT doc_id,
        |         CAST(doc_id % 7 AS INTEGER) AS grp,
        |         CASE WHEN doc_id % 11 = 0 THEN NULL
        |              ELSE CAST(LENGTH(text) AS INTEGER) END AS m,
        |         text
        |  FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 5 = 0 THEN 6 ELSE grp END AS grp,
        |         CASE WHEN doc_id % 5 = 0 THEN
        |              CASE WHEN doc_id % 11 = 0 THEN NULL
        |                   ELSE CAST(LENGTH(text || ' v2') AS INTEGER) END
        |              ELSE m END AS m
        |  FROM base),
        |final AS (SELECT * FROM v2 WHERE grp <> 3)
        |SELECT CAST(grp AS INTEGER) AS page_number,
        |       CAST(COUNT(*) AS BIGINT) AS cnt,
        |       CAST(SUM(m) AS BIGINT) AS sum_chunk_id,
        |       CAST(COUNT(m) AS BIGINT) AS nn_chunk_id
        |FROM final GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft-iagg").toString
      val src = s"$wh/chunks"
      val agg = s"$wh/chunks_by_page"
      val store = new graft.sink.ChunkStore(s, src)
      val docs = Tables(s, dir, "documents")
      store.append(docs.select(
        when(col("doc_id") % 11 === 0, lit(null))
          .otherwise(length(col("text"))).cast("int").as("chunk_id"),
        col("text").as("chunk_text"), array(lit(0f)).as("embedding"),
        (col("doc_id") % 7).cast("int").as("page_number"),
        concat(lit("doc://"), col("doc_id")).as("document_url")))
      graft.pipeline.IncrementalAgg.catchUp(s, src, agg,
        Seq("page_number"), Seq("chunk_id"))
      // upsert MOVES every doc_id % 5 = 0 document to group 6 with
      // new text (its measure changes too); then a row-level DELETE
      // kills group 3
      store.upsert(docs.filter(col("doc_id") % 5 === 0).select(
        when(col("doc_id") % 11 === 0, lit(null))
          .otherwise(length(concat(col("text"), lit(" v2"))))
          .cast("int").as("chunk_id"),
        concat(col("text"), lit(" v2")).as("chunk_text"),
        array(lit(0f)).as("embedding"),
        lit(6).cast("int").as("page_number"),
        concat(lit("doc://"), col("doc_id")).as("document_url")))
      store.deleteWhere(col("page_number") === 3)
      graft.pipeline.IncrementalAgg.catchUp(s, src, agg,
        Seq("page_number"), Seq("chunk_id"))
      new graft.sink.ChunkStore(s, agg).read()
        .select(col("page_number"), col("cnt"),
          col("sum_chunk_id"), col("nn_chunk_id"))
        .orderBy("page_number")
    },

    // P12b: MIN/MAX incremental aggregates — the bounded-recompute
    // contract. Same churn script as p12 (bootstrap → group-moving
    // upsert + group kill → catch-up) plus an EXTREMUM-killing
    // row-level DELETE (every row at/beyond the band edges), so the
    // final catch-up must detect each group's endangered extremum
    // from the feed and re-derive exactly those groups from the
    // source (file-pruned by group-key stats). The oracle recomputes
    // the final GROUP BY with MIN/MAX from scratch: a stale extremum
    // (delta-only maintenance), a recompute over the wrong version,
    // or NULL-measure mishandling all break the hash.
    "p12b_incremental_agg_minmax" -> QueryDef(
      """WITH base AS (
        |  SELECT doc_id,
        |         CAST(doc_id % 7 AS INTEGER) AS grp,
        |         CASE WHEN doc_id % 11 = 0 THEN NULL
        |              ELSE CAST(LENGTH(text) AS INTEGER) END AS m,
        |         text
        |  FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 5 = 0 THEN 6 ELSE grp END AS grp,
        |         CASE WHEN doc_id % 5 = 0 THEN
        |              CASE WHEN doc_id % 11 = 0 THEN NULL
        |                   ELSE CAST(LENGTH(text || ' v2') AS INTEGER) END
        |              ELSE m END AS m
        |  FROM base),
        |kept AS (SELECT * FROM v2 WHERE grp <> 3),
        |final AS (
        |  SELECT * FROM kept
        |  WHERE m IS NULL OR (m > 100 AND m < 450))
        |SELECT CAST(grp AS INTEGER) AS page_number,
        |       CAST(COUNT(*) AS BIGINT) AS cnt,
        |       CAST(SUM(m) AS BIGINT) AS sum_chunk_id,
        |       CAST(COUNT(m) AS BIGINT) AS nn_chunk_id,
        |       CAST(MIN(m) AS INTEGER) AS min_chunk_id,
        |       CAST(MAX(m) AS INTEGER) AS max_chunk_id
        |FROM final GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val wh = java.nio.file.Files
        .createTempDirectory("graft-iaggmm").toString
      val src = s"$wh/chunks"
      val agg = s"$wh/chunks_by_page"
      val store = new graft.sink.ChunkStore(s, src)
      val docs = Tables(s, dir, "documents")
      store.append(docs.select(
        when(col("doc_id") % 11 === 0, lit(null))
          .otherwise(length(col("text"))).cast("int").as("chunk_id"),
        col("text").as("chunk_text"), array(lit(0f)).as("embedding"),
        (col("doc_id") % 7).cast("int").as("page_number"),
        concat(lit("doc://"), col("doc_id")).as("document_url")))
      def sync(): Unit = graft.pipeline.IncrementalAgg.catchUp(s, src,
        agg, Seq("page_number"), Seq("chunk_id"),
        minCols = Seq("chunk_id"), maxCols = Seq("chunk_id"))
      sync() // bootstrap: extrema held from the insert-only delta
      store.upsert(docs.filter(col("doc_id") % 5 === 0).select(
        when(col("doc_id") % 11 === 0, lit(null))
          .otherwise(length(concat(col("text"), lit(" v2"))))
          .cast("int").as("chunk_id"),
        concat(col("text"), lit(" v2")).as("chunk_text"),
        array(lit(0f)).as("embedding"),
        lit(6).cast("int").as("page_number"),
        concat(lit("doc://"), col("doc_id")).as("document_url")))
      store.deleteWhere(col("page_number") === 3)
      sync() // held extrema now real before the extremum kill
      store.deleteWhere(
        col("chunk_id") >= 450 || col("chunk_id") <= 100)
      sync() // endangered-group bounded recompute
      new graft.sink.ChunkStore(s, agg).read()
        .select(col("page_number"), col("cnt"),
          col("sum_chunk_id"), col("nn_chunk_id"),
          col("min_chunk_id"), col("max_chunk_id"))
        .orderBy("page_number")
    }
  )
}
