package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions._
import graft.ops.{Layout, VectorSearch}

/** Tier B — the vector-search read path the reference provisions in its
  * target stores (SURVEY §2.2). The store query shape is
  * `SELECT TOP k ... ORDER BY VectorDistance(c.embedding, @q)`
  * (AzureCosmosDB/csharp/README.md:104-106); here it lowers to
  * a broadcast of the single query vector + `TakeOrderedAndProject`
  * (partial top-k per partition, merged at the driver — shuffle-free).
  *
  * Oracle SQL forces double accumulation via generate_series so DuckDB
  * and Spark agree bit-for-bit after ROUND(...,6).
  */
object VectorQueries {

  /** Cosine in doubles, computed identically on the DuckDB side. */
  private def oracleCosineTopK(k: Int, probeId: Long): String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $probeId),
       |pairs AS (
       |  SELECT e.vec_id,
       |         CAST(UNNEST(e.embedding) AS DOUBLE) AS x,
       |         CAST(UNNEST(q.qe) AS DOUBLE) AS y
       |  FROM embeddings e, q
       |)
       |SELECT vec_id,
       |       ROUND(1.0 - SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))), 6) + 0.0 AS dist
       |FROM pairs GROUP BY vec_id
       |ORDER BY dist, vec_id LIMIT $k""".stripMargin

  /** lineitem's (orderkey, linenumber, partkey, suppkey) as a manifest
    * table in a run-scoped warehouse, z-ordered on (partkey, suppkey)
    * by `compactZorder` after `bloomKey`, if any, is declared a bloom
    * column — so the rewritten files carry both the curve's tight
    * min/max and the key's blooms. Returns the qualified name.
    */
  private def zorderedLineitem(s: SparkSession, dir: String,
      bloomKey: Option[String]): String = {
    val wh = java.nio.file.Files.createTempDirectory("graft-zlayout").toString
    val cat = QueryDef.freshCatalog(s, "graft_z", wh)
    Tables(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      .createOrReplaceTempView(s"${cat}_src")
    s.sql(s"CREATE TABLE $cat.t TBLPROPERTIES ('format'='manifest') " +
      s"AS SELECT * FROM ${cat}_src")
    bloomKey.foreach(k => s.sql(s"CALL $cat.set_bloom_columns('t', '$k')"))
    // CALL compact_zorder's 128 MB file target packs the table into one
    // file at gate scale; an eighth of its bytes per file spreads it
    // over about eight clustered files, so the gate exercises
    // multi-file pruning
    val t = new graft.sink.ManifestTableFormat(s, s"$wh/t",
      graft.sink.ChunkStore.schema)
    t.compactZorder(Seq("l_partkey", "l_suppkey"),
      math.max(1L, t.tableStats()._4 / 8))
    s"$cat.t"
  }

  def defs: Map[String, QueryDef] = Map(
    // B2: brute-force exact top-k by cosine distance.
    "b2_vector_topk" -> QueryDef(oracleCosineTopK(10, 0)) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      e.crossJoin(broadcast(q))
        .select(col("vec_id"),
          // + 0.0 normalizes IEEE -0.0 to +0.0 so both engines hash alike
          (round(cosine_distance(col("embedding"), col("qe")), 6) + lit(0.0)).as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(10)
    },

    // B2b: the STORED-NORM cosine top-k (roadmap extension of the
    // PrenormalizeCosine literal-probe fold): the norm column is
    // materialized ONCE at write time (VectorSearch.withNorm → 8
    // bytes/row in parquet), the probe's norm constant-folds at plan
    // time, and the scan's per-row work collapses to the dot product
    // alone — the minimum any cosine scan can do, and the shape that
    // matters when the 100 TB side is rescanned by every query. The
    // gate hash-matches the SAME oracle as b2: stored-norm results
    // must be bit-identical to the recompute-both-norms path.
    "b2b_vector_topk_stored_norm" -> QueryDef(oracleCosineTopK(10, 0)) { (s, dir) =>
      // run-scoped staging dir: concurrent gate runs against the same
      // source never collide on a shared path
      val path = java.nio.file.Files
        .createTempDirectory("graft-storednorm").toString + "/stored"
      VectorSearch.withNorm(Tables(s, dir, "embeddings"))
        .write.mode("overwrite").parquet(path)
      val stored = s.read.parquet(path)
      val qv = stored.filter(col("vec_id") === 0)
        .select(col("embedding")).head.getSeq[Float](0)
      val q = typedlit(qv)
      stored
        .select(col("vec_id"),
          (round(cosine_distance_stored_norm(col("embedding"), q,
            col("embedding_norm"), vector_norm(q)), 6) + lit(0.0)).as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(10)
    },

    // B3: metadata filter + vector ordering (filter BEFORE the distance
    // sort → partition pruning / pushdown applies to the scan).
    "b3_vector_filtered_topk" -> QueryDef(
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |pairs AS (
         |  SELECT e.vec_id, e.label,
         |         CAST(UNNEST(e.embedding) AS DOUBLE) AS x,
         |         CAST(UNNEST(q.qe) AS DOUBLE) AS y
         |  FROM embeddings e, q
         |  WHERE e.label < 5
         |)
         |SELECT vec_id, label,
         |       ROUND(1.0 - SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))), 6) + 0.0 AS dist
         |FROM pairs GROUP BY vec_id, label
         |ORDER BY dist, vec_id LIMIT 10""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir, "embeddings").filter(col("label") < 5)
      val q = Tables(s, dir, "embeddings")
        .filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      e.crossJoin(broadcast(q))
        .select(col("vec_id"), col("label"),
          (round(cosine_distance(col("embedding"), col("qe")), 6) + lit(0.0)).as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(10)
    },

    // B5: key/partition point lookup.
    "b5_point_lookup" -> QueryDef(
      """SELECT vec_id, label, ROUND(CAST(embedding[1] AS DOUBLE), 6) AS e0
        |FROM embeddings WHERE vec_id = 42 ORDER BY vec_id""".stripMargin) { (s, dir) =>
      Tables(s, dir, "embeddings")
        .filter(col("vec_id") === 42)
        .select(col("vec_id"), col("label"),
          round(element_at(col("embedding"), 1).cast("double"), 6).as("e0"))
        .orderBy(col("vec_id"))
    },

    // B5b: point-read pruning paying off on the ENGINE'S OWN chunk
    // store — a ChunkStore ingests the documents table, and a
    // multi-document read consults the per-file `document_url` bloom
    // and min/max the manifest log records, reading only the files
    // that may hold a probed url. The result must equal a plain filter
    // over the source table exactly — including an absent probe url
    // returning nothing (bloom false positives widen the file list;
    // the residual `isin` filter keeps rows identical). ManifestFormatSpec
    // pins that the read touches a strict file subset.
    "b5b_store_pruned_lookup" -> QueryDef(
      """SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS document_url,
        |       text AS chunk_text
        |FROM documents WHERE doc_id IN (3, 7)
        |ORDER BY document_url""".stripMargin) { (s, dir) =>
      val path = java.nio.file.Files
        .createTempDirectory("graft-storekey").toString + "/chunks"
      val store = new graft.sink.ChunkStore(s, path)
      store.upsert(Tables(s, dir, "documents")
        .select(lit(0).as("chunk_id"),
          col("text").as("chunk_text"),
          array(lit(0f)).as("embedding"),
          lit(0).as("page_number"),
          concat(lit("doc://"), col("doc_id")).as("document_url")))
      store.readDocuments(Seq("doc://3", "doc://7", "doc://absent"))
        .select("document_url", "chunk_text")
        .orderBy("document_url")
    },

    // B11: Z-order (Morton) curve — the multi-dimension clustering key
    // behind CALL compact_zorder (SCALE §1). The gate pins the bit
    // interleave itself: both engines compute the same magic-mask
    // dilation over two 10-bit dims, so a hash mismatch catches any
    // drift in the curve the layout (and its pruning) depends on.
    "b11_zorder_curve" -> QueryDef(
      """WITH b AS (
        |  SELECT l_orderkey, l_linenumber,
        |         l_partkey % 1024 AS x, l_suppkey % 1024 AS y
        |  FROM lineitem
        |), s1 AS (
        |  SELECT *, (x | (x << 8)) & 16711935 AS xa,
        |            (y | (y << 8)) & 16711935 AS ya FROM b
        |), s2 AS (
        |  SELECT *, (xa | (xa << 4)) & 252645135 AS xb,
        |            (ya | (ya << 4)) & 252645135 AS yb FROM s1
        |), s3 AS (
        |  SELECT *, (xb | (xb << 2)) & 858993459 AS xc,
        |            (yb | (yb << 2)) & 858993459 AS yc FROM s2
        |), s4 AS (
        |  SELECT *, (xc | (xc << 1)) & 1431655765 AS xd,
        |            (yc | (yc << 1)) & 1431655765 AS yd FROM s3
        |)
        |SELECT l_orderkey, l_linenumber, CAST(xd | (yd << 1) AS BIGINT) AS z
        |FROM s4 ORDER BY z, l_orderkey, l_linenumber LIMIT 50""".stripMargin) {
      (s, dir) =>
        Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            Layout.mortonCode(Seq(
              pmod(col("l_partkey"), lit(1024)),
              pmod(col("l_suppkey"), lit(1024))), 16).as("z"))
          .orderBy(col("z"), col("l_orderkey"), col("l_linenumber"))
          .limit(50)
    },

    // B11b: end-to-end layout payoff — the z-ordered manifest table
    // (compact_zorder) answers the 2-dim interval predicate through
    // per-file min/max skipping and must return EXACTLY the rows a
    // plain scan-and-filter returns (pruning sound, residual filter
    // exact). GraftCatalogSpec pins that the scan plans a strict file
    // subset.
    "b11b_pruned_scan" -> QueryDef(
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 120 AND l_suppkey BETWEEN 1 AND 5
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin) {
      (s, dir) =>
        s.sql(s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
          |FROM ${zorderedLineitem(s, dir, None)}
          |WHERE l_partkey BETWEEN 100 AND 120 AND l_suppkey BETWEEN 1 AND 5
          |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""
          .stripMargin)
    },

    // B11c: key-probe pruning — a `set_bloom_columns` bloom on
    // l_partkey prunes files for equality/IN predicates that min/max
    // cannot help with. Result must equal the plain IN-filter exactly
    // (bloom false positives only widen the file list). Probes one
    // present key and one absent key.
    "b11c_key_pruned_scan" -> QueryDef(
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
        |FROM lineitem WHERE l_partkey IN (101, 987654321)
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin) {
      (s, dir) =>
        s.sql(s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
          |FROM ${zorderedLineitem(s, dir, Some("l_partkey"))}
          |WHERE l_partkey IN (101, 987654321)
          |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""
          .stripMargin)
    },

    // B11d: the generic n-dim interleave (the path arities ≠ 2 use),
    // pinned against DuckDB's independent bit arithmetic at 3 dims ×
    // 8 bits — with b11's mask fast path this hash-gates BOTH morton
    // code paths against a second engine.
    "b11d_zorder_3dim" -> QueryDef(
      """SELECT l_orderkey, l_linenumber,
        |  CAST(list_sum([(((l_partkey % 256) >> b) & 1) * (1 << (b*3))
        |                 FOR b IN range(0,8)]) +
        |       list_sum([(((l_suppkey % 256) >> b) & 1) * (1 << (b*3+1))
        |                 FOR b IN range(0,8)]) +
        |       list_sum([(((l_orderkey % 256) >> b) & 1) * (1 << (b*3+2))
        |                 FOR b IN range(0,8)]) AS BIGINT) AS z
        |FROM lineitem
        |ORDER BY z, l_orderkey, l_linenumber LIMIT 50""".stripMargin) {
      (s, dir) =>
        Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            Layout.mortonCode(Seq(
              pmod(col("l_partkey"), lit(256)),
              pmod(col("l_suppkey"), lit(256)),
              pmod(col("l_orderkey"), lit(256))), 8).as("z"))
          .orderBy(col("z"), col("l_orderkey"), col("l_linenumber"))
          .limit(50)
    },

    // B11e: b11b and b11c in one query — an interval on one curve
    // dim AND an equality probe on the other, whose bloom
    // (`set_bloom_columns`) intersects with the min/max selection.
    // GraftCatalogSpec pins the file subset; this gate pins the ROWS
    // against DuckDB filtering the raw table — pruning must be
    // invisible to results.
    "b11e_sql_pruned_scan" -> QueryDef(
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
        |FROM lineitem
        |WHERE l_partkey BETWEEN 200 AND 220 AND l_suppkey = 3
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin) {
      (s, dir) =>
        s.sql(s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
          |FROM ${zorderedLineitem(s, dir, Some("l_suppkey"))}
          |WHERE l_partkey BETWEEN 200 AND 220 AND l_suppkey = 3
          |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""
          .stripMargin)
    },

    // B1 exercised directly: norms and pairwise distance measures.
    "b1_vector_measures" -> QueryDef(
      """WITH pairs AS (
        |  SELECT e.vec_id,
        |         CAST(UNNEST(e.embedding) AS DOUBLE) AS x
        |  FROM embeddings e
        |)
        |SELECT vec_id, ROUND(SQRT(SUM(x*x)), 6) AS nrm
        |FROM pairs GROUP BY vec_id ORDER BY vec_id""".stripMargin) { (s, dir) =>
      Tables(s, dir, "embeddings")
        .select(col("vec_id"), round(vector_norm(col("embedding")), 6).as("nrm"))
        .orderBy(col("vec_id"))
    }
  )
}
