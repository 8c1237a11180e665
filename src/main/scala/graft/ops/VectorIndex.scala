package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{cosine_distance, q8_cosine_distance}

/** Persistent vector-index lifecycle (SURVEY B2/D3's at-scale form).
  *
  * The reference provisions its vector index ONCE when the container
  * is created (`AzureCosmosDB/.../CosmosDBClientWrapper.cs:119-144`:
  * a `VectorIndexType.QuantizedFlat` index policy on the embedding
  * path) and every query thereafter reuses it. The transient operators
  * ([[Similarity.ivfPqAnnJoin]], [[Similarity.lshAnnJoin]],
  * [[Quantize.topKQuantized]]) retrain centroids/codebooks and
  * recompute per-row codes on every call — correct, but at 100 TB
  * retrain-per-query is the difference between an index and a scan.
  *
  * `build*` runs the one-scan training (IVF centroids + residual PQ
  * codebook; LSH is oblivious to the data, scalar int8 is model-free),
  * materializes the per-row index columns next to the float vectors as
  * ONE manifest table ([[IndexTable]]), and stamps the trained model +
  * parameters into a `_graft_vector_index` sidecar (the same
  * stamp-and-validate pattern as the
  * [[graft.pipeline.StreamingDedup]] signature store: probing
  * an index with the wrong parameters must fail loudly, not silently
  * return garbage). `query*` loads the stamp — KB-scale driver state,
  * no Spark job — and runs the SAME search shapes as the transient
  * operators, so a prebuilt index answers bit-identically to the
  * retrain path while touching none of the training inputs.
  *
  * Scale design per kind:
  *  - `ivfpq`: data partitioned BY CELL — a probe visits nprobe cells,
  *    so per-file cell min/max, read from the log on the driver, skip
  *    the files of the other cells; the coarse stage column-prunes to
  *    (nn_id, cell, pq) (m bytes a row), floats are decoded only by
  *    the candidate-bounded rerank join.
  *  - `lsh`: the exploded band table partitioned by (tbl, bucket).
  *  - `q8`: flat table; the coarse pass column-prunes to the packed
  *    codes (¼ of the float bytes) + two doubles, rerank joins floats
  *    back for the survivors.
  */
object VectorIndex {

  private val Version = "graft-vector-index v1"
  private[ops] val StampName = "_graft_vector_index"

  /** The stamp: everything a query needs to reuse the index without
    * touching the training inputs. Driver-side KBs (nlist×dim floats +
    * m×ks×subDim codebook).
    */
  final case class Meta(
      kind: String,
      idCol: String,
      vecCol: String,
      dim: Int,
      seed: Long,
      nlist: Int,
      numPlanes: Int,
      numTables: Int,
      centroids: Seq[Seq[Float]],
      pq: Option[Quantize.PqModel])

  /** The index table's partition columns per kind: a probe's cells
    * (ivfpq) or bands (lsh) select their files by per-file min/max.
    */
  private def partitionCols(kind: String): Seq[String] = kind match {
    case "ivfpq" => Seq("cell")
    case "lsh" => Seq("tbl", "bucket")
    case _ => Seq.empty
  }

  /** `rows` (carrying the stamped id and vector columns) as index
    * rows, encoded with the stamped model: row-local codes, so any
    * split of the same rows encodes identically.
    */
  private[ops] def encode(meta: Meta, rows: DataFrame): DataFrame =
    meta.kind match {
      case "ivfpq" =>
        Similarity.ivfPqIndexFrame(rows, meta.idCol, meta.vecCol,
          meta.centroids, meta.pq.get, keepVec = true)
      case "q8" =>
        Quantize.withIndexColumns(
          rows.select(col(meta.idCol), col(meta.vecCol)), meta.vecCol)
      case "lsh" =>
        rows.select(col(meta.idCol).as("nn_id"), col(meta.vecCol).as("bv"),
          posexplode(Similarity.lshTableBuckets(col(meta.vecCol), meta.dim,
            meta.numPlanes, meta.seed, meta.numTables))
            .as(Seq("tbl", "bucket")))
      case other => throw new IllegalArgumentException(
        s"vector index has unknown kind '$other'")
    }

  /** The build's write: unstamp (the index table is created afresh,
    * stamp and all), write the encoded rows, then stamp — a crashed
    * build leaves no stamp, so it never passes for an index.
    */
  private def build(base: DataFrame, path: String, meta: Meta): Unit = {
    val spark = base.sparkSession
    IndexTable.create(spark, path, encode(meta, base),
      partitionCols(meta.kind))
    IndexTable.writeStamp(spark, path, StampName, render(meta))
  }

  /** The live index rows at `path`, under the index table's schema. */
  def read(spark: SparkSession, path: String): DataFrame = {
    loadAny(spark, path)
    IndexTable.open(spark, path).read()
  }

  // ----------------------------------------------------------------
  // build
  // ----------------------------------------------------------------

  /** Train (one TakeOrderedAndProject sample scan) and materialize an
    * IVF-PQ index for `base` at `path`: per row (nn_id, cell, pq
    * codes, float vec), partitioned by cell; centroids + codebook in
    * the stamp. Overwrites any previous index at `path`.
    *
    * ks SIZING: training cost is paid ONCE here and amortized over
    * every query, so prefer 8-bit codes (ks=256) for a served corpus
    * — measured recall@10 at 20k×64d: 0.49 (ks=16, rerank=96) →
    * 0.94 (ks=256, rerank=256) at sub-second query latency
    * (BENCH_NOTES round 13). The ks=16 default mirrors the transient
    * [[Similarity.ivfPqAnnJoin]] for result parity in the d3e gate.
    */
  def buildIvfPq(
      base: DataFrame,
      path: String,
      idCol: String,
      vecCol: String,
      nlist: Int = 16,
      m: Int = 8,
      ks: Int = 16,
      seed: Long = 42L): Unit = {
    // ONE hash-sample scan serves both centroid and PQ training: the
    // sample order is the deterministic hash total order, so prefix
    // takes reproduce each trainer's own sample bit-identically (d3e
    // pins build ≡ transient-retrain on exactly this property)
    val sample = Quantize.hashSample(base, idCol, vecCol,
      math.max(nlist * 64, ks * 64), seed)
    val cents = Similarity.ivfCentroidsFromSample(sample, nlist)
    val model = Quantize.trainPqResidualsFromSample(sample, cents,
      m, ks, lloydIters = 5)
    build(base, path, Meta("ivfpq", idCol, vecCol,
      cents.headOption.map(_.length).getOrElse(0), seed, nlist, 0, 0,
      cents, Some(model)))
  }

  /** Materialize a scalar int8 index (model-free: per-row min/scale +
    * packed codes next to the floats).
    */
  def buildQ8(
      base: DataFrame,
      path: String,
      idCol: String,
      vecCol: String): Unit =
    build(base, path, Meta("q8", idCol, vecCol, 0, 0L, 0, 0, 0,
      Seq.empty, None))

  /** Materialize a hyperplane-LSH index: the exploded band table
    * (nn_id, vec, tbl, bucket) partitioned by (tbl, bucket) so probes
    * prune to their buckets. Plane geometry is deterministic in
    * (seed, dim, numPlanes) and lives in the stamp as parameters — no
    * trained state.
    */
  def buildLsh(
      base: DataFrame,
      path: String,
      idCol: String,
      vecCol: String,
      dim: Int,
      numPlanes: Int = 8,
      numTables: Int = 1,
      seed: Long = 42L): Unit = {
    require(numTables >= 1, s"numTables=$numTables")
    build(base, path, Meta("lsh", idCol, vecCol, dim, seed, 0,
      numPlanes, numTables, Seq.empty, None))
  }

  /** Incrementally add rows to an existing index WITHOUT retraining:
    * the stamp's model (centroids + codebook / plane geometry / int8
    * scheme) encodes the new rows exactly as the build did, and the
    * encoded rows append to the index table in one commit. This is the
    * ingest-time half of the provisioned-index contract — the
    * reference's store indexes each upserted document as it arrives
    * against the index policy fixed at provisioning
    * (`CosmosDBClientWrapper.cs:119-144`); it never retrains.
    *
    * Consequences, by design:
    *  - append is O(new rows) — the existing data and the training
    *    inputs are never read (IndexSpec proves it with both deleted);
    *  - append order and batching don't matter: any split of the same
    *    rows yields an identical index (same model, row-local codes);
    *  - the model drifts from the data as the corpus grows — quantize
    *    error can rise, but RESULTS stay exactly reproducible; rebuild
    *    on a maintenance cadence when recall degrades (the same
    *    rebuild-vs-probe trade the StreamingDedup store documents).
    *
    * Ids are the caller's contract (append-only, like A18): appending
    * an existing id yields two index rows for it.
    */
  def append(rows: DataFrame, path: String): Unit = {
    val spark = rows.sparkSession
    val meta = loadAny(spark, path)
    IndexTable.open(spark, path).append(encode(meta, rows))
  }

  // ----------------------------------------------------------------
  // delete and compact: commits on the index table
  // ----------------------------------------------------------------

  /** The index table's id column name: the ivfpq/lsh layouts rename the
    * id to `nn_id` at build time; q8 keeps the caller's column.
    */
  private[ops] def dataIdCol(meta: Meta): String =
    if (meta.kind == "q8") meta.idCol else "nn_id"

  /** Delete the rows of `ids` (the frame's first column) in ONE commit
    * on the index table: a deleted row stops serving results at once.
    * This closes the read-path gap the reference's store never has
    * (its vector index lives ON the container, so a document delete
    * is index-consistent by construction —
    * `AzureCosmosDB/.../CosmosDBClientWrapper.cs:112-152`). Ids are
    * cast to the index's id type, so a type mismatch can never
    * silently miss. Deleting an absent id is a no-op; deletes are
    * idempotent.
    */
  def delete(ids: DataFrame, path: String): Unit = {
    val spark = ids.sparkSession
    val idName = dataIdCol(loadAny(spark, path))
    IndexTable.deleteIds(IndexTable.open(spark, path), ids, idName)
  }

  /** Rewrite the index table's files ([[ManifestTableFormat.compact]]):
    * the files deletes and appends left behind re-bin, still clustered
    * by the kind's partition columns. Answers are unchanged; because
    * row codes are row-local and the model lives in the stamp, the
    * compacted rows equal encoding the live rows directly.
    */
  def compact(spark: SparkSession, path: String): Unit = {
    loadAny(spark, path)
    IndexTable.open(spark, path).compact()
  }

  // ----------------------------------------------------------------
  // query — loads the stamp, never the training inputs
  // ----------------------------------------------------------------

  /** k-NN via a prebuilt IVF-PQ index — identical results to
    * [[Similarity.ivfPqAnnJoin]] with the build's parameters, zero
    * training work: the model comes from the stamp, the per-row codes
    * from the index table.
    */
  def queryIvfPq(
      spark: SparkSession,
      path: String,
      probes: DataFrame,
      k: Int,
      nprobe: Int = 4,
      rerankPerProbe: Int = 64): DataFrame = {
    val meta = load(spark, path, expectKind = "ivfpq")
    val pin = IndexTable.open(spark, path).pinScan()
    // the probes' nprobe cells (≤ nlist ints, one tiny probe-side job)
    // pick the coarse scan's files from their cell min/max on the
    // driver and filter its rows. Removes only rows the cell equi-join
    // would drop anyway, so results are unchanged.
    val cells = Similarity
      .ivfProbeCells(probes, meta.idCol, meta.vecCol, nprobe,
        meta.centroids)
      .select("cell").distinct().collect().map(_.getInt(0)).sorted
    Similarity.ivfPqSearch(
      pin.readWhereIn("cell", cells.toIndexedSeq)
        .select("nn_id", "cell", "pq"),
      pin.read(pin.pairs).select(col("nn_id"), col("vec").as("bvx")),
      probes, meta.idCol, meta.vecCol, k, nprobe, rerankPerProbe,
      meta.centroids, meta.pq.get)
  }

  /** Single-query top-k via a prebuilt int8 index — same two-stage
    * shape as [[Quantize.topKQuantized]], but the coarse pass scans
    * the stored code columns and the floats join back only for the
    * `rerank` survivors. Returns (idCol, vecCol, dist).
    */
  def queryQ8(
      spark: SparkSession,
      path: String,
      queryVec: Seq[Float],
      k: Int,
      rerank: Int = 0): DataFrame = {
    val meta = load(spark, path, expectKind = "q8")
    val r = if (rerank > 0) rerank else math.max(4 * k, 32)
    val t = IndexTable.open(spark, path).read()
    val id = col(meta.idCol)
    val q = typedlit(queryVec)
    t.select(id, col("q8_codes"), col("q8_mn"), col("q8_scale"))
      .withColumn("q8_dist",
        round(q8_cosine_distance(
          col("q8_codes"), col("q8_mn"), col("q8_scale"), q), 6))
      .orderBy(col("q8_dist"), id)
      .limit(r)
      .select(id)
      .join(t.select(id, col(meta.vecCol)), Seq(meta.idCol))
      .withColumn("dist",
        round(cosine_distance(col(meta.vecCol), q), 6) + lit(0.0))
      .orderBy(col("dist"), id)
      .limit(k)
  }

  /** ANN via a prebuilt LSH index — identical results to
    * [[Similarity.lshAnnJoin]] with the build's parameters; the base
    * side reads precomputed buckets instead of re-projecting every
    * vector.
    */
  def queryLsh(
      spark: SparkSession,
      path: String,
      probes: DataFrame,
      k: Int): DataFrame = {
    val meta = load(spark, path, expectKind = "lsh")
    Similarity.lshSearch(
      IndexTable.open(spark, path).read()
        .select(col("nn_id"), col("bv"), col("tbl").cast("int"),
          col("bucket").cast("int")),
      probes, meta.idCol, meta.vecCol, k, meta.dim, meta.numPlanes,
      meta.seed, meta.numTables)
  }

  // ----------------------------------------------------------------
  // stamp serialization — a small line format with exact float
  // round-trips (Float.toString emits the shortest decimal that
  // uniquely identifies the value); no JSON library needed.
  // ----------------------------------------------------------------

  private def fmtVecs(vs: Seq[Seq[Float]]): String =
    vs.map(_.mkString(",")).mkString(";")

  private def parseVecs(s: String): Seq[Seq[Float]] =
    if (s.isEmpty) Seq.empty
    else s.split(";", -1).toSeq.map(
      _.split(",", -1).toSeq.map(java.lang.Float.parseFloat))

  private[graft] def render(meta: Meta): String = {
    val pqLine = meta.pq.map(p =>
      s"${p.m},${p.ks},${p.subDim}|" +
        p.codebook.map(fmtVecs).mkString("|")).getOrElse("")
    Seq(Version,
      s"kind=${meta.kind}",
      s"idCol=${meta.idCol}",
      s"vecCol=${meta.vecCol}",
      s"dim=${meta.dim}",
      s"seed=${meta.seed}",
      s"nlist=${meta.nlist}",
      s"numPlanes=${meta.numPlanes}",
      s"numTables=${meta.numTables}",
      s"centroids=${fmtVecs(meta.centroids)}",
      s"pq=$pqLine").mkString("\n")
  }

  private[graft] def parse(text: String, path: String): Meta = {
    val lines = text.split("\n", -1).toSeq
    require(lines.headOption.contains(Version),
      s"index at $path has stamp version '${lines.headOption.getOrElse("")}'" +
        s" — this build reads only '$Version'")
    val kv = lines.tail.map { l =>
      val i = l.indexOf('=')
      require(i > 0, s"malformed stamp line '$l' in index at $path")
      l.substring(0, i) -> l.substring(i + 1)
    }.toMap
    val pq = kv("pq") match {
      case "" => None
      case s =>
        val parts = s.split("\\|", -1).toSeq
        val Array(m, ks, subDim) = parts.head.split(",").map(_.toInt)
        require(parts.tail.length == m,
          s"index at $path: PQ codebook has ${parts.tail.length} " +
            s"subspaces, stamp says m=$m")
        Some(Quantize.PqModel(m, ks, subDim, parts.tail.map(parseVecs)))
    }
    Meta(kv("kind"), kv("idCol"), kv("vecCol"), kv("dim").toInt,
      kv("seed").toLong, kv("nlist").toInt, kv("numPlanes").toInt,
      kv("numTables").toInt, parseVecs(kv("centroids")), pq)
  }

  /** Load and validate the stamp — a driver-side file read, no Spark
    * job. Fails loudly on a missing/incompatible index.
    */
  def load(spark: SparkSession, path: String,
      expectKind: String): Meta = {
    val meta = parse(IndexTable.readStamp(spark, path, StampName,
      s"no vector index at $path (missing $StampName stamp) — " +
        s"run VectorIndex.build first; a data directory without a " +
        "stamp is an incomplete build"), path)
    require(meta.kind == expectKind,
      s"index at $path is kind '${meta.kind}' but was queried as " +
        s"'$expectKind' — kinds are not interchangeable")
    meta
  }

  /** Load whatever kind is stamped at `path` (for kind-dispatching
    * callers like [[append]]); same loud failure on a missing stamp.
    */
  private[ops] def loadAny(spark: SparkSession, path: String): Meta =
    parse(IndexTable.readStamp(spark, path, StampName,
      s"no vector index at $path (missing $StampName stamp) — " +
        "run VectorIndex.build first; append cannot create an index"),
      path)
}
