package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sink.{ChunkStore, ManifestTableFormat, StagedSwap}

/** D3i: the index FOLLOWS the table — advance a persistent ANN index
  * ([[VectorIndex]]) to a manifest table's current version by
  * consuming the table's change feed (B13), on a maintenance cadence.
  * This closes the loop the reference gets for free (its vector index
  * lives ON the store container, so every upsert/delete is
  * index-consistent by construction —
  * `AzureCosmosDB/.../CosmosDBClientWrapper.cs:112-152`): an EXTERNAL
  * index stays consistent by replaying exactly the rows that changed.
  *
  * Per catch-up, with `(from, to] = (last synced, table head]`:
  *  1. the net row delta comes from `changesBetween` — O(churn) rows,
  *     never the table;
  *  2. ids being (re)inserted are REVIVED out of the tombstone
  *     sidecar first (a staged-swap rewrite of the
  *     deletion-rate-bounded tombstone set), so a re-added document
  *     is never masked by its own earlier delete;
  *  3. net-removed ids tombstone ([[VectorIndex.delete]] — idempotent,
  *     serving stops immediately, bytes reclaimed by the maintenance
  *     [[VectorIndex.compact]]);
  *  4. inserted rows append AFTER an anti-join against ids already
  *     present in the index — scoped to the TOUCHED partitions (the
  *     insert batch's own IVF cells / LSH buckets), so the existence
  *     probe reads O(touched partitions), not the index. This is what
  *     makes replay convergent: re-running any span (crash between
  *     apply and the version record, or a lost `_sync_version` file
  *     forcing a from-scratch replay) appends nothing twice.
  *
  * **Ids must be content-addressed** — a deterministic function of the
  * row's content (use [[contentAddressedId]]), not a bare document
  * key. A content change then flows as tombstone(old id) + append(new
  * id); with a content-BLIND id, the old rows would be revived by
  * step 2 and the new content dropped as "already present" by step 4.
  *
  * Crash contract: the `_sync_version` record is written (atomic
  * temp+rename) only after a span fully applies. A crash mid-span
  * replays it; every step is idempotent, so replay converges. There
  * is no cross-store transaction — exactly the
  * checkpoint-plus-idempotence design of [[graft.pipeline.ChangeFeedSync]].
  */
object IndexSync {

  /** Outcome of one catch-up: the span applied and the work done. */
  final case class Stats(
      fromVersion: Long,
      toVersion: Long,
      appended: Long,
      tombstoned: Long)

  /** Content-addressed index id: the row's identity cols plus a
    * 64-bit content hash — changes with content, collides only on
    * identical content under the same key (then the rows ARE
    * interchangeable).
    */
  def contentAddressedId(keyCols: Seq[Column], contentCols: Seq[Column]): Column =
    concat_ws("#",
      (keyCols :+ xxhash64(contentCols: _*)).map(_.cast("string")): _*)

  /** The chunk-schema `prepare` for SQL/procedure callers: id =
    * content-addressed over (document_url, chunk_id, embedding),
    * vector = embedding, emitted under the index's own stamped
    * column names.
    */
  def chunkPrepare(
      spark: SparkSession, indexPath: String): DataFrame => DataFrame = {
    val meta = VectorIndex.loadAny(spark, indexPath)
    rows => rows.select(
      contentAddressedId(
        Seq(col("document_url"), col("chunk_id")),
        Seq(col("embedding"))).as(meta.idCol),
      col("embedding").as(meta.vecCol))
  }

  private def syncPath(indexPath: String) = s"$indexPath/_sync_version"

  /** The table version the index has fully applied; −1 if never. */
  def lastSynced(spark: SparkSession, indexPath: String): Long = {
    val p = new Path(syncPath(indexPath))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return -1L
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
    finally in.close()
  }

  /** Record the applied version (atomic temp write + rename). Public
    * so an index built from a table SNAPSHOT can declare its starting
    * point before the first catch-up.
    */
  def markSynced(spark: SparkSession, indexPath: String, version: Long): Unit = {
    val p = new Path(syncPath(indexPath))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(syncPath(indexPath) + ".tmp-" +
      java.util.UUID.randomUUID())
    val out = fs.create(tmp, true)
    try out.write(version.toString.getBytes("UTF-8")) finally out.close()
    fs.delete(p, false)
    require(fs.rename(tmp, p), s"could not publish $p")
  }

  /** Remove `ids` from the tombstone sidecar (staged-swap rewrite) so
    * re-inserted content serves again. No-op without tombstones.
    */
  private def revive(
      spark: SparkSession, indexPath: String, ids: DataFrame): Unit =
    reviveSidecar(spark, VectorIndex.tombPath(indexPath), ids)

  /** Returns false when there was no tombstone sidecar to rewrite. */
  private def reviveSidecar(
      spark: SparkSession, tombDir: String, ids: DataFrame): Boolean = {
    val tomb = new Path(tombDir)
    val fs = tomb.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(tomb)) return false
    val current = spark.read.parquet(tomb.toString)
    // keep the sidecar's OWN column name and type: the rewrite must
    // stay schema-identical to what VectorIndex.delete appends later,
    // or the mixed-schema directory reads back as nulls and every
    // masked id silently revives
    val tombCol = current.columns.head
    val survivors = current.join(
      broadcast(ids
        .select(col(ids.columns.head)
          .cast(current.schema(tombCol).dataType).as(tombCol))
        .distinct()),
      Seq(tombCol), "left_anti")
    val tmp = new Path(tomb.toString + ".reviving-" +
      java.util.UUID.randomUUID())
    survivors.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    StagedSwap.swap(fs, tomb, tmp)
    true
  }

  /** Ids already physically present in the index, probed only in the
    * partitions the insert batch itself touches (IVF cells / LSH
    * buckets; q8 is unpartitioned and scans its id column — the
    * documented flat-index trade).
    */
  private def existingIds(
      spark: SparkSession, indexPath: String, meta: VectorIndex.Meta,
      ins: DataFrame): DataFrame = {
    val idName = VectorIndex.dataIdCol(meta)
    val data = spark.read.parquet(VectorIndex.dataPath(indexPath))
    meta.kind match {
      case "ivfpq" =>
        val cells = ins
          .select(KMeans.assign(col(meta.vecCol), meta.centroids).as("cell"))
          .distinct().collect().map(_.getInt(0)).toIndexedSeq
        data.filter(col("cell").isin(cells: _*)).select(idName)
      case "lsh" =>
        // the batch's band buckets, capped: distinct buckets are
        // bounded by min(numTables × batch, numTables × 2^numPlanes),
        // but a massive catch-up batch could still blow the driver
        // list / the literal OR-filter — past the cap, the flat
        // id-column scan is the cheaper plan anyway
        val maxBucketLiterals = 4096
        val buckets = ins
          .select(posexplode(Similarity.lshTableBuckets(col(meta.vecCol),
            meta.dim, meta.numPlanes, meta.seed, meta.numTables))
            .as(Seq("tbl", "bucket")))
          .select("tbl", "bucket").distinct()
          .limit(maxBucketLiterals + 1).collect()
          .map(r => (r.getInt(0), r.getLong(1))).toIndexedSeq
        if (buckets.size > maxBucketLiterals) data.select(idName)
        else data.filter(
            buckets.map { case (t, b) =>
              col("tbl") === t && col("bucket") === b
            }.reduceOption(_ || _).getOrElse(lit(false)))
          .select(idName)
      case _ => data.select(idName)
    }
  }

  /** Advance the index at `indexPath` to the head of the manifest
    * table at `tablePath`. `prepare` maps changed TABLE rows to index
    * rows carrying the stamped id/vector columns (ids
    * content-addressed — see the object doc). Returns the span and
    * row counts applied; a no-op span returns zeros.
    */
  private def lockPath(indexPath: String) = s"$indexPath/_sync_lock"

  /** How long a sync lock may sit before a later run treats it as a
    * hard-killed holder's leftover and takes it over (the same bound
    * vacuum applies to stale `tmp-` staging). Generous on purpose: a
    * LIVE catch-up of any realistic span finishes well inside it.
    */
  private val lockStaleMs = 60L * 60 * 1000

  /** Single-maintainer guard: two concurrent catch-ups would each
    * pass the existence anti-join before the other's append lands and
    * double-append the span. The lock is the same fail-if-exists
    * create the manifest log's commit publish relies on. A lock older
    * than [[lockStaleMs]] is a hard-killed holder's leftover (OOM,
    * SIGKILL): it is deleted and re-acquired — replay is convergent
    * by the module's crash contract, so the takeover is safe, and
    * without it every later catchUp/CALL sync_index would wedge until
    * an operator deleted the file by hand. Only a FRESH lock (a
    * plausibly live run) errors loudly.
    */
  private def withSyncLock[T](spark: SparkSession, indexPath: String)(
      body: => T): T = {
    val p = new Path(lockPath(indexPath))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def acquire(mayTakeOver: Boolean): org.apache.hadoop.fs.FSDataOutputStream =
      try fs.create(p, false)
      catch {
        case e: java.io.IOException =>
          val stale =
            try System.currentTimeMillis() -
              fs.getFileStatus(p).getModificationTime > lockStaleMs
            catch {
              // holder finished between our create and stat: free now
              case _: java.io.FileNotFoundException => true
            }
          if (stale && mayTakeOver) {
            fs.delete(p, false)
            // second attempt never takes over: two racing takeovers
            // resolve to one winner of the fail-if-exists create
            acquire(mayTakeOver = false)
          } else throw new IllegalStateException(
            s"another IndexSync.catchUp holds $p (created under " +
              s"${lockStaleMs / 60000} min ago, so plausibly live) — " +
              "wait for it, or remove the lock file after confirming " +
              "nothing is running; re-running is safe",
            e)
      }
    val out = acquire(mayTakeOver = true)
    try out.write(
      s"${System.currentTimeMillis()}\n".getBytes("UTF-8"))
    finally out.close()
    try body finally fs.delete(p, false)
  }

  /** The manifest handle + the span to apply; None = already at head. */
  private def spanOf(
      spark: SparkSession, tablePath: String, indexPath: String)
      : (ManifestTableFormat, Long, Long) = {
    val store = new ChunkStore(spark, tablePath)
    val mtf = new ManifestTableFormat(spark, tablePath, store.schema)
    val head = mtf.version
    val from = lastSynced(spark, indexPath)
    require(head >= from,
      s"index at $indexPath is synced past the table ($from > $head) — " +
        "wrong table, or the table's log was replaced")
    (mtf, from, head)
  }

  def catchUp(
      spark: SparkSession,
      tablePath: String,
      indexPath: String,
      prepare: DataFrame => DataFrame): Stats = withSyncLock(spark, indexPath) {
    val (mtf, from, head) = spanOf(spark, tablePath, indexPath)
    if (head == from) return Stats(from, head, 0L, 0L)
    val meta = VectorIndex.loadAny(spark, indexPath)
    val delta = mtf.changesBetween(from, head).persist()
    try {
      val ins = prepare(
        delta.filter(col("_change_type") === "insert")
          .drop("_change_type"))
        .select(col(meta.idCol), col(meta.vecCol)).persist()
      val dels = prepare(
        delta.filter(col("_change_type") === "delete")
          .drop("_change_type"))
        .select(col(meta.idCol))
      try {
        revive(spark, indexPath, ins.select(meta.idCol))
        // net-removed ids only: an id on both sides (identical content
        // re-added across the span) must stay served
        val dead = dels.join(ins.select(meta.idCol).distinct(),
          Seq(meta.idCol), "left_anti").persist()
        val nDead =
          try {
            val n = dead.count()
            if (n > 0) VectorIndex.delete(dead, indexPath)
            n
          } finally dead.unpersist()
        val fresh = ins.join(
          existingIds(spark, indexPath, meta, ins)
            .toDF(meta.idCol).distinct(),
          Seq(meta.idCol), "left_anti").persist()
        val nFresh =
          try {
            val n = fresh.count()
            if (n > 0) VectorIndex.append(fresh, indexPath)
            n
          } finally fresh.unpersist()
        markSynced(spark, indexPath, head)
        Stats(from, head, nFresh, nDead)
      } finally ins.unpersist()
    } finally delta.unpersist()
  }

  /** The chunk-schema text prepare: content-addressed id over
    * (document_url, chunk_id, chunk_text), text = chunk_text, under
    * the text index's stamped id column plus a `text` column.
    */
  def chunkTextPrepare(
      spark: SparkSession, indexPath: String): DataFrame => DataFrame = {
    val meta = TextIndex.load(spark, indexPath)
    rows => rows.select(
      contentAddressedId(
        Seq(col("document_url"), col("chunk_id")),
        Seq(col("chunk_text"))).as(meta.idCol),
      col("chunk_text").as("text"))
  }

  /** [[catchUp]]'s twin for the BM25 text index ([[TextIndex]]):
    * advance the index at `indexPath` to the table head off the
    * change feed. `prepare` maps changed table rows to
    * (stamped id column, `text`) — ids content-addressed, as in
    * [[catchUp]]. Same revive → tombstone → existence-anti-join →
    * append algebra; differences owed to the text index's design:
    *  - the existence probe is the NARROW `doclen` table (one tiny
    *    row per document — the flat-index trade, no partition
    *    geometry to prune by);
    *  - after a revive rewrite the stamped corpus stats (docCount,
    *    sumDl — the BM25 normalizers) are re-derived with the text
    *    index's own self-healing recount ([[TextIndex.delete]] with
    *    an empty id set recounts doclen minus tombstones).
    * The one formerly non-convergent window — a crash INSIDE an
    * append, postings landed but the doclen existence anchor not —
    * is closed by the staged append journal: each batch publishes a
    * pending marker naming its postings buckets before writing, and
    * the next run's [[TextIndex.healTornAppend]] drops the orphaned
    * postings from exactly those buckets and recounts the stamp
    * before replaying. Every interleaving is now convergent.
    */
  def catchUpText(
      spark: SparkSession,
      tablePath: String,
      indexPath: String,
      prepare: DataFrame => DataFrame): Stats = withSyncLock(spark, indexPath) {
    val (mtf, from, head) = spanOf(spark, tablePath, indexPath)
    if (head == from) return Stats(from, head, 0L, 0L)
    val meta = TextIndex.load(spark, indexPath)
    // consume any torn-append journal BEFORE the existence probe, so
    // a crashed previous run's half-landed batch is scrubbed and the
    // anti-join re-admits it cleanly
    TextIndex.healTornAppend(spark, indexPath)
    val delta = mtf.changesBetween(from, head).persist()
    try {
      val ins = prepare(
        delta.filter(col("_change_type") === "insert")
          .drop("_change_type"))
        .select(col(meta.idCol), col("text")).persist()
      val dels = prepare(
        delta.filter(col("_change_type") === "delete")
          .drop("_change_type"))
        .select(col(meta.idCol))
      try {
        val revived = reviveSidecar(spark,
          TextIndex.tombPath(indexPath), ins.select(meta.idCol))
        // recount the stamped BM25 stats against the revived
        // tombstone set (empty-id delete = the index's own recount)
        if (revived) TextIndex.delete(
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField(meta.idCol,
                org.apache.spark.sql.types.StringType)))),
          indexPath)
        val dead = dels.join(ins.select(meta.idCol).distinct(),
          Seq(meta.idCol), "left_anti").persist()
        val nDead =
          try {
            val n = dead.count()
            if (n > 0) TextIndex.delete(dead, indexPath)
            n
          } finally dead.unpersist()
        val existing = spark.read
          .parquet(TextIndex.doclenPath(indexPath))
          .select(col("doc_id").as(meta.idCol)).distinct()
        val fresh = ins.join(existing, Seq(meta.idCol), "left_anti")
          .persist()
        val nFresh =
          try {
            val n = fresh.count()
            if (n > 0) TextIndex.appendStaged(fresh, indexPath, "text")
            n
          } finally fresh.unpersist()
        markSynced(spark, indexPath, head)
        Stats(from, head, nFresh, nDead)
      } finally ins.unpersist()
    } finally delta.unpersist()
  }
}
