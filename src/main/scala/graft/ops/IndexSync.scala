package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sink.{ChunkStore, GraftMergeDelete, GraftMergeInsert, ManifestTableFormat}

/** D3i: the index FOLLOWS the table — advance a persistent index
  * ([[VectorIndex]] or [[TextIndex]]) to a manifest table's current
  * version by consuming the table's change feed (B13), on a
  * maintenance cadence. This closes the loop the reference gets for
  * free (its vector index lives ON the store container, so every
  * upsert/delete is index-consistent by construction —
  * `AzureCosmosDB/.../CosmosDBClientWrapper.cs:112-152`): an EXTERNAL
  * index stays consistent by replaying exactly the rows that changed.
  *
  * Per catch-up, with `(from, to] = (last synced, table head]`:
  *  1. the net row delta comes from `changesBetween` — O(churn) rows,
  *     never the table;
  *  2. inserted ids the index does not hold yet are encoded with the
  *     stamped model; net-removed ids (deleted and not re-inserted)
  *     are deleted;
  *  3. both land in ONE commit on the index table — an append, or a
  *     MERGE that deletes the matched removed ids and inserts the new
  *     rows — and that commit records `to` as its stream-transaction
  *     marker, so the synced version and the rows it covers publish
  *     together.
  *
  * **Ids must be content-addressed** — a deterministic function of the
  * row's content (use [[contentAddressedId]]), not a bare document
  * key. A content change then flows as delete(old id) + insert(new
  * id); with a content-BLIND id the new content would be dropped as
  * "already held".
  *
  * Crash contract: a catch-up that dies before its commit publishes
  * leaves the index as it was (its staged files are unreferenced,
  * vacuum reclaims them) and the synced version unmoved, so the next
  * run replays the same span; one that published is done. There is no
  * window in between. [[markSynced]] may move the synced version
  * anywhere, down to −1; a replay over rows the index already holds
  * appends nothing, because held ids are not inserted again.
  */
object IndexSync {

  /** Outcome of one catch-up: the span applied, the ids appended and
    * the net-removed ids deleted.
    */
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

  /** Catch-up commits carry the synced table version as a stream
    * transaction marker under the app id `<SyncApp><n>`: [[markSynced]]
    * opens generation n + 1, so it can move the version down as well
    * as up, and the newest generation's marker is the synced version.
    */
  private val SyncApp = "graft.index_sync."

  /** (current sync generation, its synced version); (0, −1) when the
    * index never recorded one.
    */
  private def syncMarker(ix: ManifestTableFormat): (Long, Long) =
    ix.streamTransactions.collect {
      case (a, v) if a.startsWith(SyncApp) => (a.stripPrefix(SyncApp).toLong, v)
    }.sortBy(_._1).lastOption.getOrElse((0L, -1L))

  /** The table version the index has fully applied; −1 if never. */
  def lastSynced(spark: SparkSession, indexPath: String): Long =
    syncMarker(IndexTable.open(spark, indexPath))._2

  /** Record the applied version: one commit carrying only a new
    * generation's marker. Public so an index built from a table
    * SNAPSHOT can declare its starting point before the first
    * catch-up; −1 makes the next catch-up replay the whole table.
    */
  def markSynced(spark: SparkSession, indexPath: String, version: Long): Unit = {
    val ix = IndexTable.open(spark, indexPath)
    require(ix.version >= 0, s"no index table at $indexPath — build first")
    ix.appendStream(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], ix.currentSchema),
      SyncApp + (syncMarker(ix)._1 + 1), version)
  }

  private def lockPath(indexPath: String) = s"$indexPath/_sync_lock"

  /** How long a sync lock may sit before a later run treats it as a
    * hard-killed holder's leftover and takes it over (the same bound
    * vacuum applies to stale `tmp-` staging). Generous on purpose: a
    * LIVE catch-up of any realistic span finishes well inside it.
    */
  private val lockStaleMs = 60L * 60 * 1000

  /** Single-maintainer guard: two concurrent catch-ups would each
    * classify their span against the index before the other's commit
    * lands, and the later commit would re-apply the rows of the
    * earlier span. The lock is the same fail-if-exists create the
    * manifest log's commit publish relies on. A lock older than
    * [[lockStaleMs]] is a hard-killed holder's leftover (OOM,
    * SIGKILL): it is deleted and re-acquired — a dead holder's span
    * never published (the module's crash contract), so the takeover is
    * safe, and without it every later catchUp/CALL sync_index would
    * wedge until an operator deleted the file by hand. Only a FRESH
    * lock (a plausibly live run) errors loudly.
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

  /** Advance the vector index at `indexPath` to the head of the
    * manifest table at `tablePath`. `prepare` maps changed TABLE rows
    * to index rows carrying the stamped id/vector columns (ids
    * content-addressed — see the object doc). Returns the span and row
    * counts applied; a no-op span returns zeros.
    */
  def catchUp(
      spark: SparkSession,
      tablePath: String,
      indexPath: String,
      prepare: DataFrame => DataFrame): Stats =
    catchUpOn(IndexTable.open(spark, indexPath), spark, tablePath,
      indexPath, prepare, text = false)

  /** [[catchUp]]'s twin for the BM25 text index ([[TextIndex]]):
    * `prepare` maps changed table rows to (stamped id column, `text`).
    * A document's postings and doc-length row insert and delete
    * together, and the BM25 corpus stats follow from the live
    * doc-length rows, so nothing else needs recounting.
    */
  def catchUpText(
      spark: SparkSession,
      tablePath: String,
      indexPath: String,
      prepare: DataFrame => DataFrame): Stats =
    catchUpOn(IndexTable.open(spark, indexPath), spark, tablePath,
      indexPath, prepare, text = true)

  /** The catch-up of either index kind, committing through `ix`, the
    * index table's handle.
    */
  private[graft] def catchUpOn(
      ix: ManifestTableFormat,
      spark: SparkSession,
      tablePath: String,
      indexPath: String,
      prepare: DataFrame => DataFrame,
      text: Boolean): Stats = withSyncLock(spark, indexPath) {
    val mtf = new ManifestTableFormat(spark, tablePath, ChunkStore.schema)
    val head = mtf.version
    val (gen, from) = syncMarker(ix)
    require(head >= from,
      s"index at $indexPath is synced past the table ($from > $head) — " +
        "wrong table, or the table's log was replaced")
    if (head == from) return Stats(from, head, 0L, 0L)
    // the prepared id and value columns, the index table's id column,
    // the encoding of prepared rows, and the ids the index holds
    val (id, value, key, encode, held) =
      if (text) {
        val m = TextIndex.load(spark, indexPath)
        (m.idCol, "text", "doc_id",
          (df: DataFrame) => TextIndex.rowsFor(df, m.idCol, "text",
            m.numBuckets),
          ix.pinScan().readWhereIn("tb", Seq(TextIndex.DocLenBucket)))
      } else {
        val m = VectorIndex.loadAny(spark, indexPath)
        (m.idCol, m.vecCol, VectorIndex.dataIdCol(m),
          (df: DataFrame) => VectorIndex.encode(m, df), ix.read())
      }
    val delta = mtf.changesBetween(from, head).persist()
    try {
      def side(kind: String) = prepare(
          delta.filter(col("_change_type") === kind).drop("_change_type"))
        .select(col(id), col(value))
      val ins = side("insert").dropDuplicates(id)
      // net-removed ids only: an id on both sides (identical content
      // re-added across the span) must stay served
      val dead = side("delete").select(id)
        .join(ins.select(id), Seq(id), "left_anti").distinct().persist()
      // ids the index already holds (a replay after markSynced moved
      // the version back) are not appended again
      val fresh = ins
        .join(held.select(col(key).as(id)).distinct(), Seq(id), "left_anti")
        .persist()
      try {
        val nDead = dead.count()
        val nFresh = fresh.count()
        // encoded once, as plain rows: the model's literals (centroids,
        // codebooks) stay out of every plan the commit builds on them
        val rows = encode(fresh).localCheckpoint()
        val app = SyncApp + gen
        if (nDead == 0) ix.appendStream(rows, app, head)
        else ix.mergeInto(
          rows.withColumn("__ins", lit(true))
            .unionByName(dead.select(col(id).as(key), lit(false).as("__ins")),
              allowMissingColumns = true),
          col(s"__graft_t.$key") === col(s"__graft_s.$key"),
          matched = Seq(GraftMergeDelete(Some(!col("__graft_s.__ins")))),
          notMatched = Seq(GraftMergeInsert(Some(col("__graft_s.__ins")),
            ix.currentSchema.fieldNames.toSeq.map(c =>
              c -> col(s"__graft_s.$c")))),
          notMatchedBySource = Nil, urlProbe = None,
          txn = Some(app -> head),
          // a target row matches at most one source row: the removed
          // ids are distinct and the inserted ones are not held
          sourceKeyedByOn = true)
        Stats(from, head, nFresh, nDead)
      } finally { fresh.unpersist(); dead.unpersist() }
    } finally delta.unpersist()
  }
}
