package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The canonical chunk table (SURVEY §1.1 item 4; FIXTURES §2) and its
  * sink semantics, every write one commit on the table's manifest log
  * ([[ManifestTableFormat]], the single-log model of the Delta
  * protocol):
  *
  *  - A19/A21 ensure-schema bootstrap (`ensure()` creates the empty
  *    log),
  *  - A17 idempotent keyed upsert — one atomic commit replaces every
  *    document present in the batch and leaves the rest in place: the
  *    reference's per-item atomic upsert
  *    (`AzureCosmosDB/.../CosmosDBClientWrapper.cs:36-72`) at document
  *    granularity, since chunk ids are per-document ordinals (:48),
  *  - A18 append mode (the SQL variant's non-idempotent INSERT path),
  *  - A20 delete — completed here (the reference left it a TODO stub),
  *  - row-level UPDATE / DELETE / MERGE INTO for the SQL surface.
  *
  * Readers are snapshot-isolated and concurrent writers resolve by
  * file-level conflict checks in the log. Point reads prune to the
  * files whose logged `document_url` bloom and min/max admit the
  * probed urls.
  *
  * `format` builds the log handle: the main log by default; branch
  * handles ([[ManifestTableFormat.branchFactory]]) and instrumented
  * subclasses pass their own.
  */
final class ChunkStore(
    val spark: SparkSession,
    val path: String,
    format: ChunkStore => ManifestTableFormat = ManifestTableFormat.factory) {

  /** The log handle every operation routes through. Built on first
    * use, after [[ChunkStore.requireManifestLayout]] has refused a
    * directory the retired parquet engine wrote.
    */
  private lazy val fmt: ManifestTableFormat = {
    ChunkStore.requireManifestLayout(spark, path)
    format(this)
  }

  val schema: StructType = ChunkStore.schema

  def exists: Boolean = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
    .exists(new Path(path))

  /** A19/A21: bootstrap the empty table — its empty log — if absent. */
  def ensure(): Unit = fmt.initializeTable(None, Nil)

  /** A17: idempotent upsert — replaces exactly the documents present
    * in `chunks`, leaves everything else in place.
    */
  def upsert(chunks: DataFrame): Unit = fmt.merge(chunks)

  /** A18: append-only insert (re-processing duplicates, as in the
    * reference's SQL variant). Columns added by ALTER TABLE pass
    * through; the log conforms the frame to the current schema.
    */
  def append(chunks: DataFrame): Unit = fmt.append(chunks)

  /** A20 (completed): drop all chunks of the given documents. */
  def delete(documentUrls: Seq[String]): Unit = fmt.delete(documentUrls)

  /** Frame-native A20: the url set flows as a Spark frame end-to-end
    * — the path for deletes keyed by a TABLE (delete detection at
    * catalog scale, `CALL graft.delete_documents`), where collecting
    * the urls would put O(deleted) on the driver.
    */
  def delete(urls: DataFrame): Unit = fmt.delete(urls)

  /** Row-level SQL UPDATE (`UPDATE t SET … WHERE …`): one
    * copy-on-write commit of the affected files.
    */
  def update(
      condition: Option[Column], set: Seq[(String, Column)]): Unit =
    fmt.update(condition, set)

  /** Row-level SQL DELETE by arbitrary predicate; url-keyed deletes
    * route through [[delete]] (bloom-pruned, no pre-scan).
    */
  def deleteWhere(condition: Column): Unit = fmt.deleteWhere(condition)

  /** SQL `MERGE INTO` with the full WHEN-clause algebra — one atomic
    * copy-on-write commit.
    */
  def mergeInto(
      source: DataFrame,
      onCond: Column,
      matched: Seq[GraftMergeAction],
      notMatched: Seq[GraftMergeAction],
      notMatchedBySource: Seq[GraftMergeAction],
      urlProbe: Option[DataFrame]): Unit =
    fmt.mergeInto(source, onCond, matched, notMatched,
      notMatchedBySource, urlProbe)

  /** Maintenance compaction: the small files that append / streaming
    * ingest accumulates rewrite into target-size files in one commit —
    * same rows, fewer files.
    */
  def compact(): Unit = fmt.compact()

  /** The document catalog, collected. Bounded by the document count —
    * callers at catalog scale use [[documentCatalog]].
    */
  def listDocumentUrls(): Seq[String] =
    documentCatalog().collect().map(_.getString(0)).toSeq

  /** The document catalog as a DataFrame: a distinct over the live
    * `document_url` column (the log is the catalog of record) — no
    * driver collect at any catalog size. Delete detection anti-joins
    * against it.
    */
  def documentCatalog(): DataFrame = read().select("document_url").distinct()

  /** Multi-document read, pruned to the files whose logged url stats
    * may hold a probed url. Up to
    * [[ManifestTableFormat.literalProbePairs]] url × log-tail-file
    * pairs the urls are tested as literals, and no Spark job picks the
    * files of a table without a parquet checkpoint; past it, a url
    * frame join picks them. A residual filter keeps the result
    * identical to a full scan-and-filter.
    */
  def readDocuments(urls: Seq[String]): DataFrame =
    if (urls.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else fmt.readDocuments(urls)

  /** B5: single-document read — the same file pruning: one Spark job,
    * the read of the selected files, on a table without a parquet
    * checkpoint (and a log tail of at most
    * [[ManifestTableFormat.literalProbePairs]] files).
    */
  def readDocument(url: String): DataFrame = fmt.readDocuments(Seq(url))

  def read(): DataFrame = fmt.read()
}

object ChunkStore {

  /** The canonical chunk table's schema — every store's, and the base
    * schema of a manifest table created without a DDL schema.
    */
  val schema: StructType = StructType(Seq(
    StructField("chunk_id", IntegerType),
    StructField("chunk_text", StringType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("page_number", IntegerType),
    StructField("document_url", StringType)))

  /** The marker the retired parquet engine stamped at a store's root
    * (`per-document` or `buckets=<n>`).
    */
  private[graft] val parquetLayoutMarker = "_graft_layout"

  /** Refuses a directory the retired parquet engine wrote: it holds
    * `_graft_layout` but no manifest log. Opening it as a log table
    * would hide its rows (they are in no log entry), and the first
    * write would commit a log beside them. A directory with a log is
    * a manifest table whatever else it holds.
    */
  def requireManifestLayout(spark: SparkSession, path: String): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(root, parquetLayoutMarker)
    if (!ManifestLog.isTable(fs, root) && fs.exists(marker)) {
      val in = fs.open(marker)
      val layout =
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      throw new IllegalStateException(
        s"chunk store at $path was written by the retired parquet " +
          s"engine (layout '$layout') and has no manifest log. Migrate " +
          s"it: read the rows with spark.read.parquet(\"$path\"), then " +
          "upsert them into a new ChunkStore at another path")
    }
  }

  /** Cosmos id parity: the reference emits chunk ids as
    * invariant-culture decimal STRINGS
    * (`ChunkNumber.ToString("d", CultureInfo.InvariantCulture)`,
    * AzureCosmosDB/.../CosmosDBClientWrapper.cs:47). A user migrating
    * store queries that compare `id` as text gets the same rendering
    * here, alongside the native INT `chunk_id`.
    */
  def withCosmosId(chunks: DataFrame): DataFrame =
    chunks.withColumn("id", col("chunk_id").cast("string"))
}
