package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.sink.{GraftMergeDelete, ManifestLog, ManifestTableFormat}

/** Storage shared by the persistent indexes ([[VectorIndex]],
  * [[TextIndex]]) and the dedup signature store
  * ([[graft.pipeline.StreamingDedup]]): a stamp file holding what the
  * build fixed (kind, parameters, trained model), beside one
  * [[ManifestTableFormat]] table holding the rows, both at one path.
  *
  * The reference's vector index lives on the store container itself,
  * so every upsert and delete is index-consistent by construction
  * (`AzureCosmosDB/.../CosmosDBClientWrapper.cs:112-152`). Keeping the
  * rows on a manifest log gives an external index the same property:
  * an append, a delete and an [[IndexSync]] catch-up are each one
  * atomic commit, compaction is the log's own rewrite, and a reader
  * sees one committed version.
  */
private[graft] object IndexTable {

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A new index table at `path` holding `rows`, partitioned on
    * `partCols` (each write clusters its files by them, so per-file
    * min/max select a probe's partitions). Whatever the path held
    * before, an older build or an index in the retired layout, is
    * removed first, stamp included: a build that dies part-way leaves
    * no stamp, and readers take a stampless path for no index.
    */
  def create(spark: SparkSession, path: String, rows: DataFrame,
      partCols: Seq[String]): Unit = {
    val p = new Path(path)
    fsOf(spark, p).delete(p, true)
    val t = new ManifestTableFormat(spark, path, rows.schema)
    t.initializeTable(Some(rows.schema), partCols)
    t.append(rows)
  }

  /** The index table at `path`, refused in the retired layout
    * ([[requireLayout]]).
    */
  def open(spark: SparkSession, path: String): ManifestTableFormat = {
    requireLayout(spark, path)
    new ManifestTableFormat(spark, path, new StructType())
  }

  /** A stamp with no manifest log beside it was written by the
    * retired layout (parquet directories, tombstone sidecars, a
    * band-partitioned signature store): it is refused with a rebuild
    * message, never half-read.
    */
  private def requireLayout(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, new Path(path))
    if (Seq(VectorIndex.StampName, TextIndex.StampName,
            graft.pipeline.StreamingDedup.StampName)
          .exists(n => fs.exists(new Path(path, n))) &&
        !ManifestLog.isTable(fs, new Path(path)))
      throw new IllegalStateException(
        s"$path was written by the retired layout (no manifest log " +
          "beside its stamp): rebuild it — an index with its build call " +
          "at the same path, a signature store by deleting it and " +
          "re-running StreamingDedup.processBatch over its documents")
  }

  /** The stamp text, or `missing` as the error of a stampless path. */
  def readStamp(spark: SparkSession, path: String, stampName: String,
      missing: => String): String = {
    val p = new Path(path, stampName)
    val fs = fsOf(spark, p)
    require(fs.exists(p), missing)
    requireLayout(spark, path)
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Delete the rows whose `idName` is one of `ids` (the frame's first
    * column, cast to the table's id type so a type mismatch cannot
    * silently miss) in ONE commit: a MERGE whose only clause deletes
    * the matched rows. Deleting an absent id is a no-op.
    */
  def deleteIds(t: ManifestTableFormat, ids: DataFrame,
      idName: String): Unit =
    t.mergeInto(
      ids.select(col(ids.columns.head)
        .cast(t.currentSchema(idName).dataType).as(idName)).distinct(),
      col(s"__graft_t.$idName") === col(s"__graft_s.$idName"),
      matched = Seq(GraftMergeDelete(None)), notMatched = Nil,
      notMatchedBySource = Nil, urlProbe = None,
      // distinct ids: a target row matches at most one source row
      sourceKeyedByOn = true)

  /** Write the stamp: the last step of a build. */
  def writeStamp(spark: SparkSession, path: String, stampName: String,
      text: String): Unit = {
    val p = new Path(path, stampName)
    val out = fsOf(spark, p).create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** Whether `path` carries the stamp `stampName`. */
  def hasStamp(spark: SparkSession, path: String, stampName: String)
      : Boolean = {
    val p = new Path(path, stampName)
    fsOf(spark, p).exists(p)
  }
}
