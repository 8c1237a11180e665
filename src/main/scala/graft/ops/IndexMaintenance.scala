package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Kind-dispatching index maintenance — the glue that keeps the
  * persistent indexes delete-consistent with the chunk store
  * (SURVEY A20 at scale): the reference's store indexes live ON the
  * container so a document delete is index-consistent by construction
  * (`AzureCosmosDB/.../CosmosDBClientWrapper.cs:112-152`); external
  * index artifacts need the delete propagated explicitly, which is
  * what [[graft.pipeline.StreamingIngest.detectDeletes]] routes
  * through here.
  *
  * A path is recognized by its stamp file — the same validate-or-fail
  * contract as the index loaders; a directory with no stamp fails
  * loudly rather than silently swallowing a delete (an unpropagated
  * delete is exactly the bug this object exists to prevent).
  *
  * Vector and text indexes keep their rows on a manifest log
  * ([[IndexTable]]): a delete is one commit that removes the rows, and
  * compaction is the log's own file rewrite. The graph index keeps
  * tombstones, because its search walks through deleted nodes until
  * `compact` rebuilds their cells.
  */
object IndexMaintenance {

  /** Delete `ids` from the index at `path`, whatever its kind:
    * idempotent, and the ids stop serving at once (the graph index
    * drops their nodes at its next `compact`).
    */
  def deleteFrom(spark: SparkSession, path: String, ids: DataFrame): Unit =
    if (IndexTable.hasStamp(spark, path, VectorIndex.StampName))
      VectorIndex.delete(ids, path)
    else if (IndexTable.hasStamp(spark, path, TextIndex.StampName))
      TextIndex.delete(ids, path)
    else if (IndexTable.hasStamp(spark, path, "_graft_graph_index"))
      GraphIndex.delete(ids, path)
    else throw new IllegalArgumentException(
      s"no vector, text, or graph index stamp at $path — refusing to " +
        "skip a delete propagation (the index would keep serving " +
        "deleted rows)")

  /** Compact the index at `path`: rewrite its files (vector, text) or
    * rebuild the cells holding tombstoned nodes (graph).
    */
  def compact(spark: SparkSession, path: String): Unit =
    if (IndexTable.hasStamp(spark, path, VectorIndex.StampName))
      VectorIndex.compact(spark, path)
    else if (IndexTable.hasStamp(spark, path, TextIndex.StampName))
      TextIndex.compact(spark, path)
    else if (IndexTable.hasStamp(spark, path, "_graft_graph_index"))
      GraphIndex.compact(spark, path)
    else throw new IllegalArgumentException(
      s"no vector, text, or graph index stamp at $path")
}
