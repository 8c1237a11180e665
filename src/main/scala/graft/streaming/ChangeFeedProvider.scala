package graft.streaming

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.catalog.TableProvider
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sink.{ChunkStore, ManifestTableFormat}

/** `spark.readStream.format("graft-cdf").option("path", dir).load()` —
  * a manifest table as a Structured Streaming SOURCE. Each micro-batch
  * is the net row-level delta between two committed versions (the
  * same contract as the batch `changesBetween` behind gate
  * c37e_change_feed): one row per changed chunk, `_change_type`
  * `insert` | `delete`, upserts appearing as old-rows-deleted +
  * new-rows-inserted, compaction/recluster survivor rows cancelling.
  *
  * DataSource V2 [[TableProvider]]: resolves to
  * [[GraftChangeFeedTable]], whose scan builds the
  * `MicroBatchStream` on the PUBLIC connector API (see that class
  * for the batch/offset/staging model; the former V1 `Source` bridge
  * and its `org.apache.spark.sql.classic` internals are gone).
  *
  * Options:
  *  - `path` (required): the manifest table root (the dir with `_log`)
  *  - `startingVersion` (default −1): exclusive lower bound for a
  *    query starting WITHOUT a sink checkpoint. −1 streams the full
  *    current snapshot as inserts first (Delta's default), the
  *    table's current version streams deltas only from "now".
  *  - `startingTimestamp` (epoch millis or ISO `yyyy-MM-dd HH:mm:ss`):
  *    resolved ONCE to the newest version committed at or before it
  *    and pinned in the stream's checkpoint dir (commit mtimes are
  *    mutable under vacuum — the pin keeps batch-0 replay identical).
  *    Mutually exclusive with `startingVersion`.
  *  - `maxVersionsPerBatch` (optional): rate limit — at most this
  *    many log versions per micro-batch.
  *
  * Restart rides the sink checkpoint: offsets are the table's own
  * committed versions, so a replayed batch recomputes the identical
  * delta (the log is immutable history until vacuum prunes it; a
  * pruned-away restart fails loudly rather than silently skipping).
  * The feed's schema is the table's CURRENT effective schema (ADD
  * COLUMN evolution included) plus `_change_type`.
  */
class ChangeFeedProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-cdf"

  private def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-cdf needs .option(\"path\", <manifest table root>)"))

  private def feedSchema(path: String): StructType = {
    val spark = SparkSession.active
    val mtf = new ManifestTableFormat(spark, path, ChunkStore.schema)
    StructType(mtf.currentSchema.fields :+
      StructField("_change_type", StringType, nullable = false))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    feedSchema(pathOf(options))

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    new GraftChangeFeedTable(pathOf(options), schema, options)
  }
}
