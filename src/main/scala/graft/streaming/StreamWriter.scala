package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sink.{ChunkStore, ManifestTableFormat}

/** EXACTLY-ONCE streaming writes into a manifest table — the write
  * half of the B13 streaming surface (the `graft-cdf` source is the
  * read half): `readStream(graft-cdf) → transform → StreamWriter`
  * closes the loop, so a graft table can feed another graft table as
  * a continuously maintained stream with no duplicates.
  *
  * How exactly-once holds with only public API: the micro-batch body
  * runs through `foreachBatch` (at-least-once on crash replay), and
  * [[ManifestTableFormat.appendStream]] commits the batch's files
  * and a `(appId, batchId)` transaction marker in ONE atomic log
  * entry — a replayed batch finds its marker and no-ops. This is the
  * Delta sink's `SetTransaction` design re-expressed on the engine's
  * own log; unlike the idempotent-merge contract `ChangeFeedSync`
  * relies on, it needs no natural key on the rows — plain appends
  * (events, metrics, chunk streams) deduplicate by construction.
  *
  * The app id defaults to the streaming query's id (stable across
  * restarts from the same checkpoint — Spark persists it in the
  * checkpoint's metadata, and publishes it to the stream thread's
  * `sql.streaming.queryId` local property, which is where the batch
  * body reads it). Pass `appId` explicitly to share a target table
  * between re-created queries (new checkpoint ⇒ new query id ⇒ a
  * fresh batch-0 would otherwise re-append).
  *
  * Scale shape: each micro-batch costs one conform + parquet write +
  * one log commit — O(batch), never O(table); concurrent writers on
  * the same table are safe (append-only commits cannot conflict at
  * the file level, and the marker check re-runs per race attempt).
  */
object StreamWriter {

  /** Start the write as a continuous streaming query (caller owns
    * the lifecycle).
    */
  def start(
      source: DataFrame,
      targetPath: String,
      checkpointDir: String,
      appId: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val spark = source.sparkSession
    val mtf = new ManifestTableFormat(spark, targetPath, ChunkStore.schema)
    source.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val app = appId.orElse(Option(batch.sparkSession.sparkContext
            .getLocalProperty("sql.streaming.queryId")))
          .getOrElse(throw new IllegalStateException(
            "StreamWriter: no appId given and the stream thread " +
              "publishes no sql.streaming.queryId — pass appId " +
              "explicitly"))
        mtf.appendStream(batch, app, batchId)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** Drain everything currently available and return (AvailableNow +
    * awaitTermination) — the batch-ish entry point for tests and
    * maintenance windows.
    */
  def sync(
      source: DataFrame,
      targetPath: String,
      checkpointDir: String,
      appId: Option[String] = None): Unit = {
    val q = start(source, targetPath, checkpointDir, appId,
      Trigger.AvailableNow())
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }
}
