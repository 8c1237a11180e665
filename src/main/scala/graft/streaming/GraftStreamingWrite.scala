package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.graftbridge.{StagedStreamFile, StreamingParquet, StreamingParquetWriterFactory}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.sink.{ChunkStore, ManifestLog, ManifestTableFormat}

/** The DSv2 STREAMING_WRITE path onto a manifest table — the modern
  * twin of the V1 `StreamSinkProvider` seam (which stays for
  * compatibility; `spark.sql.streaming.disabledV2Writers` routes a
  * query back to it). Executor tasks write the micro-batch's rows
  * straight to staged parquet files (Spark's own `ParquetWriteSupport`
  * — identical bytes to the driver-side write path, no extra shuffle
  * through the driver), and the driver's epoch commit turns the staged
  * file list into ONE atomic log entry: add-actions with full per-file
  * stats + the `(appId, batchId)` transaction marker —
  * [[ManifestTableFormat.commitStagedStream]], the exact idempotence
  * contract of `appendStream`. A replayed epoch (restart from
  * checkpoint) finds its marker, deletes its staged files, and no-ops:
  * exactly-once, two-phase, no data rewrite.
  *
  * `appId` defaults to `LogicalWriteInfo.queryId()` — the streaming
  * query's STABLE id (persisted in checkpoint metadata, unchanged
  * across restarts), the same identity the V1 sink reads from
  * `sql.streaming.queryId`; `.option("appId", …)` overrides to share
  * a target across re-created checkpoints.
  *
  * Partition clustering (c37q): when the table declares partition
  * columns, [[RequiresDistributionAndOrdering]] asks Spark for a
  * RANGE distribution + ordering on them with an EXPLICIT partition
  * count — each task covers a contiguous value range, so per-file
  * min/max stats stay tight and partition predicates prune to a
  * strict file subset (the same guarantee the batch write path
  * enforces with `repartitionByRange`).
  */
class GraftStreamingWrite(
    spark: SparkSession,
    tablePath: String,
    info: LogicalWriteInfo)
    extends StreamingWrite with RequiresDistributionAndOrdering {

  private val mtf = {
    // `.option("branch", …)`: the stream commits to the branch's
    // forked log (write-audit-publish); the branch must exist (a
    // typo'd name must not silently bootstrap a rogue branch log)
    val branch = Option(info.options.get("branch"))
    branch.foreach { b =>
      val fs = new Path(tablePath).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      require(ManifestLog.hasBranch(fs, new Path(tablePath), b),
        s"graft stream: no branch '$b' at $tablePath — " +
          "createBranch / CALL create_branch first")
    }
    new ManifestTableFormat(spark, tablePath, ChunkStore.schema,
      branch = branch)
  }

  private val appId: String =
    Option(info.options.get("appId")).getOrElse(info.queryId())
  private val inputSchema: StructType = info.schema()
  private val tableSchema: StructType = mtf.currentSchema
  private val physSchema: StructType = mtf.currentPhysicalSchema

  /** Input ordinal (or -1 = null fill) per table column, resolved by
    * LOGICAL name once on the driver — the conform contract: present
    * columns map (with a cast when types differ), absent nullable
    * columns fill null, absent non-nullable columns refuse at plan
    * time instead of failing mid-batch.
    */
  private val mapping: Seq[(Int, DataType)] =
    tableSchema.fields.toSeq.map { f =>
      val ord = inputSchema.fields
        .indexWhere(_.name.equalsIgnoreCase(f.name))
      if (ord < 0 && !f.nullable)
        throw new IllegalArgumentException(
          s"streaming write to $tablePath: required column '${f.name}' " +
            s"is missing from the stream's schema (${
              inputSchema.fieldNames.mkString(", ")})")
      (ord, f.dataType)
    }

  private val clusterInputCols: Seq[String] =
    mtf.partitionColumns.flatMap { pc =>
      inputSchema.fields.find(_.name.equalsIgnoreCase(pc)).map(_.name)
    }

  override def requiredDistribution(): Distribution =
    if (clusterInputCols.isEmpty) Distributions.unspecified()
    else Distributions.ordered(requiredOrdering())

  override def requiredOrdering(): Array[SortOrder] =
    clusterInputCols.map(c =>
      Expressions.sort(Expressions.column(c),
        SortDirection.ASCENDING)).toArray

  // EXPLICIT count: an AQE-coalesced implicit one can fold a small
  // batch into one value-spanning file, and the strict-subset pruning
  // guarantee evaporates (same reasoning as the batch write path)
  override def requiredNumPartitions(): Int =
    if (clusterInputCols.isEmpty) 0
    else math.max(1, spark.sessionState.conf.numShufflePartitions)

  override def createStreamingWriterFactory(
      physicalInfo: PhysicalWriteInfo): StreamingDataWriterFactory =
    new StreamingParquetWriterFactory(
      StreamingParquet.writerConf(spark, physSchema),
      mtf.newStreamStagingDir(),
      inputSchema,
      mapping,
      StreamingParquet.ansiEnabled(spark),
      StreamingParquet.sessionTimeZone(spark))

  override def commit(
      epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.toSeq.collect {
      case StagedStreamFile(f, _) if f.nonEmpty => f
    }
    mtf.commitStagedStream(files, appId, epochId)
  }

  override def abort(
      epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    messages.toSeq.collect {
      case StagedStreamFile(f, _) if f.nonEmpty => f
    }.foreach(f => fs.delete(new Path(f), false))
  }

  override def toString: String = s"GraftStreamingWrite[$tablePath]"
}
