package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession, SQLContext}
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sink.{ChunkStore, ManifestLog, ManifestTableFormat}

/** Path-based access to a manifest table with NO catalog
  * registration — the `spark.read.format("graft")` twin of the
  * catalog surface, for ad-hoc reads of a table you only have a path
  * to (the same reason Delta ships `format("delta")` next to its
  * catalog):
  *
  * {{{
  * spark.read.format("graft").load("/data/t")                 // head
  * spark.read.format("graft")
  *   .option("versionAsOf", 3).load("/data/t")                // time travel
  * spark.read.format("graft")
  *   .option("timestampAsOf", "2026-08-14 12:00:00").load("/data/t")
  * df.write.format("graft").mode("append").save("/data/t")    // A18 append
  * df.write.format("graft").mode("overwrite").save("/data/t") // c37n
  * }}}
  *
  * Resolution delegates to the same machinery the catalog uses
  * ([[graft.catalog.GraftTable]]): snapshot-pinned file lists, stats
  * file skipping on pushed predicates, log-committed appends,
  * atomic overwrite. Time-travel reads are frozen (no write hooks).
  * Only manifest-format tables resolve here — the store layouts are
  * plain parquet trees a path read handles natively, and the catalog
  * remains the place where they get their routing semantics.
  */
class GraftDataSource extends TableProvider with DataSourceRegister
    with CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "graft"

  /** The V1 streaming sink seam — KEPT for compatibility, no longer
    * the default route. Since round 12 the table claims
    * `STREAMING_WRITE`, so `df.writeStream.format("graft")` plans the
    * DSv2 path ([[graft.streaming.GraftStreamingWrite]]: executor
    * tasks stage parquet, the epoch commit is one atomic adds+marker
    * log entry). Spark only calls THIS seam when the V2 route is
    * disabled (`spark.sql.streaming.disabledV2Writers` naming this
    * class) — which is also how `.partitionBy` bootstrap stays
    * reachable, since the V2 seam does not forward partitionBy (its
    * twin is `.option("partitionColumns", …)`). Same EXACTLY-ONCE
    * `(appId, batchId)` marker contract on both seams
    * ([[ManifestTableFormat.appendStream]] here,
    * `commitStagedStream` there): a replayed micro-batch finds its
    * marker and no-ops. The app id defaults to the query id (stable
    * across restarts from one checkpoint); pass `.option("appId", …)`
    * to share a target across re-created queries. `StreamWriter`
    * remains as the explicit-API wrapper.
    */
  override def createSink(
      ctx: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"format(\"graft\") streaming sink supports Append output only, " +
        s"got $outputMode (appends are log-committed; use batch " +
        "overwrite/merge for replaces)")
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "format(\"graft\") needs a path: .start(<manifest table root>)"))
    val appIdOpt = parameters.get("appId")
    val fs = new Path(path)
      .getFileSystem(ctx.sparkSession.sparkContext.hadoopConfiguration)
    val mtf0 = mtfFor(path, parameters.get("branch"))
    // .partitionBy(...) carries the c37q PARTITIONED BY semantics:
    // identity columns recorded once at table bootstrap, every write
    // (streaming or batch) range-clusters rows by them so partition
    // predicates prune to a strict file subset. On an existing table
    // the declaration must MATCH what the table recorded — a sink
    // cannot silently re-partition a table it didn't create.
    if (!ManifestLog.isTable(fs, new Path(path))) {
      mtf0.initializeTable(None, partitionColumns)
    } else if (partitionColumns.nonEmpty) {
      val recorded = mtf0.partitionColumns
      require(recorded.map(_.toLowerCase) ==
          partitionColumns.map(_.toLowerCase),
        s"graft sink at $path: .partitionBy(${
          partitionColumns.mkString(", ")}) does not match the " +
          s"table's recorded partition columns (${
            if (recorded.isEmpty) "none" else recorded.mkString(", ")
          }) — partition columns are fixed at table creation")
    }
    val mtf = mtfFor(path, parameters.get("branch"))
    new org.apache.spark.sql.execution.streaming.Sink {
      override def addBatch(batchId: Long, data: DataFrame): Unit = {
        val app = appIdOpt.orElse(Option(
            data.sparkSession.sparkContext
              .getLocalProperty("sql.streaming.queryId")))
          .getOrElse(throw new IllegalStateException(
            "graft sink: no appId option and the stream thread " +
              "publishes no sql.streaming.queryId — pass " +
              ".option(\"appId\", ...)"))
        // one execution of the incremental plan, however many actions
        // the commit path runs (emptiness probe + write + stats job)
        val batch = org.apache.spark.sql.graftbridge.Bridge
          .rewrapBatch(data).persist()
        try { mtf.appendStream(batch, app, batchId); () }
        finally { batch.unpersist(); () }
      }
      override def toString: String = s"GraftSink[$path]"
    }
  }

  /** `df.write.format("graft")` arrives through the V1 write seam
    * (`DataFrameWriter.save` only takes the V2 write path for tables
    * claiming native BATCH_WRITE; a V1Write-backed table falls
    * through — the same reason Delta's path writes ride
    * CreatableRelationProvider). Modes: append = log-committed A18;
    * overwrite = the c37n atomic replace; errorIfExists/ignore
    * consult whether the table has ANY commit yet.
    */
  override def createRelation(
      ctx: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    require(!parameters.contains("versionAsOf") &&
        !parameters.contains("timestampAsOf"),
      "format(\"graft\") writes target the head snapshot — time " +
        "travel options are read-only")
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "format(\"graft\") needs a path: .save(<manifest table root>)"))
    val fs = new Path(path)
      .getFileSystem(ctx.sparkSession.sparkContext.hadoopConfiguration)
    // a fresh path bootstraps an empty manifest table (the log IS the
    // table); an existing path must already be manifest-format.
    // Branch writes (`.option("branch", …)`) never bootstrap: the
    // branch must have been forked first.
    val fresh = !fs.exists(new Path(path)) && !parameters.contains("branch")
    val mtf = mtfFor(path, parameters.get("branch"))
    if (fresh) mtf.initializeTable(None, Nil)
    val exists = mtf.version >= 0
    mode match {
      case SaveMode.Append => mtf.append(data)
      case SaveMode.Overwrite => mtf.overwrite(data)
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"format(\"graft\"): $path already has commits " +
            "(mode=errorifexists)")
        else mtf.append(data)
      case SaveMode.Ignore => if (!exists) mtf.append(data)
    }
    new BaseRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = mtf.currentSchema
    }
  }

  private def spark: SparkSession = SparkSession.active

  private def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "format(\"graft\") needs a path: .load(<manifest table root>)"))

  private def exists(path: String): Boolean =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new Path(path))

  private def mtfFor(path: String,
      branch: Option[String] = None): ManifestTableFormat = {
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // An existing EMPTY directory is admissible: the streaming sink
    // bootstraps it (createSink's `!exists(_log)` branch — previously
    // unreachable because this require fired first). A NON-empty
    // directory without _log stays refused: that's a plain parquet
    // tree, and bootstrapping a manifest log over it would orphan it.
    require(!fs.exists(new Path(path)) ||
        ManifestLog.isTable(fs, new Path(path)) ||
        fs.listStatus(new Path(path)).isEmpty,
      s"format(\"graft\"): $path is not a manifest-format table " +
        "(no _log) — plain store layouts read as parquet directly")
    // a branch must have been forked first (a typo'd name must not
    // silently bootstrap a rogue branch log)
    branch.foreach(b => require(
      ManifestLog.hasBranch(fs, new Path(path), b),
      s"format(\"graft\"): no branch '$b' at $path — " +
        "createBranch / CALL create_branch first"))
    new ManifestTableFormat(spark, path, ChunkStore.schema, branch = branch)
  }

  /** `.option("branch", name)`: reads and writes target the named
    * branch's forked log (write-audit-publish); data files share the
    * table's namespace.
    */
  private def branchOf(options: CaseInsensitiveStringMap): Option[String] =
    Option(options.get("branch"))

  /** `versionAsOf` / `timestampAsOf` (epoch millis, or ISO
    * `yyyy-MM-dd HH:mm:ss[.f...]`) resolved to a pinned version;
    * mutually exclusive.
    */
  private def asOf(options: CaseInsensitiveStringMap,
      mtf: ManifestTableFormat): Option[Long] = {
    val v = Option(options.get("versionAsOf"))
    val t = Option(options.get("timestampAsOf"))
    require(v.isEmpty || t.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    v.map(_.trim.toLong).orElse(t.map { raw =>
      val ms =
        if (raw.trim.matches("\\d+")) raw.trim.toLong
        else java.sql.Timestamp.valueOf(raw.trim).getTime
      mtf.versionAtTimestamp(ms)
    })
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = pathOf(options)
    // a not-yet-existing path is a WRITE about to bootstrap the table
    // (DataFrameWriter loads the table before routing to the V1 write
    // seam) — answer with the base chunk schema; reads of the missing
    // path still fail at scan time
    if (!exists(path))
      ChunkStore.schema
    else {
      val mtf = mtfFor(path, branchOf(options))
      asOf(options, mtf).fold(mtf.currentSchema)(mtf.schemaAtVersion)
    }
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val path = pathOf(options)
    if (!exists(path)) {
      // write-bootstrap handle. BATCH: DataFrameWriter loads the table
      // before routing — no batch capability claimed, so the write
      // falls through to the V1 createRelation seam, which bootstraps.
      // STREAMING: claiming STREAMING_WRITE routes writeStream here
      // (the DSv2 path); the write builder bootstraps the table —
      // with `.option("partitionColumns", "a,b")` carrying the c37q
      // partition declaration, since the V2 seam does not forward
      // `.partitionBy` (set spark.sql.streaming.disabledV2Writers to
      // this source's class name to use the V1 sink's partitionBy).
      // Reads of the missing path still fail loudly (no SupportsRead).
      val fixed = schema
      return new Table
          with org.apache.spark.sql.connector.catalog.SupportsWrite {
        override def name(): String = s"graft.`$path`"
        override def schema(): StructType = fixed
        override def capabilities(): util.Set[
          org.apache.spark.sql.connector.catalog.TableCapability] =
          java.util.Collections.singleton(
            org.apache.spark.sql.connector.catalog.TableCapability
              .STREAMING_WRITE)
        override def newWriteBuilder(
            info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
            : org.apache.spark.sql.connector.write.WriteBuilder =
          new org.apache.spark.sql.connector.write.WriteBuilder {
            override def build()
                : org.apache.spark.sql.connector.write.Write = {
              // bootstrap happens at write-plan time (build is only
              // called when the write is actually planned), so the
              // streaming write resolves the fresh table's schema and
              // partition columns — and can expose its distribution
              // requirements on THIS Write, where
              // DistributionAndOrderingUtils looks for them
              bootstrapFor(path, declaredPartitionCols(info))
              val sw = new graft.streaming.GraftStreamingWrite(
                spark, path, info)
              new org.apache.spark.sql.connector.write.Write
                  with org.apache.spark.sql.connector.write
                    .RequiresDistributionAndOrdering {
                override def toStreaming: org.apache.spark.sql
                    .connector.write.streaming.StreamingWrite = sw
                override def requiredDistribution(): org.apache.spark
                    .sql.connector.distributions.Distribution =
                  sw.requiredDistribution()
                override def requiredOrdering(): Array[
                    org.apache.spark.sql.connector.expressions.SortOrder] =
                  sw.requiredOrdering()
                override def requiredNumPartitions(): Int =
                  sw.requiredNumPartitions()
              }
            }
          }
      }
    }
    val mtf = mtfFor(path, branchOf(options))
    val pin = asOf(options, mtf)
    val pinned = mtf.pinScan(pin)
    new graft.catalog.GraftTable(
      s"graft.`$path`", spark, pinned,
      insert = if (pin.isDefined) None else Some(mtf.append),
      overwriteHook = if (pin.isDefined) None else Some(mtf.overwrite),
      truncateHook =
        if (pin.isDefined) None else Some(() => mtf.truncate()),
      streamWrite =
        if (pin.isDefined) None
        else Some { inf =>
          // c37q on an existing table: a declared partition spec must
          // MATCH what the table recorded — a sink cannot silently
          // re-partition a table it didn't create
          val declared = declaredPartitionCols(inf)
          if (declared.nonEmpty) {
            val recorded = mtf.partitionColumns
            require(recorded.map(_.toLowerCase) ==
                declared.map(_.toLowerCase),
              s"graft sink at $path: partitionColumns (${
                declared.mkString(", ")}) does not match the table's " +
                s"recorded partition columns (${
                  if (recorded.isEmpty) "none" else recorded.mkString(", ")
                }) — partition columns are fixed at table creation")
          }
          new graft.streaming.GraftStreamingWrite(spark, path, inf)
        })
  }

  /** Partition columns a DSv2 streaming write declares: the
    * documented `partitionColumns` option (comma-separated), or the
    * JSON-encoded key `DataStreamWriter` uses on the V1 seam (honored
    * here too, should a Spark version start forwarding it).
    */
  private def declaredPartitionCols(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : Seq[String] = {
    val opts = info.options()
    Option(opts.get("partitionColumns"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .orElse(Option(opts.get(org.apache.spark.sql.graftbridge
          .StreamingParquet.partitioningColumnsKey))
        .map(org.apache.spark.sql.graftbridge.StreamingParquet
          .decodePartitioningColumns))
      .getOrElse(Seq.empty)
  }

  /** Bootstrap a not-yet-existing manifest table for a streaming
    * write (the DSv2 twin of createSink's bootstrap branch).
    */
  private def bootstrapFor(
      path: String, partitionCols: Seq[String]): Unit = {
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!ManifestLog.isTable(fs, new Path(path)))
      mtfFor(path).initializeTable(None, partitionCols)
  }

  override def supportsExternalMetadata(): Boolean = false
}
