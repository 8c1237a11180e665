package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

import graft.pipeline.IncrementalAgg
import graft.sink.{ChunkStore, ManifestTableFormat}

/** LOG-STATS-DRIVEN MAINTENANCE POLICY — the operational half the
  * store was missing: one call reads the manifest log's own gauges
  * ([[ManifestTableFormat.maintenanceStats]], the `_graft_cluster`
  * sidecar, the derived tables' own sync markers) and runs exactly
  * the maintenance the table needs, in dependency order:
  *
  *  1. `rewrite_dvs` when deletion-vector debt crossed a threshold —
  *     any file ≥ [[DvFileFrac]] tombstoned, total tombstones ≥
  *     [[DvTableFrac]] of physical rows, or ≥ [[DvFileCap]] DV'd
  *     files (each vector is one more broadcast side on every read).
  *  2. RECLUSTER when the table has a recorded z-order spec and ≥
  *     [[ReclusterFrac]] of the live files postdate the last
  *     recluster (fresh files carry arbitrary curve coordinates —
  *     clustered reads degrade toward unclustered). A recluster
  *     subsumes small-file compaction, so step 3 is skipped.
  *  3. small-file compaction (`compactWhere(true)`) when ≥
  *     [[SmallFileCap]] live files sit under the target size.
  *  4. index / text-index / incremental-agg catch-up for the derived
  *     artifacts the caller names — each is itself incremental and
  *     no-ops at head, so "needed subset" is free. Agg tables need no
  *     spec: their own schema names it and their txn marker names
  *     the source ([[IncrementalAgg.specOf]]).
  *  5. a vacuum DRY RUN — reclaimable counts reported, nothing
  *     deleted (destruction stays an explicit operator decision;
  *     clones may share files).
  *
  * Every action is one the operator could have CALLed by hand; the
  * policy only decides WHICH, from metadata alone (no data reads
  * except the rewrites themselves). Thresholds are deliberately
  * conservative constants documented here — a policy that guesses
  * aggressively turns maintenance into churn.
  */
object AutoOptimize {

  /** Rewrite DVs when any single file is ≥ this fraction tombstoned. */
  val DvFileFrac = 0.5
  /** …or when total tombstones reach this fraction of physical rows. */
  val DvTableFrac = 0.05
  /** …or when this many live files carry a vector. */
  val DvFileCap = 64L
  /** Compact when at least this many files sit under the target size. */
  val SmallFileCap = 4L
  /** Recluster when this fraction of live files postdate the spec. */
  val ReclusterFrac = 0.3

  final case class Report(
      versionBefore: Long,
      versionAfter: Long,
      dvFilesPurged: Long,
      filesCompacted: Long,
      reclustered: Boolean,
      indexAppended: Long,
      indexTombstoned: Long,
      aggGroups: Long,
      reclaimableDataFiles: Long,
      reclaimableLogEntries: Long,
      actions: Seq[String])

  /** Run the policy once. `indexPaths` / `textIndexPaths` /
    * `aggPaths` name this table's derived artifacts (absolute paths);
    * the table's own log cannot know them — naming them here is the
    * registration.
    */
  def run(
      spark: SparkSession,
      tablePath: String,
      indexPaths: Seq[String] = Nil,
      textIndexPaths: Seq[String] = Nil,
      aggPaths: Seq[String] = Nil,
      targetFileBytes: Long = ManifestTableFormat.defaultTargetFileBytes)
      : Report = {
    val mtf = new ManifestTableFormat(spark, tablePath, ChunkStore.schema)
    val before = mtf.version
    val actions = scala.collection.mutable.ArrayBuffer.empty[String]

    // Validate EVERY agg spec up front: a bad aggPath must fail fast
    // with no work done, not throw after rewrite_dvs/recluster/compact
    // have already committed (partial, unreported maintenance).
    val aggSpecs = aggPaths.map { ap =>
      val spec @ (src, _, _, _, _) = IncrementalAgg.specOf(spark, ap)
        .getOrElse(throw new IllegalArgumentException(
          s"auto_optimize: $ap is not an incremental-agg table " +
            "(no graft-incr-agg txn marker / derivable spec)"))
      require(new org.apache.hadoop.fs.Path(src).toUri.getPath ==
          new org.apache.hadoop.fs.Path(tablePath).toUri.getPath,
        s"auto_optimize: agg table $ap follows $src, not $tablePath")
      ap -> spec
    }

    // 1. deletion-vector debt
    val s0 = mtf.maintenanceStats(targetFileBytes)
    val dvPurged =
      if (s0.dvFiles > 0 && (s0.maxDvFrac >= DvFileFrac ||
          s0.dvDeletedRows >= (s0.physicalRows * DvTableFrac).toLong.max(1L) ||
          s0.dvFiles >= DvFileCap)) {
        val n = mtf.rewriteDvs()
        actions += s"rewrite_dvs($n files)"
        n
      } else 0L

    // 2. recluster when the recorded z-curve diluted; else 3. compact
    var reclustered = false
    var compacted = 0L
    mtf.clusterSpec match {
      case Some((dims, at))
          if mtf.newFileFraction(at) >= ReclusterFrac &&
            mtf.maintenanceStats(targetFileBytes).files >= 2 =>
        mtf.compactZorder(dims, targetFileBytes)
        reclustered = true
        actions += s"recluster(zorder ${dims.mkString(",")})"
      case _ =>
        val s1 = mtf.maintenanceStats(targetFileBytes)
        if (s1.smallFiles >= SmallFileCap) {
          compacted = mtf.compactWhere(lit(true), targetFileBytes)
          if (compacted > 0) actions += s"compact($compacted files)"
        }
    }

    // 4. derived artifacts follow the table (each no-ops at head)
    var idxApp = 0L
    var idxDead = 0L
    indexPaths.foreach { ip =>
      val st = IndexSync.catchUp(spark, tablePath, ip,
        IndexSync.chunkPrepare(spark, ip))
      idxApp += st.appended; idxDead += st.tombstoned
      if (st.toVersion > st.fromVersion)
        actions += s"sync_index($ip ${st.fromVersion}->${st.toVersion})"
    }
    textIndexPaths.foreach { ip =>
      val st = IndexSync.catchUpText(spark, tablePath, ip,
        IndexSync.chunkTextPrepare(spark, ip))
      idxApp += st.appended; idxDead += st.tombstoned
      if (st.toVersion > st.fromVersion)
        actions += s"sync_text_index($ip ${st.fromVersion}->${st.toVersion})"
    }
    var aggGroups = 0L
    aggSpecs.foreach { case (ap, (_, g, s, mn, mx)) =>
      val st = IncrementalAgg.catchUp(spark, tablePath, ap, g, s, mn, mx)
      aggGroups += st.groups
      if (st.toVersion > st.fromVersion)
        actions += s"sync_agg($ap ${st.fromVersion}->${st.toVersion})"
    }

    // 5. report-only vacuum
    val (nData, nLog) = mtf.vacuum(0L, dryRun = true)
    if (nData > 0 || nLog > 0)
      actions += s"vacuum_dry_run($nData data, $nLog log reclaimable)"

    Report(before, mtf.version, dvPurged, compacted, reclustered,
      idxApp, idxDead, aggGroups, nData, nLog, actions.toSeq)
  }
}
