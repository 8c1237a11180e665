package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression, GenericInternalRow, In, Literal}
import org.apache.spark.sql.connector.expressions.{FieldReference, LiteralValue, NamedReference, NullOrdering, SortDirection, SortOrder => V2SortOrder, Expression => V2Expression}
import org.apache.spark.sql.connector.expressions.filter.{And => V2And, Predicate}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, LocalScan, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.FileScanBuilder
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sink.{ManifestTableFormat, PinnedScan, StatsProbes}

/** A parquet ScanBuilder for MANIFEST-format tables that consults the
  * log's per-file stats (url bloom + min/max, per-column min/max +
  * null counts) to shrink the FILE list before delegating to Spark's
  * own parquet scan — Delta-style data skipping, driven by the
  * predicates Catalyst pushes. It is the one pruning scan of every
  * graft table: the manifest's add-actions already carry the stats,
  * z-ordered tables included (`CALL compact_zorder`).
  *
  * Lives in the `org.apache.spark.sql` tree for the `private[sql]`
  * `SupportsPushDownCatalystFilters` seam — the only hook that sees
  * predicates BEFORE the scan's file list is fixed.
  *
  * Column mapping (protocol v5): data files store PHYSICAL column
  * names, the table presents LOGICAL ones. The inner parquet scan is
  * built over the physical schema; pushed filters and pruned columns
  * translate logical→physical on the way in, the scan's readSchema
  * translates back on the way out, and residual filters are returned
  * as the ORIGINAL logical expressions (the inner builder returns a
  * subset of what it was given, mapped back by identity). On a
  * never-renamed table the mapping is the identity and every
  * translation is a no-op.
  *
  * Soundness: probe extraction ([[graft.sink.StatsProbes]]) only
  * fires on an UNWRAPPED attribute compared to a literal OF THE
  * COLUMN'S OWN TYPE — a cast-wrapped attribute (e.g. a float column
  * compared under double) is skipped entirely, because the literal's
  * canonical rendering would not be the rendering the stats side used
  * and cross-representation rounding could invert an ordering. The
  * evaluation side
  * ([[graft.sink.ManifestTableFormat!.pruneFilesForScan]]) is
  * fail-open on every absent/uncastable stat, and all original
  * predicates still reach the parquet scan (row-group pruning +
  * residual filters), so results equal the unpruned scan's.
  */
/** The physical parquet scan presented under the table's LOGICAL
  * column names (v5 column mapping) — rows travel positionally, so
  * only `readSchema` needs the translation. `inner` is exposed for
  * plan-shape tests that reach into the FileScan's file index.
  */
final class RenamedScan(
    val inner: Scan,
    logicalOf: Map[String, String]) extends Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  override def readSchema(): StructType =
    StructType(inner.readSchema().fields.map { f =>
      logicalOf.get(f.name.toLowerCase)
        .map(l => StructField(l, f.dataType, f.nullable, f.metadata))
        .getOrElse(f)
    })
  override def description(): String = inner.description()
  override def toBatch: Batch = inner.toBatch
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    inner.supportedCustomMetrics()
  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    inner.reportDriverMetrics()
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    inner.columnarSupportMode()
  // forward the delegate's size estimate: without this the wrapper
  // hides FileScan's statistics and the planner sees the default
  // (maximal) size — a small renamed dim table would never broadcast
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    Scans.statisticsOf(inner)
}

/** Runtime (join-driven) file pruning for manifest tables — the
  * manifest-format analog of dynamic partition pruning. Spark's
  * `PartitionPruning` rule sees `filterAttributes` on the built scan,
  * plants a `DynamicPruningExpression` on the probe side of a
  * broadcast join, and at execution calls [[filter]] with the build
  * side's actual key set as V2 `IN` predicates — BEFORE input
  * partitions are planned. We convert those predicates back to
  * stats probes and re-prune the FILE list through the pinned scan's
  * pruner, the one the static path uses (url bloom + min/max), then
  * rebuild the parquet scan over the surviving subset.
  *
  * At 100 TB this is the difference between a selective
  * fact-to-dimension join reading every manifest file and reading
  * only the files whose blooms/ranges admit the build side's keys.
  *
  * Soundness: strictly an optimization. The pruner is fail-open on
  * absent stats, conversion is fail-open on unrecognized predicate
  * shapes (no probes → no pruning), and the join itself still
  * evaluates every key — a pruned-too-little scan only costs reads.
  * Pruned files are an INTERSECTION with the statically-pruned list,
  * so static skipping is never undone.
  */
final class ManifestRuntimeFilterScan(
    @volatile private var delegate: Scan,
    attrs: Seq[String],
    pinned: PinnedScan,
    initialFiles: Seq[String],
    rebuild: Seq[String] => Scan)
    extends Scan with SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  @volatile private var files: Seq[String] = initialFiles
  @volatile private var received: Seq[String] = Nil
  @volatile private var cachedRows: Option[Option[Long]] = None

  /** Post-filter file list (spec hook; equals `initialFiles` until a
    * runtime filter actually pruned).
    */
  def currentFiles: Seq[String] = files

  /** The V2 predicates the last [[filter]] call received (rendered),
    * and the probes they extracted — diagnostics for "why didn't the
    * runtime filter prune".
    */
  def lastRuntimeFilter: Seq[String] = received

  /** The wrapped parquet scan (plan-shape test hook). */
  def innerScan: Scan = delegate

  override def readSchema(): StructType = delegate.readSchema()
  override def toBatch: Batch = delegate.toBatch
  override def description(): String = delegate.description()
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    delegate.supportedCustomMetrics()
  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    delegate.reportDriverMetrics()
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    delegate.columnarSupportMode()

  // forward the (possibly runtime-re-pruned) delegate's size estimate
  // — hiding FileScan's statistics behind this wrapper would make the
  // planner see the default (maximal) size and never static-broadcast
  // a small manifest table. The manifest log additionally answers
  // numRows for the pinned file list (FileScan only knows bytes) —
  // row counts feed the CBO's join estimates; absent/partial stats
  // fall back to bytes-only, never a guess.
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val base = Scans.statisticsOf(delegate)
    if (cachedRows.isEmpty) cachedRows = Some(
      try pinned.rowCount(files)
      catch { case scala.util.control.NonFatal(_) => None })
    val logRows: java.util.OptionalLong = cachedRows.get
      .fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
    // ANALYZE-recorded NDV estimates (newest sidecar) as DSv2 column
    // statistics: the CBO's distinct-count input for join estimation.
    // Estimates as-of the analyzed version — correctness never depends
    // on them (exact lanes have their own fail-closed guards); empty
    // map when the table was never analyzed.
    val ndv: Map[String, Long] =
      try pinned.ndv catch { case scala.util.control.NonFatal(_) => Map.empty }
    val colStats: java.util.Map[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val m = new java.util.HashMap[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      ndv.foreach { case (c, n) =>
        m.put(FieldReference.column(c),
          new org.apache.spark.sql.connector.read.colstats
              .ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(n)
          })
      }
      m
    }
    if (!logRows.isPresent && colStats.isEmpty) base
    else new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        base.sizeInBytes()
      override def numRows(): java.util.OptionalLong =
        if (base.numRows().isPresent) base.numRows() else logRows
      override def columnStats(): java.util.Map[NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        if (colStats.isEmpty) base.columnStats() else colStats
    }
  }

  override def filterAttributes(): Array[NamedReference] =
    attrs.map(FieldReference.column).toArray

  override def filter(predicates: Array[Predicate]): Unit = {
    val exprs = predicates.toSeq.flatMap(toCatalyst)
    val probes = StatsProbes.extract(exprs, pinned.typeOf)
    received = predicates.toSeq.map(_.toString) ++
      Seq(s"exprs=$exprs", s"probes=$probes")
    if (probes.nonEmpty) pinned.prune(probes).foreach { keep =>
      val keepSet = keep.toSet
      val subset = files.filter(keepSet.contains)
      if (subset.size < files.size) {
        files = subset
        delegate = rebuild(subset)
        cachedRows = None // row estimate follows the pruned list
      }
    }
  }

  private def leaf(e: V2Expression): Option[String] = e match {
    case r: NamedReference if r.fieldNames().length == 1 =>
      Some(r.fieldNames()(0))
    case _ => None
  }

  private def litOf(e: V2Expression): Option[Literal] = e match {
    case l: LiteralValue[_] => Some(Literal(l.value, l.dataType))
    case _ => None
  }

  /** V2 runtime predicates → catalyst conjuncts for probe extraction.
    * Spark ships DPP key sets as `IN(col, v1..vn)` (and `=` for the
    * degenerate single-key case); anything else yields no conjunct —
    * fail-open by construction.
    */
  private def toCatalyst(p: Predicate): Seq[Expression] = p match {
    case a: V2And => toCatalyst(a.left()) ++ toCatalyst(a.right())
    case _ => (p.name(), p.children().toSeq) match {
      case ("IN", ref +: vals) if vals.nonEmpty =>
        (leaf(ref), vals.map(litOf)) match {
          case (Some(n), ls) if ls.forall(_.isDefined) =>
            Seq(In(UnresolvedAttribute(Seq(n)), ls.map(_.get)))
          case _ => Nil
        }
      case ("=", Seq(l, r)) =>
        (for { n <- leaf(l); v <- litOf(r) }
          yield EqualTo(UnresolvedAttribute(Seq(n)), v): Expression)
          .orElse(for { n <- leaf(r); v <- litOf(l) }
            yield EqualTo(UnresolvedAttribute(Seq(n)), v): Expression)
          .toSeq
      case _ => Nil
    }
  }
}

/** Unwraps graft scan wrappers down to Spark's own `FileScan`
  * (plan-shape specs and probes reach the planned file list here,
  * regardless of which wrappers the table's scan path added).
  */
object Scans {

  /** The delegate's own statistics, or the conservative "unknown"
    * answer when the wrapped scan reports none (Spark treats absent
    * estimates as the default size — never broadcast).
    */
  def statisticsOf(s: Scan)
      : org.apache.spark.sql.connector.read.Statistics = s match {
    case r: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
      r.estimateStatistics()
    case _ =>
      new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
      }
  }

  @annotation.tailrec
  def fileScan(s: Scan)
      : org.apache.spark.sql.execution.datasources.v2.FileScan =
    s match {
      case w: ManifestRuntimeFilterScan => fileScan(w.innerScan)
      case r: RenamedScan => fileScan(r.inner)
      case f: org.apache.spark.sql.execution.datasources.v2.FileScan => f
      case other => throw new IllegalStateException(
        s"not a file-backed scan: ${other.getClass.getName}")
    }
}

class ManifestStatsScanBuilder(
    spark: SparkSession,
    tableName: String,
    pinned: PinnedScan,
    options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownCatalystFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with SupportsPushDownLimit
    with SupportsPushDownTopN {

  private val tableSchema = pinned.schema

  // logical → physical (lower-cased logical key); identity when the
  // table was never renamed
  private val physOf: Map[String, String] = tableSchema.fields
    .map(f => f.name.toLowerCase -> ManifestTableFormat.physicalName(f))
    .toMap
  private val logicalOf: Map[String, String] = tableSchema.fields
    .map(f => ManifestTableFormat.physicalName(f).toLowerCase -> f.name)
    .toMap
  private val identityMapping = tableSchema.fields.forall(f =>
    ManifestTableFormat.physicalName(f) == f.name)

  private def physSchema(s: StructType): StructType =
    if (identityMapping) s
    else StructType(s.fields.map(f => StructField(
      physOf.getOrElse(f.name.toLowerCase, f.name), f.dataType,
      f.nullable)))

  private def toPhys(e: Expression): Expression =
    if (identityMapping) e
    else e.transform {
      case a: AttributeReference
          if physOf.get(a.name.toLowerCase).exists(_ != a.name) =>
        a.withName(physOf(a.name.toLowerCase))
    }

  private def mk(files: Seq[String]): FileScanBuilder =
    ParquetTable(tableName, spark, options, files,
      Some(physSchema(tableSchema)), classOf[ParquetFileFormat])
      .newScanBuilder(options)
      .asInstanceOf[FileScanBuilder]

  private var inner: FileScanBuilder = mk(pinned.files)
  // state needed to rebuild the scan over a runtime-pruned file list
  private var currentFiles: Seq[String] = pinned.files
  private var pushedLogical: Seq[Expression] = Nil
  private var requiredLogical: Option[StructType] = None
  private var aggPushed = false

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    pushedLogical = filters
    val probes = StatsProbes.extract(filters, pinned.typeOf)
    if (probes.nonEmpty)
      pinned.prune(probes).foreach { files =>
        currentFiles = files
        inner = mk(files)
      }
    if (identityMapping) inner.pushFilters(filters)
    else {
      // translate in, map residuals back to the caller's expressions
      // (the inner builder returns a subset of its input)
      val pairs = filters.map(f => (f, toPhys(f)))
      val residual = inner.pushFilters(pairs.map(_._2))
      residual.map(r =>
        pairs.find(_._2 eq r).map(_._1).getOrElse(r))
    }
  }

  override def pushedFilters: Array[Predicate] = inner.pushedFilters

  override def pruneColumns(requiredSchema: StructType): Unit = {
    requiredLogical = Some(requiredSchema)
    inner.pruneColumns(physSchema(requiredSchema))
  }

  /** Columns runtime (join-driven) filters can prune on: every
    * stats-recorded-type field IN THE SCAN'S OUTPUT (Spark resolves
    * `filterAttributes` against the pruned output — advertising a
    * pruned-away column fails analysis). An unprunable runtime
    * predicate on an advertised column still just yields no probes.
    */
  private def runtimeFilterable(out: StructType): Seq[String] =
    out.fields.collect {
      case f if f.dataType.isInstanceOf[StringType] ||
        StatsProbes.statsOrderedKind(f.dataType) => f.name
    }.toSeq

  private def buildOver(files: Seq[String]): Scan = {
    val b = mk(files)
    if (identityMapping) b.pushFilters(pushedLogical)
    else b.pushFilters(pushedLogical.map(toPhys))
    requiredLogical.foreach(s => b.pruneColumns(physSchema(s)))
    val built = b.build()
    if (identityMapping) built else new RenamedScan(built, logicalOf)
  }

  override def build(): Scan = {
    logAgg.foreach { case (schema, aggRows) =>
      return new LocalScan {
        override def readSchema(): StructType = schema
        override def rows(): Array[org.apache.spark.sql.catalyst
          .InternalRow] = aggRows.toArray
        override def description(): String =
          s"GraftLogStatsAggScan[$tableName](${schema.fieldNames
            .mkString(", ")})"
        override def toString: String = description()
      }
    }
    val built = inner.build()
    val base =
      if (identityMapping) built else new RenamedScan(built, logicalOf)
    // no runtime filtering under pushed aggregation: the scan's rows
    // are already aggregates, not the join's probe rows
    val attrs = runtimeFilterable(base.readSchema())
    if (aggPushed || attrs.isEmpty) base
    else new ManifestRuntimeFilterScan(base, attrs, pinned, currentFiles,
      buildOver)
  }

  // aggregate pushdown, two lanes in preference order:
  //
  //  1. LOG-ANSWERED (metadata-only): an unfiltered, ungrouped
  //     COUNT(*)/COUNT(col)/MIN/MAX over stats-exact column kinds is
  //     answered straight from the manifest's per-file stats as ONE
  //     LocalScan row — O(log), ZERO data or footer reads. At 10⁷
  //     files `SELECT count(*), max(ts) FROM t` stops being 10⁷
  //     footer RPCs. Fail-open contract mirrors every stats consumer:
  //     any pushed filter, group-by, DISTINCT, float/double/decimal/
  //     string extremum (grid collision / truncated bounds), DV'd or
  //     stats-less file → lane refused, next lane tries.
  //  2. The parquet delegate (footer MIN/MAX/COUNT, behind
  //     spark.sql.parquet.aggregatePushdown) over the already-pruned
  //     file list. Disabled under a non-identity column mapping: the
  //     aggregation references logical names the files don't have.
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    logAgg = memoLogAggregate(aggregation)
    if (logAgg.isDefined) { aggPushed = true; return true }
    val pushed = identityMapping && (inner match {
      case a: SupportsPushDownAggregates => a.pushAggregation(aggregation)
      case _ => false
    })
    if (pushed) aggPushed = true
    pushed
  }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    memoLogAggregate(aggregation).isDefined ||
      (identityMapping && (inner match {
        case a: SupportsPushDownAggregates =>
          a.supportCompletePushDown(aggregation)
        case _ => false
      }))

  private var logAgg: Option[(StructType, Seq[GenericInternalRow])] = None

  /** One computation per (planning pass, aggregation): Spark calls
    * both `supportCompletePushDown` and `pushAggregation` with the
    * same aggregation, and the computation fires driver-side jobs
    * over the stats frame — memoizing also guarantees both callbacks
    * observe ONE snapshot instead of racing a concurrent commit.
    * Keyed by the V2 expressions' stable renderings (the connector
    * expression classes do not implement value equality).
    */
  private var logAggMemo: Option[
    (String, Option[(StructType, Seq[GenericInternalRow])])] = None

  private def memoLogAggregate(aggregation: Aggregation)
      : Option[(StructType, Seq[GenericInternalRow])] = {
    val key = aggregation.aggregateExpressions().map(_.describe())
      .mkString(";") + "|" +
      aggregation.groupByExpressions().map(_.describe()).mkString(";")
    logAggMemo match {
      case Some((k, v)) if k == key => v
      case _ =>
        val v = tryLogAggregate(aggregation)
        logAggMemo = Some((key, v))
        v
    }
  }

  /** Stats-EXACT kinds for log-answered MIN/MAX: the canonical grid
    * round-trips these losslessly (floats/decimals can collide on the
    * DECIMAL(38,18) grid; string bounds may be truncated) — same
    * taxonomy as the metadata-only delete lane's exact probes.
    */
  private def exactKind(dt: DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.IntegerType |
         _: org.apache.spark.sql.types.LongType |
         _: org.apache.spark.sql.types.ShortType |
         _: org.apache.spark.sql.types.ByteType |
         _: org.apache.spark.sql.types.DateType |
         _: org.apache.spark.sql.types.TimestampType |
         _: org.apache.spark.sql.types.BooleanType => true
    case _ => false
  }

  private def singleCol(e: V2Expression): Option[String] = e match {
    case n: NamedReference if n.fieldNames().length == 1 =>
      Some(n.fieldNames()(0))
    case _ => None
  }

  /** Catalyst-internal value from the canonical grid decimal. */
  private def decode(v: BigDecimal, dt: DataType): Option[Any] =
    scala.util.Try[Any] {
      dt match {
        case _: org.apache.spark.sql.types.IntegerType |
             _: org.apache.spark.sql.types.DateType => v.toIntExact
        case _: org.apache.spark.sql.types.LongType |
             _: org.apache.spark.sql.types.TimestampType => v.toLongExact
        case _: org.apache.spark.sql.types.ShortType => v.toShortExact
        case _: org.apache.spark.sql.types.ByteType => v.toByteExact
        case _: org.apache.spark.sql.types.BooleanType => v.toIntExact == 1
      }
    }.toOption

  /** The log-answered aggregate row(s), or None when ANY part of the
    * aggregation cannot be answered exactly from the manifest stats.
    */
  private def tryLogAggregate(aggregation: Aggregation)
      : Option[(StructType, Seq[GenericInternalRow])] = {
    if (pushedLogical.nonEmpty) return None
    if (aggregation.groupByExpressions().nonEmpty)
      return tryGroupedLogAggregate(aggregation)
    val rangeCache = scala.collection.mutable.Map[
      String, Option[Seq[ManifestTableFormat.FileRange]]]()
    // DV'd files refuse the lane: recorded counts/bounds include
    // deleted rows (COUNT(*) alone stays exact via the live row
    // counts, which is why it reads those, not ranges)
    def rangesFor(phys: String) = rangeCache.getOrElseUpdate(phys,
      pinned.ranges(currentFiles, phys).filter(_.forall(_.dvCard == 0L)))
    // STRING extrema (protocol v7 exact-bounds marker): one lookup per
    // column serves both MIN and MAX; DV'd / unmarked / truncated
    // files refuse inside it
    val strCache = scala.collection.mutable.Map[
      String, Option[(Option[String], Option[String])]]()
    def strBoundsFor(phys: String) = strCache.getOrElseUpdate(phys,
      pinned.strBounds(currentFiles, phys))
    val fields = Seq.newBuilder[StructField]
    val values = Seq.newBuilder[Any]
    aggregation.aggregateExpressions().foreach {
      case _: CountStar =>
        val total = pinned.liveRows(currentFiles)
          .getOrElse(return None).values.sum
        fields += StructField("count_star",
          org.apache.spark.sql.types.LongType, nullable = false)
        values += total
      case c: Count if !c.isDistinct =>
        val name = singleCol(c.column).getOrElse(return None)
        val (phys, _) = pinned.typeOf(name).getOrElse(return None)
        val rs = rangesFor(phys).getOrElse(return None)
        fields += StructField(s"count_$name",
          org.apache.spark.sql.types.LongType, nullable = false)
        values += rs.map(r => r.rows - r.nulls).sum
      case m: Min =>
        val name = singleCol(m.column).getOrElse(return None)
        val (phys, dt) = pinned.typeOf(name).getOrElse(return None)
        fields += StructField(s"min_$name", dt, nullable = true)
        if (dt.isInstanceOf[StringType])
          values += strBoundsFor(phys).getOrElse(return None)._1
            .map(org.apache.spark.unsafe.types.UTF8String.fromString)
            .orNull
        else {
          if (!exactKind(dt)) return None
          val rs = rangesFor(phys).getOrElse(return None)
          val lows = rs.flatMap(_.lo)
          values += (if (lows.isEmpty) null
            else decode(lows.min, dt).getOrElse(return None))
        }
      case m: Max =>
        val name = singleCol(m.column).getOrElse(return None)
        val (phys, dt) = pinned.typeOf(name).getOrElse(return None)
        fields += StructField(s"max_$name", dt, nullable = true)
        if (dt.isInstanceOf[StringType])
          values += strBoundsFor(phys).getOrElse(return None)._2
            .map(org.apache.spark.unsafe.types.UTF8String.fromString)
            .orNull
        else {
          if (!exactKind(dt)) return None
          val rs = rangesFor(phys).getOrElse(return None)
          val his = rs.flatMap(_.hi)
          values += (if (his.isEmpty) null
            else decode(his.max, dt).getOrElse(return None))
        }
      case _ => return None // SUM/AVG/DISTINCT/UDAF: not stats-exact
    }
    Some((StructType(fields.result()),
      Seq(new GenericInternalRow(values.result().toArray))))
  }

  /** GROUP BY a clustering column from stats alone: when range
    * clustering (c37q `PARTITIONED BY` / z-order) has made every live
    * file SINGLE-VALUED on the grouped column (lo == hi, no nulls —
    * or provably all-null, the NULL group), `GROUP BY col` with
    * COUNT/COUNT(c)/MIN(c)/MAX(c) aggregates is pure log arithmetic:
    * group files by their one value and fold their recorded stats —
    * one LocalScan of G rows, zero data reads. `SELECT part, count(*)
    * FROM t GROUP BY part` on a 10⁷-file table stops reading 10⁷
    * files. Fail-open mirror of the ungrouped lane: any pushed
    * filter, multi-column or expression grouping, a file spanning
    * values or mixing nulls with values, a DV'd or stats-less file
    * (refused on its `dvCard`), or a non-exact-kind column
    * falls through to the scan. Complete pushdown's row contract:
    * grouping columns FIRST in the schema, then the aggregates, one
    * row per group, each group exactly once.
    */
  private def tryGroupedLogAggregate(aggregation: Aggregation)
      : Option[(StructType, Seq[GenericInternalRow])] = {
    val groupCol = aggregation.groupByExpressions() match {
      case Array(one) => singleCol(one).getOrElse(return None)
      case _ => return None
    }
    val (gPhys, gDt) = pinned.typeOf(groupCol).getOrElse(return None)
    if (!exactKind(gDt)) return None
    val rangeCache = scala.collection.mutable.Map[
      String, Option[Seq[ManifestTableFormat.FileRange]]]()
    // DV'd files refuse the grouped lane wholesale: every fold below
    // (counts AND extrema) is over recorded stats that include
    // deleted rows
    def rangesFor(phys: String) = rangeCache.getOrElseUpdate(phys,
      pinned.ranges(currentFiles, phys).filter(_.forall(_.dvCard == 0L)))
    val gRanges = rangesFor(gPhys).getOrElse(return None)
    if (gRanges.size != currentFiles.size) return None
    // group key per file: its single value, or the NULL group —
    // anything mixed refuses
    val keyOf = gRanges.map { r =>
      if (r.nulls == r.rows) r.file -> None
      else if (r.nulls == 0L && r.lo == r.hi && r.lo.isDefined)
        r.file -> Some(r.lo.get)
      else return None
    }.toMap
    val groups: Seq[(Option[BigDecimal], Seq[String])] =
      gRanges.groupBy(r => keyOf(r.file))
        .map { case (k, rs) => k -> rs.map(_.file) }.toSeq
        .sortBy(_._1.map(_.toString).getOrElse(""))

    val fields = Seq.newBuilder[StructField]
    fields += StructField(groupCol, gDt, nullable = true)
    // per-aggregate fold over one group's files
    type Fold = Seq[ManifestTableFormat.FileRange] => Any
    val folds = Seq.newBuilder[(String, Seq[String], Fold)]
    aggregation.aggregateExpressions().foreach {
      case _: CountStar =>
        fields += StructField("count_star",
          org.apache.spark.sql.types.LongType, nullable = false)
        folds += (("count_star", Seq(gPhys),
          rs => rs.map(_.rows).sum))
      case c: Count if !c.isDistinct =>
        val name = singleCol(c.column).getOrElse(return None)
        val (phys, _) = pinned.typeOf(name).getOrElse(return None)
        if (rangesFor(phys).isEmpty) return None
        fields += StructField(s"count_$name",
          org.apache.spark.sql.types.LongType, nullable = false)
        folds += ((s"count_$name", Seq(phys),
          rs => rs.map(r => r.rows - r.nulls).sum))
      case m: Min =>
        val name = singleCol(m.column).getOrElse(return None)
        val (phys, dt) = pinned.typeOf(name).getOrElse(return None)
        if (!exactKind(dt) || rangesFor(phys).isEmpty) return None
        fields += StructField(s"min_$name", dt, nullable = true)
        folds += ((s"min_$name", Seq(phys), rs => {
          val lows = rs.flatMap(_.lo)
          if (lows.isEmpty) null
          else decode(lows.min, dt).getOrElse(return None)
        }))
      case m: Max =>
        val name = singleCol(m.column).getOrElse(return None)
        val (phys, dt) = pinned.typeOf(name).getOrElse(return None)
        if (!exactKind(dt) || rangesFor(phys).isEmpty) return None
        fields += StructField(s"max_$name", dt, nullable = true)
        folds += ((s"max_$name", Seq(phys), rs => {
          val his = rs.flatMap(_.hi)
          if (his.isEmpty) null
          else decode(his.max, dt).getOrElse(return None)
        }))
      case _ => return None
    }
    val foldList = folds.result()
    // per-column FileRange lookup (all validated non-empty above)
    val byFile: Map[String, Map[String, ManifestTableFormat.FileRange]] =
      rangeCache.collect { case (phys, Some(rs)) =>
        phys -> rs.map(r => r.file -> r).toMap }.toMap
    val rows = groups.map { case (key, files) =>
      val gv: Any = key match {
        case Some(v) => decode(v, gDt).getOrElse(return None)
        case None => null
      }
      val vals = foldList.map { case (_, phys, fold) =>
        fold(files.map(byFile(phys.head)))
      }
      new GenericInternalRow((gv +: vals).toArray)
    }
    Some((StructType(fields.result()), rows))
  }

  /** LIMIT pushdown as FILE-LIST pushdown: `SELECT … LIMIT n` (no
    * predicates, no pushed aggregate) plans the smallest prefix of
    * the pinned file list whose log-recorded live row counts cover
    * `n`, instead of handing every live file to the scan — at 10⁷
    * files a peek query stops being a full file-listing plan. Sound
    * because an un-predicated LIMIT may take ANY n table rows, and
    * only fires when EVERY file has an exact recorded count
    * (fail-open otherwise); with any pushed/residual filter the
    * per-file match count is unknowable from stats, so the trim is
    * refused outright. Always PARTIAL: Spark keeps its own Limit
    * above the scan (`isPartiallyPushed`), this only shrinks the
    * files feeding it. Runs before `pruneColumns` in Spark's
    * pushdown order, so rebuilding the inner builder here is safe.
    */
  override def pushLimit(limit: Int): Boolean = {
    if (limit <= 0 || aggPushed || pushedLogical.nonEmpty) return false
    val counts = pinned.liveRows(currentFiles).getOrElse(return false)
    var acc = 0L
    val keep = Seq.newBuilder[String]
    val it = currentFiles.iterator
    while (acc < limit && it.hasNext) {
      val f = it.next()
      keep += f
      acc += counts(f)
    }
    val kept = keep.result()
    if (kept.size < currentFiles.size) {
      currentFiles = kept
      inner = mk(kept)
    }
    true
  }

  override def isPartiallyPushed(): Boolean = true

  /** TopN pushdown as FILE pruning: `ORDER BY key [ASC|DESC] LIMIT k`
    * (no predicates, no pushed aggregate, numeric/date/timestamp
    * first key) drops every file whose rows are PROVABLY preceded by
    * ≥ k rows of the kept files — on a time-clustered 10⁷-file table
    * `ORDER BY ts DESC LIMIT 100` plans a handful of head files
    * instead of every live file.
    *
    * Soundness (ASC; DESC mirrors with lo): pick the smallest
    * threshold V with `base + Σ_{g: hi(g) ≤ V} nonNull(g) ≥ k`
    * (base = total nulls when NULLS FIRST — every such g has
    * `hi(g) ≤ V`, hence is itself KEPT, so the counted rows exist in
    * the scanned subset). A file f drops only when BOTH parts are
    * excluded: its non-null rows (`lo(f) > V` — strictly after the
    * ≥ k counted rows; grid monotonicity makes the strict grid
    * inequality imply the strict real one) and its null rows (none,
    * or NULLS LAST with ≥ k non-null rows surviving in kept files).
    * Ties and later sort keys cannot resurrect a dropped row: the
    * counted rows precede it STRICTLY on the first key. Fail-open
    * everywhere: any file without exact stats, a DV'd file, an
    * unparseable bound, a non-column or non-numeric-kind first key —
    * no pruning. Always PARTIAL: Spark's own TopN stays above and
    * does the actual ordering.
    */
  override def pushTopN(orders: Array[V2SortOrder], limit: Int): Boolean = {
    if (limit <= 0 || aggPushed || pushedLogical.nonEmpty ||
      orders.isEmpty) return false
    val head = orders.head
    val colName = head.expression() match {
      case n: NamedReference if n.fieldNames().length == 1 =>
        n.fieldNames()(0)
      case _ => return false
    }
    val (physName, dt) = pinned.typeOf(colName).getOrElse(return false)
    if (!StatsProbes.statsOrderedKind(dt) ||
      dt.isInstanceOf[org.apache.spark.sql.types.BooleanType])
      return false
    val ranges = pinned.ranges(currentFiles, physName)
      .getOrElse(return false)
    if (ranges.isEmpty) return false

    val asc = head.direction() == SortDirection.ASCENDING
    val nullsFirst = head.nullOrdering() == NullOrdering.NULLS_FIRST
    // the DV-aware threshold arithmetic lives with the format (shared
    // with DvColumnarRead's TopN pair pruning); this builder's tables
    // are clean (dvCard 0 throughout), so live bounds equal totals
    val keepSet = ManifestTableFormat
      .topNKeepFiles(ranges, limit, asc, nullsFirst)
      .getOrElse(return false)
    val kept = currentFiles.filter(keepSet)
    if (kept.isEmpty || kept.size >= currentFiles.size) return kept.nonEmpty
    currentFiles = kept
    inner = mk(kept)
    true
  }
}
