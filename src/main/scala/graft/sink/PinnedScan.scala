package graft.sink

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

import graft.sink.ManifestTableFormat.{DvRef, ExactProbe, FileRange, FileStat, MetaAgg, StatsProbe}

/** One SQL resolution of a manifest table: the (file, deletion vector)
  * pairs and the schema of one pinned snapshot — the head or a
  * time-travel version — and the handle that read them
  * ([[ManifestTableFormat!.pinScan]]). Every planner-time stats lane a
  * SQL scan consults is a method here, over the pinned list: file
  * skipping, the CBO row count and NDVs, log-answered COUNT/MIN/MAX,
  * LIMIT and TopN file trimming, the filtered metadata aggregates and
  * the deletion-vector read. `GraftTable`, `ManifestStatsScanBuilder`,
  * `ManifestRuntimeFilterScan`, `DvColumnarRead` and
  * `MetadataFilteredCount` all read this one value.
  *
  * Which lanes a pin gets is decided here and nowhere else:
  *  - a clean pin plans through the stats scan builder; a pin with any
  *    deletion vector through `DvColumnarRead` (or the exact V1
  *    fallback);
  *  - the per-file row and range lanes read immutable per-file stats
  *    and subtract deletion-vector cardinalities. A DV pin subtracts
  *    the vectors pinned here, so its lanes serve any version; a clean
  *    pin subtracts the head's, so its lanes serve the head only (a
  *    pinned old version's files may since have gained vectors);
  *  - a DV pin's metadata COUNT(*) serves the head only;
  *  - file skipping, the CBO row count, NDVs and the filtered metadata
  *    aggregates serve every pin.
  *
  * Every lane fails open (`None`) on a file without stats.
  */
final class PinnedScan private[sink] (
    val format: ManifestTableFormat,
    val pairs: Seq[(String, Option[DvRef])],
    val schema: StructType,
    val timeTravel: Boolean) {

  val files: Seq[String] = pairs.map(_._1)
  val hasDv: Boolean = pairs.exists(_._2.isDefined)
  private val pinnedDv: Map[String, Long] =
    pairs.collect { case (f, Some(dv)) => f -> dv.card }.toMap
  private val perFileLanes = hasDv || !timeTravel

  private def dvCard(s: FileStat): Long =
    if (hasDv) pinnedDv.getOrElse(s.file, 0L) else s.dvCard

  /** (physical name, type) of a logical column — how the stats were
    * recorded, so renames never invalidate them.
    */
  def typeOf(name: String): Option[(String, DataType)] =
    schema.fields.find(_.name.equalsIgnoreCase(name))
      .map(f => (ManifestTableFormat.physicalName(f), f.dataType))

  /** The pinned files that may hold a row matching every probe, or
    * `None` when nothing prunes ([[ManifestTableFormat!.pruneFilesForScan]]).
    */
  def prune(probes: Seq[StatsProbe]): Option[Seq[String]] =
    format.pruneFilesForScan(files, probes)

  /** DV-aware read of `ps`, a subset of [[pairs]], under the pinned
    * schema.
    */
  def read(ps: Seq[(String, Option[DvRef])]): DataFrame =
    format.readPinned(ps, schema)

  /** The pinned rows whose integer `column` is one of `values`. Files
    * are picked from their recorded min/max ([[ranges]]): on the
    * driver with no Spark job over a checkpoint-less log, by one narrow
    * stats read with a checkpoint. Every pinned file is read when the
    * ranges fail open, and the rows are filtered exactly either way.
    * A persistent index reads its probed cells or term buckets so.
    */
  def readWhereIn(column: String, values: Seq[Int]): DataFrame = {
    val phys = typeOf(column).map(_._1).getOrElse(
      throw new IllegalArgumentException(
        s"no column '$column' in ${schema.fieldNames.mkString(", ")}"))
    val vs = values.map(BigDecimal(_))
    val keep = ranges(files, phys).map(_.collect {
      case r if r.lo.exists(lo => r.hi.exists(hi =>
        vs.exists(v => lo <= v && v <= hi))) => r.file
    }.toSet)
    read(keep.fold(pairs)(k => pairs.filter(p => k(p._1))))
      .filter(col(column).isin(values: _*))
  }

  /** The CBO's numRows for `fs`. */
  def rowCount(fs: Seq[String]): Option[Long] = live(fs).map(_.values.sum)

  /** A DV pin's metadata COUNT(*): recorded rows minus the pinned
    * vectors, so a DV delete landing after resolution cannot make
    * count(*) on a held handle disagree with its collect().
    */
  def liveCount: Option[Long] =
    if (hasDv && !timeTravel) rowCount(files) else None

  /** Per-file live rows of `fs` — the COUNT(*) and LIMIT gauge. */
  def liveRows(fs: Seq[String]): Option[Map[String, Long]] =
    if (perFileLanes) live(fs) else None

  private def live(fs: Seq[String]): Option[Map[String, Long]] =
    format.statsLookup(fs, None).collect {
      case ss if ss.forall(_.rows.isDefined) =>
        ss.map(s => s.file -> (s.rows.get - dvCard(s))).toMap
    }

  /** Per-file ranges of one numeric-kind column (physical name) — the
    * TopN gauge and the log-answered COUNT(col)/MIN/MAX input. Bounds
    * decode on the canonical stats grid. DV'd files are admitted with
    * their cardinality: [[ManifestTableFormat.topNKeepFiles]] counts
    * live lower bounds, and the aggregate lanes refuse `dvCard != 0`.
    * `None` unless every file has a row count and either parseable
    * bounds or a provably all-null column.
    */
  def ranges(fs: Seq[String], physCol: String): Option[Seq[FileRange]] = {
    if (!perFileLanes) return None
    val ss = format.statsLookup(fs, Some(physCol)).getOrElse(return None)
    Some(ss.map { s =>
      val rows = s.rows.getOrElse(return None)
      val c = s.col.getOrElse(return None)
      if (c.lo.isDefined && c.hi.isDefined) {
        val lo = scala.util.Try(BigDecimal(c.lo.get)).toOption
        val hi = scala.util.Try(BigDecimal(c.hi.get)).toOption
        if (lo.isEmpty || hi.isEmpty) return None
        FileRange(s.file, rows, c.nulls, lo, hi, dvCard(s))
      } else if (c.nulls == rows)
        FileRange(s.file, rows, c.nulls, None, None, dvCard(s))
      else return None
    })
  }

  /** String MIN/MAX of one column from the log, in Spark's UTF-8 order.
    * Servable only where protocol v7's exact-bounds marker is set (an
    * unmarked bound may be truncation-adjusted): `None` unless every
    * file is marked or provably all-null on the column, and carries no
    * deletion vector (deleted rows could hold the extremum).
    * `Some((None, None))` = every row NULL.
    */
  def strBounds(fs: Seq[String], physCol: String)
      : Option[(Option[String], Option[String])] = {
    if (!perFileLanes) return None
    val ord = ManifestTableFormat.utf8Order
    var lo: Option[String] = None
    var hi: Option[String] = None
    format.statsLookup(fs, Some(physCol)).getOrElse(return None).foreach { s =>
      val rows = s.rows.getOrElse(return None)
      if (dvCard(s) != 0L) return None
      val c = s.col.getOrElse(return None)
      if (c.lo.isDefined && c.hi.isDefined) {
        if (!c.exact) return None
        if (lo.forall(ord.gt(_, c.lo.get))) lo = c.lo
        if (hi.forall(ord.lt(_, c.hi.get))) hi = c.hi
      } else if (c.nulls != rows) return None
    }
    Some((lo, hi))
  }

  /** Filtered COUNT/MIN/MAX over the pinned files and vectors
    * ([[ManifestTableFormat!.filteredAggregates]]).
    */
  def metaAggregates(probes: Seq[ExactProbe], targets: Seq[MetaAgg])
      : Option[Seq[Any]] =
    format.filteredAggregates(files, pinnedDv, probes, targets)

  /** ANALYZE-recorded NDV estimates, column → distinct count. */
  def ndv: Map[String, Long] = format.ndvInfo.map(_._2).getOrElse(Map.empty)
}
