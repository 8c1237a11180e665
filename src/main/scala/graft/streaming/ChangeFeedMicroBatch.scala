package graft.streaming

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sink.ManifestTableFormat

/** A manifest version as a DSv2 streaming offset (`json` is the bare
  * number, matching the V1 bridge's wire format so existing sink
  * checkpoints replay unchanged).
  */
final case class VersionOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

/** The `graft-cdf` table: a manifest table's CHANGE FEED as a DSv2
  * micro-batch streaming source — the public-connector-API successor
  * to the V1 `Source` bridge (which needed `internalCreateDataFrame`
  * and `classic.SparkSession` casts from inside Spark's package tree;
  * a minor-version bump could break it. This implementation touches
  * only `org.apache.spark.sql.connector.*` + catalyst row/types —
  * the same surface any third-party connector stands on).
  *
  * Offsets ARE manifest versions, so the mapping stays exactly-once
  * by construction: the batch `(from, to]` is `changesBetween` — the
  * net row-level delta from the log's file diff, reading only
  * churn-touched files. Because DSv2 partitions deliver ROWS (not a
  * logical plan the way V1 spliced one in), each batch's delta is
  * MATERIALIZED once, as a Spark job at planning time, into a staged
  * parquet directory under the query's own checkpoint location; the
  * executors' partition readers then stream those files back through
  * parquet-mr's public reader (no Spark internals). The staging is
  * deterministic from the log, published atomically (tmp + rename,
  * `_SUCCESS`-guarded), reused on replay when still present,
  * recomputed when `commit()` already reclaimed it — and a span
  * vacuumed past reconstructability fails loudly, the same retention
  * contract as every log-structured source.
  *
  * Scale shape: per batch O(churn files) read + one exceptAll
  * shuffle + one staged write/read of the delta rows (the price of
  * the public API; churn-bounded, never table-bounded). Driver state
  * is one long.
  */
final class GraftChangeFeedTable(
    tablePath: String,
    feedSchema: StructType,
    options: CaseInsensitiveStringMap) extends Table with SupportsRead {

  override def name(): String = s"graft-cdf(`$tablePath`)"

  override def schema(): StructType = feedSchema

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(
      caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = feedSchema
        override def description(): String = name()
        override def toMicroBatchStream(
            checkpointLocation: String): MicroBatchStream =
          new GraftChangeFeedStream(
            tablePath, feedSchema, options, checkpointLocation)
      }
    }
}

private[graft] object GraftChangeFeedStream {

  /** Read the pinned long at `file`, or compute+persist it once —
    * per-query state in the stream's checkpoint dir (stable across
    * restarts even when the value's source is mutable, e.g. commit
    * mtimes shifted by checkpoint+vacuum).
    */
  def pinnedLong(fs: FileSystem, file: Path, compute: () => Long): Long =
    if (fs.exists(file)) {
      val in = fs.open(file)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](64)
        var n = in.read(chunk)
        while (n > 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        buf.toString("UTF-8").trim.toLong
      } finally in.close()
    } else {
      val v = compute()
      if (!fs.exists(file.getParent)) fs.mkdirs(file.getParent)
      val out = fs.create(file, false)
      try out.write(s"$v\n".getBytes("UTF-8")) finally out.close()
      v
    }
}

private final class GraftChangeFeedStream(
    tablePath: String,
    feedSchema: StructType,
    options: CaseInsensitiveStringMap,
    checkpointLocation: String) extends MicroBatchStream
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private def spark = SparkSession.active

  private def mtf =
    new ManifestTableFormat(spark, tablePath, graft.sink.ChunkStore.schema)

  private val maxVersionsPerBatch: Option[Long] =
    Option(options.get("maxVersionsPerBatch")).map(_.toLong)
  require(maxVersionsPerBatch.forall(_ >= 1),
    s"maxVersionsPerBatch must be >= 1, got $maxVersionsPerBatch")

  private def ckptDir = new Path(checkpointLocation)
  private def fs = ckptDir
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Exclusive lower bound for a query starting WITHOUT a sink
    * checkpoint: `startingVersion` (−1 = full current snapshot as
    * inserts first, the Delta default) or `startingTimestamp`
    * resolved ONCE and pinned in the checkpoint dir (commit mtimes
    * are mutable under vacuum; the pin keeps a batch-0 replay
    * identical to the original run).
    */
  private lazy val startingVersion: Long =
    (Option(options.get("startingVersion")),
        Option(options.get("startingTimestamp"))) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "graft-cdf: startingVersion and startingTimestamp are " +
          "mutually exclusive")
      case (Some(v), None) => v.toLong
      case (None, Some(ts)) =>
        val millis = ts.trim.toLongOption.getOrElse(
          java.sql.Timestamp.valueOf(ts.trim).getTime)
        GraftChangeFeedStream.pinnedLong(fs,
          new Path(ckptDir, "graft-starting-version"),
          () => mtf.versionAtTimestamp(millis))
      case (None, None) => -1L
    }

  @volatile private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(mtf.version)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def initialOffset(): Offset = VersionOffset(startingVersion)

  override def deserializeOffset(json: String): Offset =
    VersionOffset(json.trim.toLong)

  private def versionOf(o: Offset): Long = o match {
    case VersionOffset(v) => v
    case other => other.json().trim.toLong
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-control latestOffset(start, limit) is the entry point")

  /** Offset negotiation: advance to the current committed version,
    * capped by the AvailableNow pin and the per-batch rate limit;
    * never move backwards.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val floor = math.max(startingVersion, versionOf(start))
    val cap = availableNowTarget.fold(mtf.version)(
      math.min(mtf.version, _))
    if (cap <= floor) VersionOffset(floor)
    else VersionOffset(
      maxVersionsPerBatch.fold(cap)(m => math.min(cap, floor + m)))
  }

  override def reportLatestOffset(): Offset = {
    val v = mtf.version
    if (v < 0) null else VersionOffset(v)
  }

  private def stagingDir(from: Long, to: Long): Path =
    new Path(ckptDir, s"graft-staging/$from-$to")

  /** Materialize the span's delta once (tmp + atomic rename,
    * `_SUCCESS` as the completeness marker — a torn write is ignored
    * and recomputed; the delta is deterministic from the log).
    */
  private def stage(from: Long, to: Long): Path = {
    val target = stagingDir(from, to)
    val f = fs
    if (f.exists(new Path(target, "_SUCCESS"))) return target
    if (f.exists(target)) f.delete(target, true) // torn writer
    val tmp = new Path(ckptDir,
      s"graft-staging/tmp-${java.util.UUID.randomUUID()}")
    mtf.changesBetween(from, to)
      .select(feedSchema.fieldNames.toIndexedSeq
        .map(org.apache.spark.sql.functions.col): _*)
      .write.parquet(tmp.toString)
    if (!f.rename(tmp, target)) {
      // lost a staging race (two restarts): the winner's content is
      // identical (deterministic delta) — keep theirs
      f.delete(tmp, true)
      require(f.exists(new Path(target, "_SUCCESS")),
        s"staging rename to $target failed with no winner")
    }
    target
  }

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val from = versionOf(start)
    val to = versionOf(end)
    if (to <= from) return Array.empty
    val dir = stage(from, to)
    fs.listStatus(dir).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
      .map(st => ChangeFeedFilePartition(
        st.getPath.toString, feedSchema): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ChangeFeedReaderFactory

  /** Batches at or below `end` are checkpoint-committed: their
    * staged deltas are reclaimable (a later replay would recompute
    * from the log).
    */
  override def commit(end: Offset): Unit = {
    val to = versionOf(end)
    val root = new Path(ckptDir, "graft-staging")
    val f = fs
    if (!f.exists(root)) return
    f.listStatus(root).foreach { st =>
      // span dirs are "<from>-<to>" (from may be -1): key on the LAST
      // dash; tmp-/foreign names fail the numeric parse and stay
      val name = st.getPath.getName
      val cut = name.lastIndexOf('-')
      if (cut > 0)
        name.substring(cut + 1).toLongOption match {
          case Some(t) if t <= to => f.delete(st.getPath, true)
          case _ => ()
        }
    }
  }

  override def stop(): Unit = ()

  override def toString: String =
    s"GraftChangeFeedStream[$tablePath]"
}

/** One staged parquet file of a batch's delta. */
final case class ChangeFeedFilePartition(
    file: String, fileSchema: StructType) extends InputPartition

/** Executor-side reader over a staged delta file, built on
  * parquet-mr's PUBLIC example API (`ParquetReader` +
  * `GroupReadSupport`) — no Spark-internal reader classes. The
  * staged files are churn-bounded, so the object-per-row cost of the
  * Group API is paid on deltas, never on the table.
  */
final class ChangeFeedReaderFactory extends PartitionReaderFactory {

  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ChangeFeedFilePartition]
    new PartitionReader[InternalRow] {
      private val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(
          new org.apache.parquet.hadoop.example.GroupReadSupport(),
          new Path(p.file))
        .withConf(new org.apache.hadoop.conf.Configuration())
        .build()
      private var current: org.apache.parquet.example.data.Group = _

      override def next(): Boolean = {
        current = reader.read()
        current != null
      }

      override def get(): InternalRow =
        ChangeFeedReaderFactory.toRow(current, p.fileSchema)

      override def close(): Unit = reader.close()
    }
  }
}

object ChangeFeedReaderFactory {

  /** parquet-mr Group → catalyst InternalRow for the feed's schema
    * shapes (primitives, strings, float arrays — the chunk schema
    * plus anything ADD COLUMN can introduce). Unknown types fail
    * loudly rather than decode garbage. A column ABSENT from the
    * file's own schema reads as NULL — the staged-delta twin of the
    * table scan's default-null evolution contract (a restart can
    * replay a batch staged BEFORE an ALTER under the evolved feed
    * schema).
    */
  private[graft] def toRow(
      g: org.apache.parquet.example.data.Group,
      schema: StructType): InternalRow = {
    val values = new Array[Any](schema.length)
    var i = 0
    while (i < schema.length) {
      val f = schema(i)
      values(i) =
        if (!g.getType.containsField(f.name) ||
            g.getFieldRepetitionCount(f.name) == 0) null
        else f.dataType match {
          case IntegerType => g.getInteger(f.name, 0)
          case LongType => g.getLong(f.name, 0)
          case FloatType => g.getFloat(f.name, 0)
          case DoubleType => g.getDouble(f.name, 0)
          case BooleanType => g.getBoolean(f.name, 0)
          case StringType =>
            UTF8String.fromBytes(g.getBinary(f.name, 0).getBytes)
          case ArrayType(FloatType, _) =>
            // Spark's standard 3-level list: group(LIST) > repeated
            // group "list" > "element"
            val lst = g.getGroup(f.name, 0)
            val n = lst.getFieldRepetitionCount("list")
            val arr = new Array[Any](n)
            var j = 0
            while (j < n) {
              val el = lst.getGroup("list", j)
              arr(j) =
                if (el.getFieldRepetitionCount("element") == 0) null
                else el.getFloat("element", 0)
              j += 1
            }
            new GenericArrayData(arr)
          case other => throw new UnsupportedOperationException(
            s"graft-cdf reader: unsupported column type $other for " +
              s"'${f.name}' — supported: int/long/float/double/" +
              "boolean/string/array<float>")
        }
      i += 1
    }
    new GenericInternalRow(values)
  }
}
