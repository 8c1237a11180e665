package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, ProcedureCatalog, SupportsNamespaces, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sink.{ChunkStore, ManifestLog, ManifestTableFormat}

/** SQL-addressable catalog over the engine's own tables (SURVEY A17/
  * B5 read surface; the reference's stores are queryable by name in
  * plain SQL — Cosmos's dialect, `AzureCosmosDB/csharp/README.md:
  * 104-106`, and T-SQL, `AzureSQL/csharp/README.md:130-132` — so ours
  * must be too). Standard DataSourceV2 `TableCatalog` integration:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft",
  *   "graft.catalog.GraftCatalog")
  * spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/graft")
  * spark.sql("SELECT * FROM graft.chunks WHERE document_url = ...")
  * spark.sql("INSERT INTO graft.chunks SELECT ...")   // A18 append
  * spark.sql("SELECT * FROM graft.chunks VERSION AS OF 3") // manifest
  * }}}
  *
  * The catalog is a METADATA layer only: `loadTable` resolves a store
  * directory (one table per `warehouse/<name>`) to its live data-file
  * set — the manifest log's snapshot — and hands the actual scan to
  * Spark's own parquet DataSourceV2. Everything the built-in read
  * path does (vectorized decode, filter pushdown, column pruning,
  * file-splitting at `maxPartitionBytes`) applies unchanged — which
  * is the point: at 100 TB the catalog contributes file LISTS, never a
  * bespoke reader.
  *
  * Every chunk table is a manifest table (`_log` present): reads are
  * snapshot-isolated (the file list is pinned at resolution),
  * `VERSION AS OF n` maps to the log replay at version n, INSERT
  * appends through the log's commit protocol; z-ordered tables are
  * manifest tables clustered by `CALL compact_zorder`, pruned by the
  * same per-file stats. A directory the retired parquet engine wrote
  * refuses with its migration ([[ChunkStore.requireManifestLayout]]).
  *
  * Row-level DML is first-class SQL on manifest tables (planned by
  * `graft.plans.GraftDmlStrategy` onto the log's copy-on-write
  * commits): `UPDATE t SET … WHERE …`, arbitrary-predicate
  * `DELETE FROM t WHERE …` (url-keyed deletes keep the bloom/metadata
  * fast lane), and `MERGE INTO t USING s ON … WHEN …` with the full
  * clause algebra. Maintenance and the operator surface are STORED
  * PROCEDURES (the Iceberg convention for operations outside the DML
  * grammar):
  *
  * {{{
  * CALL graft.merge_into('chunks', 'updates_view')  -- A17 upsert
  * CALL graft.delete_documents('chunks', 'stale')   -- A20 delete
  * CALL graft.compact('chunks')                     -- A21 maintenance
  * CALL graft.checkpoint('chunks')                  -- manifest log
  * CALL graft.vacuum('chunks')                      -- manifest log
  * }}}
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  private def spark: SparkSession = SparkSession.active

  override def initialize(
      name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null && warehouse.nonEmpty,
      s"catalog '$name' needs spark.sql.catalog.$name.warehouse")
  }

  override def name(): String = catalogName

  private def fs = new Path(warehouse)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tableDir(ident: Identifier): String = {
    if (ident.namespace().nonEmpty)
      throw new NoSuchTableException(ident)
    s"$warehouse/${ident.name()}"
  }

  // ---- tables ------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (namespace.nonEmpty) throw new NoSuchNamespaceException(namespace)
    val root = new Path(warehouse)
    if (!fs.exists(root)) return Array.empty
    fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      // retired-engine stores stay listed: naming one refuses loudly
      // with its migration instead of vanishing
      .filter(p => fs.exists(new Path(p, ChunkStore.parquetLayoutMarker)) ||
        ManifestLog.isTable(fs, p))
      .map(p => Identifier.of(Array.empty, p.getName))
      .toArray
  }

  override def loadTable(ident: Identifier): Table =
    resolve(ident, asOf = None)

  override def loadTable(ident: Identifier, version: String): Table =
    // `VERSION AS OF <n>` pins a committed version; `VERSION AS OF
    // '<branch>'` (non-numeric) reads a BRANCH head — the SQL audit
    // surface of the write-audit-publish flow. Branch reads are
    // read-only here: branch WRITES go through the Scala branch
    // handle (ManifestTableFormat.branchFactory), publish via
    // CALL fast_forward.
    if (version.matches("\\d+"))
      resolve(ident, asOf = Some(_ => version.toLong))
    else resolve(ident, asOf = None, branchName = Some(version))

  override def loadTable(ident: Identifier, timestamp: Long): Table =
    // Spark hands TIMESTAMP AS OF as MICROS since epoch; commit times
    // are the log entries' mtimes (millis) — the Delta convention
    resolve(ident, asOf = Some(_.versionAtTimestamp(timestamp / 1000L)))

  /** `asOf` picks the time-travel version off the table's handle. */
  private def resolve(ident: Identifier,
      asOf: Option[ManifestTableFormat => Long],
      branchName: Option[String] = None): Table = {
    val dir = tableDir(ident)
    if (!fs.exists(new Path(dir))) throw new NoSuchTableException(ident)
    val fullName = s"$catalogName.${ident.name()}"
    if (!ManifestLog.isTable(fs, new Path(dir))) {
      ChunkStore.requireManifestLayout(spark, dir)
      throw new NoSuchTableException(ident)
    }
    branchName.foreach { b =>
      if (!ManifestLog.hasBranch(fs, new Path(dir), b))
        throw new NoSuchTableException(ident)
    }
    val mtf = new ManifestTableFormat(spark, dir, ChunkStore.schema,
      branch = branchName)
    // a branch head read is frozen THROUGH THIS SURFACE (the audit
    // view); branch writes go through the Scala branch handle
    val frozen = asOf.isDefined || branchName.isDefined
    // files, deletion vectors and the effective schema AT the
    // resolved version (a pre-ALTER time travel shows the old shape)
    val pinned = mtf.pinScan(asOf.map(_(mtf)))
    new GraftTable(fullName, spark, pinned,
      // time-travel reads are frozen history: never writable
      insert = if (frozen) None else Some(mtf.append),
      // url-keyed whole-document DELETE only when the table has the
      // key column; key-less tables route DELETE to the row-level
      // predicate path instead
      deleteDocs =
        if (frozen || !mtf.hasUrlKey) None
        else Some(mtf.delete(_: Seq[String])),
      updateRows =
        if (frozen) None else Some(mtf.update),
      deleteRows =
        if (frozen) None else Some(mtf.deleteWhere),
      mergeHook =
        if (frozen) None else Some(mtf.mergeInto(_, _, _, _, _, _)),
      overwriteHook =
        if (frozen) None else Some(mtf.overwrite),
      truncateHook =
        if (frozen) None else Some(() => mtf.truncate()),
      // DSv2 STREAMING_WRITE (df.writeStream.toTable) — head
      // snapshots only; time travel is frozen history
      streamWrite =
        if (frozen) None
        else Some(inf =>
          new graft.streaming.GraftStreamingWrite(spark, dir, inf)))
  }

  /** CREATE TABLE / CTAS: every table is a manifest table and accepts
    * ANY top-level DDL schema — the creation-time schema persists as
    * the table's base schema sidecar and all DML/time-travel/CDF
    * machinery applies to it; the `document_url` fast lanes (bloom
    * stats, keyed upsert/delete, point reads) exist exactly when the
    * schema carries a STRING `document_url` column. `PARTITIONED BY`
    * (identity transforms only) makes partition columns
    * stats-clustered write columns — every write clusters rows by
    * them, so the per-file min/max stats prune partition predicates
    * to a strict file subset (Hive pruning as data skipping, no
    * directory-per-value tree). `TBLPROPERTIES ('format'='manifest')`
    * is accepted; any other `format`, or the retired `buckets`
    * property, refuses loudly — never silently.
    */
  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val dir = tableDir(ident)
    val props = properties.asScala
    if (props.get("format").exists(_ != "manifest") ||
        props.contains("buckets"))
      throw new UnsupportedOperationException(
        s"$catalogName.${ident.name()}: graft tables are manifest " +
          "tables — TBLPROPERTIES 'format' accepts only 'manifest' and " +
          "'buckets' is not supported (got " +
          props.view.filterKeys(k => k == "format" || k == "buckets")
            .map { case (k, v) => s"'$k'='$v'" }.mkString(", ") + ")")
    val partCols: Seq[String] = partitions.toSeq.map { t =>
      if (t.name != "identity" || t.references.length != 1 ||
          t.references.head.fieldNames.length != 1)
        throw new UnsupportedOperationException(
          s"$catalogName.${ident.name()}: only identity PARTITIONED BY " +
            s"columns are supported, got $t")
      t.references.head.fieldNames.head
    }
    val chunkSchema = ChunkStore.schema
    val custom = schema.nonEmpty &&
      schema.fields.map(f => (f.name.toLowerCase, f.dataType)).toSeq !=
        chunkSchema.fields.map(f => (f.name.toLowerCase, f.dataType)).toSeq
    // the empty LOG is the empty manifest table
    new ManifestTableFormat(spark, dir, chunkSchema)
      .initializeTable(if (custom) Some(schema) else None, partCols)
    loadTable(ident)
  }

  /** Schema evolution on manifest-format tables — all metadata-only,
    * never a data rewrite: `ADD COLUMN` (nullable, top-level,
    * appended; old files read NULL), `DROP COLUMN` (evolved columns
    * only), and `RENAME COLUMN` (v5 column mapping: the stable
    * physical name keeps data files and per-file stats valid; a
    * dropped name can be re-added because the re-add allocates a
    * fresh physical name). Everything else — type changes, NOT NULL,
    * nested/positioned adds — refuses loudly: a
    * 100 TB table must never be silently committed to a full rewrite
    * by a DDL statement.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!ManifestLog.isTable(fs, new Path(dir)))
      throw new UnsupportedOperationException(
        s"$catalogName.${ident.name()}: ALTER TABLE needs the manifest " +
          "table format")
    val mtf = new ManifestTableFormat(spark, dir, ChunkStore.schema)
    changes.foreach {
      case add: TableChange.AddColumn =>
        if (add.fieldNames().length != 1)
          throw new UnsupportedOperationException(
            s"$catalogName.${ident.name()}: only top-level ADD COLUMN " +
              s"is supported, got ${add.fieldNames().mkString(".")}")
        if (!add.isNullable)
          throw new UnsupportedOperationException(
            s"$catalogName.${ident.name()}: added columns must be " +
              "nullable — files written before the ALTER read the " +
              "column as NULL")
        if (add.position() != null)
          throw new UnsupportedOperationException(
            s"$catalogName.${ident.name()}: FIRST/AFTER positions are " +
              "not supported — new columns append at the end (old " +
              "files' layout is immutable)")
        mtf.addColumn(add.fieldNames()(0), add.dataType())
      case del: TableChange.DeleteColumn =>
        if (del.fieldNames().length != 1)
          throw new UnsupportedOperationException(
            s"$catalogName.${ident.name()}: only top-level DROP COLUMN " +
              s"is supported, got ${del.fieldNames().mkString(".")}")
        // metadata-only; evolved columns only (base columns refuse by
        // physical identity); re-adding a dropped name is safe — the
        // format allocates a fresh physical name (v5 column mapping)
        mtf.dropColumn(del.fieldNames()(0))
      case ren: TableChange.RenameColumn =>
        if (ren.fieldNames().length != 1)
          throw new UnsupportedOperationException(
            s"$catalogName.${ident.name()}: only top-level RENAME " +
              s"COLUMN is supported, got ${ren.fieldNames().mkString(".")}")
        // one metadata commit: the stable physical name keeps data
        // files and their stats valid; only the logical name moves
        mtf.renameColumn(ren.fieldNames()(0), ren.newName())
      case other => throw new UnsupportedOperationException(
        s"$catalogName.${ident.name()}: unsupported ALTER $other — " +
          "only ADD/DROP/RENAME COLUMN (nullable, top-level) evolves " +
          "a graft table")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = new Path(tableDir(ident))
    fs.exists(p) && fs.delete(p, true)
  }

  override def renameTable(old: Identifier, next: Identifier): Unit =
    throw new UnsupportedOperationException("RENAME is not supported")

  // ---- stored procedures (the Iceberg convention: operations the
  // DML grammar lacks — MERGE by key, store maintenance — reachable
  // as `CALL <catalog>.<proc>(...)`) ---------------------------------

  /** The log handle of `tableName`; procedures run on manifest tables
    * only.
    */
  private def manifestFor(tableName: String): ManifestTableFormat = {
    val dir = s"$warehouse/$tableName"
    if (!fs.exists(new Path(dir)))
      throw new NoSuchTableException(Identifier.of(Array.empty, tableName))
    ChunkStore.requireManifestLayout(spark, dir)
    if (!ManifestLog.isTable(fs, new Path(dir)))
      throw new UnsupportedOperationException(
        s"$catalogName.$tableName is not a manifest-format table — " +
          "procedures operate on the commit log")
    new ManifestTableFormat(spark, dir, ChunkStore.schema)
  }

  private def procedure(
      pname: String,
      params: Seq[String],
      descr: String)(run: Seq[String] => Unit): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = pname
      override def description(): String = descr
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = pname
          override def description(): String = descr
          override def parameters(): Array[ProcedureParameter] =
            params.map(p => ProcedureParameter
              .in(p, org.apache.spark.sql.types.StringType).build()).toArray
          override def isDeterministic: Boolean = false
          override def call(input: InternalRow)
              : util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
            run(params.indices.map(i => input.getUTF8String(i).toString))
            util.Collections.emptyIterator()
          }
        }
    }

  /** A procedure that RETURNS rows (the Spark 4 `BoundProcedure`
    * result-set path, via a driver-local [[LocalScan]]): operation
    * summaries — a handful of longs — not data (data reads go through
    * the table surface).
    */
  /** String-parameter procedure; the last `defaulted` parameters are
    * OPTIONAL (SQL default `''`), so older call sites keep working
    * when a procedure grows trailing options.
    */
  private def rowProcedure(
      pname: String,
      params: Seq[String],
      descr: String,
      resultSchema: StructType,
      defaulted: Int = 0)(
      run: Seq[String] => Array[InternalRow]): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = pname
      override def description(): String = descr
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = pname
          override def description(): String = descr
          override def parameters(): Array[ProcedureParameter] =
            params.zipWithIndex.map { case (p, i) =>
              val b = ProcedureParameter
                .in(p, org.apache.spark.sql.types.StringType)
              (if (i >= params.size - defaulted) b.defaultValue("''")
               else b).build()
            }.toArray
          override def isDeterministic: Boolean = false
          override def call(input: InternalRow): util.Iterator[Scan] = {
            val out =
              run(params.indices.map(i => input.getUTF8String(i).toString))
            util.Collections.singletonList[Scan](new LocalScan {
              override def rows(): Array[InternalRow] = out
              override def readSchema(): StructType = resultSchema
            }).iterator()
          }
        }
    }

  private def longsRow(vs: Long*): Array[InternalRow] = Array(
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      vs.map(v => v: Any).toArray))

  /** Result rows mixing strings and longs (strings as UTF8String —
    * the InternalRow contract a LocalScan serves).
    */
  private def mixedRows(rows: Seq[Seq[Any]]): Array[InternalRow] =
    rows.map { vs =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        vs.map {
          case s: String =>
            org.apache.spark.unsafe.types.UTF8String.fromString(s): Any
          case other => other
        }.toArray)
    }.toArray

  private lazy val procedures: Map[String, UnboundProcedure] = Seq(
    procedure("merge_into", Seq("table", "source"),
      "A17 keyed upsert: MERGE the rows of <source> (any view/table " +
        "name the session resolves) into <table> by document_url — " +
        "last writer wins per document")(args =>
      manifestFor(args(0)).merge(spark.table(args(1)))),
    procedure("delete_documents", Seq("table", "source"),
      "A20 delete: drop every document whose url appears in the first " +
        "column of <source>")(args => {
      // frame-native: the url set never collects to the driver — a
      // delete keyed by a large source table stays a Spark anti-join
      // all the way down (ManifestTableFormat.delete(DataFrame))
      val src = spark.table(args(1))
      manifestFor(args(0)).delete(src.select(
        org.apache.spark.sql.functions.col(src.columns.head)
          .cast("string").as("document_url")))
    }),
    procedure("compact", Seq("table"),
      "A21 maintenance: rewrite small files into target-size files " +
        "in one log commit")(args =>
      manifestFor(args(0)).compact()),
    rowProcedure("compact_where", Seq("table", "predicate"),
      "predicate-scoped OPTIMIZE for manifest tables: bin-pack only " +
        "the small files whose stats overlap <predicate> (a SQL " +
        "boolean expression) — the maintenance sweep a 100 TB table " +
        "runs instead of a full rewrite; returns the file count " +
        "rewritten",
      StructType(Seq(
        StructField("files_rewritten", LongType, nullable = false))))(
      args => longsRow(manifestFor(args(0)).compactWhere(
        org.apache.spark.sql.functions.expr(args(1))))),
    procedure("compact_zorder", Seq("table", "columns"),
      "B11 clustering for manifest tables: rewrite the live set " +
        "z-ordered on <columns> (comma-separated) in one " +
        "copy-on-write commit — the new files' per-column stats then " +
        "serve selective predicates through file skipping")(args =>
      manifestFor(args(0)).compactZorder(
        args(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq)),
    rowProcedure("compact_zorder_where",
      Seq("table", "columns", "predicate"),
      "predicate-scoped z-order compaction (Delta OPTIMIZE WHERE " +
        "ZORDER BY): re-cluster only the small files whose stats " +
        "overlap <predicate> on the morton curve of <columns> — a " +
        "maintenance tick sweeps the fragmented region, never the " +
        "table; returns files rewritten",
      StructType(Seq(
        StructField("files_rewritten", LongType, nullable = false))))(
      args => longsRow(manifestFor(args(0)).compactZorderWhere(
        args(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq,
        org.apache.spark.sql.functions.expr(args(2))))),
    procedure("checkpoint", Seq("table"),
      "manifest log: write a full-state summary entry so replay is " +
        "O(commits since checkpoint)")(args =>
      manifestFor(args(0)).checkpoint()),
    procedure("add_constraint", Seq("table", "name", "check_expr"),
      "named CHECK constraint on a manifest table (T-SQL CHECK): " +
        "every write path enforces <check_expr> (FALSE violates; " +
        "NULL passes, SQL semantics); existing rows validate first " +
        "or the ADD refuses")(args =>
      manifestFor(args(0)).addConstraint(args(1), args(2))),
    procedure("drop_constraint", Seq("table", "name"),
      "drop a named CHECK constraint")(args =>
      manifestFor(args(0)).dropConstraint(args(1))),
    rowProcedure("show_constraints", Seq("table"),
      "list the table's named CHECK constraints",
      StructType(Seq(
        StructField("name", org.apache.spark.sql.types.StringType,
          nullable = false),
        StructField("check_expr", org.apache.spark.sql.types.StringType,
          nullable = false))))(
      args => mixedRows(manifestFor(args(0)).constraints
        .map { case (n, e) => Seq(n, e) })),
    rowProcedure("stream_txns", Seq("table"),
      "streaming transaction high-water marks: (appId, last committed " +
        "batchId) per writer app — has pipeline X delivered batch N yet",
      StructType(Seq(
        StructField("app_id", org.apache.spark.sql.types.StringType,
          nullable = false),
        StructField("last_batch", LongType, nullable = false))))(
      args => mixedRows(manifestFor(args(0)).streamTransactions
        .map { case (a, b) => Seq(a, b) })),
    rowProcedure("restore", Seq("table", "version_or_timestamp"),
      "RESTORE the table to a version's live file set as a NEW " +
        "commit (Delta RESTORE semantics): no data rewrite, history " +
        "keeps moving forward, vacuumed bytes fail loudly before " +
        "anything commits. The target is a version number, epoch " +
        "millis, or an ISO timestamp (resolved via the commit " +
        "clock); returns (files_restored, files_removed)",
      StructType(Seq(
        StructField("files_restored", LongType, nullable = false),
        StructField("files_removed", LongType, nullable = false))))(
      args => {
        val mtf = manifestFor(args(0))
        val raw = args(1).trim
        // version numbers are small; epoch millis are 13 digits — a
        // pure number above the table's latest version reads as a
        // timestamp, anything else as a version
        val target =
          if (raw.matches("\\d+")) {
            val n = raw.toLong
            if (n <= mtf.version) n else mtf.versionAtTimestamp(n)
          } else mtf.versionAtTimestamp(
            java.sql.Timestamp.valueOf(raw).getTime)
        val (a, r) = mtf.restore(target)
        longsRow(a, r)
      }),
    rowProcedure("table_stats", Seq("table"),
      "manifest metadata summary from the log's per-file stats alone " +
        "(no data scan, no per-file RPCs): current version, live " +
        "file/row/byte counts — rows/bytes are -1 when any live file " +
        "predates the stat (pre-v3 action; the next rewrite " +
        "re-records it)",
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("files", LongType, nullable = false),
        StructField("rows", LongType, nullable = false),
        StructField("bytes", LongType, nullable = false))))(
      args => {
        val (v, nFiles, nRows, nBytes) =
          manifestFor(args(0)).tableStats()
        longsRow(v, nFiles, nRows, nBytes)
      }),
    rowProcedure("vacuum", Seq("table"),
      "manifest log: reclaim unreferenced data files and subsumed " +
        "log entries; returns what was reclaimed",
      StructType(Seq(
        StructField("data_files_reclaimed", LongType, nullable = false),
        StructField("log_entries_reclaimed", LongType, nullable = false))))(
      args => {
        val (nData, nLog) = manifestFor(args(0)).vacuum()
        longsRow(nData, nLog)
      }),
    rowProcedure("sync_index", Seq("table", "index_path"),
      "D3i index-follows-table: advance the persistent vector index " +
        "at <index_path> to <table>'s current version by replaying " +
        "the table's change feed (content-addressed chunk ids; " +
        "idempotent — safe to re-run); returns the span and row " +
        "counts applied",
      StructType(Seq(
        StructField("from_version", LongType, nullable = false),
        StructField("to_version", LongType, nullable = false),
        StructField("appended", LongType, nullable = false),
        StructField("tombstoned", LongType, nullable = false))))(
      args => {
        manifestFor(args(0)) // change feed needs the manifest log
        val st = graft.ops.IndexSync.catchUp(spark,
          s"$warehouse/${args(0)}", args(1),
          graft.ops.IndexSync.chunkPrepare(spark, args(1)))
        longsRow(st.fromVersion, st.toVersion, st.appended, st.tombstoned)
      }),
    rowProcedure("sync_text_index", Seq("table", "index_path"),
      "D3i's text twin: advance the persistent BM25 text index at " +
        "<index_path> to <table>'s current version off the change " +
        "feed (content-addressed chunk ids; idempotent); returns the " +
        "span and row counts applied",
      StructType(Seq(
        StructField("from_version", LongType, nullable = false),
        StructField("to_version", LongType, nullable = false),
        StructField("appended", LongType, nullable = false),
        StructField("tombstoned", LongType, nullable = false))))(
      args => {
        manifestFor(args(0))
        val st = graft.ops.IndexSync.catchUpText(spark,
          s"$warehouse/${args(0)}", args(1),
          graft.ops.IndexSync.chunkTextPrepare(spark, args(1)))
        longsRow(st.fromVersion, st.toVersion, st.appended, st.tombstoned)
      }),
    rowProcedure("history", Seq("table"),
      "manifest log: the surviving commit history, oldest first — " +
        "one row per on-disk log object (version, commit epoch-ms, " +
        "add/remove action counts, kind commit|schema|checkpoint); " +
        "how far back rows reach is how far time travel reaches",
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("timestamp_ms", LongType, nullable = false),
        StructField("adds", LongType, nullable = false),
        StructField("removes", LongType, nullable = false),
        StructField("kind",
          org.apache.spark.sql.types.StringType, nullable = false))))(
      args => manifestFor(args(0)).history().map {
        case (v, ts, a, r, k) =>
          new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(Array[Any](v, ts, a, r,
              org.apache.spark.unsafe.types.UTF8String.fromString(k)))
            : InternalRow
      }.toArray),
    rowProcedure("vacuum_retain", Seq("table", "retain_ms"),
      "manifest log: vacuum with a RETENTION window — unreferenced " +
        "data files younger than <retain_ms> survive, protecting " +
        "scans planned against a pre-vacuum snapshot; returns what " +
        "was reclaimed",
      StructType(Seq(
        StructField("data_files_reclaimed", LongType, nullable = false),
        StructField("log_entries_reclaimed", LongType, nullable = false))))(
      args => {
        val (nData, nLog) =
          manifestFor(args(0)).vacuum(args(1).trim.toLong)
        longsRow(nData, nLog)
      }),
    rowProcedure("vacuum_dry_run", Seq("table"),
      "manifest log: what vacuum WOULD reclaim (same dead-file / " +
        "stale-log detection, nothing deleted) — look before you " +
        "leap on a table whose clones or pinned scans may still " +
        "reference shared bytes",
      StructType(Seq(
        StructField("data_files_reclaimable", LongType, nullable = false),
        StructField("log_entries_reclaimable", LongType, nullable = false))))(
      args => {
        val (nData, nLog) =
          manifestFor(args(0)).vacuum(0L, dryRun = true)
        longsRow(nData, nLog)
      }),
    rowProcedure("clone", Seq("source_table", "target_table"),
      "manifest log: SHALLOW CLONE — fork <source_table> into the " +
        "new table <target_table> by copying its commit log only " +
        "(data files are shared by absolute reference; O(log " +
        "objects), never O(data)). The fork carries FULL history: " +
        "time travel, schema eras, CHECK constraints, CDF and " +
        "stream txn markers all carry over; writes after the fork " +
        "are invisible across it in both directions. CAVEAT: vacuum " +
        "on the SOURCE can reclaim shared files a clone still " +
        "references — vacuum cloned-from tables only after clones " +
        "are dropped or compacted (clone-side vacuum is always safe)",
      StructType(Seq(
        StructField("log_objects_copied", LongType, nullable = false),
        StructField("version", LongType, nullable = false))))(
      args => {
        manifestFor(args(0)) // refuses on non-manifest sources
        val copied = ManifestLog.cloneLog(spark,
          s"$warehouse/${args(0)}", s"$warehouse/${args(1)}")
        longsRow(copied, manifestFor(args(1)).version)
      }),
    rowProcedure("create_branch", Seq("table", "branch"),
      "manifest log: fork a BRANCH (write-audit-publish, the " +
        "Iceberg branch idea) — a self-contained copy of the commit " +
        "log under the table; branch writes (Scala branch handle / " +
        "stream) share the table's data namespace and stay " +
        "invisible to main until CALL fast_forward publishes them. " +
        "Audit the branch with SELECT ... VERSION AS OF '<branch>'. " +
        "Returns the fork version",
      StructType(Seq(
        StructField("fork_version", LongType, nullable = false))))(
      args => longsRow(manifestFor(args(0)).createBranch(args(1)))),
    rowProcedure("fast_forward", Seq("table", "branch"),
      "manifest log: PUBLISH a branch — land its post-fork commits " +
        "on main as ONE atomic squash commit of their net data " +
        "actions (in-branch add+remove cancels; deletion vectors " +
        "and stream txn markers carry over). STRICT: refuses if " +
        "main advanced past the fork (the audit certified the " +
        "forked state; re-branch and re-audit). Returns the " +
        "published file delta",
      StructType(Seq(
        StructField("files_added", LongType, nullable = false),
        StructField("files_removed", LongType, nullable = false))))(
      args => {
        val (a, r) = manifestFor(args(0)).fastForward(args(1))
        longsRow(a, r)
      }),
    procedure("drop_branch", Seq("table", "branch"),
      "manifest log: drop a branch's log fork; files only it " +
        "referenced reclaim on the next vacuum")(args =>
      manifestFor(args(0)).dropBranch(args(1))),
    rowProcedure("list_branches", Seq("table"),
      "manifest log: the table's branches and their fork versions",
      StructType(Seq(
        StructField("branch", org.apache.spark.sql.types.StringType,
          nullable = false),
        StructField("fork_version", LongType, nullable = false))))(
      args => mixedRows(manifestFor(args(0)).listBranches
        .map { case (b, v) => Seq(b, v) })),
    procedure("set_bloom_columns", Seq("table", "columns"),
      "declare per-column BLOOM FILTERS (the Delta bloom-filter-index " +
        "idea at file-skipping granularity): every future write " +
        "records a per-file bloom over each listed column " +
        "(comma-separated; string/integral/date/timestamp), and an " +
        "equality probe on it prunes files min/max never could " +
        "(high-cardinality unclustered columns). Existing files fail " +
        "open until rewritten; re-declaring replaces the set")(args =>
      manifestFor(args(0)).recordBloomColumns(
        args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq)),
    rowProcedure("analyze", Seq("table", "columns"),
      "ANALYZE (the Iceberg Puffin idea): one DV-aware scan records " +
        "an HLL sketch per listed column (comma-separated; lgK=12, " +
        "~1.6% error) in a version-stamped sidecar; the estimates " +
        "feed the planner's distinct-count statistics and CALL ndv. " +
        "Re-run on the maintenance cadence, like OPTIMIZE",
      StructType(Seq(
        StructField("column", org.apache.spark.sql.types.StringType,
          nullable = false),
        StructField("ndv", LongType, nullable = false),
        StructField("analyzed_version", LongType, nullable = false))))(
      args => {
        val (v, est) = manifestFor(args(0)).analyzeNdv(
          args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        mixedRows(est.toSeq.sortBy(_._1).map { case (c, n) =>
          Seq(c, n, v) })
      }),
    rowProcedure("ndv", Seq("table"),
      "the newest ANALYZE's distinct-count estimates, with the " +
        "analyzed and current versions so staleness is visible; " +
        "refuses if the table was never analyzed",
      StructType(Seq(
        StructField("column", org.apache.spark.sql.types.StringType,
          nullable = false),
        StructField("ndv", LongType, nullable = false),
        StructField("analyzed_version", LongType, nullable = false),
        StructField("current_version", LongType, nullable = false))))(
      args => {
        val mtf = manifestFor(args(0))
        val (v, est) = mtf.ndvInfo.getOrElse(
          throw new IllegalStateException(
            s"${args(0)} was never analyzed — CALL analyze first"))
        val cur = mtf.version
        mixedRows(est.toSeq.sortBy(_._1).map { case (c, n) =>
          Seq(c, n, v, cur) })
      }),
    rowProcedure("sync_agg",
      Seq("table", "agg_table", "group_cols", "sum_cols",
        "min_cols", "max_cols"),
      "incremental aggregate maintenance: advance the derived GROUP " +
        "BY table <agg_table> (count + SQL-semantics sum + non-null " +
        "count per <sum_cols> measure, plus optional MIN/MAX per " +
        "<min_cols>/<max_cols>; comma-separated column lists) " +
        "to <table>'s head off the change feed — O(churn), " +
        "exactly-once (the delta merge carries a txn marker " +
        "atomically). Creates <agg_table> on first call; AVG = " +
        "sum/nn at read time; MIN/MAX delta-apply inserts and " +
        "bounded-recompute only groups whose held extremum a delete " +
        "endangered (file-pruned by group-key stats). Sync at least " +
        "as often as the source's checkpoint+vacuum cadence (CDF " +
        "retention)",
      StructType(Seq(
        StructField("from_version", LongType, nullable = false),
        StructField("to_version", LongType, nullable = false),
        StructField("groups_touched", LongType, nullable = false))),
      defaulted = 2)(
      args => {
        manifestFor(args(0)) // change feed needs the manifest log
        val split = (s: String) =>
          s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val st = graft.pipeline.IncrementalAgg.catchUp(spark,
          s"$warehouse/${args(0)}", s"$warehouse/${args(1)}",
          split(args(2)), split(args(3)),
          split(args(4)), split(args(5)))
        longsRow(st.fromVersion, st.toVersion, st.groups)
      }),
    rowProcedure("auto_optimize",
      Seq("table", "index_paths", "text_index_paths", "agg_tables",
        "target_file_bytes"),
      "log-stats-driven maintenance policy (graft.ops.AutoOptimize): " +
        "ONE call reads the manifest's own gauges and runs exactly " +
        "the needed subset, in order — rewrite_dvs past the DV-debt " +
        "thresholds (any file >=50% tombstoned, table >=5%, or >=64 " +
        "DV'd files), RECLUSTER when >=30% of live files postdate " +
        "the recorded z-order spec (subsumes compaction), small-file " +
        "compaction at >=4 files under target, catch-up for the " +
        "named derived artifacts (vector/text indexes by path, agg " +
        "tables by name — specs derive from the agg tables " +
        "themselves), and a report-only vacuum dry run. Optional " +
        "args: comma-separated lists, empty = none; " +
        "target_file_bytes defaults to the format's target",
      StructType(Seq(
        StructField("version_before", LongType, nullable = false),
        StructField("version_after", LongType, nullable = false),
        StructField("dv_files_purged", LongType, nullable = false),
        StructField("files_compacted", LongType, nullable = false),
        StructField("reclustered", LongType, nullable = false),
        StructField("index_appended", LongType, nullable = false),
        StructField("index_tombstoned", LongType, nullable = false),
        StructField("agg_groups", LongType, nullable = false),
        StructField("reclaimable_data_files", LongType, nullable = false),
        StructField("reclaimable_log_entries", LongType, nullable = false),
        StructField("actions", StringType, nullable = false))),
      defaulted = 4)(
      args => {
        manifestFor(args(0))
        val split = (s: String) =>
          s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val r = graft.ops.AutoOptimize.run(spark,
          s"$warehouse/${args(0)}",
          indexPaths = split(args(1)),
          textIndexPaths = split(args(2)),
          aggPaths = split(args(3)).map(t => s"$warehouse/$t"),
          targetFileBytes =
            if (args(4).trim.isEmpty)
              ManifestTableFormat.defaultTargetFileBytes
            else args(4).trim.toLong)
        mixedRows(Seq(Seq(
          r.versionBefore, r.versionAfter, r.dvFilesPurged,
          r.filesCompacted, if (r.reclustered) 1L else 0L,
          r.indexAppended, r.indexTombstoned, r.aggGroups,
          r.reclaimableDataFiles, r.reclaimableLogEntries,
          if (r.actions.isEmpty) "none" else r.actions.mkString("; "))))
      }),
    rowProcedure("dv_stats", Seq("table"),
      "deletion-vector observability: (files with a vector, total " +
        "tombstoned rows, live rows) from the log alone — the " +
        "merge-on-read debt gauge that tells the operator when CALL " +
        "rewrite_dvs / compact is due",
      StructType(Seq(
        StructField("dv_files", LongType, nullable = false),
        StructField("deleted_rows", LongType, nullable = false),
        StructField("live_rows", LongType, nullable = false))))(
      args => {
        val m = manifestFor(args(0))
        val pairs = m.liveFilesWithDv
        val dvd = pairs.flatMap(_._2)
        val (_, _, liveRows, _) = m.tableStats()
        longsRow(dvd.size.toLong, dvd.map(_.card).sum, liveRows)
      }),
    rowProcedure("rewrite_dvs", Seq("table"),
      "manifest log: MATERIALIZE deletion vectors (the Delta `REORG " +
        "TABLE … APPLY (PURGE)` idea) — every DV-carrying live file " +
        "rewrites without its deleted rows and drops the reference, " +
        "returning reads to the zero-overhead stats-pruned scan; " +
        "returns the number of files purged. Merge-on-read DELETEs " +
        "(SET spark.graft.deletionVectors=true) commit O(deleted " +
        "rows); this is the deferred rewrite, on the operator's " +
        "maintenance cadence",
      StructType(Seq(
        StructField("files_purged", LongType, nullable = false))))(
      args => longsRow(manifestFor(args(0)).rewriteDvs())),
    // ---- SQL surface for the D25/D27/D28 operators (the stores'
    // users are SQL-first; Scala-only operators are unreachable for
    // them). Pattern: <source> is any table/view name the session
    // resolves (the merge_into convention); large results register as
    // a TEMP VIEW the caller then SELECTs — only operation-summary
    // longs return through the procedure result set.
    rowProcedure("train_quality_classifier",
      Seq("source", "text_col", "label_expr", "model_path"),
      "D25: fit the two-channel (word + char-trigram) hashed logistic " +
        "quality model on <source>; <label_expr> is a SQL expression " +
        "evaluating to 1 (keep) / 0 (reject) per row; the fitted " +
        "model persists at <model_path> (spark.ml writer format). " +
        "Train on a D7-sampled slice at corpus scale (SCALE.md D25).",
      StructType(Seq(
        StructField("rows_trained", LongType, nullable = false))))(
      args => {
        val df = spark.table(args(0))
        val model = graft.ops.QualityClassifier.train(df, args(1),
          org.apache.spark.sql.functions.expr(args(2)))
        graft.ops.QualityClassifier.save(model, args(3))
        longsRow(df.count())
      }),
    rowProcedure("score_quality",
      Seq("source", "model_path", "out_view"),
      "D25: score <source> with the model at <model_path> (the " +
        "source must carry the column the model was trained on); " +
        "registers <out_view> = source plus `quality_prob` " +
        "(exchange-free per-row scoring) and returns the row count",
      StructType(Seq(
        StructField("rows_scored", LongType, nullable = false))))(
      args => {
        val model = graft.ops.QualityClassifier.load(spark, args(1))
        val scored = graft.ops.QualityClassifier
          .score(spark.table(args(0)), model)
        scored.createOrReplaceTempView(args(2))
        longsRow(scored.count())
      }),
    rowProcedure("semantic_chunk",
      Seq("source", "id_col", "text_col", "out_view"),
      "D27: semantic (embedding-drift) chunking of <source>'s " +
        "<text_col>, one row per chunk keyed by <id_col>; registers " +
        "<out_view> (id, chunk_number, chunk_text, n_sentences) and " +
        "returns the chunk count",
      StructType(Seq(
        StructField("n_chunks", LongType, nullable = false))))(
      args => {
        val out = graft.chunk.SemanticChunker.chunk(
          spark.table(args(0)), args(1), args(2))
        out.createOrReplaceTempView(args(3))
        longsRow(out.count())
      }),
    rowProcedure("fuzzy_pairs",
      Seq("source", "id_col", "str_col", "max_dist", "out_view"),
      "D28: all unordered pairs of <source> rows whose <str_col> " +
        "values are within levenshtein <max_dist> (1 or 2) — " +
        "deletion-neighborhood blocked, exact-verified; registers " +
        "<out_view> (id1, s1, id2, s2, dist) and returns the pair " +
        "count",
      StructType(Seq(
        StructField("n_pairs", LongType, nullable = false))))(
      args => {
        val out = graft.ops.FuzzyJoin.similarPairs(
          spark.table(args(0)), args(1), args(2), args(3).trim.toInt)
        out.createOrReplaceTempView(args(4))
        longsRow(out.count())
      })
  ).map(p => p.name() -> p).toMap

  override def listProcedures(namespace: Array[String]): Array[Identifier] = {
    if (namespace.nonEmpty) throw new NoSuchNamespaceException(namespace)
    procedures.keys.toArray.sorted.map(Identifier.of(Array.empty, _))
  }

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    if (ident.namespace().nonEmpty)
      throw new NoSuchNamespaceException(ident.namespace())
    procedures.getOrElse(ident.name(),
      throw new UnsupportedOperationException(
        s"unknown procedure ${ident.name()}; available: " +
          procedures.keys.toSeq.sorted.mkString(", ")))
  }

  // ---- namespaces (single flat namespace) --------------------------

  override def listNamespaces(): Array[Array[String]] = Array.empty

  override def listNamespaces(ns: Array[String]): Array[Array[String]] =
    if (ns.isEmpty) Array.empty else throw new NoSuchNamespaceException(ns)

  override def namespaceExists(ns: Array[String]): Boolean = ns.isEmpty

  override def loadNamespaceMetadata(
      ns: Array[String]): util.Map[String, String] =
    if (ns.isEmpty) util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(ns)

  override def createNamespace(
      ns: Array[String], meta: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft is a flat catalog; namespaces are not supported")

  override def alterNamespace(
      ns: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft is a flat catalog; namespaces are not supported")

  override def dropNamespace(
      ns: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException(
      "graft is a flat catalog; namespaces are not supported")
}

/** One resolved graft table: a pinned manifest snapshot and the
  * write hooks its handle allows. Scans plan through the snapshot's
  * stats-pruned parquet DataSourceV2 so pushdown/pruning/vectorization
  * are the built-in ones; inserts route through the log's A18 append
  * via the `V1_BATCH_WRITE` bridge.
  */
private[graft] class GraftTable(
    tableName: String,
    spark: SparkSession,
    /** The pinned manifest snapshot the scan builders and the optimizer
      * rules ([[graft.plans.MetadataFilteredCount]], [[graft.plans
      * .DvColumnarRead]]) read.
      */
    private[graft] val pinned: graft.sink.PinnedScan,
    insert: Option[DataFrame => Unit],
    deleteDocs: Option[Seq[String] => Unit] = None,
    updateRows: Option[
      (Option[org.apache.spark.sql.Column],
        Seq[(String, org.apache.spark.sql.Column)]) => Unit] = None,
    deleteRows: Option[org.apache.spark.sql.Column => Unit] = None,
    mergeHook: Option[
      (DataFrame, org.apache.spark.sql.Column,
        Seq[graft.sink.GraftMergeAction],
        Seq[graft.sink.GraftMergeAction],
        Seq[graft.sink.GraftMergeAction],
        Option[DataFrame]) => Unit] = None,
    overwriteHook: Option[DataFrame => Unit] = None,
    truncateHook: Option[() => Unit] = None,
    streamWrite: Option[
      org.apache.spark.sql.connector.write.LogicalWriteInfo =>
        org.apache.spark.sql.connector.write.streaming.StreamingWrite] =
      None)
    extends Table
    with SupportsRead with SupportsWrite with GraftUpdatable
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  /** SQL `UPDATE` hook ([[GraftUpdatable]]): routed by
    * `graft.plans.GraftDmlStrategy` to the manifest format's
    * copy-on-write rewrite. Only the head snapshot of a
    * manifest-format table is updatable — frozen time-travel reads
    * refuse with the reason.
    */
  override def updateWhere(
      condition: Option[org.apache.spark.sql.Column],
      set: Seq[(String, org.apache.spark.sql.Column)]): Unit =
    updateRows.getOrElse(throw new UnsupportedOperationException(
      s"$tableName does not support SQL UPDATE (time-travel reads are " +
        "frozen history)"))(
      condition, set)

  /** Row-level DELETE hook: predicates beyond the url-keyed
    * `SupportsDelete` surface route here (manifest head only).
    */
  override def deleteRowsWhere(
      condition: org.apache.spark.sql.Column): Unit =
    deleteRows.getOrElse(throw new UnsupportedOperationException(
      s"$tableName: row-level DELETE supports only the manifest " +
        "table format's head snapshot (time travel is frozen)"))(
      condition)

  /** SQL MERGE INTO hook ([[GraftUpdatable]]). */
  override def mergeRows(
      source: DataFrame,
      onCond: org.apache.spark.sql.Column,
      matched: Seq[graft.sink.GraftMergeAction],
      notMatched: Seq[graft.sink.GraftMergeAction],
      notMatchedBySource: Seq[graft.sink.GraftMergeAction],
      urlProbe: Option[DataFrame]): Unit =
    mergeHook.getOrElse(throw new UnsupportedOperationException(
      s"$tableName: MERGE INTO supports only the manifest table " +
        "format's head snapshot (time travel is frozen)"))(
      source, onCond, matched, notMatched, notMatchedBySource, urlProbe)

  /** `DELETE FROM <cat>.<table> WHERE …` maps to the store's A20
    * whole-document delete when — and only when — the predicate is a
    * conjunction of `document_url` equality/IN terms (the table's
    * delete unit IS the document; anything finer would need
    * row-level-operation rewrite plumbing). Unsupported predicates
    * and unqualified DELETE/TRUNCATE refuse loudly — a whole-table
    * wipe goes through DROP TABLE or the store API, not a typo'd
    * DELETE.
    */
  private def urlSet(
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Option[Seq[String]] = {
    import org.apache.spark.sql.sources._
    var constraint: Option[Set[String]] = None
    def and(vs: Set[String]): Unit =
      constraint = Some(constraint.fold(vs)(_ intersect vs))
    filters.foreach {
      case IsNotNull("document_url") => // implied by equality; no-op
      case EqualTo("document_url", v: String) => and(Set(v))
      case EqualNullSafe("document_url", v: String) => and(Set(v))
      case In("document_url", vs)
          if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        and(vs.map(_.asInstanceOf[String]).toSet)
      case _ => return None
    }
    constraint.map(_.toSeq.sorted)
  }

  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    deleteDocs.nonEmpty && urlSet(filters).nonEmpty

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val doDelete = deleteDocs.getOrElse(
      throw new UnsupportedOperationException(
        s"$tableName does not support SQL DELETE (time-travel reads " +
          "are frozen history; key-less tables have no document key)"))
    val urls = urlSet(filters).getOrElse(
      throw new UnsupportedOperationException(
        s"$tableName: DELETE supports document_url equality/IN " +
          "predicates only (the delete unit is the whole document); " +
          s"got ${filters.mkString(", ")}. For keyed bulk deletes use " +
          "CALL <catalog>.delete_documents(table, source)."))
    doDelete(urls)
  }

  /** `TRUNCATE TABLE` on manifest tables: one atomic rm-all commit,
    * reversible via time travel / CALL restore until vacuum — so the
    * DROP-TABLE-instead refusal applies only to handles with no
    * writable history (time travel).
    */
  override def truncateTable(): Boolean = truncateHook match {
    case Some(run) => run(); true
    case None => throw new UnsupportedOperationException(
      s"$tableName: TRUNCATE/unqualified DELETE is refused on " +
        "time-travel reads — wipe via DROP TABLE or the store API, " +
        "explicitly")
  }

  override def name(): String = tableName

  override def schema(): StructType = pinned.schema

  override def capabilities(): util.Set[TableCapability] =
    (Set(TableCapability.BATCH_READ) ++
      insert.map(_ => TableCapability.V1_BATCH_WRITE) ++
      overwriteHook.map(_ => TableCapability.TRUNCATE) ++
      streamWrite.map(_ => TableCapability.STREAMING_WRITE)).asJava

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    if (pinned.hasDv)
      // DELETION-VECTOR snapshot: rows are parquet files MINUS the
      // referenced position deletes — not a plain file scan. On a
      // graft-installed session this ScanBuilder is never planned:
      // graft.plans.DvColumnarRead substitutes the relation with the
      // equivalent vectorized-parquet + broadcast-anti-join logical
      // plan before physical planning. This V1 fallback (the public
      // JDBC-connector seam — TableScan relation whose RDD is the
      // DV-aware frame) keeps results exact on sessions without the
      // rule; filters stay above the relation, nothing claimed
      // pushed. DV-free tables never take this branch.
      new DvV1ScanBuilder(pinned)
    else
      // manifest-native data skipping: the log's per-file stats (url
      // bloom + per-column min/max) shrink the pinned file list from
      // the pushed predicates before parquet plans the read
      new org.apache.spark.sql.graftbridge.ManifestStatsScanBuilder(
        spark, tableName, pinned, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val doInsert = insert.getOrElse(throw new UnsupportedOperationException(
      s"$tableName is read-only through SQL (time-travel reads are " +
        "frozen history)"))
    // INSERT OVERWRITE arrives as the TRUNCATE write mode (the V1
    // fallback always calls insert(df, false); the mode lives in the
    // builder) — manifest tables map it to one atomic rm-all+add
    // commit; other layouts never advertise the capability
    new WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var overwriteMode = false
      override def truncate(): WriteBuilder = {
        overwriteMode = true; this
      }
      override def build(): V1Write = new V1Write
          with org.apache.spark.sql.connector.write
            .RequiresDistributionAndOrdering {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              if (overwriteMode || overwrite)
                overwriteHook.getOrElse(
                  throw new UnsupportedOperationException(
                    s"$tableName: INSERT OVERWRITE needs the manifest " +
                      "table format's head snapshot"))(data)
              else doInsert(data)
            }
          }
        // DSv2 STREAMING_WRITE (claimed in capabilities iff the hook
        // is wired — manifest head snapshots only): Append output
        // only, same as the V1 sink; Complete arrives as truncate()
        // on this builder and refuses here rather than silently
        // appending
        private var builtStreaming: Option[org.apache.spark.sql
          .connector.write.streaming.StreamingWrite] = None
        override def toStreaming
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          require(!overwriteMode,
            s"$tableName streaming sink supports Append output only " +
              "(appends are log-committed; use batch overwrite/merge " +
              "for replaces)")
          val sw = streamWrite.getOrElse(
            throw new UnsupportedOperationException(
              s"$tableName does not support streaming writes " +
                "(manifest-format head snapshots only)"))(info)
          builtStreaming = Some(sw)
          sw
        }
        // Distribution/ordering live on the WRITE in the V2 contract
        // (DistributionAndOrderingUtils inspects this object, after
        // toStreaming in the same V2Writes application). Delegate to
        // the streaming write's requirements ONLY once streaming was
        // requested: the V1 batch lane must stay unspecified, or
        // every INSERT would pay an extra exchange on top of
        // writeData's own range-clustering.
        private def streamingDist = builtStreaming.collect {
          case s: org.apache.spark.sql.connector.write
              .RequiresDistributionAndOrdering => s
        }
        override def requiredDistribution()
            : org.apache.spark.sql.connector.distributions.Distribution =
          streamingDist.map(_.requiredDistribution()).getOrElse(
            org.apache.spark.sql.connector.distributions.Distributions
              .unspecified())
        override def requiredOrdering()
            : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
          streamingDist.map(_.requiredOrdering()).getOrElse(Array.empty)
        override def requiredNumPartitions(): Int =
          streamingDist.map(_.requiredNumPartitions()).getOrElse(0)
      }
    }
  }
}

/** The DSv2 → V1 read fallback for DELETION-VECTOR snapshots: a
  * [[org.apache.spark.sql.connector.read.V1Scan]] whose relation
  * serves the DV-aware DataFrame (parquet scan anti-joined with the
  * referenced position deletes). Nothing is claimed pushed, so every
  * predicate re-applies above the relation — exact results, at the
  * documented merge-on-read scan tax (compaction / CALL rewrite_dvs
  * reclaims the fast path). The same public seam the JDBC connector
  * reads through.
  */
private[graft] class DvV1ScanBuilder(pinned: graft.sink.PinnedScan)
    extends org.apache.spark.sql.connector.read.ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  // COUNT(*) on a DELETION-VECTOR snapshot is pure metadata: the log
  // records every file's row count AND its vector's cardinality, so
  // the live total is Σ(rows − dv_card) — no scan, no anti-join, at
  // any table size. Only CountStar qualifies (extremum/count(col)
  // would need the DELETED rows' values/null-ness, which the vector
  // does not record); any filter keeps the normal read path (this
  // builder pushes no predicates, so Spark never offers a filtered
  // aggregate here). Time-travel pins get no count
  // ([[graft.sink.PinnedScan.liveCount]]).
  private var cachedCount: Option[Option[Long]] = None
  private var pushedCount: Option[Long] = None

  private def countOf(): Option[Long] = {
    if (cachedCount.isEmpty) cachedCount = Some(pinned.liveCount)
    cachedCount.get
  }

  private def countStarOnly(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean =
    agg.groupByExpressions().isEmpty &&
      agg.aggregateExpressions().nonEmpty &&
      agg.aggregateExpressions().forall(_.isInstanceOf[
        org.apache.spark.sql.connector.expressions.aggregate.CountStar])

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean =
    countStarOnly(agg) && countOf().isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = {
    if (!countStarOnly(agg)) return false
    countOf() match {
      case Some(n) => pushedCount = Some(n); true
      case None => false
    }
  }

  override def build(): org.apache.spark.sql.connector.read.Scan = {
    pushedCount.foreach { n =>
      val schema = StructType(Seq(
        StructField("count_star", LongType, nullable = false)))
      return new org.apache.spark.sql.connector.read.LocalScan {
        override def readSchema(): StructType = schema
        override def rows(): Array[InternalRow] = Array(
          new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(Array[Any](n)))
        override def description(): String =
          s"GraftDvCountScan($n)"
        override def toString: String = description()
      }
    }
    new org.apache.spark.sql.connector.read.V1Scan {
      override def readSchema(): StructType = pinned.schema
      override def toV1TableScan[
          T <: org.apache.spark.sql.sources.BaseRelation
            with org.apache.spark.sql.sources.TableScan](
          context: org.apache.spark.sql.SQLContext): T =
        (new org.apache.spark.sql.sources.BaseRelation
            with org.apache.spark.sql.sources.TableScan {
          override def sqlContext: org.apache.spark.sql.SQLContext = context
          override def schema: StructType = pinned.schema
          override def buildScan()
              : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
            pinned.read(pinned.pairs).rdd
        }).asInstanceOf[T]
    }
  }
}
