package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructField, StructType}

import graft.ops.Layout
import graft.sink.ManifestLog.{Action, ColStats, FileStats, Snapshot}
import graft.sink.ManifestTableFormat.{ExactCmp, ExactNull, ExactProbe, FileStat}

/** The manifest-committing table format behind [[ChunkStore]] — the
  * Delta/Iceberg commit model in miniature, implemented on plain
  * parquet + one numbered JSON-lines log (SURVEY A17's "MERGE INTO"
  * mapping, `AzureCosmosDB/.../CosmosDBClientWrapper.cs:36-72`,
  * without the external dependency the sandbox lacks). The log — its
  * files, action codec, replay, checkpoints, history, branches and
  * protocol ledger — is [[ManifestLog]]; this class holds one and
  * adds data writes, DML and stats pruning:
  *
  *  - **Add-actions carry per-file STATS, never key sets.** Each `add`
  *    records a fixed-size bloom filter over the file's document-url
  *    hashes plus the min/max url — O(1) bytes per file regardless of
  *    how many documents the file holds (the Delta/Iceberg per-file
  *    stats idea). The log and the replayed snapshot are O(files);
  *    with the former exact url sets both were O(total documents),
  *    which no multi-million-document table survives.
  *  - **MERGE is copy-on-write, affected files picked by a Spark
  *    job.** The snapshot's stats frame joins the (broadcast,
  *    distinct) incoming url hashes; the bloom test + min/max range
  *    filter select the files that MAY hold a merged document — only
  *    surviving file NAMES reach the driver. Survivor rows are
  *    rewritten with a broadcast ANTI-JOIN against the incoming url
  *    frame (no driver url `Set`, no `isin` In-literal blowup), then
  *    `rm`(affected) + `add`(new) commit in one entry. Bloom false
  *    positives only cost an extra file rewrite; min/max makes
  *    disjoint url ranges free.
  *  - **Writers are optimistic, through one loop** ([[commitLoop]],
  *    every writer but [[fastForward]]). A lost race reloads the log
  *    and checks the attempt's conflict unit: the (file, dv) pairs it
  *    read (copy-on-write DML, both deletion-vector writers), none
  *    (append-only streaming commits), or the whole table (RESTORE,
  *    the metadata claims). If the winner changed a pair it read,
  *    moved the CHECK constraints, or the unit is the whole table, the
  *    staged files are abandoned and the attempt re-runs against the
  *    new snapshot; otherwise it recommits under the next version.
  *    Concurrent writers on disjoint files both land.
  *  - **Readers are snapshot-isolated.** [[read]] plans against the
  *    file list of the snapshot current at call time; `rm` never
  *    deletes bytes, so a concurrent commit cannot change or break a
  *    running scan. [[vacuum]] reclaims unreferenced files on a
  *    maintenance cadence (mind scan retention, as with any
  *    log-structured table).
  *
  * [[ChunkStore]] builds one per store through
  * [[ManifestTableFormat.factory]] (its default), so
  * `new ChunkStore(spark, path)` is a manifest table.
  */
class ManifestTableFormat(
    spark: SparkSession,
    path: String,
    schema: StructType,
    bloomBits: Int = 8192,
    bloomHashes: Int = 5,
    /** BRANCH handle (the Iceberg branch / write-audit-publish idea):
      * `Some(name)` makes this handle read and commit against the
      * branch's own log under `_log/branches/<name>/` — a
      * self-contained fork of the main log created by
      * [[createBranch]] — while DATA files land in the table's shared
      * `data/` namespace, which is what makes [[fastForward]] a pure
      * metadata publish. Branch handles refuse DDL, vacuum, and
      * branch administration (those run on the main handle).
      */
    val branch: Option[String] = None) {

  require(bloomBits % 64 == 0, s"bloomBits must be a multiple of 64: $bloomBits")
  branch.foreach(b => require(ManifestTableFormat.validBranchName(b),
    s"invalid branch name '$b' — use [A-Za-z0-9][A-Za-z0-9_.-]*"))

  /** The table's commit log (a branch handle's: the branch's fork). */
  private[sink] val log = new ManifestLog(spark, path, branch, schema,
    bloomBits, bloomHashes, () => nowMillis)
  private val dataDir = new Path(path, "data")
  // a branch handle only ever points at a FORKED log: a typo'd name
  // must fail here, not bootstrap a rogue branch on first commit
  branch.foreach(b => require(log.exists,
    s"no branch '$b' at $path — createBranch / CALL create_branch first"))
  private def fs = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val maxCommitRetries = 20

  /** OBSERVABILITY PIN for the metadata-only DELETE lane: how many
    * files the most recent `deleteWhere`/`deleteWhereDv` on THIS
    * instance rm'd purely from stats proof (no read, no rewrite), or
    * -1 before any delete ran. The round-11 regression killed the lane
    * SILENTLY — every result stayed correct because the lane
    * fail-closes to copy-on-write, so no oracle gate and no
    * "writes nothing" assertion could see the death. Specs pin this
    * counter > 0 on a provable predicate; a future change that makes
    * `StatsProbes.extractExact` blind again fails a test, not a
    * 100 TB production delete's cost model.
    */
  @volatile var lastMetadataOnlyFiles: Long = -1L

  // ---- table identity: base schema + partition columns --------------
  //
  // A catalog-created table may carry an ARBITRARY creation-time (DDL)
  // schema instead of the chunk shape: the `_base.schema.json` sidecar
  // under `_log/` (written once at CREATE TABLE, never rewritten)
  // overrides the constructor's schema as the evolution floor. The
  // document_url fast lanes (per-file url bloom + lo/hi, keyed
  // upsert/delete, point reads) exist exactly when the base schema
  // carries a STRING `document_url` column; without one those entry
  // points refuse loudly and everything else — INSERT, UPDATE, DELETE,
  // MERGE INTO, time travel, CDF, constraints, compaction — works
  // unchanged (they are schema-generic copy-on-write commits).

  /** True when the url-keyed fast lanes apply: the base schema has a
    * STRING `document_url` column (the chunk shape always does).
    */
  def hasUrlKey: Boolean = log.baseSchema.fields.exists(f =>
    f.name.equalsIgnoreCase("document_url") &&
      f.dataType == org.apache.spark.sql.types.StringType)

  /** Declared partition columns (identity transforms from
    * `PARTITIONED BY`): every write clusters its rows by these before
    * the file write, so each data file covers one (or few) partition
    * values and the per-file min/max stats prune partition predicates
    * to a strict file subset — Hive partition pruning re-expressed as
    * data skipping, without a directory-per-value metastore bomb.
    */
  def partitionColumns: Seq[String] = log.partitionColumns

  /** DECLARE per-column bloom filters (protocol v9 — the Delta bloom
    * filter index idea at FILE-skipping granularity): every future
    * write records, per data file, a fixed-size bloom over
    * `xxhash64(value)` for each declared column, and an equality
    * probe on a declared column prunes files whose bloom excludes the
    * value — the point-set complement of min/max skipping, which
    * cannot prune a high-cardinality UNCLUSTERED column. Existing
    * files are untouched and fail open until rewritten (compaction
    * re-records). Types: string, integral, date, timestamp — kinds
    * whose probe-side literal re-hashes to the write-side hash.
    * Declared by LOGICAL name, recorded PHYSICAL (rename-proof).
    * Re-declaring replaces the set (future files only).
    */
  def recordBloomColumns(cols: Seq[String]): Unit = {
    requireMain("recordBloomColumns")
    import org.apache.spark.sql.types._
    val s = currentSchema
    val phys = cols.map { c =>
      val f = s.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"bloom columns: no column '$c' in ${s.fieldNames.mkString(", ")}"))
      f.dataType match {
        case StringType | IntegerType | LongType | ShortType |
             ByteType | DateType | _: TimestampType => ()
        case dt => throw new IllegalArgumentException(
          s"bloom columns: '$c' is ${dt.simpleString} — supported " +
            "kinds are string, integral, date, timestamp")
      }
      ManifestTableFormat.physicalName(f)
    }
    log.recordBloomColumns(phys)
  }

  /** The declared bloom columns (PHYSICAL names); empty when never
    * declared. Read per call — a declaration after this handle was
    * built still applies to its next write.
    */
  def bloomColumns: Seq[String] = log.bloomColumns

  /** One-time table initialization for catalog CREATE TABLE: persist
    * the DDL schema (when it differs from the chunk shape) and the
    * identity partition columns. Refuses on an already-initialized
    * table — the base schema is immutable by definition (evolution
    * goes through ADD/DROP COLUMN sidecars).
    */
  def initializeTable(
      ddlSchema: Option[StructType],
      partCols: Seq[String]): Unit = {
    val known = ddlSchema.getOrElse(schema).fieldNames
    partCols.foreach(c => require(
      known.exists(_.equalsIgnoreCase(c)),
      s"PARTITIONED BY column '$c' is not in the table schema " +
        s"(${known.mkString(", ")})"))
    log.initialize(ddlSchema, partCols)
  }

  /** Whether row deletes and updates write deletion vectors instead
    * of rewriting files (`spark.graft.deletionVectors`, default off).
    */
  private def dvWrites: Boolean =
    spark.conf.get("spark.graft.deletionVectors", "false").toBoolean

  private def requireUrlKey(what: String): Unit =
    if (!hasUrlKey) throw new UnsupportedOperationException(
      s"table at $path has no STRING document_url column — $what needs " +
        "the url key. Use SQL UPDATE/DELETE/MERGE INTO with explicit " +
        "predicates instead.")

  /** Operations the MAIN handle owns: DDL (fast-forward publishes net
    * DATA actions and cannot squash schema eras), vacuum (it owns the
    * shared `data/` namespace and must see every branch's references),
    * and branch administration itself.
    */
  private def requireMain(what: String): Unit = branch.foreach(b =>
    throw new UnsupportedOperationException(
      s"$what is not available on branch handle '$b' of $path — run it " +
        "on the main table handle (branches carry data commits only; " +
        "publish with fastForward, then apply DDL/maintenance on main)"))

  // ---- schema evolution --------------------------------------------
  //
  // ADD COLUMN is recorded as an immutable `<version>.schema.json`
  // sidecar in the log dir carrying the FULL evolved schema
  // (StructType JSON), linearized by claiming its version with an
  // empty log entry through the same fail-if-exists commit as data.
  // The effective schema at version v is the newest sidecar at or
  // below v (the ctor's base schema before any). Old data files lack
  // the new columns and read as NULL through the explicit read schema
  // — no rewrite, the Delta convention. Sidecars are never vacuumed
  // (bounded by ALTER count, not table size), so time travel across
  // the boundary keeps working after checkpoints prune the entries.
  // Protocol note: a pre-evolution reader knows no schema sidecar and
  // would read evolved tables with the base schema silently — the
  // same one-way-upgrade contract as the parquet-checkpoint bump
  // ([[ManifestLog]]'s protocol ledger); this reader is the
  // compatibility boundary.

  /** Effective schema at `asOf` (−1/any pre-first-commit = base). */
  def schemaAtVersion(asOf: Long): StructType = log.schemaAt(asOf)

  /** The current effective schema (base + committed ADD COLUMNs). */
  def currentSchema: StructType = log.schemaAt(Long.MaxValue)

  /** The linearized metadata commit behind every ALTER and CONSTRAINT
    * change: `change` validates against a fresh snapshot and returns
    * the sidecar write for the version it claims; the version is
    * claimed with an empty entry through the same fail-if-exists
    * commit as data, then the sidecar is written for it. A lost race
    * re-runs `change` against the winner's state (which may refuse:
    * the winner added the same column).
    */
  private def metadataCommit(what: String)(
      change: Snapshot => Long => Unit): Unit = {
    var record: Long => Unit = _ => ()
    commitLoop(what) { snap =>
      record = change(snap)
      Some(Attempt(Nil, None))
    }.foreach(record)
  }

  /** ADD COLUMN: nullable, top-level, default-null read of old files.
    * Incompatible evolution (duplicate name, dropping the nullable
    * guarantee) refuses loudly. Linearized: the new schema's version
    * is claimed with an empty log entry, so concurrent ALTERs
    * serialize and a lost race re-validates against the winner's
    * schema.
    *
    * Column mapping (v5) makes RE-ADDING a previously dropped name
    * safe: the new column gets a FRESH physical name whenever the
    * logical name was ever used physically, so files written while
    * the old column lived cannot resurrect their stale values into
    * the new one — they simply lack the new physical column and read
    * NULL (the hazard the pre-v5 resurrection guard refused on).
    */
  def addColumn(name: String, dataType: org.apache.spark.sql.types.DataType)
      : Unit = {
    requireMain("ALTER TABLE ADD COLUMN")
    metadataCommit("ALTER TABLE") { snap =>
      require(!snap.tableSchema.fieldNames
          .exists(_.equalsIgnoreCase(name)),
        s"ALTER TABLE at $path: column '$name' already exists " +
          s"(schema: ${snap.tableSchema.fieldNames.mkString(", ")})")
      val used = everPhysical
      val phys =
        if (!used.contains(name.toLowerCase)) name
        else {
          var i = snap.version + 1
          while (used.contains(s"${name.toLowerCase}__v$i")) i += 1
          s"${name}__v$i"
        }
      val meta =
        if (phys == name) org.apache.spark.sql.types.Metadata.empty
        else new org.apache.spark.sql.types.MetadataBuilder()
          .putString(ManifestTableFormat.physicalKey, phys).build()
      val next = StructType(snap.tableSchema.fields :+
        StructField(name, dataType, nullable = true, metadata = meta))
      v => log.recordSchema(v, next)
    }
  }

  /** RENAME COLUMN — one metadata commit (protocol v5 column
    * mapping): the field keeps its stable PHYSICAL name (data files
    * and per-file stats are untouched and stay valid) and only the
    * logical name changes in the new schema sidecar. Time travel
    * keeps each era's name ([[schemaAtVersion]]). `document_url` is
    * the url-key contract on tables that have it — renaming it (or
    * renaming anything TO it) refuses, as do collisions with any
    * current logical name.
    */
  def renameColumn(oldName: String, newName: String): Unit = {
    requireMain("ALTER TABLE RENAME COLUMN")
    require(!oldName.equalsIgnoreCase(newName),
      s"RENAME at $path: '$oldName' to itself is a no-op")
    if (hasUrlKey) {
      require(!oldName.equalsIgnoreCase("document_url"),
        s"RENAME at $path: document_url is the table's key column " +
          "(bloom stats, keyed upsert/delete, point reads key on it)")
      require(!newName.equalsIgnoreCase("document_url"),
        s"RENAME at $path: 'document_url' is reserved as the key " +
          "column name")
    }
    metadataCommit("RENAME") { snap =>
      val field = snap.tableSchema.fields
        .find(_.name.equalsIgnoreCase(oldName))
        .getOrElse(throw new IllegalArgumentException(
          s"RENAME at $path: no column '$oldName' " +
            s"(schema: ${snap.tableSchema.fieldNames.mkString(", ")})"))
      require(!snap.tableSchema.fieldNames
          .exists(_.equalsIgnoreCase(newName)),
        s"RENAME at $path: column '$newName' already exists")
      val phys = ManifestTableFormat.physicalName(field)
      val meta = new org.apache.spark.sql.types.MetadataBuilder()
        .putString(ManifestTableFormat.physicalKey, phys).build()
      val next = StructType(snap.tableSchema.fields.map { f =>
        if (f.name.equalsIgnoreCase(oldName))
          StructField(newName, f.dataType, f.nullable, meta)
        else f
      })
      v => log.recordSchema(v, next)
    }
  }

  /** DROP COLUMN — metadata-only, EVOLVED columns only: a new schema
    * sidecar without the column claims the next version; data files
    * keep their bytes and the explicit read schema simply stops
    * projecting the column (the by-name parquet read ignores extras).
    * Base columns refuse (the table's readers depend on the
    * creation-time schema — matched by PHYSICAL name, so a renamed
    * base column still refuses). A dropped name CAN be re-added since
    * v5 column mapping: the re-add allocates a fresh physical name,
    * so stale values never resurrect ([[addColumn]]). Time travel
    * keeps each era's shape ([[schemaAtVersion]]).
    */
  def dropColumn(name: String): Unit = {
    requireMain("ALTER TABLE DROP COLUMN")
    val basePhys = log.baseSchema.fields
      .map(f => ManifestTableFormat.physicalName(f).toLowerCase).toSet
    currentSchema.fields.find(_.name.equalsIgnoreCase(name)).foreach { f =>
      require(!basePhys.contains(
          ManifestTableFormat.physicalName(f).toLowerCase),
        s"ALTER TABLE at $path: cannot drop base column '$name' — the " +
          "table's readers depend on its creation-time base schema")
    }
    metadataCommit("ALTER TABLE") { snap =>
      require(snap.tableSchema.fieldNames.exists(_.equalsIgnoreCase(name)),
        s"ALTER TABLE at $path: no column '$name' to drop " +
          s"(schema: ${snap.tableSchema.fieldNames.mkString(", ")})")
      val next = StructType(snap.tableSchema.fields
        .filterNot(_.name.equalsIgnoreCase(name)))
      v => log.recordSchema(v, next)
    }
  }

  /** Every PHYSICAL column name any schema era ever carried
    * (sidecars + base) — [[addColumn]]'s fresh-physical-name
    * allocator consults this so a re-added logical name can never
    * collide with bytes an old file still holds.
    */
  private def everPhysical: Set[String] =
    log.schemaEras.flatMap(_.fields)
      .map(fi => ManifestTableFormat.physicalName(fi).toLowerCase).toSet

  // ---- CHECK constraints -------------------------------------------
  //
  // The store-surface feature every SQL engine the reference
  // provisions has (T-SQL CHECK): named boolean expressions every
  // written row must satisfy. Stored as an immutable
  // `<version>.constraints.json` sidecar carrying the FULL current
  // set (same linearization as schema sidecars: the version is
  // claimed with an empty commit); enforcement lives at the single
  // write choke point ([[writeData]] validates the just-written,
  // still-unreferenced files and aborts before anything commits), so
  // append, upsert, MERGE, UPDATE, streaming append — every path —
  // enforces the same way. SQL semantics: a row passes when the
  // expression is TRUE or NULL; only FALSE violates. ADD validates
  // the existing live rows first, so a violation can never exist in
  // a committed snapshot.

  /** The current named CHECK constraints (name → SQL expression). */
  def constraints: Seq[(String, String)] = log.constraints

  /** The combined VIOLATION predicate (FALSE-only, SQL three-valued
    * CHECK semantics), or None when no constraints exist.
    */
  private def violationFilter(cs: Seq[(String, String)]): Option[Column] =
    cs.map { case (_, sql) => !coalesce(expr(sql), lit(true)) }
      .reduceOption(_ || _)

  /** ADD CONSTRAINT: validates the whole live table first (one
    * predicate-pushed scan — a violation refuses the ALTER, the
    * Delta convention), then claims the next version with the
    * extended set. Duplicate names refuse.
    */
  def addConstraint(name: String, exprSql: String): Unit = {
    requireMain("ADD CONSTRAINT")
    require(name.nonEmpty, "constraint name must be non-empty")
    metadataCommit("ADD CONSTRAINT") { snap =>
      val current = log.constraints(snap)
      require(!current.exists(_._1.equalsIgnoreCase(name)),
        s"constraint '$name' already exists at $path")
      val viol = readFiles(log.liveNames(snap), snap.tableSchema)
        .filter(!coalesce(expr(exprSql), lit(true))).limit(1)
      require(viol.isEmpty,
        s"ADD CONSTRAINT $name at $path: existing rows violate " +
          s"($exprSql) — clean the data first")
      v => log.recordConstraints(v, current :+ (name -> exprSql))
    }
  }

  /** DROP CONSTRAINT by name (loud error when absent). */
  def dropConstraint(name: String): Unit = {
    requireMain("DROP CONSTRAINT")
    metadataCommit("DROP CONSTRAINT") { snap =>
      val current = log.constraints(snap)
      require(current.exists(_._1.equalsIgnoreCase(name)),
        s"no constraint '$name' at $path (have: ${
          current.map(_._1).mkString(", ")})")
      v => log.recordConstraints(v,
        current.filterNot(_._1.equalsIgnoreCase(name)))
    }
  }

  /** Shape `df` to `s`: base columns must be present (loud error via
    * unresolved column otherwise), EXTENSION columns absent from `df`
    * null-fill (the default-null contract), extra caller columns are
    * projected away (the store has always been a fixed-schema sink —
    * callers pass pipeline frames with working columns).
    */
  private def conform(df: DataFrame, s: StructType): DataFrame = {
    val have = df.columns.map(_.toLowerCase).toSet
    val basePhys = log.baseSchema.fields
      .map(f => ManifestTableFormat.physicalName(f).toLowerCase).toSet
    df.select(s.fields.toIndexedSeq.map { f =>
      if (have.contains(f.name.toLowerCase)) col(f.name)
      else if (basePhys.contains(
          ManifestTableFormat.physicalName(f).toLowerCase))
        col(f.name) // base column missing: fail loudly downstream
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Write the head's state as a parquet checkpoint
    * ([[ManifestLog!.checkpoint]]): replay thereafter starts there, and
    * [[vacuum]] prunes the entries it subsumes.
    */
  def checkpoint(): Unit = log.checkpoint()

  // ---- data files --------------------------------------------------

  private def emptyFrame(s: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)

  /** Read `files` under the effective schema `s`: files written
    * before an ADD COLUMN lack the new columns and come back NULL
    * through the explicit read schema — old and new files mix in one
    * scan with no rewrite. Data files store PHYSICAL column names
    * (v5 column mapping), so the read happens under the physical
    * schema and projects back to the logical names; on a never-
    * renamed table the two are identical and the projection is a
    * no-op Catalyst collapses. No file gives an empty frame typed as
    * a parquet read types it (every field and element nullable), so
    * an empty and a non-empty read have one schema.
    */
  private def readFiles(files: Seq[String], s: StructType): DataFrame = {
    if (files.isEmpty)
      return emptyFrame(org.apache.spark.sql.graftbridge.Bridge.asNullable(s))
    val phys = ManifestTableFormat.physicalSchema(s)
    spark.read.schema(phys).parquet(files: _*)
      .select(s.fields.toIndexedSeq.map(f =>
        col(ManifestTableFormat.physicalName(f)).as(f.name)): _*)
  }

  private def isLiveEmpty(snap: Snapshot): Boolean =
    snap.base.isEmpty &&
      (snap.ckptParquet.isEmpty || log.statsFrame(snap).isEmpty)

  /** (file → deletion-vector ref) for the given live names — the
    * narrow projection of [[ManifestLog!.statsOf]] every rewrite read
    * consults.
    */
  private def dvOf(snap: Snapshot, files: Seq[String])
      : Map[String, Option[ManifestTableFormat.DvRef]] = {
    if (files.isEmpty) return Map.empty
    // same checkpoint-less fast path as [[ManifestLog!.statsOf]]: dv
    // refs live in the driver-held tail — no job needed
    if (snap.ckptParquet.isEmpty)
      return files.map(f => f -> snap.base.get(f).flatMap(_.dv))
        .toMap.withDefaultValue(None)
    import spark.implicits._
    log.statsFrame(snap).join(files.toDF("file"), Seq("file"), "left_semi")
      .select("file", "dv_path", "dv_card").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None
        else Some(ManifestTableFormat.DvRef(r.getString(1), r.getLong(2)))))
      .toMap.withDefaultValue(None)
  }

  private def baseNameOf(p: String): String = p.split('/').last

  /** DELETION-VECTOR-AWARE read of a pinned (file, dv) list: clean
    * files scan untouched (the common path — zero overhead); DV'd
    * files scan with their parquet ROW POSITIONS
    * (`_metadata.row_index`, the position DVs are keyed by) and
    * anti-join the deleted (file, pos) set. Each data file consults
    * EXACTLY the DV object its add-action references — the pair join
    * on (data-file basename, dv basename) keeps positions a shared DV
    * object holds for files whose reference has since moved on (e.g.
    * after RESTORE) inert. The deleted set is broadcast: DV deletes
    * are churn-scale by contract (a mass delete belongs on the
    * copy-on-write path), and the hint is that contract's documented
    * memory bound.
    */
  private[sink] def readFilesDv(
      withDv: Seq[(String, Option[ManifestTableFormat.DvRef])],
      s: StructType): DataFrame = {
    val clean = withDv.collect { case (f, None) => f }
    val dvd = withDv.collect { case (f, Some(d)) => (f, d) }
    if (dvd.isEmpty) return readFiles(clean, s)
    // no empty union leg when every file carries a vector — the
    // empty-frame RDD leg costs a scheduled stage of no-op tasks
    if (clean.isEmpty) return readDvdFiles(dvd, s)
    readFiles(clean, s).unionByName(readDvdFiles(dvd, s))
  }

  /** The DV'd branch of [[readFilesDv]]: the raw rows of the DV'd
    * files minus the positions their vectors delete. `withPath = true`
    * keeps the `__fp` file-path column ([[rawWithPos]]).
    */
  private def readDvdFiles(
      dvd: Seq[(String, ManifestTableFormat.DvRef)],
      s: StructType,
      withPath: Boolean = false): DataFrame =
    rawWithPos(dvd.map(_._1), s, withPath)
      .join(broadcast(dvPositions(dvd)), Seq("__name", "__pos"), "left_anti")
      .drop("__name", "__pos")

  /** Raw (pre-deletion-vector) read of the non-empty `files` under
    * `s`'s LOGICAL names plus (`__name`, `__pos`) parquet position
    * columns — the DV'd read branch's and the DV writers' scan shape
    * (already-deleted rows are still there). `withPath = true` adds
    * the `__fp` file-path column (for callers that need per-row file
    * provenance, e.g. the DML pre-scans) — OFF for plain reads so no
    * per-row path string is ever materialized on the query path (even
    * a dropped column can cost if pruning misses it; the hot path
    * should not rely on the optimizer to delete work this code can
    * simply not declare).
    */
  private def rawWithPos(files: Seq[String], s: StructType,
      withPath: Boolean = false): DataFrame = {
    // _metadata.file_name, NOT split(file_path): the basename feeds
    // the per-row anti-join key, and a per-row split/array-alloc over
    // the whole DV'd branch was the measurable chunk of the DV read
    // tax (the metadata column is materialized from the file status,
    // no string surgery in the row loop)
    val pathCol =
      if (withPath) Seq(col("_metadata.file_path").as("__fp"))
      else Seq.empty
    spark.read.schema(ManifestTableFormat.physicalSchema(s))
      .parquet(files: _*)
      .select((pathCol ++ Seq(
        col("_metadata.file_name").as("__name"),
        col("_metadata.row_index").as("__pos")) ++
          s.fields.toIndexedSeq.map(f =>
            col(ManifestTableFormat.physicalName(f)).as(f.name))): _*)
  }

  /** The (`__name`, `__pos`) positions the vectors of `dvd` delete:
    * each data file keeps only the positions of the DV object its
    * own reference names (the pair join on (data-file basename, dv
    * basename)).
    */
  private def dvPositions(
      dvd: Seq[(String, ManifestTableFormat.DvRef)]): DataFrame = {
    import spark.implicits._
    if (dvd.isEmpty)
      return spark.emptyDataset[(String, Long)].toDF("__name", "__pos")
    val refs = dvd.map { case (f, d) =>
      (baseNameOf(f), baseNameOf(d.path)) }.toDF("__name", "__dv")
    spark.read.parquet(dvd.map(_._2.path).distinct: _*)
      .withColumn("__dv", col("_metadata.file_name"))
      .join(broadcast(refs), Seq("__name", "__dv"), "left_semi")
      .select("__name", "__pos")
  }

  /** [[readFiles]] with the snapshot's deletion vectors applied — the
    * read every REWRITE must use (a raw read would resurrect
    * DV-deleted rows into the rewritten files).
    */
  private def readLive(snap: Snapshot, files: Seq[String]): DataFrame = {
    val dvs = dvOf(snap, files)
    readFilesDv(files.map(f => f -> dvs(f)), snap.tableSchema)
  }

  /** Map scan-produced per-row file paths back to the snapshot's
    * RECORDED names: `input_file_name()` and `_metadata.file_path`
    * render the same file with different URI normalization, so
    * pre-scan results key by BASENAME (part-file uuids are globally
    * unique — the invariant vacuum already relies on).
    */
  private def toRecordedNames(
      recorded: Seq[String], scanned: Seq[String]): Seq[String] = {
    val byBase = recorded.map(f => baseNameOf(f) -> f).toMap
    scanned.map(p => byBase.getOrElse(baseNameOf(p), p))
  }

  /** [[readLive]] plus a per-row source-file column named `fileCol` —
    * the DML pre-scans' shape ("which files hold a matching row").
    * The file column binds AT THE SCAN on both branches
    * (`input_file_name` evaluated past an exchange returns "").
    */
  private def readLiveWithFile(
      snap: Snapshot, files: Seq[String], fileCol: String): DataFrame = {
    val s = snap.tableSchema
    val dvs = dvOf(snap, files)
    val clean = files.filter(dvs(_).isEmpty)
    val dvd = files.flatMap(f => dvs(f).map(d => (f, d)))
    val base = readFiles(clean, s)
      .withColumn(fileCol, input_file_name())
    if (dvd.isEmpty) base
    else base.unionByName(readDvdFiles(dvd, s, withPath = true)
      .withColumnRenamed("__fp", fileCol))
  }

  /** Publish the (name, pos) frame as ONE deletion-vector parquet
    * object under `data/` and return its absolute path. Written
    * staged-then-renamed like every data file: unreferenced until the
    * commit lands, vacuum fodder if the commit never does.
    */
  private def writeDvObject(positions: DataFrame): String = {
    val tmp = new Path(dataDir,
      s"dvtmp-${java.util.UUID.randomUUID()}")
    positions.repartition(1).write.parquet(tmp.toString)
    val part = fs.listStatus(tmp)
      .find(_.getPath.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(
        s"deletion-vector write at $tmp produced no part file"))
      .getPath
    val target = new Path(dataDir,
      s"dv-${java.util.UUID.randomUUID()}.parquet")
    if (!fs.rename(part, target))
      throw new IllegalStateException(
        s"could not publish deletion vector at $target")
    fs.delete(tmp, true)
    fs.makeQualified(target).toString
  }

  /** The url half of the per-file stats test: `u` lies within the
    * file's min/max url and its hash `h` passes the file's url bloom.
    * No false negatives (a file holding a url passes its own bloom);
    * a false positive costs one extra file read or rewrite.
    */
  private def urlMayHold(u: Column, h: Column): Column =
    u >= col("lo") && u <= col("hi") &&
      Layout.bloomTestOn(col("bits"), h, col("num_bits"), col("num_hashes"))

  /** Files whose stats say they MAY hold any of `probe`'s urls, for a
    * url set that stays a Spark frame (frame-keyed deletes, MERGE INTO's
    * url probe) or is too large to fold ([[selectsByLiterals]]): the
    * stats frame joins the broadcast distinct url-hash frame,
    * [[urlMayHold]] filters the pairs on the executors, and only the
    * surviving file names are collected. `probe` must have a
    * `document_url` column.
    */
  private def affectedFiles(snap: Snapshot, probe: DataFrame): Seq[String] = {
    if (isLiveEmpty(snap)) return Seq.empty
    val hashes = probe
      .select(col("document_url").as("u"),
        xxhash64(col("document_url")).as("h"))
      .distinct()
    log.statsFrame(snap).join(broadcast(hashes))
      .filter(urlMayHold(col("u"), col("h")))
      .select("file").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
  }

  /** Files whose stats say they MAY hold any of `urls`, for a url set
    * already on the driver and small enough to fold
    * ([[selectsByLiterals]]): the urls enter the stats-frame filter as
    * ONE literal array of (url, xxhash64) pairs, hashed here, and
    * [[urlMayHold]] is tested inside an `exists` lambda. Over a
    * checkpoint-less snapshot the stats frame is a driver-local
    * relation, so Catalyst folds the filter at optimization time and
    * no Spark job runs; with a parquet checkpoint it is one narrow
    * scan with no shuffle. Null urls match no file.
    */
  private[sink] def urlFiles(snap: Snapshot, urls: Seq[String]): Seq[String] = {
    val probes = urls.filter(_ != null).distinct
      .map(u => (u, ManifestTableFormat.stringHash(u)))
    if (probes.isEmpty) return Seq.empty
    log.statsFrame(snap)
      .filter(exists(typedLit(probes),
        p => urlMayHold(p.getField("_1"), p.getField("_2"))))
      .select("file")
      .collect().map(_.getString(0)).toSeq.distinct.sorted
  }

  /** Whether `n` urls held on the driver select their files by
    * literals ([[urlFiles]]) on `snap`. Over the log tail Catalyst
    * folds the literal filter interpreted, on one driver thread, at
    * 0.5–0.9 µs per (url, tail file) pair, while the frame join
    * ([[affectedFiles]]) spends 170–380 ms on three job launches and
    * about 0.3 µs per pair on the executors (local[4], 4-vCPU VM; the
    * two meet near 3·10⁵ pairs). So the literals take at most
    * [[ManifestTableFormat.literalProbePairs]] pairs, and at most
    * [[ManifestTableFormat.mergeKeyPruneCap]] urls (the plan carries
    * every one). Checkpointed files do not count: their pairs are
    * tested on the executors either way.
    */
  private def selectsByLiterals(snap: Snapshot, n: Int): Boolean =
    n <= ManifestTableFormat.mergeKeyPruneCap &&
      n.toLong * snap.base.size <= ManifestTableFormat.literalProbePairs

  /** Files that may hold a url of `probe`: by literals when the same
    * urls are on the driver (`onDriver`) and [[selectsByLiterals]]
    * admits them, by the frame join otherwise.
    */
  private def keyedFiles(snap: Snapshot, onDriver: Option[Seq[String]],
      probe: DataFrame): Seq[String] =
    onDriver.filter(u => selectsByLiterals(snap, u.size))
      .fold(affectedFiles(snap, probe))(urlFiles(snap, _))

  // ---- column skipping stats (write side) ---------------------------

  /** The schema's skippable columns, capped at
    * [[ManifestTableFormat.maxStatsColumns]]: atomic orderable types
    * whose min/max admit a sound canonical string rendering.
    * `document_url` is excluded — it already has dedicated
    * full-precision lo/hi + bloom fields.
    */
  private def statColumns(s: StructType): Seq[StructField] = {
    import org.apache.spark.sql.types._
    val eligible = s.fields.toIndexedSeq.filter { f =>
      !(hasUrlKey && f.name.equalsIgnoreCase("document_url")) &&
        (f.dataType match {
          case _: IntegerType | _: LongType | _: ShortType | _: ByteType |
               _: FloatType | _: DoubleType | _: DecimalType |
               _: BooleanType | _: DateType | _: TimestampType |
               _: StringType => true
          case _ => false
        })
    }
    // declared partition columns FIRST: their stats are the pruning
    // contract and must survive the column cap on any schema width
    val (parts, rest) = eligible.partition(f =>
      partitionColumns.exists(_.equalsIgnoreCase(f.name)))
    (parts ++ rest).take(ManifestTableFormat.maxStatsColumns)
  }

  /** The column as its stats ENCODING: min/max aggregate over this
    * expression so ordering is the column's own, and the collected
    * value renders to the canonical string the scan side re-derives
    * from pushed literals (timestamps → epoch micros, dates → epoch
    * days, booleans → 0/1, everything else native).
    */
  private def statEncode(f: StructField): Column = {
    import org.apache.spark.sql.types._
    f.dataType match {
      case _: TimestampType => unix_micros(col(f.name))
      case _: DateType => unix_date(col(f.name))
      case _: BooleanType => col(f.name).cast(IntegerType)
      case _ => col(f.name)
    }
  }

  /** Render a collected stats value canonically. Lower bounds may
    * truncate a long string (a prefix is ≤ the value — sound). */
  private def renderLo(v: Any): String = v match {
    case s: String => truncPrefix(s)
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString // Int/Long/Short/Byte/Float/Double
  }

  /** Render an UPPER bound: a truncated string prefix must be pushed
    * back ABOVE the value — append U+10FFFF (the maximum code point;
    * its UTF-8 encoding F4 8F BF BF dominates any continuation, so
    * prefix+U+10FFFF ≥ prefix+anything under Spark's binary string
    * ordering). Yields None only if truncation is impossible.
    */
  private def renderHi(v: Any): Option[String] = v match {
    case s: String =>
      if (s.length <= ManifestTableFormat.maxStatsStringLen) Some(s)
      else Some(truncPrefix(s) + new String(Character.toChars(0x10FFFF)))
    case d: java.math.BigDecimal => Some(d.toPlainString)
    case other => Some(other.toString)
  }

  /** First `maxStatsStringLen` chars, never splitting a surrogate
    * pair (a dangling high surrogate is not valid UTF-8 and would
    * compare unpredictably).
    */
  private def truncPrefix(s: String): String = {
    val cap = ManifestTableFormat.maxStatsStringLen
    if (s.length <= cap) s
    else if (Character.isHighSurrogate(s.charAt(cap - 1)))
      s.substring(0, cap - 1)
    else s.substring(0, cap)
  }

  /** Write `rows` as a fresh immutable file set under `data/` and
    * return add-actions carrying each new file's stats — ONE narrow
    * aggregate over the just-written files building the url bloom
    * (map-side, fixed-size buffers — [[Layout.bloomAgg]]), the url
    * min/max, the row count, and per-column min/max + null counts for
    * the skippable columns ([[statColumns]]). O(1) metadata per file,
    * however many documents it packs.
    */
  private def writeData(rows: DataFrame, snap: Snapshot): Seq[Action] = {
    val s = snap.tableSchema
    val batchDir = new Path(dataDir,
      s"batch-${java.util.UUID.randomUUID()}")
    val sPhys = ManifestTableFormat.physicalSchema(s)
    // data files store PHYSICAL names (v5 column mapping): renames are
    // pure metadata, and per-file stats recorded under physical names
    // stay valid across them
    val projected = rows.select(s.fields.toIndexedSeq.map(f =>
      col(f.name).as(ManifestTableFormat.physicalName(f))): _*)
    // declared partition columns (physical names) cluster every write:
    // RANGE partitioning keeps each task on a contiguous value range
    // (hash would collide distinct values into one task), so each
    // file's min/max stats carry tight partition bounds and partition
    // predicates prune to a strict file subset. The partition count
    // is EXPLICIT — an implicit one lets AQE coalesce a small batch
    // into one value-spanning file and the pruning guarantee
    // evaporates; file sizing is the write batch's and compaction's
    // job, value-contiguity is this one's.
    val clusterCols = partitionColumns.filter(pc =>
      sPhys.fieldNames.exists(_.equalsIgnoreCase(pc)))
    val clustered =
      if (clusterCols.isEmpty) projected
      else projected.repartitionByRange(
        math.max(1, spark.sessionState.conf.numShufflePartitions),
        clusterCols.map(col): _*)
    clustered.write.parquet(batchDir.toString)
    val written = spark.read.schema(sPhys).parquet(batchDir.toString)
    // one stats pass doubles as the emptiness check (an empty batch
    // yields zero per-file groups) — the separate isEmpty job this
    // path used to run first was pure job-launch overhead on every
    // DML commit
    val actions = statsActionsFor(written, sPhys)
    if (actions.isEmpty) { fs.delete(batchDir, true); return Seq.empty }
    enforceConstraints(written, snap, () => fs.delete(batchDir, true))
    actions
  }

  /** CHECK enforcement at the single write choke point: `written` is
    * an UNREFERENCED just-written batch (physical names), so aborting
    * here leaves no torn state — `cleanup` deletes the staged bytes
    * (the leftovers of a crashed writer look the same: vacuum
    * fodder) and the throw guarantees no rows were committed.
    * Constraints are written in LOGICAL names; evaluate over the
    * logical projection of the batch. One columnar re-scan of the
    * batch, never of the table. The constraints are `snap`'s: a
    * commit race whose winner moves them re-runs the write
    * ([[commitLoop]]).
    */
  private def enforceConstraints(
      written: DataFrame, snap: Snapshot, cleanup: () => Unit): Unit = {
    val cs = log.constraints(snap)
    violationFilter(cs).foreach { bad =>
      val logicalView = written.select(snap.tableSchema.fields.toIndexedSeq
        .map(f => col(ManifestTableFormat.physicalName(f)).as(f.name)): _*)
      val hit = logicalView.filter(bad).limit(1)
      if (!hit.isEmpty) {
        cleanup()
        throw new IllegalArgumentException(
          s"write to $path violates a CHECK constraint (${
            cs.map { case (n, e) => s"$n: $e" }
              .mkString("; ")}) — no rows were committed")
      }
    }
  }

  /** Per-file add-actions for already-written parquet data files
    * (physical schema): ONE columnar aggregate job over the batch
    * computes every file's row count, url bloom + bounds, and
    * per-column min/max/null stats — shared by the driver-side write
    * path ([[writeData]]) and the DSv2 streaming commit
    * ([[commitStagedStream]], whose files were written by executor
    * tasks).
    */
  private def statsActionsFor(
      written: DataFrame, sPhys: StructType): Seq[Action] = {
    val agg = udaf(Layout.bloomAgg(bloomBits, bloomHashes))
    // stats are computed AND recorded under physical names — they
    // outlive renames; scan-side probes translate logical→physical
    val sc = statColumns(sPhys)
    // declared per-column blooms (protocol v9): same params and bit
    // walk as the url bloom, hashed over the column's NATIVE type
    // (the probe side re-hashes its literal under that type)
    val bloomed: Set[String] = {
      val declared = bloomColumns.map(_.toLowerCase).toSet
      sc.map(_.name).filter(n => declared.contains(n.toLowerCase)).toSet
    }
    val extraAggs = Seq(count(lit(1)).as("__rows")) ++
      sc.zipWithIndex.flatMap { case (f, i) =>
        Seq(min(statEncode(f)).as(s"__lo$i"),
          max(statEncode(f)).as(s"__hi$i"),
          sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"__nn$i")) ++
          (if (bloomed.contains(f.name))
            Seq(agg(xxhash64(col(f.name))).as(s"__bl$i"))
          else Seq.empty)
      }
    // url bloom + lo/hi only when the table HAS the url key; key-less
    // tables carry an all-zero bloom and empty bounds, which nothing
    // ever probes (every url-keyed entry point refuses up front)
    val urlAggs =
      if (hasUrlKey)
        Seq(agg(xxhash64(col("document_url"))).as("bits"),
          min("document_url").as("lo"), max("document_url").as("hi"))
      else Seq.empty
    val allAggs = urlAggs ++ extraAggs
    val emptyBits = Seq.fill(bloomBits / 64)(0L)
    written
      .select(input_file_name().as("f") +:
        sPhys.fieldNames.map(col).toIndexedSeq: _*)
      .groupBy("f")
      .agg(allAggs.head, allAggs.tail: _*)
      .collect()
      .map { r =>
        val rowCount = r.getLong(r.fieldIndex("__rows"))
        val cols = sc.zipWithIndex.map { case (f, i) =>
          val loV = r.get(r.fieldIndex(s"__lo$i"))
          val hiV = r.get(r.fieldIndex(s"__hi$i"))
          val nn = r.getLong(r.fieldIndex(s"__nn$i"))
          val bl =
            if (bloomed.contains(f.name))
              Some(r.getSeq[Long](r.fieldIndex(s"__bl$i")))
            else None
          if (loV == null || hiV == null)
            ColStats(f.name, None, None, nn, bloom = bl)
          else renderHi(hiV) match {
            case Some(hi) =>
              // exact-bounds marker: numerics render losslessly;
              // strings are exact iff NEITHER bound truncated (the
              // rendered forms equal the collected values)
              val lo = renderLo(loV)
              val exact = (loV, hiV) match {
                case (ls: String, hs: String) => lo == ls && hi == hs
                case _ => true
              }
              ColStats(f.name, Some(lo), Some(hi), nn, exact, bl)
            case None => ColStats(f.name, None, None, nn, bloom = bl)
          }
        }
        val file = r.getString(0)
        Action(add = true, file, Some(FileStats(
          if (hasUrlKey) r.getSeq[Long](r.fieldIndex("bits")) else emptyBits,
          if (hasUrlKey)
            Option(r.getString(r.fieldIndex("lo"))).getOrElse("") else "",
          if (hasUrlKey)
            Option(r.getString(r.fieldIndex("hi"))).getOrElse("") else "",
          bloomBits, bloomHashes, Some(rowCount), cols,
          Some(fs.getFileStatus(new Path(file)).getLen))))
      }
      .toSeq
  }

  /** Per-file sizes for `files`, from the stats frame where recorded
    * (one narrow collect — the names are driver-held already) with a
    * status-RPC fallback for pre-bytes files; compaction's sizing
    * costs one job instead of one RPC per live file.
    */
  private def sizesOf(snap: Snapshot, files: Seq[String])
      : Map[String, Long] = {
    // checkpoint-less fast path (see [[ManifestLog!.statsOf]]): bytes
    // come from the driver-held tail, no job
    val known: Map[String, Long] =
      if (snap.ckptParquet.isEmpty)
        files.flatMap(n => snap.base.get(n).flatMap(_.bytes)
          .map(n -> _)).toMap
      else {
        import spark.implicits._
        log.statsFrame(snap)
          .join(files.toDF("file"), Seq("file"), "left_semi")
          .select("file", "bytes").collect()
          .flatMap(r => if (r.isNullAt(1)) None
            else Some(r.getString(0) -> r.getLong(1))).toMap
      }
    val f = fs
    files.map(n => n -> known.getOrElse(n,
      f.getFileStatus(new Path(n)).getLen)).toMap
  }

  /** One staged commit attempt for [[commitLoop]]: the actions; the
    * conflict unit — the (file, dv) pairs the attempt read, or `None`
    * for the whole table; and the paths it staged, deleted when the
    * attempt is abandoned.
    */
  private case class Attempt(
      actions: Seq[Action],
      reads: Option[Seq[(String, Option[ManifestTableFormat.DvRef])]],
      staged: Seq[String] = Nil)

  /** The one optimistic commit loop every writer but [[fastForward]]
    * runs: `stage` builds an attempt against a snapshot (`None`:
    * nothing to commit), and the loop commits its actions plus the
    * streaming transaction marker `txn` as the next version. An
    * already-applied marker (`(appId, batchId)` at or below the app's
    * recorded high-water mark) makes the whole call a no-op, checked
    * against every fresh snapshot. On a lost race, against a fresh
    * snapshot:
    *  - the marker landed (a racing replay of this very batch): the
    *    staged paths are abandoned — the work IS in the table once;
    *  - the winner removed or re-vectored a (file, dv) pair the
    *    attempt read, moved the CHECK constraints era, or the unit is
    *    the whole table: the staged paths are abandoned and `stage`
    *    re-runs. Pairs, not names: a commit that re-adds an input
    *    file under a NEW vector did not remove the name, but a
    *    rewrite that applied the OLD vector would resurrect its
    *    deletes. A new constraint was validated against the live rows
    *    only, so the staged rows must be re-enforced;
    *  - otherwise the same actions recommit under the next version.
    * `first` is the first attempt's snapshot when the caller took it
    * (`None`: the loop takes it). Returns the committed version, or
    * None when nothing committed.
    */
  private def commitLoop(what: String, txn: Option[(String, Long)] = None,
      first: Option[Snapshot] = None)(
      stage: Snapshot => Option[Attempt]): Option[Long] = {
    var races = 0
    def fresh(): Snapshot = {
      races += 1
      require(races < maxCommitRetries,
        s"$what at $path lost $maxCommitRetries commit races")
      log.snapshot()
    }
    def landed(s: Snapshot): Boolean = txn.exists { case (app, batch) =>
      s.txns.get(app).exists(_ >= batch) }
    // checked as a JOIN: the churn-bounded pairs anti-join the live
    // (file, dv) FRAME (checkpoint manifests read executor-side), so
    // the driver never materializes the live set
    def changed(pairs: Seq[(String, Option[ManifestTableFormat.DvRef])],
        now: Snapshot): Boolean = pairs.nonEmpty && {
      import spark.implicits._
      val mine = pairs.map { case (f, d) => (f, d.map(_.path).orNull) }
        .toDF("file", "dv")
      val live = log.statsFrame(now)
        .select(col("file").as("n_file"), col("dv_path").as("n_dv"))
      mine.join(live,
          mine("file") === live("n_file") && mine("dv") <=> live("n_dv"),
          "left_anti")
        .limit(1).count() > 0
    }
    val marker = txn.map(t => Action(add = false, "", None, Some(t)))
    var snap = first.getOrElse(log.snapshot())
    while (!landed(snap)) stage(snap) match {
      case None => return None
      case Some(a) =>
        val actions = a.actions ++ marker
        beforeCommit()
        var base = snap
        var stale = false
        while (!stale && !log.tryCommit(base, actions)) {
          val now = fresh()
          stale = landed(now) || now.constraintsEra != snap.constraintsEra ||
            a.reads.forall(changed(_, now))
          if (stale) {
            a.staged.foreach(p => fs.delete(new Path(p), false))
            snap = now
          } else base = now
        }
        if (!stale) return Some(base.version + 1)
    }
    None
  }

  /** Copy-on-write commit cycle shared by merge/delete/compact and the
    * appends: `affected` picks the files to rewrite from log metadata,
    * `rewrite` maps their rows to the surviving rows (incoming rows
    * appended by the caller). The conflict unit is the (file, dv)
    * pairs of the affected files. True when it committed.
    */
  private def commitCycle(
      affected: Snapshot => Seq[String],
      rewrite: (Snapshot, Seq[String]) => DataFrame,
      txn: Option[(String, Long)] = None,
      first: Option[Snapshot] = None): Boolean =
    commitLoop("write", txn, first) { snap =>
      val files = affected(snap)
      val inputDv = dvOf(snap, files)
      val adds = writeData(onRewrite(rewrite(snap, files)), snap)
      val actions = files.map(Action(add = false, _, None)) ++ adds
      if (actions.isEmpty && txn.isEmpty) None
      else Some(Attempt(actions, Some(files.map(f => f -> inputDv(f))),
        adds.map(_.file)))
    }.isDefined

  /** Test seam: runs in [[commitLoop]] after an attempt's files are
    * staged and before its first commit try — the window a concurrent
    * writer races in, for every writer, the metadata claims included.
    * Specs inject a competing commit here to exercise each optimistic
    * outcome (recommit, re-run, marker landed) deterministically, or
    * throw to model a writer dying before it publishes.
    */
  protected def beforeCommit(): Unit = ()

  /** Clock seam for the in-commit timestamp (protocol v8): tests
    * inject a controlled clock to pin monotonicity under backward
    * steps and to give commits known timestamps.
    */
  protected def nowMillis: Long = System.currentTimeMillis()

  /** Test seam: observes the frame a commit cycle is about to write
    * (the survivor rewrite for merge/delete, the incoming rows for
    * append). The spec pins the MERGE plan shape here — broadcast
    * anti-join, no In-literal url list.
    */
  protected def onRewrite(df: DataFrame): DataFrame = df

  // ---- the document-keyed operations ChunkStore routes here ---------

  /** Keyed upsert: one commit replaces every document in `rows`.
    * File selection takes the batch's distinct urls to the driver, up
    * to [[ManifestTableFormat.mergeKeyPruneCap]] of them, and tests
    * them as literals when [[selectsByLiterals]] admits them, by the
    * frame join ([[affectedFiles]]) otherwise. The survivor
    * rewrite anti-joins the broadcast url frame; an all-new batch
    * selects no file and writes just the incoming rows.
    */
  def merge(rows: DataFrame): Unit = {
    requireUrlKey("keyed upsert (merge by document_url)")
    // conform up-front to the first attempt's snapshot (prunes pipeline
    // working columns before the persist; null-fills evolved columns
    // the caller doesn't carry), re-conform per attempt in case an
    // ALTER lands mid-retry
    val first = log.snapshot()
    val incoming = conform(rows, first.tableSchema).persist()
    try {
      // the distinct urls are collected up front, at most cap + 1 of
      // them (no isEmpty pre-evaluation, the append() rule: an empty
      // source yields no url, zero affected files, an empty rewrite,
      // zero add-actions, and commitCycle returns without committing)
      val distinct = incoming.select("document_url").distinct()
      val cap = ManifestTableFormat.mergeKeyPruneCap
      val urls = Some(distinct.limit(cap + 1).collect()
        .map(_.getString(0)).toSeq).filter(_.size <= cap)
      // the url frame of the frame join and the survivor anti-join:
      // the collected urls as a local relation (broadcast without a
      // job), or past the cap the distinct, persisted so the commit
      // cycle computes it once
      import spark.implicits._
      val probe = urls.fold(distinct.persist())(_.toDF("document_url"))
      try commitCycle(
        snap => keyedFiles(snap, urls, probe),
        (snap, files) => survivors(snap, files, probe)
          .unionByName(conform(incoming, snap.tableSchema)),
        first = Some(first))
      finally probe.unpersist()
    } finally incoming.unpersist()
  }

  /** The rows of `files` whose url is not in `probe`: an anti-join
    * against the broadcast url frame, never url In-literals. No file
    * gives an empty frame of the table schema, with no read and no
    * broadcast; a union with it still types the written files with
    * the table schema's nullability.
    */
  private def survivors(
      snap: Snapshot, files: Seq[String], probe: DataFrame): DataFrame =
    if (files.isEmpty) emptyFrame(snap.tableSchema)
    else readLive(snap, files)
      .join(broadcast(probe), Seq("document_url"), "left_anti")

  /** Deletes the given documents; file selection tests the urls as
    * literals when [[selectsByLiterals]] admits them, the rewrite is
    * the frame path's.
    */
  def delete(documentUrls: Seq[String]): Unit = {
    if (documentUrls.isEmpty) return
    import spark.implicits._
    val urls = documentUrls.distinct
    deleteKeyed(urls.toDF("document_url"), Some(urls))
  }

  /** Frame-native delete — the url set stays a Spark frame end-to-end:
    * affected-file selection probes the per-file bloom stats with the
    * frame's url hashes ([[affectedFiles]]), and the survivor rewrite
    * anti-joins the same frame. Nothing url-shaped ever collects to
    * the driver; only the affected FILE names do (churn-bounded). The
    * anti-join's build side is hinted broadcast: delete sets are
    * churn-scale by contract (they must also fit the per-file bloom
    * probe), and the hint is that contract's documented memory bound.
    */
  def delete(urls: DataFrame): Unit = deleteKeyed(urls, None)

  /** The two deletes' shared body: `onDriver` holds the urls when the
    * caller passed them as a driver Seq ([[keyedFiles]]), `None` keeps
    * selection a frame join.
    */
  private def deleteKeyed(
      urls: DataFrame, onDriver: Option[Seq[String]]): Unit = {
    requireUrlKey("document-keyed delete")
    if (dvWrites) { deleteDocumentsDv(urls); return }
    val probe = urls.select(col("document_url").cast("string")
      .as("document_url")).distinct().persist()
    // no isEmpty pre-evaluation (the append() rule): an empty probe
    // yields zero affected files, an empty rewrite, zero add-actions,
    // and commitCycle returns without committing — identical outcome,
    // one evaluation of the url set saved on every delete
    try commitCycle(
      snap => keyedFiles(snap, onDriver, probe),
      (snap, files) => survivors(snap, files, probe))
    finally probe.unpersist()
  }

  /** SQL `MERGE INTO t USING s ON … WHEN …` as ONE copy-on-write
    * commit — the full three-sided clause algebra (MATCHED
    * UPDATE/DELETE, NOT MATCHED INSERT, NOT MATCHED BY SOURCE
    * UPDATE/DELETE), first-match-wins per side, arbitrary per-clause
    * conditions. Expressions arrive as Columns rebound to the
    * `__graft_t` / `__graft_s` aliases this method joins under.
    *
    * Affected-file selection, narrowest applicable first:
    *  - NOT MATCHED BY SOURCE clauses present → every live file (the
    *    clause's semantics touch every unmatched target row);
    *  - `urlProbe` (the planner found a `t.document_url = <source
    *    expr>` conjunct in ON) → the per-file url bloom stats pick
    *    the files that MAY hold a matched document — the same pruning
    *    as the keyed [[merge]], no pre-scan. Sound for the INSERT
    *    anti-join too: blooms have no false negatives, so every file
    *    holding a matching url is admitted;
    *  - otherwise → a pre-scan semi-join collects the file NAMES
    *    holding at least one match.
    *
    * Ambiguity guard (the Delta convention): a target row matched by
    * MORE than one source row under ON has nondeterministic UPDATE
    * results — detected with one row-id-tagged count job and refused
    * loudly before anything is written.
    */
  def mergeInto(
      source: DataFrame,
      onCond: Column,
      matched: Seq[GraftMergeAction],
      notMatched: Seq[GraftMergeAction],
      notMatchedBySource: Seq[GraftMergeAction],
      urlProbe: Option[DataFrame],
      txn: Option[(String, Long)] = None,
      sourceKeyedByOn: Boolean = false): Unit = {
    require(!source.columns.exists(_.startsWith("__graft_")),
      "source column prefix __graft_ is reserved by MERGE")
    matched.foreach {
      case _: GraftMergeInsert => throw new IllegalArgumentException(
        "WHEN MATCHED cannot INSERT")
      case _ => ()
    }
    notMatched.foreach {
      case _: GraftMergeInsert => ()
      case other => throw new IllegalArgumentException(
        s"WHEN NOT MATCHED supports INSERT only, got $other")
    }
    val src = source.withColumn("__graft_m", lit(true)).persist()
    try {
      commitCycle(
        snap => {
          val names = log.liveNames(snap)
          if (names.isEmpty) Seq.empty
          else if (notMatchedBySource.nonEmpty) names
          else urlProbe match {
            case Some(p) => affectedFiles(snap, p)
            case None if names.size <= math.max(
                ManifestTableFormat.mergePreScanMinFiles,
                spark.sessionState.conf.numShufflePartitions) =>
              // SMALL-TABLE SHORTCUT: the pre-scan exists to keep a
              // LARGE table's rewrite churn-bounded, but it reads the
              // same live files the rewrite would — on a table of at
              // most one write batch (~shuffle-partition count files)
              // it costs a full extra pass + join job set to save at
              // most a few tiny identity rewrites. Rewriting every
              // live file is SOUND (a superset of the matched set:
              // unmatched rows survive the rewrite verbatim, and the
              // INSERT anti-join only needs the affected set to cover
              // every possible match, which "all files" trivially
              // does); measured: drops ~10 planning-heavy jobs per
              // merge on gate-scale tables.
              names
            case None =>
              // stats/bloom KEY PRE-PRUNE (guide §3.2/§6) before the
              // pre-scan: for `t.c = <source expr>` equality conjuncts
              // in ON, the bounded distinct source keys become
              // IN-probes against the per-file stats — candidate files
              // the stats PROVE hold no key are never opened by the
              // pre-scan semi-join. Pruning has no false negatives, so
              // the affected set is unchanged; fail-open everywhere
              // (no equality keys, too many keys, null keys, type
              // mismatch → the full live list scans as before).
              val candidates = mergePreScanCandidates(
                snap, names, src, onCond)
              // the file column binds AT THE SCAN (readLiveWithFile):
              // input_file_name evaluated past an exchange returns ""
              toRecordedNames(names,
                readLiveWithFile(snap, candidates, "__graft_f")
                  .alias("__graft_t")
                  .join(src.alias("__graft_s"), onCond, "left_semi")
                  .select("__graft_f").distinct()
                  .collect().map(_.getString(0)).toSeq).sorted
          }
        },
        (snap, files) => mergeOutput(snap, files, src, onCond,
          matched, notMatched, notMatchedBySource, sourceKeyedByOn),
        txn)
    } finally src.unpersist()
  }

  /** Equality key pairs extracted from a MERGE ON condition: the
    * target FIELD and the source-side key expression (rebound to bare
    * source names), taken from top-level `=` / `<=>` conjuncts whose
    * one side is a single `__graft_t.<col>` reference and whose other
    * side references only `__graft_s.<col>` attributes (or none —
    * literals). Target fields resolve against `schema`, the schema of
    * the snapshot the keys prune. Fail-open: any unrecognized shape
    * contributes nothing.
    */
  private def mergeOnKeyExprs(onCond: Column, schema: StructType)
      : Seq[(StructField, Column)] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe, EqualTo, Expression}
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    // the Column API builds comparisons as UnresolvedFunction("=",…)
    // nodes — run them through the probes' own normalizer first
    def conjuncts(e: Expression): Seq[Expression] =
      StatsProbes.normalize(e) match {
        case And(l, r) => conjuncts(l) ++ conjuncts(r)
        case other => Seq(other)
      }
    def targetCol(e: Expression): Option[String] = e match {
      case u: UnresolvedAttribute if u.nameParts.length == 2 &&
          u.nameParts.head.equalsIgnoreCase("__graft_t") =>
        Some(u.nameParts(1))
      case _ => None
    }
    def sourceOnly(e: Expression): Boolean =
      e.collect { case u: UnresolvedAttribute => u }.forall(u =>
        u.nameParts.length == 2 &&
          u.nameParts.head.equalsIgnoreCase("__graft_s"))
    def unqualify(e: Expression): Column = bridge.column(e.transform {
      case u: UnresolvedAttribute if u.nameParts.length == 2 =>
        UnresolvedAttribute(Seq(u.nameParts(1)))
    })
    def pair(l: Expression, r: Expression): Option[(StructField, Column)] =
      targetCol(l).filter(_ => sourceOnly(r)).flatMap(n =>
        schema.fields.find(_.name.equalsIgnoreCase(n))
          .map(_ -> unqualify(r)))
    val expr =
      try org.apache.spark.sql.graftbridge.Bridge.expression(spark, onCond)
      catch { case scala.util.control.NonFatal(_) => return Seq.empty }
    conjuncts(expr).flatMap {
      case EqualTo(l, r) => pair(l, r).orElse(pair(r, l))
      case EqualNullSafe(l, r) => pair(l, r).orElse(pair(r, l))
      case _ => None
    }
  }

  /** Merge pre-scan candidate files: `names` minus the files whose
    * per-file stats/blooms PROVE they hold none of the source's ON
    * keys. The key set is driver-collected up to
    * [[ManifestTableFormat.mergeKeyPruneCap]] distinct tuples
    * (IN-probe literals); past the cap, on any null key (a `<=>` null
    * key matches target nulls, which the probes cannot cover), on a
    * source/target type mismatch (per key — the remaining keys still
    * prune), or on any extraction failure the full list returns.
    * Sound for the INSERT anti-join too: a pruned file provably holds
    * no row any source row can match.
    */
  /** Test seam: [[mergePreScanCandidates]] at the head snapshot over
    * the full live list — lets the spec pin which files the key
    * pre-prune admits without reaching into [[ManifestLog.Snapshot]].
    */
  private[graft] def mergePreScanCandidatesAtHead(
      src: DataFrame, onCond: Column): Seq[String] = {
    val snap = log.snapshot()
    mergePreScanCandidates(snap, log.liveNames(snap), src, onCond)
  }

  private[sink] def mergePreScanCandidates(
      snap: Snapshot,
      names: Seq[String],
      src: DataFrame,
      onCond: Column): Seq[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{In, Literal}
    val keys = mergeOnKeyExprs(onCond, snap.tableSchema).filter {
      case (f, c) =>
        // same-type keys only: a differently-typed source key would
        // need the join's implicit-cast semantics reproduced exactly
        try src.select(c).schema.head.dataType == f.dataType
        catch { case scala.util.control.NonFatal(_) => false }
    }
    if (keys.isEmpty) return names
    val cap = ManifestTableFormat.mergeKeyPruneCap
    val rows =
      try src.select(keys.map { case (f, c) => c.cast(f.dataType) }: _*)
        .distinct().limit(cap + 1).collect()
      catch { case scala.util.control.NonFatal(_) => return names }
    if (rows.isEmpty || rows.length > cap ||
        rows.exists(r => keys.indices.exists(r.isNullAt))) return names
    val typeOf: String => Option[(String, org.apache.spark.sql.types
        .DataType)] = n =>
      snap.tableSchema.fields.find(_.name.equalsIgnoreCase(n))
        .map(fl => (ManifestTableFormat.physicalName(fl), fl.dataType))
    val exprs = keys.zipWithIndex.map { case ((f, _), i) =>
      In(UnresolvedAttribute(Seq(f.name)),
        rows.toSeq.map(r => Literal.create(r.get(i), f.dataType)))
        : org.apache.spark.sql.catalyst.expressions.Expression
    }
    val probes =
      try StatsProbes.extract(exprs, typeOf)
      catch { case scala.util.control.NonFatal(_) => Seq.empty }
    if (probes.isEmpty) names
    else pruneFilesForScan(names, probes).getOrElse(names)
  }

  /** The replacement rows for `files` under the merge algebra. */
  private def mergeOutput(
      snap: Snapshot,
      files: Seq[String],
      src: DataFrame,
      onCond: Column,
      matched: Seq[GraftMergeAction],
      notMatched: Seq[GraftMergeAction],
      notMatchedBySource: Seq[GraftMergeAction],
      sourceKeyedByOn: Boolean = false): DataFrame = {
    val t = readLive(snap, files).alias("__graft_t")
    val s = src.alias("__graft_s")

    // ambiguity guard: row-id tags are assigned and counted inside
    // ONE job, so the check is self-consistent; nothing is written
    // before it passes. Skipped when the caller PROVES the source is
    // unique on the ON keys (`sourceKeyedByOn` — e.g. IncrementalAgg's
    // source is a GROUP BY on exactly those keys): a target row then
    // cannot match two source rows, and the guard's join+count job is
    // saved on every maintenance merge.
    if (matched.nonEmpty && files.nonEmpty && !sourceKeyedByOn) {
      val dup = t.withColumn("__graft_rid", monotonically_increasing_id())
        .join(s, onCond, "inner")
        .groupBy("__graft_rid").count()
        .filter(col("count") > 1).limit(1)
      require(dup.isEmpty,
        s"MERGE at $path: a target row matches more than one source " +
          "row under the ON condition — the UPDATE/DELETE outcome " +
          "would be nondeterministic (dedup the source on the merge " +
          "key first)")
    }

    // NULL-safe clause gate: a NULL condition never fires the clause
    def live(c: Option[Column]): Column =
      c.map(x => coalesce(x, lit(false))).getOrElse(lit(true))
    // first-match-wins gate sequence under `base`
    def gates(actions: Seq[GraftMergeAction], base: Column)
        : Seq[(GraftMergeAction, Column)] = {
      var prior: Column = lit(false)
      actions.map { a =>
        val g = base && !prior && live(a.cond)
        prior = prior || live(a.cond)
        (a, g)
      }
    }

    val joined = t.join(s, onCond, "left_outer")
    val isMatched = coalesce(col("__graft_m"), lit(false))
    val sided = gates(matched, isMatched) ++
      gates(notMatchedBySource, !isMatched)
    val deleted = sided.collect { case (_: GraftMergeDelete, g) => g }
      .reduceOption(_ || _).getOrElse(lit(false))
    val survivorCols = snap.tableSchema.fields.toIndexedSeq.map { f =>
      sided.collect { case (GraftMergeUpdate(_, set), g) =>
        set.collectFirst {
          case (n, v) if n.equalsIgnoreCase(f.name) => (g, v) }
      }.flatten
        .foldLeft(col(s"__graft_t.${f.name}")) { case (acc, (g, v)) =>
          when(g, v.cast(f.dataType)).otherwise(acc)
        }.as(f.name)
    }
    val survivors = joined.filter(!deleted).select(survivorCols: _*)

    if (notMatched.isEmpty) survivors
    else {
      // source rows with no target match anywhere the affected set
      // can hold one (see the method doc for why this is the whole
      // match space)
      val unmatched = s.join(t, onCond, "left_anti")
      val ig = gates(notMatched, lit(true))
      val inserted = ig.map(_._2).reduce(_ || _)
      val insertCols = snap.tableSchema.fields.toIndexedSeq.map { f =>
        ig.collect { case (GraftMergeInsert(_, values), g) =>
          values.collectFirst {
            case (n, v) if n.equalsIgnoreCase(f.name) => (g, v) }
        }.flatten
          .foldLeft(lit(null).cast(f.dataType): Column) {
            case (acc, (g, v)) => when(g, v.cast(f.dataType)).otherwise(acc)
          }.as(f.name)
      }
      survivors.unionByName(
        unmatched.filter(inserted).select(insertCols: _*))
    }
  }

  /** Row-level `DELETE FROM t WHERE …` for predicates the
    * document-keyed fast path cannot serve (anything beyond
    * `document_url` equality/IN): the same copy-on-write shape as
    * [[update]] — predicate-pushed pre-scan picks affected file
    * NAMES, those files rewrite keeping rows where the condition is
    * FALSE or NULL (SQL three-valued DELETE semantics), rm+add in one
    * atomic commit. Url-keyed deletes should keep using
    * [[delete(urls*]] — bloom pruning beats the pre-scan there.
    */
  /** The DML pre-scan's metadata shortcut: extract stats probes from
    * the condition (fail-open — an unextractable shape just yields no
    * probes) and drop files the per-file stats PROVE hold no matching
    * row, so the predicate-pushed pre-scan only opens footers of
    * candidate files. A selective UPDATE/DELETE on a 10⁷-file table
    * plans its pre-scan from metadata, same as a SELECT does.
    */
  private[sink] def preScanCandidates(
      snap: Snapshot,
      condition: org.apache.spark.sql.Column): Seq[String] = {
    val names = log.liveNames(snap)
    if (names.isEmpty) return names
    val probes = try {
      StatsProbes.extract(
        Seq(org.apache.spark.sql.graftbridge.Bridge
          .expression(spark, condition)),
        // probes carry PHYSICAL names — the stats were recorded so
        n => snap.tableSchema.fields
          .find(_.name.equalsIgnoreCase(n))
          .map(f => (ManifestTableFormat.physicalName(f), f.dataType)))
    } catch { case scala.util.control.NonFatal(_) => Seq.empty }
    if (probes.isEmpty) names
    else pruneFilesForScan(names, probes).getOrElse(names)
  }

  /** Row-level DELETE. Two physical strategies, same result:
    *
    *  - COPY-ON-WRITE (default): affected files rewrite without the
    *    matching rows — read-path cost stays zero, write cost is the
    *    touched bytes.
    *  - MERGE-ON-READ deletion vectors (`spark.graft.deletionVectors`
    *    = true, or [[deleteWhereDv]] directly): affected files stay
    *    put; the commit re-adds them with a position-delete sidecar —
    *    write cost O(deleted rows), read cost one broadcast anti-join
    *    until compaction/[[rewriteDvs]] materializes. The Delta DV
    *    trade: at 100 TB, deleting 100 rows from a 1 GB file must not
    *    cost a 1 GB rewrite.
    *
    * BOTH take the METADATA-ONLY fast lane first: files whose
    * per-file stats PROVE every row matches (fail-closed exact-probe
    * implication — `DELETE WHERE ts < cutoff` on a time-clustered
    * table) are rm'd without being read or rewritten.
    */
  def deleteWhere(condition: org.apache.spark.sql.Column): Unit = {
    if (dvWrites) { deleteWhereDv(condition); return }
    var provable = Set.empty[String]
    commitCycle(
      snap => {
        val names = preScanCandidates(snap, condition)
        if (names.isEmpty) Seq.empty
        else {
          // metadata-only lane: stats prove EVERY row matches — the
          // whole file is dead, skip its pre-scan and its rewrite
          provable = fullMatchFiles(snap, names, condition).toSet
          val scanned = names.filterNot(provable)
          val hit =
            if (scanned.isEmpty) Seq.empty
            else toRecordedNames(scanned,
              readLiveWithFile(snap, scanned, "__f")
                .filter(condition)
                .select(col("__f")).distinct()
                .collect().map(_.getString(0)).toSeq)
          (provable.toSeq ++ hit).sorted
        }
      },
      (snap, files) =>
        readLive(snap, files.filterNot(provable))
          .filter(!coalesce(condition, lit(false))))
    lastMetadataOnlyFiles = provable.size.toLong
  }

  /** MERGE-ON-READ row-level DELETE (protocol v6 deletion vectors):
    * matching row POSITIONS in each affected file are computed once
    * (parquet `_metadata.row_index`), unioned with the file's
    * existing vector, and committed as ONE position-delete sidecar +
    * re-adds of the untouched data files — no data rewrite. Files the
    * new vector covers COMPLETELY (all rows deleted) are rm'd
    * outright, as are files whose stats prove a full match without
    * any read (the metadata-only lane). Conflict-checked on (file,
    * dv) pairs like every commit: a racing DELETE/rewrite on the same
    * file re-runs against the new snapshot. Returns (files removed,
    * files newly carrying a vector).
    */
  def deleteWhereDv(condition: org.apache.spark.sql.Column)
      : (Long, Long) =
    dvDelete(
      snap => preScanCandidates(snap, condition),
      (snap, names) => fullMatchFiles(snap, names, condition),
      (snap, scanned) => rawWithPos(scanned, snap.tableSchema)
        .filter(condition)
        .select(col("__name"), col("__pos")))

  /** Document-keyed MERGE-ON-READ delete: the DV sibling of
    * [[delete(urls*]] — affected files come from the bloom stats,
    * matched positions from one semi-join against the broadcast url
    * frame, and the commit is position tombstones + metadata re-adds
    * (no rewrite). The reference's A20 delete at 100 TB: dropping a
    * few documents from GB-scale files costs O(their rows). Bloom
    * may-match cannot PROVE a full file matches, so there is no
    * metadata-only lane here; a file whose every row matches still
    * rm's through the vector-covers-all check.
    */
  def deleteDocumentsDv(urls: DataFrame): (Long, Long) = {
    requireUrlKey("document-keyed delete")
    val probe = urls.select(col("document_url").cast("string")
      .as("document_url")).distinct().persist()
    try {
      if (probe.isEmpty) return (0L, 0L)
      dvDelete(
        snap => affectedFiles(snap, probe),
        (_, _) => Seq.empty,
        (snap, scanned) => rawWithPos(scanned, snap.tableSchema)
          .join(broadcast(probe), Seq("document_url"), "left_semi")
          .select(col("__name"), col("__pos")))
    } finally probe.unpersist()
  }

  /** The shared MERGE-ON-READ delete machine behind [[deleteWhereDv]]
    * and [[deleteDocumentsDv]]: `candidates` picks the files that MAY
    * hold a match (metadata only), `fullMatch` the subset PROVABLY
    * all-matching (rm'd with no read), `hits` the matched (name, pos)
    * positions in the remaining candidates. Commits [[tombstone]]'s
    * actions with the candidates' (file, dv) pairs as conflict unit.
    */
  private def dvDelete(
      candidates: Snapshot => Seq[String],
      fullMatch: (Snapshot, Seq[String]) => Seq[String],
      hitPositions: (Snapshot, Seq[String]) => DataFrame)
      : (Long, Long) = {
    import spark.implicits._
    var provable = Set.empty[String]
    var result = (0L, 0L)
    commitLoop("DV delete") { snap =>
      val names = candidates(snap)
      provable = fullMatch(snap, names).toSet
      result = (0L, 0L)
      if (names.isEmpty) None
      else {
        val stats = log.statsOf(snap, names)
        val scanned = names.filterNot(provable)
        val hits =
          if (scanned.isEmpty)
            spark.emptyDataset[(String, Long)].toDF("__name", "__pos")
          else hitPositions(snap, scanned)
        val t = tombstone(stats, scanned, provable.toSeq, hits)
        result = (t.removed, t.revectored)
        if (t.actions.isEmpty) None
        else Some(Attempt(t.actions,
          Some(names.map(f => f -> stats.get(f).flatMap(_.dv))),
          t.dvPath.toSeq))
      }
    }
    lastMetadataOnlyFiles = provable.size.toLong
    result
  }

  /** What [[tombstone]] stages: the actions (empty when nothing
    * changes), the new vector object, and the counts of files removed
    * and of files re-added under the new vector.
    */
  private case class Tombstones(actions: Seq[Action],
      dvPath: Option[String], removed: Long, revectored: Long)

  /** The tombstone step both deletion-vector writers share: the new
    * `hits` (`__name`, `__pos`) in `files` union the files' existing
    * vectors (`stats` holds their refs). A file the union covers
    * completely is removed, with the `dead` files already known dead;
    * a file it grows is re-added under ONE new vector object, written
    * here.
    */
  private def tombstone(stats: Map[String, FileStats], files: Seq[String],
      dead: Seq[String], hits: DataFrame): Tombstones = {
    import spark.implicits._
    val newDv = hits.unionByName(dvPositions(
      files.flatMap(f => stats(f).dv.map(f -> _)))).distinct().persist()
    try {
      val counts = newDv.groupBy("__name").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      def card(f: String) = counts.getOrElse(baseNameOf(f), 0L)
      // fully dead: the vector covers every physical row
      val fullyDead = files.filter(f => stats(f).rows.contains(card(f)))
      // newly touched: strictly more positions than before
      val toDv = files.filterNot(fullyDead.toSet).filter(f =>
        card(f) > stats(f).dv.map(_.card).getOrElse(0L))
      val dvPath =
        if (toDv.isEmpty) None
        else {
          val keep = toDv.map(baseNameOf).toDF("__name")
          Some(writeDvObject(
            newDv.join(broadcast(keep), Seq("__name"), "left_semi")))
        }
      val removed = (dead ++ fullyDead).sorted
      Tombstones(removed.map(Action(add = false, _, None)) ++
        toDv.sorted.map(f => Action(add = true, f, Some(stats(f).copy(
          dv = Some(ManifestTableFormat.DvRef(dvPath.get, card(f))))))),
        dvPath, removed.size.toLong, toDv.size.toLong)
    } finally newDv.unpersist()
  }

  /** Materialize every live deletion vector (the Delta
    * `REORG TABLE … APPLY (PURGE)` idea): DV-carrying files rewrite
    * without their deleted rows and drop the reference — the read
    * path returns to the zero-overhead clean scan. Returns the number
    * of files purged.
    */
  def rewriteDvs(): Long = {
    var purged = 0L
    commitCycle(
      snap => {
        val files = log.liveWithDv(snap).collect {
          case (f, Some(_)) => f }
        purged = files.size.toLong
        files
      },
      (snap, files) => readLive(snap, files))
    purged
  }

  /** Files among `names` whose stats PROVE every row matches
    * `condition` — the metadata-only DELETE lane. FAIL-CLOSED
    * throughout (the mirror of [[pruneFilesForScan]]'s fail-open):
    * only predicates every conjunct of which converts to an exact
    * probe qualify, only stats-exact column kinds prove non-strict
    * bounds, absent/uncastable stats and any recorded NULL disqualify
    * the file. An empty answer just means "read the file".
    */
  private def fullMatchFiles(
      snap: Snapshot,
      names: Seq[String],
      condition: org.apache.spark.sql.Column): Seq[String] = {
    import ManifestTableFormat._
    import org.apache.spark.sql.types.DecimalType
    if (names.isEmpty) return Seq.empty
    val probes = try {
      StatsProbes.extractExact(
        Seq(org.apache.spark.sql.graftbridge.Bridge
          .expression(spark, condition)),
        n => snap.tableSchema.fields
          .find(_.name.equalsIgnoreCase(n))
          .map(f => (ManifestTableFormat.physicalName(f), f.dataType)))
    } catch { case scala.util.control.NonFatal(_) => None }
    probes match {
      case None => Seq.empty
      case Some(Nil) => Seq.empty
      case Some(ps) =>
        import spark.implicits._
        val st = log.statsFrame(snap)
          .join(names.toDF("file"), Seq("file"), "left_semi")
        st.filter(allMatchProof(ps) &&
            col("rows").isNotNull && col("rows") > 0)
          .select("file").collect().map(_.getString(0)).toSeq.sorted
    }
  }

  // ---- stats-frame column slots and exact-probe proofs ------------
  // `statVal`/`nullsOf` read one column's slot of a stats-frame row
  // (null when unrecorded); scan pruning opens nulls, the proofs
  // below close them. The proofs are shared by the metadata-only
  // DELETE lane (fullMatchFiles) and the filtered log-answered
  // aggregates (filteredAggregates), and are FAIL-CLOSED: an
  // absent/invalid stat coalesces to "not proven".

  private def statVal(arr: String, name: String): Column = {
    val pos = array_position(col("cs_names"), name).cast("int")
    when(pos > 0 && element_at(col("cs_valid"), pos) === 1,
      element_at(col(arr), pos))
  }
  private def nullsOf(name: String): Column = {
    val pos = array_position(col("cs_names"), name).cast("int")
    when(pos > 0, element_at(col("cs_nn"), pos))
  }
  private def closedProof(c: Column): Column = coalesce(c, lit(false))

  /** "EVERY row of the file satisfies the conjunction" — provable
    * from stats alone.
    */
  private def allMatchProof(ps: Seq[ExactProbe]): Column = {
    val dec = DecimalType(38, 18)
    ps.map {
      case ExactCmp(c, op, v, exactGrid) =>
        val loS = statVal("cs_lo", c).try_cast(dec)
        val hiS = statVal("cs_hi", c).try_cast(dec)
        val l = lit(v).try_cast(dec)
        // the canonical-string grid is monotone (a<=b ⇒ g(a)<=g(b))
        // but not injective for float kinds: STRICT grid
        // inequality proves strict value inequality everywhere;
        // grid equality proves value bounds only on exact-grid
        // kinds (integral/date/timestamp/boolean)
        val cmp = op match {
          case "lt" => hiS < l
          case "le" => if (exactGrid) hiS <= l else hiS < l
          case "gt" => loS > l
          case "ge" => if (exactGrid) loS >= l else loS > l
          case "eq" =>
            if (exactGrid) loS === l && hiS === l else lit(false)
        }
        closedProof(cmp) && closedProof(nullsOf(c) === 0L)
      case ExactNull(c, true) =>
        closedProof(nullsOf(c) === col("rows"))
      case ExactNull(c, false) =>
        closedProof(nullsOf(c) === 0L)
    }.reduce(_ && _)
  }

  /** "NO row of the file satisfies the conjunction" — provable when
    * ANY conjunct is provably false for every row. For a comparison
    * conjunct, rows where the column is NULL fail it automatically
    * (three-valued WHERE), so an all-null column also proves the
    * file out. Mirrors [[allMatchProof]]'s grid-monotonicity rules:
    * strict grid inequality proves strict value inequality on every
    * kind; non-strict needs an exact (injective) grid.
    */
  private def noneMatchProof(ps: Seq[ExactProbe]): Column = {
    val dec = DecimalType(38, 18)
    ps.map {
      case ExactCmp(c, op, v, exactGrid) =>
        val loS = statVal("cs_lo", c).try_cast(dec)
        val hiS = statVal("cs_hi", c).try_cast(dec)
        val l = lit(v).try_cast(dec)
        val failAll = op match {
          // col < v fails everywhere iff min ≥ v
          case "lt" => if (exactGrid) loS >= l else loS > l
          // col ≤ v fails everywhere iff min > v
          case "le" => loS > l
          // col > v fails everywhere iff max ≤ v
          case "gt" => if (exactGrid) hiS <= l else hiS < l
          // col ≥ v fails everywhere iff max < v
          case "ge" => hiS < l
          // col = v fails everywhere iff v outside [min, max]
          case "eq" => loS > l || hiS < l
        }
        closedProof(failAll) ||
          closedProof(nullsOf(c) === col("rows"))
      case ExactNull(c, true) =>
        closedProof(nullsOf(c) === 0L)
      case ExactNull(c, false) =>
        closedProof(nullsOf(c) === col("rows"))
    }.reduce(_ || _)
  }

  /** Filtered log-answered AGGREGATES — the fusion of the
    * metadata-only DELETE lane's exact proofs with the log-answered
    * aggregate lane: for `COUNT(*)`/`COUNT(col)`/`MIN(col)`/`MAX(col)`
    * under an exactly-probed predicate, files whose stats PROVE every
    * row matches contribute their log-recorded counts/bounds, files
    * proven to match nothing contribute nothing, and only the
    * BOUNDARY files (straddling a predicate bound) are read — with
    * the predicate applied — in one narrow planning job. On a
    * time-clustered 10⁷-file table, `COUNT(*), MAX(ts) WHERE ts <
    * cutoff` reads a handful of boundary files instead of every file.
    *
    * Extrema soundness: an all-match file's recorded bounds ARE its
    * matching rows' bounds (every row matches; MIN/MAX ignore nulls,
    * and bounds are over non-nulls). Numeric kinds decode on the
    * canonical grid; strings need the protocol-v7 exact marker; a
    * proven file whose stat is missing/unmarked falls to the boundary
    * scan (still exact there — all its rows match). Boundary extrema
    * aggregate over [[statEncode]] so both sides combine in one
    * encoded space, then convert to the Catalyst-internal value.
    *
    * Returns internal values in target order (counts as Long, extrema
    * as the column's internal type or null), or `None` (fail-open to
    * the normal scan) when: any probe column lacks usable stats
    * everywhere it matters, a boundary file carries a pinned deletion
    * vector (the raw read would see deleted rows), a COUNT(col)/
    * extremum touches a DV'd file, an extremum column is a
    * float/double/decimal (grid collision), any asked file has no
    * stats row (vacuumed / foreign), or the boundary exceeds
    * [[ManifestTableFormat.maxMetaCountBoundary]] of the list (past
    * that, the normal lazy scan with full cluster parallelism beats a
    * planning-time job).
    *
    * `pinnedDv`: the caller's RESOLUTION-TIME deletion-vector
    * cardinalities (empty map = none). All other stats consulted
    * (rows, per-column bounds/null counts) are immutable for a file's
    * life, so answering from the HEAD stats frame is exact even for a
    * pinned older file list — the same carve-out as
    * [[PinnedScan.liveCount]].
    */
  def filteredAggregates(
      files: Seq[String],
      pinnedDv: Map[String, Long],
      probes: Seq[ExactProbe],
      targets: Seq[ManifestTableFormat.MetaAgg]): Option[Seq[Any]] = {
    import ManifestTableFormat.{MetaAgg, MetaCount, MetaCountStar, MetaMax, MetaMin}
    if (probes.isEmpty || targets.isEmpty) return None
    val snap = log.snapshot()
    val fieldsByPhys = snap.tableSchema.fields
      .map(f => ManifestTableFormat.physicalName(f) -> f).toMap
    val countCols = targets.collect { case MetaCount(c) => c }.distinct
    val extCols = targets.collect {
      case MetaMin(c) => c
      case MetaMax(c) => c
    }.distinct
    // extrema serve only stats-exact kinds (canonical grid) and
    // marked-exact strings; anything else refuses the whole lane —
    // proven files could never contribute and the cap would just trip
    def dtOf(c: String) = fieldsByPhys.get(c).map(_.dataType)
    val extKinds: Map[String, org.apache.spark.sql.types.DataType] =
      extCols.map { c =>
        val dt = dtOf(c).getOrElse(return None)
        val ok = dt match {
          case _: org.apache.spark.sql.types.IntegerType |
               _: org.apache.spark.sql.types.LongType |
               _: org.apache.spark.sql.types.ShortType |
               _: org.apache.spark.sql.types.ByteType |
               _: org.apache.spark.sql.types.DateType |
               _: org.apache.spark.sql.types.TimestampType |
               _: org.apache.spark.sql.types.BooleanType |
               _: org.apache.spark.sql.types.StringType => true
          case _ => false
        }
        if (!ok) return None
        c -> dt
      }.toMap
    def isStr(c: String) =
      extKinds(c).isInstanceOf[org.apache.spark.sql.types.StringType]
    if (files.isEmpty)
      return Some(targets.map {
        case MetaCountStar | MetaCount(_) => 0L
        case _ => null
      })

    import spark.implicits._
    val nnSelects = countCols.zipWithIndex.map { case (c, i) =>
      nullsOf(c).as(s"nn_$i") }
    val extSelects = extCols.zipWithIndex.flatMap { case (c, i) =>
      val pos = array_position(col("cs_names"), c).cast("int")
      Seq(statVal("cs_lo", c).as(s"xlo_$i"),
        statVal("cs_hi", c).as(s"xhi_$i"),
        nullsOf(c).as(s"xnn_$i"),
        when(pos > 0, element_at(col("cs_exact"), pos)).as(s"xex_$i"))
    }
    val base = 4 + countCols.size
    val got = log.statsFrame(snap)
      .join(files.toDF("file"), Seq("file"), "left_semi")
      .select(Seq(col("file"), col("rows"),
        allMatchProof(probes).as("all_m"),
        noneMatchProof(probes).as("none_m")) ++
        nnSelects ++ extSelects: _*)
      .collect()
    if (got.length != files.size) return None

    // encoded-space extrema: numeric kinds as BigDecimal on the
    // canonical grid, strings compared in UTF8String (binary) order
    def less(c: String, a: Any, b: Any): Boolean =
      if (isStr(c)) ManifestTableFormat.utf8Order.lt(a.asInstanceOf[String], b.asInstanceOf[String])
      else a.asInstanceOf[BigDecimal] < b.asInstanceOf[BigDecimal]

    var provenStar = 0L
    val provenCnt = scala.collection.mutable.Map[String, Long]()
    val provenLo = scala.collection.mutable.Map[String, Any]()
    val provenHi = scala.collection.mutable.Map[String, Any]()
    val boundary = Seq.newBuilder[String]
    var nBoundary = 0L
    got.foreach { r =>
      val file = r.getString(0)
      val dv = pinnedDv.getOrElse(file, 0L)
      val noneM = !r.isNullAt(3) && r.getBoolean(3)
      val allM = !r.isNullAt(2) && r.getBoolean(2)
      if (!noneM) {
        // a proven file serves from stats alone iff every target's
        // stat is present AND exact for it; otherwise it falls to the
        // boundary scan (still correct there: all rows match)
        val provable = allM && !r.isNullAt(1) &&
          (dv == 0L || (countCols.isEmpty && extCols.isEmpty)) &&
          countCols.indices.forall(i => !r.isNullAt(4 + i)) &&
          extCols.zipWithIndex.forall { case (c, i) =>
            val o = base + 4 * i
            val allNull = !r.isNullAt(o + 2) && !r.isNullAt(1) &&
              r.getLong(o + 2) == r.getLong(1)
            val bounded = !r.isNullAt(o) && !r.isNullAt(o + 1) &&
              (!isStr(c) || (!r.isNullAt(o + 3) && r.getInt(o + 3) == 1))
            val parses = bounded && (isStr(c) ||
              (scala.util.Try(BigDecimal(r.getString(o))).isSuccess &&
                scala.util.Try(BigDecimal(r.getString(o + 1))).isSuccess))
            allNull || parses
          }
        if (provable) {
          val rows = r.getLong(1)
          provenStar += rows - dv
          countCols.zipWithIndex.foreach { case (c, i) =>
            provenCnt(c) = provenCnt.getOrElse(c, 0L) +
              (rows - r.getLong(4 + i)) }
          extCols.zipWithIndex.foreach { case (c, i) =>
            val o = base + 4 * i
            if (!r.isNullAt(o)) { // bounded (all-null contributes none)
              val lo: Any = if (isStr(c)) r.getString(o)
                else BigDecimal(r.getString(o))
              val hi: Any = if (isStr(c)) r.getString(o + 1)
                else BigDecimal(r.getString(o + 1))
              if (!provenLo.contains(c) || less(c, lo, provenLo(c)))
                provenLo(c) = lo
              if (!provenHi.contains(c) || less(c, provenHi(c), hi))
                provenHi(c) = hi
            }
          }
        } else {
          if (dv != 0L) return None // raw read would see deleted rows
          boundary += file
          nBoundary += 1
        }
      }
    }
    val bFiles = boundary.result()
    if (nBoundary > math.max(ManifestTableFormat.maxMetaCountBoundary,
        files.size / 16)) return None

    var bStar = 0L
    val bCnt = scala.collection.mutable.Map[String, Long]()
    val bLo = scala.collection.mutable.Map[String, Any]()
    val bHi = scala.collection.mutable.Map[String, Any]()
    if (bFiles.nonEmpty) {
      val probeCols = probes.map {
        case ExactCmp(c, _, _, _) => c
        case ExactNull(c, _) => c
      }
      val needed = (probeCols ++ countCols ++ extCols).distinct
      if (!needed.forall(fieldsByPhys.contains)) return None
      val readSchema = StructType(needed.map { p =>
        val f = fieldsByPhys(p)
        StructField(p, f.dataType, f.nullable)
      })
      val pred = probes.map(probeColumn(_, fieldsByPhys))
        .reduceOption((a, b) => a.flatMap(x => b.map(x && _)))
        .flatten.getOrElse(return None)
      // extrema aggregate over statEncode so the boundary values land
      // in the SAME encoded space as the stats-decoded bounds
      val aggs = (count(lit(1)).as("star") +:
        countCols.zipWithIndex.map { case (c, i) =>
          count(col(s"`$c`")).as(s"c_$i") }) ++
        extCols.zipWithIndex.flatMap { case (c, i) =>
          val enc = statEncode(fieldsByPhys(c))
          Seq(min(enc).as(s"lo_$i"), max(enc).as(s"hi_$i"))
        }
      val row = spark.read.schema(readSchema).parquet(bFiles: _*)
        .filter(pred).agg(aggs.head, aggs.tail: _*).collect().head
      bStar = row.getLong(0)
      countCols.zipWithIndex.foreach { case (c, i) =>
        bCnt(c) = row.getLong(1 + i) }
      val eBase = 1 + countCols.size
      extCols.zipWithIndex.foreach { case (c, i) =>
        val lo = row.get(eBase + 2 * i)
        val hi = row.get(eBase + 2 * i + 1)
        if (lo != null) {
          val l: Any = if (isStr(c)) lo.asInstanceOf[String]
            else BigDecimal(lo.toString)
          val h: Any = if (isStr(c)) hi.asInstanceOf[String]
            else BigDecimal(hi.toString)
          if (!bLo.contains(c) || less(c, l, bLo(c))) bLo(c) = l
          if (!bHi.contains(c) || less(c, bHi(c), h)) bHi(c) = h
        }
      }
    }
    ManifestTableFormat.lastMetaCountSplit =
      (files.size - nBoundary, nBoundary)

    // grid value back to the Catalyst-internal value of the column
    def internal(c: String, v: Any): Any =
      if (isStr(c))
        org.apache.spark.unsafe.types.UTF8String
          .fromString(v.asInstanceOf[String])
      else {
        import org.apache.spark.sql.types._
        val d = v.asInstanceOf[BigDecimal]
        extKinds(c) match {
          case _: IntegerType | _: DateType => d.toIntExact
          case _: LongType | _: TimestampType => d.toLongExact
          case _: ShortType => d.toShortExact
          case _: ByteType => d.toByteExact
          case _: BooleanType => d.toIntExact == 1
          case other => throw new IllegalStateException(other.toString)
        }
      }
    def pick(c: String, m1: scala.collection.Map[String, Any],
        m2: scala.collection.Map[String, Any], takeMin: Boolean): Any = {
      val cands = m1.get(c).toSeq ++ m2.get(c).toSeq
      if (cands.isEmpty) null
      else internal(c, cands.reduce((a, b) =>
        if (less(c, a, b) == takeMin) a else b))
    }
    scala.util.Try(Some(targets.map {
      case MetaCountStar => provenStar + bStar
      case MetaCount(c) =>
        provenCnt.getOrElse(c, 0L) + bCnt.getOrElse(c, 0L)
      case MetaMin(c) => pick(c, provenLo, bLo, takeMin = true)
      case MetaMax(c) => pick(c, provenHi, bHi, takeMin = false)
    })).getOrElse(None) // unparseable grid value anywhere: fail open
  }

  /** The EXACT re-execution of one probe over raw file rows — the
    * literal reconstructed at the column's own type from the same
    * canonical rendering the probe was extracted with, so the
    * boundary read evaluates precisely the predicate Spark would.
    * `None` when the value does not parse back (corrupt marker —
    * fail open).
    */
  private def probeColumn(p: ExactProbe,
      fieldsByPhys: Map[String, StructField]): Option[Column] = p match {
    case ExactNull(c, isNull) =>
      Some(if (isNull) col(s"`$c`").isNull else col(s"`$c`").isNotNull)
    case ExactCmp(c, op, v, _) =>
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.catalyst.expressions.{Literal => CLit}
      val dt = fieldsByPhys.get(c).map(_.dataType).getOrElse(return None)
      val litE = scala.util.Try(dt match {
        case _: IntegerType | _: DateType => CLit(v.toInt, dt)
        case _: LongType | _: TimestampType => CLit(v.toLong, dt)
        case _: ShortType => CLit(v.toShort, dt)
        case _: ByteType => CLit(v.toByte, dt)
        case _: BooleanType => CLit(v == "1", dt)
        case _: FloatType => CLit(v.toFloat, dt)
        case _: DoubleType => CLit(v.toDouble, dt)
        case _ => return None
      }).toOption.getOrElse(return None)
      val l = org.apache.spark.sql.graftbridge.Bridge.column(litE)
      val a = col(s"`$c`")
      Some(op match {
        case "lt" => a < l
        case "le" => a <= l
        case "gt" => a > l
        case "ge" => a >= l
        case "eq" => a === l
      })
  }

  /** SQL `UPDATE t SET … WHERE …` as a copy-on-write commit (the
    * Delta convention): files that MAY hold a matching row are found
    * by a PRE-SCAN — read the live set with the predicate pushed down
    * (parquet min/max + the url bloom do the row-group work), project
    * nothing but `input_file_name()`, collect the distinct file NAMES
    * (churn-bounded driver state, same O as every other commit here).
    * Only those files are rewritten: each row passes through
    * `when(condition, value).otherwise(col)` per assigned column, so a
    * NULL-valued predicate leaves the row unchanged (SQL three-valued
    * WHERE semantics), then `rm`(affected) + `add`(new) commit in one
    * entry — readers stay snapshot-isolated throughout, and a lost
    * race re-runs against the new snapshot via [[commitLoop]]'s
    * (file, dv) pair check. `condition = None` (no WHERE) rewrites
    * the whole live set — the full-table UPDATE SQL permits.
    */
  def update(
      condition: Option[org.apache.spark.sql.Column],
      set: Seq[(String, org.apache.spark.sql.Column)]): Unit = {
    validateUpdate(set)
    if (dvWrites) { updateDv(condition, set); return }
    val cond = condition.getOrElse(lit(true))
    commitCycle(
      snap => {
        val names = condition.fold(log.liveNames(snap))(
          preScanCandidates(snap, _))
        if (names.isEmpty) Seq.empty
        else toRecordedNames(names,
          readLiveWithFile(snap, names, "__f").filter(cond)
            .select(col("__f")).distinct()
            .collect().map(_.getString(0)).toSeq).sorted
      },
      (snap, files) => {
        val src = readLive(snap, files)
        val projected = snap.tableSchema.fields.toIndexedSeq.map { f =>
          set.find(_._1 == f.name) match {
            case Some((_, v)) =>
              when(cond, v.cast(f.dataType)).otherwise(col(f.name))
                .as(f.name)
            case None => col(f.name)
          }
        }
        src.select(projected: _*)
      })
  }

  private def validateUpdate(
      set: Seq[(String, org.apache.spark.sql.Column)]): Unit = {
    require(set.nonEmpty, "UPDATE needs at least one assignment")
    val known = currentSchema.fieldNames.toSet
    set.foreach { case (n, _) => require(known.contains(n),
      s"UPDATE at $path: unknown column '$n' " +
        s"(table columns: ${known.toSeq.sorted.mkString(", ")})") }
    require(set.map(_._1).distinct.size == set.size,
      s"UPDATE at $path assigns a column twice: " +
        set.map(_._1).mkString(", "))
  }

  /** MERGE-ON-READ row-level UPDATE (the deletion-vector sibling of
    * [[deleteWhereDv]]): the matched LIVE rows' positions join the
    * affected files' vectors (tombstoning the old copies in place)
    * and the updated copies append as new files — write cost
    * O(matched rows), never a touched-file rewrite. The matched scan
    * anti-joins the files' EXISTING vectors first, so an
    * already-deleted row can never be "updated" back to life. Files
    * whose new vector covers every physical row rm outright (their
    * rows all moved). CHECK constraints enforce on the appended
    * copies at the shared write choke point. Conflict-checked on
    * (file, dv) pairs; a lost race re-runs. Returns (files
    * tombstone-extended, updated rows appended).
    */
  def updateDv(
      condition: Option[org.apache.spark.sql.Column],
      set: Seq[(String, org.apache.spark.sql.Column)]): (Long, Long) = {
    validateUpdate(set)
    val cond = condition.getOrElse(lit(true))
    var result = (0L, 0L)
    commitLoop("DV update") { snap =>
      val names = condition.fold(log.liveNames(snap))(
        preScanCandidates(snap, _))
      result = (0L, 0L)
      if (names.isEmpty) None
      else {
        val stats = log.statsOf(snap, names)
        // matched LIVE rows with their positions: raw scan + position,
        // minus the already-deleted positions, then the predicate
        val matched = rawWithPos(names, snap.tableSchema)
          .join(broadcast(dvPositions(
            names.flatMap(f => stats(f).dv.map(f -> _)))),
            Seq("__name", "__pos"), "left_anti")
          .filter(cond)
          .persist()
        try {
          // updated copies (appended): SQL three-valued WHERE already
          // applied — only TRUE-matching rows are here
          val updatedCols = snap.tableSchema.fields.toIndexedSeq.map { f =>
            set.find(_._1 == f.name) match {
              case Some((_, v)) => v.cast(f.dataType).as(f.name)
              case None => col(f.name)
            }
          }
          val adds = writeData(matched.select(updatedCols: _*), snap)
          // tombstones: matched positions union the existing vectors;
          // no live row matched leaves no actions (and no adds)
          val t = tombstone(stats, names, Nil,
            matched.select("__name", "__pos"))
          result = (t.removed + t.revectored,
            adds.flatMap(_.stats.flatMap(_.rows)).sum)
          if (t.actions.isEmpty) None
          else Some(Attempt(t.actions ++ adds,
            Some(names.map(f => f -> stats.get(f).flatMap(_.dv))),
            t.dvPath.toSeq ++ adds.map(_.file)))
        } finally matched.unpersist()
      }
    }
    result
  }

  def compact(): Unit =
    compact(ManifestTableFormat.defaultTargetFileBytes)

  /** A21 maintenance with explicit file-size targeting: the live set
    * rewrites into `ceil(totalBytes / targetFileBytes)` files — a
    * small table collapses to one file (the former behavior), a
    * 100 TB table re-bins to ~128 MB parquet files in parallel
    * instead of funnelling through a single writer task. Sizes come
    * from per-file metadata lookups over the same name list the
    * rewrite reads anyway (metadata RPCs are noise next to rewriting
    * every byte).
    */
  def compact(targetFileBytes: Long): Unit = {
    compaction("compact", targetFileBytes, None, Nil)
    ()
  }

  /** Replace the live set with `f` of its rows in ONE copy-on-write
    * commit; a lost race re-runs `f` over the new snapshot. The dedup
    * signature store compacts with it (`f` collapses replayed rows).
    */
  def rewriteLive(f: DataFrame => DataFrame): Unit =
    commitCycle(snap => log.liveNames(snap),
      (snap, files) => f(readLive(snap, files)))

  /** PREDICATE-SCOPED COMPACTION (the Delta `OPTIMIZE WHERE` idea):
    * bin-pack only the SMALL files (< `targetFileBytes`) whose stats
    * overlap `condition` — at 100 TB you never rewrite the whole
    * table on a maintenance tick, you sweep the region a workload
    * just fragmented. Candidate selection is pure metadata (the same
    * probe extraction + stats pruning the DML pre-scans use; an
    * unextractable predicate falls open to "all small files"), rows
    * are carried UNCHANGED (this is a layout operation — the rewrite
    * is `readFiles` with no filter), and the rm+add lands as one
    * snapshot-isolated commit. Returns the number of files rewritten
    * (0 = fewer than two candidates, nothing to gain).
    */
  def compactWhere(
      condition: org.apache.spark.sql.Column,
      targetFileBytes: Long = ManifestTableFormat.defaultTargetFileBytes)
      : Long =
    compaction("compactWhere", targetFileBytes, Some(condition), Nil)

  /** Z-ORDER COMPACTION (B11 clustering): the live set rewrites
    * clustered on the morton curve of `dimNames` —
    * one range-stats pass over just the dim columns, one range
    * exchange on the curve, a per-partition sort, size-targeted
    * output files — all through the same copy-on-write commit as
    * [[compact]], so readers stay snapshot-isolated and a lost race
    * re-runs. Because [[writeData]] records per-column min/max stats
    * on every new file, the clustered files immediately serve
    * selective predicates through the c37j file skipping: curve
    * locality makes each file's hull tight, so range conjuncts on
    * the dims prune to a small file subset, and `set_bloom_columns`
    * blooms prune equality probes on unclustered keys. Non-numeric
    * dims degrade to a constant curve coordinate (no clustering
    * benefit, never an error); run on a maintenance cadence after
    * appends dilute locality.
    */
  def compactZorder(dimNames: Seq[String],
      targetFileBytes: Long = ManifestTableFormat.defaultTargetFileBytes)
      : Unit = {
    require(dimNames.nonEmpty, "compactZorder needs at least one column")
    compaction("compactZorder", targetFileBytes, None, dimNames)
    recordClusterSpec(dimNames)
  }

  /** PREDICATE-SCOPED Z-ORDER COMPACTION (Delta's
    * `OPTIMIZE t WHERE … ZORDER BY …`): [[compactWhere]]'s
    * metadata-only candidate selection (stats-overlapping files under
    * `targetFileBytes`) with [[compactZorder]]'s clustered rewrite —
    * at 100 TB a maintenance tick re-clusters exactly the region a
    * workload fragmented, never the table. Returns files rewritten
    * (0 = fewer than two candidates).
    */
  def compactZorderWhere(
      dimNames: Seq[String],
      condition: org.apache.spark.sql.Column,
      targetFileBytes: Long = ManifestTableFormat.defaultTargetFileBytes)
      : Long = {
    require(dimNames.nonEmpty, "compactZorderWhere needs a column")
    val rewritten = compaction("compactZorderWhere", targetFileBytes,
      Some(condition), dimNames)
    if (rewritten > 0L) recordClusterSpec(dimNames)
    rewritten
  }

  /** The one copy-on-write rewrite behind the four compactions. The
    * candidates are every live file, or with `where` the SMALL files
    * (under `targetFileBytes`) whose stats overlap the predicate, and
    * fewer than two of those rewrite nothing. Their rows land in
    * `ceil(bytes / targetFileBytes)` files: repartitioned, or
    * clustered on the morton curve of `dims`. Returns the number of
    * files the `where` selection rewrote (0 without `where`).
    */
  private def compaction(what: String, targetFileBytes: Long,
      where: Option[Column], dims: Seq[String]): Long = {
    require(targetFileBytes > 0,
      s"targetFileBytes must be positive, got $targetFileBytes")
    var rewritten = 0L
    commitCycle(
      snap => {
        val known = snap.tableSchema.fieldNames.toSet
        dims.foreach(d => require(known.contains(d),
          s"$what at $path: unknown column '$d' " +
            s"(table columns: ${known.toSeq.sorted.mkString(", ")})"))
        where.fold(log.liveNames(snap)) { c =>
          val pruned = preScanCandidates(snap, c)
          val sizes = sizesOf(snap, pruned)
          val candidates = pruned.filter(sizes(_) < targetFileBytes)
          // one output bin from one input file is a rewrite for nothing
          rewritten = if (candidates.size < 2) 0L else candidates.size.toLong
          if (rewritten == 0L) Seq.empty else candidates
        }
      },
      (snap, files) => {
        val totalBytes = sizesOf(snap, files).values.sum
        val parts = math.max(1L,
          (totalBytes + targetFileBytes - 1) / targetFileBytes)
          .min(Int.MaxValue.toLong).toInt
        val rows = readLive(snap, files)
        if (dims.isEmpty) rows.repartition(parts)
        else Layout.zorderFrameAuto(rows, dims, parts).drop("__z")
      })
    rewritten
  }

  // ---- clustering-spec sidecar + maintenance gauges ------------------

  /** Record the table's CLUSTERING SPEC (`_graft_cluster` sidecar at
    * the table root): the z-order dims and the version the last
    * recluster landed at. Purely ADVISORY state for the maintenance
    * policy ([[graft.ops.AutoOptimize]]) — never read on the query
    * path, never part of a commit; a torn/stale write costs at most
    * one redundant or skipped recluster, never correctness.
    */
  def recordClusterSpec(dims: Seq[String]): Unit = {
    requireMain("recordClusterSpec")
    require(dims.nonEmpty && dims.forall(d => !d.contains(",")),
      s"cluster dims must be non-empty, comma-free: $dims")
    val p = new Path(path, "_graft_cluster")
    val out = fs.create(p, true)
    try out.write(s"${version}\n${dims.mkString(",")}\n".getBytes("UTF-8"))
    finally out.close()
  }

  /** The recorded clustering spec: (dims, version at last recluster),
    * or None when the table was never z-ordered.
    */
  def clusterSpec: Option[(Seq[String], Long)] = {
    val p = new Path(path, "_graft_cluster")
    if (!fs.exists(p)) return None
    val lines = log.readText(p).linesIterator.toSeq
    if (lines.size < 2) return None
    scala.util.Try((lines(1).split(",").toSeq, lines(0).trim.toLong))
      .toOption.filter(_._1.nonEmpty)
  }

  /** Fraction of the CURRENT live file set that did not exist at
    * `sinceVersion` — the z-curve dilution gauge: freshly-appended
    * files carry arbitrary curve coordinates, so a high fraction
    * means clustered reads degrade toward unclustered. O(log replay),
    * no data reads. 0.0 on an empty table.
    */
  def newFileFraction(sinceVersion: Long): Double = {
    val live = log.liveNames(log.snapshot())
    if (live.isEmpty) return 0.0
    val old = filesAtVersion(sinceVersion).toSet
    live.count(f => !old.contains(f)).toDouble / live.size
  }

  /** One-pass maintenance gauges off the log's own stats — what
    * [[graft.ops.AutoOptimize]]'s policy reads. `smallFiles` counts
    * live files under `targetFileBytes` (the same candidacy rule
    * [[compactWhere]] uses); `maxDvFrac` is the worst per-file
    * tombstone ratio (deletion-vector cardinality / physical rows).
    * Absent stats fail toward "no action" (a pre-stats file counts
    * as neither small nor DV'd) — maintenance is advisory, reads
    * stay exact either way.
    */
  def maintenanceStats(targetFileBytes: Long)
      : ManifestTableFormat.MaintenanceStats = {
    val snap = log.snapshot()
    val agg = log.statsFrame(snap).agg(
      count(lit(1)).as("files"),
      sum(coalesce(col("bytes"), lit(0L))).as("bytes"),
      sum(when(col("bytes") < targetFileBytes, 1L).otherwise(0L))
        .as("small"),
      sum(when(col("bytes") < targetFileBytes,
        col("bytes")).otherwise(0L)).as("small_bytes"),
      sum(when(coalesce(col("dv_card"), lit(0L)) > 0L, 1L)
        .otherwise(0L)).as("dv_files"),
      sum(coalesce(col("dv_card"), lit(0L))).as("dv_deleted"),
      sum(coalesce(col("rows"), lit(0L))).as("phys_rows"),
      max(when(col("rows") > 0L,
        coalesce(col("dv_card"), lit(0L)).cast("double") / col("rows"))
        .otherwise(lit(0.0))).as("max_dv_frac"))
      .collect().head
    def l(i: Int) = if (agg.isNullAt(i)) 0L else agg.getLong(i)
    ManifestTableFormat.MaintenanceStats(
      version = snap.version,
      files = l(0), bytes = l(1),
      smallFiles = l(2), smallBytes = l(3),
      dvFiles = l(4), dvDeletedRows = l(5), physicalRows = l(6),
      maxDvFrac = if (agg.isNullAt(7)) 0.0 else agg.getDouble(7))
  }

  /** A18 append, log-committed: new files only, no removes — so a
    * lost commit race recommits (unless the winner moved the CHECK
    * constraints: then the write re-runs and re-enforces).
    */
  def append(rows: DataFrame): Unit = {
    // no isEmpty precheck: it evaluated the incoming query once just
    // to decide whether to run it again (measured ~2x the write cost
    // on computed sources). writeData detects an empty batch from its
    // stats pass and returns no actions, and commitCycle skips the
    // commit when there is nothing to add — same no-empty-commit
    // behavior, one evaluation of `rows`.
    commitCycle(_ => Seq.empty,
      (snap, _) => conform(rows, snap.tableSchema))
  }

  /** SQL `TRUNCATE TABLE`: remove every live file in one atomic
    * commit — reversible via time travel (and [[restore]]) until
    * vacuum, unlike DROP TABLE.
    */
  def truncate(): Unit =
    commitCycle(
      snap => log.liveNames(snap),
      (snap, _) => emptyFrame(snap.tableSchema))

  /** RESTORE the table to the live file set of `asOf` as a NEW
    * commit (the Delta RESTORE semantics): files live at both
    * versions stay put, files added since are rm'd, files removed
    * since are RE-ADDED with their original stats — no data rewrite.
    * History keeps moving forward (the restore itself is
    * time-travelable). Every re-added file's existence is verified
    * FIRST: a file vacuum already reclaimed fails the restore loudly
    * before anything commits (the same retention contract as
    * [[readVersion]], enforced at write time). Returns
    * (files re-added, files removed).
    */
  def restore(asOf: Long): (Long, Long) = {
    var result = (0L, 0L)
    commitLoop("RESTORE") { snap =>
      result = (0L, 0L)
      if (snap.version == asOf) None
      else {
        val wanted = log.liveStats(log.snapshot(Some(asOf)))
        val currentDv = log.liveWithDv(snap).toMap
        // re-add when not live now, OR live under a DIFFERENT deletion
        // vector (a replay add replaces the pair — the restore must
        // reset post-asOf DV drift, not just name churn)
        val toAdd = wanted.filter { case (n, st) =>
          currentDv.get(n) match {
            case None => true
            case Some(dv) => dv != st.dv
          }
        }
        val toRm = currentDv.keys.filterNot(wanted.contains).toSeq.sorted
        val gone = (toAdd.keys ++
            toAdd.values.flatMap(_.dv.map(_.path)))
          .filterNot(n => fs.exists(new Path(n))).toSeq.sorted
        require(gone.isEmpty,
          s"RESTORE to $asOf at $path: ${gone.size} data/deletion-vector " +
            s"files were already vacuumed (first: ${
              gone.headOption.getOrElse("")}) — that version's bytes are gone")
        result = (toAdd.size.toLong, toRm.size.toLong)
        if (toAdd.isEmpty && toRm.isEmpty) None
        else Some(Attempt(toRm.map(Action(add = false, _, None)) ++
          toAdd.toSeq.sortBy(_._1).map { case (n, st) =>
            Action(add = true, n, Some(st)) }, None))
      }
    }
    result
  }

  /** SQL `INSERT OVERWRITE`: replace the whole live set with `rows`
    * in ONE atomic commit (rm every live file + add the new ones) —
    * readers stay snapshot-isolated, the previous state remains
    * time-travelable until vacuum, and CHECK constraints enforce at
    * the shared write choke point. An empty `rows` leaves an empty
    * table (the overwrite happened), unless the table was already
    * empty (no-op).
    */
  def overwrite(rows: DataFrame): Unit =
    commitCycle(
      snap => log.liveNames(snap),
      (snap, _) => conform(rows, snap.tableSchema))

  /** EXACTLY-ONCE streaming append: the micro-batch's rows and a
    * `(appId, batchId)` transaction marker commit in ONE atomic log
    * entry (Delta's `SetTransaction` idea). A replayed micro-batch —
    * the at-least-once delivery every foreachBatch checkpoint gives
    * on crash — finds `batchId <=` the app's recorded high-water mark
    * and returns false WITHOUT writing, so the (checkpoint, table)
    * pair converges to each batch applied once. The marker is checked
    * against a fresh snapshot on every (re)attempt, including after a
    * lost commit race — two writers racing the SAME (app, batch)
    * resolve to exactly one data commit, the loser deleting its
    * staged files. Markers survive checkpoint + vacuum via the
    * checkpoint's txn sidecar. Batch ids must be monotonically
    * increasing per app (the micro-batch contract); an EMPTY batch
    * still commits its marker, so a replay after a crash between an
    * empty batch and its checkpoint stays unambiguous.
    */
  def appendStream(rows: DataFrame, appId: String, batchId: Long)
      : Boolean = {
    require(appId.nonEmpty, "appendStream needs a non-empty appId")
    commitCycle(_ => Seq.empty, (snap, _) => conform(rows, snap.tableSchema),
      Some((appId, batchId)))
  }

  /** Where DSv2 streaming tasks stage their parquet files (under the
    * table's data dir, one fresh sub-directory per micro-batch
    * attempt): files here are UNREFERENCED until
    * [[commitStagedStream]] adds them to the log — a crashed batch
    * leaves plain vacuum fodder, exactly like a crashed writer.
    */
  def newStreamStagingDir(): String =
    new Path(dataDir,
      s"stream-${java.util.UUID.randomUUID()}").toString

  /** Physical schema of the CURRENT table schema — what DSv2
    * streaming tasks write their staged parquet files in (v5 column
    * mapping: stats and data outlive renames).
    */
  def currentPhysicalSchema: StructType =
    ManifestTableFormat.physicalSchema(currentSchema)

  /** EXACTLY-ONCE commit of ALREADY-STAGED parquet files — the driver
    * half of the DSv2 STREAMING_WRITE two-phase protocol. Executor
    * tasks wrote `files` (physical schema) under the staging dir;
    * this validates CHECK constraints, computes the per-file stats
    * with the same one-job aggregate as every other write, and
    * commits add-actions + the `(appId, batchId)` transaction marker
    * in ONE atomic log entry — the identical idempotence/race
    * contract as [[appendStream]]: a replayed micro-batch (or the
    * loser of a same-batch race) finds the marker, deletes its staged
    * files, and returns false. An empty batch still commits its
    * marker.
    */
  def commitStagedStream(
      files: Seq[String], appId: String, batchId: Long): Boolean = {
    require(appId.nonEmpty, "commitStagedStream needs a non-empty appId")
    val f = fs
    def dropStaged(): Unit =
      files.foreach(n => f.delete(new Path(n), false))
    // the staged files are inputs, not an attempt's products: a
    // re-run (the constraints moved) reads them again, so only a
    // landed marker drops them
    val txn = Some((appId, batchId))
    val committed = commitLoop("streaming commit", txn) { snap =>
      val sPhys = ManifestTableFormat.physicalSchema(snap.tableSchema)
      val adds =
        if (files.isEmpty) Seq.empty
        else {
          val written = spark.read.schema(sPhys).parquet(files: _*)
          enforceConstraints(written, snap, () => dropStaged())
          statsActionsFor(written, sPhys)
        }
      Some(Attempt(adds, Some(Nil)))
    }.isDefined
    if (!committed) dropStaged()
    committed
  }

  def read(): DataFrame = {
    val snap = log.snapshot()
    readFilesDv(log.liveWithDv(snap), snap.tableSchema)
  }

  /** Point/multi-document reads prune to the files whose stats MAY
    * hold a probed url (bloom + min/max from log metadata): by
    * literals ([[urlFiles]], no Spark job on a checkpoint-less table)
    * with a residual `isin` filter when [[selectsByLiterals]] admits
    * the urls, else by the frame join ([[affectedFiles]]) with a
    * residual broadcast semi-join. Probabilistic in the cheap
    * direction only: a false positive reads one extra file; the
    * residual filter keeps the result identical to a full
    * scan-and-filter.
    */
  def readDocuments(urls: Seq[String]): DataFrame = {
    requireUrlKey("document point read")
    val snap = log.snapshot()
    val distinct = urls.distinct
    if (selectsByLiterals(snap, distinct.size))
      readLive(snap, urlFiles(snap, distinct))
        .filter(col("document_url").isin(distinct: _*))
    else {
      import spark.implicits._
      val probe = distinct.toDF("document_url")
      readLive(snap, affectedFiles(snap, probe))
        .join(broadcast(probe), Seq("document_url"), "left_semi")
        .select(snap.tableSchema.fieldNames.map(col).toIndexedSeq: _*)
    }
  }

  /** The surviving commit history, oldest first
    * ([[ManifestLog!.history]]) — the operational `DESCRIBE HISTORY`
    * answer: what changed, when, and how far back time travel still
    * reaches.
    */
  def history(): Seq[(Long, Long, Long, Long, String)] = log.history()

  /** Metadata-only table summary: `(version, live files, live rows,
    * live bytes)` — one narrow aggregate over the stats frame
    * (checkpoint manifests read executor-side), NO data scan and no
    * per-file RPCs. `rows`/`bytes` are −1 when any live file
    * predates the corresponding stat (fail-honest rather than
    * undercount; the next rewrite of that file re-records it). The
    * `SELECT count(*)` and du a 100 TB operator actually wants,
    * answered from the log.
    */
  def tableStats(): (Long, Long, Long, Long) = {
    val snap = log.snapshot()
    val agg = log.statsFrame(snap)
      .agg(count(lit(1)).as("files"),
        sum(col("rows") - coalesce(col("dv_card"), lit(0L))).as("rows"),
        count("rows").as("rows_known"), sum("bytes").as("bytes"),
        count("bytes").as("bytes_known"))
      .collect().head
    val files = agg.getLong(0)
    val rows =
      if (files == 0) 0L
      else if (agg.getLong(2) == files) agg.getLong(1)
      else -1L
    val bytes =
      if (files == 0) 0L
      else if (agg.getLong(4) == files) agg.getLong(3)
      else -1L
    (snap.version, files, rows, bytes)
  }

  /** The streaming transaction high-water marks: (appId, last
    * committed batchId) per app — the operator's answer to "has
    * pipeline X delivered batch N yet".
    */
  def streamTransactions: Seq[(String, Long)] =
    log.snapshot().txns.toSeq.sortBy(_._1)

  // ---- ANALYZE: table-level NDV sketches ---------------------------

  /** ANALYZE (the Iceberg Puffin / `ANALYZE TABLE` idea): ONE
    * DV-aware scan computes a DataSketches HLL sketch per requested
    * column (lgK=12, ~1.6% relative standard error) and records the
    * sketches + their estimates in a version-stamped `<v>.ndv.json`
    * sidecar. Table-level NDV cannot be derived from per-file stats
    * (per-file distinct counts don't merge — overlap is unknown), and
    * carrying a per-file sketch in every add-action would multiply
    * the log size; a periodic one-scan analyze is the trade Iceberg
    * ships. Consumers ([[ndvInfo]] → the scan's DSv2 column
    * statistics, `CALL ndv`) serve the NEWEST sidecar and expose its
    * version so staleness is visible — re-analyze on the maintenance
    * cadence, like OPTIMIZE. Returns (analyzed version, column →
    * estimate).
    */
  def analyzeNdv(cols: Seq[String]): (Long, Map[String, Long]) = {
    require(cols.nonEmpty, "analyzeNdv needs at least one column")
    val snap = log.snapshot()
    require(snap.version >= 0, s"analyze: no commits at $path yet")
    val schemaNow = snap.tableSchema
    val resolved = cols.map { c =>
      schemaNow.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"analyze: no column '$c' in ${schemaNow.fieldNames
            .mkString(", ")}")).name
    }
    val df = read()
    val sketches = df.agg(
      org.apache.spark.sql.functions.hll_sketch_agg(col(resolved.head), 12)
        .as(resolved.head),
      resolved.tail.map(c =>
        org.apache.spark.sql.functions.hll_sketch_agg(col(c), 12)
          .as(c)): _*)
    val row = sketches.select(resolved.flatMap(c => Seq(
      // empty input → null sketch → NDV 0
      coalesce(org.apache.spark.sql.functions.hll_sketch_estimate(col(c)),
        lit(0L)).as(s"e_$c"),
      coalesce(base64(col(c)), lit("")).as(s"s_$c"))): _*).head()
    val entries = resolved.zipWithIndex.map { case (c, i) =>
      (c, row.getLong(2 * i), row.getString(2 * i + 1))
    }
    log.recordNdv(snap.version, entries)
    (snap.version, entries.map { case (c, e, _) => c -> e }.toMap)
  }

  /** The newest recorded NDV analysis: (analyzed version, column →
    * estimate). None before any [[analyzeNdv]]. Estimates are as-of
    * the analyzed version — staleness is the caller's call (the CBO
    * hook serves them as estimates; exact lanes never consult this).
    */
  def ndvInfo: Option[(Long, Map[String, Long])] = log.ndvInfo

  // ---- branches (write-audit-publish) ------------------------------

  /** CREATE BRANCH (the Iceberg branch / WAP idea, adapted to a
    * directory-per-branch log): fork the current log into
    * `_log/branches/<name>/` — a SELF-CONTAINED copy (entries, valid
    * checkpoints, every sidecar), so the branch never reads main's
    * log again and main's vacuum/checkpoint cadence cannot strand it.
    * Data files are NOT copied: branch handles write into the
    * table's shared `data/` namespace, which is what makes
    * [[fastForward]] a single metadata commit.
    *
    * Cost: O(log), not O(data) — for a long-lived table that is the
    * newest checkpoint + tail, the same bytes a snapshot read plans
    * over. Creation races (two writers, same name) resolve through
    * the same staged-directory publish as checkpoints: exactly one
    * wins, the loser gets the loud refusal.
    *
    * Returns the fork version (the branch's first commit is fork+1).
    */
  def createBranch(name: String): Long = {
    requireMain("createBranch")
    require(ManifestTableFormat.validBranchName(name),
      s"invalid branch name '$name' — use [A-Za-z0-9][A-Za-z0-9_.-]*")
    log.fork(name)
  }

  /** The branches of this table: (name, fork version), sorted. */
  def listBranches: Seq[(String, Long)] = {
    requireMain("listBranches")
    log.branches
  }

  /** DROP BRANCH: delete the branch's log fork. Data files only the
    * branch referenced become unreferenced and reclaim on the next
    * main [[vacuum]] (which unions live names across branches while
    * they exist).
    */
  def dropBranch(name: String): Unit = {
    requireMain("dropBranch")
    log.dropBranch(name)
  }

  /** FAST-FORWARD PUBLISH (the Iceberg `fast_forward` procedure / the
    * Delta WAP publish step): land the branch's post-fork commits on
    * main as ONE atomic squash commit of their NET data actions —
    * files added and removed within the branch cancel without ever
    * touching main, a file whose final branch state is live publishes
    * as one add (latest stats, deletion vector included), a pre-fork
    * file the branch deleted publishes as one rm, and the branch's
    * streaming txn markers carry over (exactly-once survives the
    * publish). O(branch churn) driver state — the net replay walks
    * only the branch's own entries, never a live file set.
    *
    * STRICT fast-forward: main's head must still BE the fork version.
    * If main advanced — including a race during the publish itself —
    * nothing is published and the refusal says to re-branch: a WAP
    * audit certified the branch against the forked state, and
    * publishing it onto a different state would launder the audit.
    *
    * Squash semantics (documented divergence from Iceberg, which
    * moves a ref): main gains ONE commit for the whole branch span,
    * so main's CDF shows the published net change at one version.
    * DDL cannot squash — a branch that evolved schema or constraints
    * after the fork refuses to publish.
    *
    * Returns (files added, files removed) as published.
    */
  def fastForward(name: String): (Long, Long) = {
    requireMain("fastForward")
    val b = log.branchLog(name)
    require(b.exists, s"no branch '$name' at $path")
    val fork = b.forkVersion
    val c = b.census()
    val bEntries = c.versions(ManifestLog.Entry).filter(_ > fork)
    val ddl = Seq(ManifestLog.SchemaEra, ManifestLog.Constraints)
      .flatMap(k => c.versions(k).filter(_ > fork).map(b.at(_, k).getName))
    require(ddl.isEmpty,
      s"branch '$name' evolved schema/constraints after the fork " +
        s"(${ddl.mkString(", ")}) — fast-forward publishes net DATA " +
        "actions and cannot squash DDL; apply the DDL on main and " +
        "re-branch")
    require(bEntries == (fork + 1 to fork + bEntries.size),
      s"branch '$name' entries are not contiguous after fork $fork: " +
        bEntries.mkString(", "))
    if (bEntries.isEmpty) return (0L, 0L)
    // net replay of the branch span: final state per touched file
    val finals = scala.collection.mutable.LinkedHashMap
      .empty[String, Option[FileStats]]
    var txns = Map.empty[String, Long]
    bEntries.foreach { v =>
      b.actions(b.at(v, ManifestLog.Entry)).foreach { a =>
        a.txn match {
          case Some((app, n)) =>
            txns += (app -> math.max(n, txns.getOrElse(app, Long.MinValue)))
          case None if a.cts.isDefined => ()
          case None =>
            if (a.add) finals(a.file) = Some(a.stats.get)
            else finals(a.file) = None
        }
      }
    }
    val rms = finals.collect { case (file, None) => file }.toSeq
    val adds = finals.collect { case (file, Some(st)) => (file, st) }.toSeq
    val actions =
      rms.map(Action(add = false, _, None)) ++
        adds.map { case (file, st) => Action(add = true, file, Some(st)) } ++
        txns.toSeq.sortBy(_._1).map { case (app, b) =>
          Action(add = false, "", None, Some((app, b)))
        }
    val snap = log.snapshot()
    def refuse(v: Long): Nothing = throw new IllegalStateException(
      s"main advanced past branch '$name''s fork (head v$v > fork " +
        s"v$fork) — nothing was published. The audit certified the " +
        "branch against the forked state; re-branch from the head, " +
        "re-apply, re-audit, and fast-forward again")
    if (snap.version != fork) refuse(snap.version)
    if (!log.tryCommit(snap, actions)) {
      // lost the fork+1 publish race — main has advanced by definition
      refuse(log.snapshot().version)
    }
    (adds.size.toLong, rms.size.toLong)
  }

  /** The current committed version (−1 before the first commit). */
  def version: Long = log.snapshot().version

  /** Live data files of the current snapshot (absolute paths,
    * sorted).
    */
  def liveFiles: Seq[String] = log.liveNames(log.snapshot())

  /** Pins one snapshot for a SQL scan — the head, or version `asOf`
    * — taking the (file, deletion vector) pairs and the schema from
    * the same replay. The [[PinnedScan]] owns every planner-time
    * stats lane of the resolved table.
    */
  def pinScan(asOf: Option[Long] = None): PinnedScan = {
    val snap = log.snapshot(asOf)
    new PinnedScan(this, log.liveWithDv(snap), snap.tableSchema,
      timeTravel = asOf.isDefined)
  }

  /** The per-file stats lookup behind every [[PinnedScan]] lane, in
    * `files` order; `physCol` names the one column whose stats to
    * carry. A checkpoint-less snapshot answers from the driver-held
    * tail without a Spark job — the lanes fire on every planning
    * pass, so this is a per-query saving. With a parquet checkpoint
    * it is one narrow stats-frame projection (file, rows, dv_card and
    * the column's slots). `None` when any asked file has no stats row
    * (vacuumed, foreign): every lane fails open on it.
    */
  private[sink] def statsLookup(files: Seq[String], physCol: Option[String])
      : Option[Seq[FileStat]] = {
    if (files.isEmpty) return Some(Nil)
    val snap = log.snapshot()
    val got: Map[String, FileStat] = snap.ckptParquet match {
      case None =>
        files.flatMap(f => snap.base.get(f).map(st => f -> FileStat(f,
          st.rows, st.dv.fold(0L)(_.card),
          physCol.flatMap(c => st.cols.find(_.name == c))))).toMap
      case Some(_) =>
        import spark.implicits._
        val slots = physCol.toSeq.flatMap { c =>
          val p = array_position(col("cs_names"), c).cast("int")
          Seq("cs_valid", "cs_lo", "cs_hi", "cs_nn", "cs_exact")
            .map(a => when(p > 0, element_at(col(a), p)))
        }
        log.statsFrame(snap).join(files.toDF("file"), Seq("file"), "left_semi")
          .select(Seq(col("file"), col("rows"), col("dv_card")) ++ slots: _*)
          .collect().map { r =>
            def opt[T](i: Int): Option[T] =
              if (r.isNullAt(i)) None else Some(r.getAs[T](i))
            val valid = physCol.isDefined && opt[Int](3).contains(1)
            // no null count = the column has no stats in this file
            val c = physCol.flatMap(name => opt[Long](6).map(nn =>
              ColStats(name, opt[String](4).filter(_ => valid),
                opt[String](5).filter(_ => valid), nn,
                exact = opt[Int](7).contains(1))))
            r.getString(0) -> FileStat(r.getString(0), opt[Long](1),
              opt[Long](2).getOrElse(0L), c)
          }.toMap
    }
    if (files.forall(got.contains)) Some(files.map(got)) else None
  }

  /** Live (file, deletion-vector) pairs of the current snapshot,
    * sorted by name; any `Some` means reads go through [[readPinned]].
    */
  def liveFilesWithDv: Seq[(String, Option[ManifestTableFormat.DvRef])] =
    log.liveWithDv(log.snapshot())

  /** DV-aware read of a PINNED (file, dv) list under `s` — the SQL
    * catalog's scan body for deletion-vector snapshots (snapshot
    * isolation comes from the pinned pairs, exactly like the pinned
    * file lists of the plain scan path).
    */
  def readPinned(
      pairs: Seq[(String, Option[ManifestTableFormat.DvRef])],
      s: StructType): DataFrame = readFilesDv(pairs, s)

  /** FILE SKIPPING for a planned scan (the Delta data-skipping idea,
    * manifest-native): given the scan's PINNED file list and the
    * conjuncts the scan pushed (pre-extracted to [[StatsProbe]]s by
    * the scan builder), return the subset of `pinned` that MAY hold a
    * matching row per the per-file stats — or None when nothing could
    * be pruned (caller keeps its list and plan).
    *
    * Soundness: a file is dropped only when its stats PROVE no row
    * can match a conjunct. Every comparison fails open — a file
    * absent from the current stats frame (e.g. removed by a commit
    * after the scan pinned its snapshot), a column with no recorded
    * stats (pre-v3 action, evolved column, all-null file, truncation
    * overflow), a value outside DECIMAL(38,18) (try_cast → NULL), a
    * NaN-polluted max — all survive. Numeric bounds compare after
    * the SAME monotone cast on both sides (canonical string →
    * DECIMAL(38,18)), so grid rounding can never invert an ordering;
    * string bounds compare IN the frame under Spark's own string
    * ordering; url equality probes use the bloom (no false
    * negatives). The original predicates all remain on the scan, so
    * the result equals the unpruned scan's on any manifest state.
    *
    * Scale shape: evaluation is a Spark job over the stats frame
    * (checkpoint manifests read executor-side); the driver holds the
    * pinned names it already held (scan planning is O(names) here by
    * contract) plus the DROPPED name set.
    */
  def pruneFilesForScan(
      pinned: Seq[String],
      probes: Seq[ManifestTableFormat.StatsProbe]): Option[Seq[String]] = {
    import ManifestTableFormat._
    import org.apache.spark.sql.types.DecimalType
    if (pinned.isEmpty || probes.isEmpty) return None
    import spark.implicits._
    val snap = log.snapshot()
    // no broadcast hint: the pinned list is usually small enough that
    // AQE broadcasts it anyway, but at the 10⁷-file end it must be
    // allowed to shuffle rather than blow the driver's broadcast cap
    val st = log.statsFrame(snap)
      .join(pinned.toDF("file"), Seq("file"), "left_semi")
    val dec = DecimalType(38, 18)
    def open(c: Column): Column = coalesce(c, lit(true))
    // per-column bloom test (protocol v9): on an EQUALITY probe for a
    // bloom-carrying column, re-hash the literal under the column's
    // native type driver-side and walk the file's recorded bits.
    // Strictly narrowing and always fail-open: no recorded bloom (old
    // file, undeclared column, unhashable literal) keeps the file.
    val physFields = ManifestTableFormat
      .physicalSchema(snap.tableSchema).fields
      .map(f => f.name.toLowerCase -> f.dataType).toMap
    def bloomKeep(c: String, h: Option[Long]): Column = h match {
      case None => lit(true)
      case Some(hash) =>
        val pos = array_position(col("cs_names"), c).cast("int")
        val bl = when(pos > 0, element_at(col("cs_bloom"), pos))
        bl.isNull || size(bl) === 0 ||
          graft.ops.Layout.bloomTestOn(bl, lit(hash),
            col("num_bits"), col("num_hashes"))
    }
    def hashNum(c: String, rendered: String): Option[Long] = {
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.catalyst.expressions.XxHash64Function
      // probe values arrive as canonical grid renderings (integral
      // kinds as plain integers); a non-exact parse fails open
      try {
        val v = BigDecimal(rendered)
        physFields.get(c.toLowerCase).collect {
          case IntegerType => XxHash64Function.hash(
            v.toIntExact, IntegerType, 42L)
          case LongType => XxHash64Function.hash(
            v.toLongExact, LongType, 42L)
          case ShortType => XxHash64Function.hash(
            v.toShortExact, ShortType, 42L)
          case ByteType => XxHash64Function.hash(
            v.toByteExact, ByteType, 42L)
          case DateType => XxHash64Function.hash(
            v.toIntExact, DateType, 42L)
          case t: TimestampType => XxHash64Function.hash(
            v.toLongExact, t, 42L)
        }
      } catch {
        case _: ArithmeticException | _: NumberFormatException => None
      }
    }
    def hashStr(s: String): Option[Long] = Some(stringHash(s))

    val survive = probes.collect {
      case NumRange(c, loB, hiB) =>
        val loS = statVal("cs_lo", c).try_cast(dec)
        val hiS = statVal("cs_hi", c).try_cast(dec)
        val range = (loB.map(l => open(hiS >= lit(l).try_cast(dec))) ++
          hiB.map(h => open(loS <= lit(h).try_cast(dec))))
          .reduceOption(_ && _).getOrElse(lit(true))
        (loB, hiB) match {
          case (Some(l), Some(h)) if l == h =>
            range && bloomKeep(c, hashNum(c, l))
          case _ => range
        }
      case StrRange(c, loB, hiB) =>
        val (loS, hiS) =
          if (c.equalsIgnoreCase("document_url"))
            // dedicated full-precision url fields; "" lo/hi marks an
            // all-null-url file (can match no url predicate, but
            // "" <= anything keeps it — fail-open, costs one read)
            (col("lo"), col("hi"))
          else (statVal("cs_lo", c), statVal("cs_hi", c))
        val range = (loB.map(l => open(hiS >= lit(l))) ++
          hiB.map(h => open(loS <= lit(h))))
          .reduceOption(_ && _).getOrElse(lit(true))
        (loB, hiB) match {
          case (Some(l), Some(h)) if l == h =>
            range && bloomKeep(c, hashStr(l))
          case _ => range
        }
      case NullTest(c, isNull) =>
        if (isNull) open(nullsOf(c) > 0)
        else open(nullsOf(c) < col("rows"))
      case ValuesIn(c, vs) =>
        // v9 point-SET pruning: the file survives if ANY value's
        // bloom test passes. Fail-open on no recorded bloom or any
        // unhashable value (the envelope probe still applies).
        val isStr = physFields.get(c.toLowerCase)
          .exists(_.isInstanceOf[org.apache.spark.sql.types.StringType])
        val hashes = vs.flatMap(v =>
          if (isStr) hashStr(v) else hashNum(c, v))
        if (hashes.size != vs.size || hashes.isEmpty) lit(true)
        else {
          val pos = array_position(col("cs_names"), c).cast("int")
          val bl = when(pos > 0, element_at(col("cs_bloom"), pos))
          bl.isNull || size(bl) === 0 ||
            exists(array(hashes.map(lit): _*), h =>
              graft.ops.Layout.bloomTestOn(bl, h,
                col("num_bits"), col("num_hashes")))
        }
    }.foldLeft(lit(true))(_ && _)

    var dropped = st.filter(!survive).select("file")
    probes.collect { case UrlIn(vs) => vs }.foreach { vs =>
      val hashes = vs.distinct.toDF("u")
        .select(col("u"), xxhash64(col("u")).as("h"))
      val hits = st.join(broadcast(hashes))
        .filter(col("u") >= col("lo") && col("u") <= col("hi"))
        .filter(Layout.bloomTest)
        .select("file").distinct()
      dropped = dropped.union(
        st.select("file").join(hits, Seq("file"), "left_anti"))
    }
    val gone = dropped.distinct().collect().map(_.getString(0)).toSet
    if (gone.isEmpty) None else Some(pinned.filterNot(gone))
  }

  /** Live data files AS OF `asOf` (the [[readVersion]] replay without
    * the read) — backs `VERSION AS OF` through the SQL catalog.
    */
  def filesAtVersion(asOf: Long): Seq[String] =
    filesWithDvAtVersion(asOf).map(_._1)

  /** Live (file, deletion-vector) pairs AS OF `asOf`, from the same
    * replay as the head ([[ManifestLog!.snapshot]]): an add for a live
    * name replaces its previous pair (how a DV commit supersedes).
    */
  def filesWithDvAtVersion(asOf: Long)
      : Seq[(String, Option[ManifestTableFormat.DvRef])] =
    log.liveWithDv(log.snapshot(Some(asOf)))

  /** Time-travel read: the table AS OF `asOf` — replay up to that
    * version from the newest checkpoint at or below it (each file
    * under the deletion vector it carried AT that version). History
    * is bounded by [[vacuum]] (pruned entries make old versions
    * unreachable — the retention trade every log-structured table
    * documents), and a gap in the surviving entries fails loudly
    * rather than silently serving a wrong state.
    */
  def readVersion(asOf: Long): DataFrame = {
    val snap = log.snapshot(Some(asOf))
    readFilesDv(log.liveWithDv(snap), snap.tableSchema)
  }

  /** CHANGE FEED: the row-level delta between two committed versions —
    * the capability the reference's store exposes as the Cosmos change
    * feed (its blob trigger IS a change-feed consumer) and Delta calls
    * CDF, derived here from the log alone. One row per changed chunk
    * with `_change_type` `insert` or `delete`; an upsert that replaced
    * a document appears as its old rows deleted + new rows inserted.
    *
    * How: the file sets at `fromVersion` and `toVersion` diff to
    * added/removed files (names only); rows in added-minus-removed =
    * net inserts, removed-minus-added = net deletes (`exceptAll`, so
    * duplicate rows keep multiplicity). Files live at BOTH versions
    * cancel without being read — copy-on-write rewrites carry
    * survivors into the added files, and the identical survivor rows
    * in the removed files cancel them exactly.
    *
    * Scale shape: reads ONLY the churn-touched files; the exceptAll
    * shuffles changed-file rows, never the table. Both versions must
    * still be reconstructable (same retention contract as
    * [[readVersion]]). `fromVersion = -1` means "since before the
    * first commit" (everything at `toVersion` is an insert).
    */
  def changesBetween(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"changesBetween needs fromVersion <= toVersion, " +
        s"got ($fromVersion, $toVersion]")
    // the diff unit is the (file, deletion-vector) PAIR: a DV-only
    // commit keeps the name but changes the pair, so the file reads
    // on both sides (old vector vs new) and the surviving rows cancel
    // — the newly vectored positions surface as deletes, exactly like
    // a copy-on-write rewrite's
    val before =
      if (fromVersion < 0)
        Set.empty[(String, Option[ManifestTableFormat.DvRef])]
      else filesWithDvAtVersion(fromVersion).toSet
    val to = log.snapshot(Some(toVersion))
    val after = log.liveWithDv(to).toSet
    // both sides read under the TO version's schema: the delta is
    // expressed in the evolved shape, pre-ALTER rows null-filled
    val s = to.tableSchema
    val addedSet = (after -- before).toSeq.sortBy(_._1)
    val removedSet = (before -- after).toSeq.sortBy(_._1)
    val addedRows = readFilesDv(addedSet, s)
    val removedRows = readFilesDv(removedSet, s)
    // one-sided spans skip the diff entirely: a bootstrap or pure
    // append yields inserts with NO shuffle (and a pure retention
    // delete, deletes) — the common case for a first catch-up over a
    // large table
    if (removedSet.isEmpty)
      return addedRows.withColumn("_change_type", lit("insert"))
    if (addedSet.isEmpty)
      return removedRows.withColumn("_change_type", lit("delete"))
    // Both-direction multiset diff in ONE pass: the two exceptAll
    // calls this replaces each unioned and shuffled the SAME inputs
    // (2× the file reads, 2× the exchange bytes). Signed counts give
    // the identical multiplicities — exceptAll(A,R) keeps max(a−r, 0)
    // copies, which is exactly the positive (negative) net count
    // here; sequence-explode restores multiplicity (net is ±1 for
    // copy-on-write churn, so the explode is almost always 1 row).
    val cols = s.fieldNames.toSeq
    val tagged = addedRows.withColumn("__graft_sign", lit(1L))
      .unionByName(removedRows.withColumn("__graft_sign", lit(-1L)))
    tagged.groupBy(cols.map(col): _*)
      .agg(sum(col("__graft_sign")).as("__graft_n"))
      .filter(col("__graft_n") =!= 0L)
      .select(col("*"),
        explode(sequence(lit(1L), abs(col("__graft_n")))).as("__graft_i"))
      .withColumn("_change_type",
        when(col("__graft_n") > 0L, lit("insert")).otherwise(lit("delete")))
      .drop("__graft_n", "__graft_i")
  }

  /** The latest version committed at or before `tsMillis` (epoch ms),
    * behind SQL `TIMESTAMP AS OF`: a commit's time is its v8 in-commit
    * stamp, and the log object's mtime only where the commit carries
    * none ([[ManifestLog!.versionAtTimestamp]]).
    */
  def versionAtTimestamp(tsMillis: Long): Long =
    log.versionAtTimestamp(tsMillis)

  /** Delete data files no committed version references (crashed
    * writers' leftovers and removed-by-rm files), plus log entries
    * and older checkpoints a newer checkpoint subsumes.
    * Maintenance-cadence: a scan planned before the vacuum may still
    * want the bytes — retention is the operator's call, as with any
    * log-structured table. Returns (data files reclaimed, log
    * entries/checkpoints reclaimed) for the operator's report.
    */
  def vacuum(): (Long, Long) = vacuum(0L)

  /** [[vacuum]] with a RETENTION guard: unreferenced data files
    * younger than `retentionMs` (by mtime) are kept — the margin that
    * protects scans planned against a pre-vacuum snapshot and writers
    * whose commit is in flight (Delta's retention-hours contract;
    * `0` = reclaim immediately, the maintenance-window default the
    * gates use).
    */
  def vacuum(retentionMs: Long): (Long, Long) =
    vacuum(retentionMs, dryRun = false)

  /** [[vacuum]] with a DRY-RUN mode: `dryRun = true` walks the same
    * dead-file/stale-log detection and returns what WOULD be
    * reclaimed without deleting anything — the operator's
    * look-before-you-leap on a table whose clones/pinned scans might
    * still want the bytes (the Delta `VACUUM … DRY RUN` idea).
    */
  def vacuum(retentionMs: Long, dryRun: Boolean): (Long, Long) = {
    requireMain("vacuum")
    val f = fs
    val keepAfter = System.currentTimeMillis() - retentionMs
    var nData = 0L
    if (f.exists(dataDir)) {
      // dead-file detection as BATCHED ANTI-JOINS against the
      // live-name frame, keyed on BASENAME (part-file uuids are
      // globally unique; a collision only ever KEEPS a file): the
      // driver holds one listing batch + the dead names — bounded by
      // garbage, never by table size. The live set itself stays in
      // the checkpoint manifests, read executor-side per batch.
      import spark.implicits._
      // live names = data files PLUS referenced deletion-vector
      // objects (superseded DVs drop out of the stats frame and
      // reclaim like any removed file) — unioned across every BRANCH:
      // branch handles write into this shared data/ namespace, and a
      // not-yet-published branch's files must survive main's vacuum
      // until the branch is dropped or fast-forwarded
      val frames = (log +: log.branches.map(b => log.branchLog(b._1)))
        .map(l => l.statsFrame(l.snapshot()))
      val liveBase = frames.map { sf =>
        sf.select(element_at(split(col("file"), "/"), -1).as("name"))
          .union(sf.filter(col("dv_path").isNotNull)
            .select(element_at(split(col("dv_path"), "/"), -1).as("name")))
      }.reduce(_ union _).persist()
      try {
        val it = f.listFiles(dataDir, true)
        val batch = scala.collection.mutable
          .ArrayBuffer.empty[(String, String)]
        def flush(): Unit = if (batch.nonEmpty) {
          val dead = batch.toSeq.toDF("path", "name")
            .join(liveBase, Seq("name"), "left_anti")
            .select("path").collect().map(_.getString(0))
          if (!dryRun) dead.foreach(p => f.delete(new Path(p), false))
          nData += dead.length
          batch.clear()
        }
        while (it.hasNext) {
          val st = it.next()
          val name = st.getPath.getName
          if (st.isFile && !name.startsWith("_") &&
              !name.startsWith(".") &&
              st.getModificationTime <= keepAfter)
            batch += ((st.getPath.toString, name))
          if (batch.size >= ManifestLog.statsPerManifestPart)
            flush()
        }
        flush()
      } finally liveBase.unpersist()
    }
    (nData, log.vacuum(dryRun))
  }
}

object ManifestTableFormat {

  /** Spark's string order (UTF-8 bytes), which Java's UTF-16 order is
    * not on supplementary characters — for log-answered string
    * extrema.
    */
  private[sink] val utf8Order: Ordering[String] =
    Ordering.by[String, org.apache.spark.unsafe.types.UTF8String](
      org.apache.spark.unsafe.types.UTF8String.fromString)

  /** One file's per-column range summary for TopN file pruning
    * ([[PinnedScan.ranges]]): TOTAL row count,
    * null count, the column's bounds decoded on the canonical stats
    * grid — `lo`/`hi` are `None` exactly for a provably all-null
    * column (`nulls == rows`) — and the file's deletion-vector
    * cardinality (0 for a clean file). `rows`/`nulls`/bounds describe
    * ALL rows including DV-deleted ones (stats are immutable);
    * consumers needing live arithmetic subtract `dvCard` as a bound
    * (see [[ManifestTableFormat.topNKeepFiles]]) or refuse DV'd files
    * outright (the log-answered aggregate lanes).
    */
  final case class FileRange(
      file: String,
      rows: Long,
      nulls: Long,
      lo: Option[BigDecimal],
      hi: Option[BigDecimal],
      dvCard: Long = 0L)

  /** The TopN file-pruning decision, shared by the DSv2 TopN pushdown
    * (`ManifestStatsScanBuilder.pushTopN`, clean tables) and the
    * deletion-vector read path (`DvColumnarRead`, DV'd snapshots):
    * keep only files whose rows are NOT provably preceded by ≥ `limit`
    * rows of the kept files under `ORDER BY col [ASC|DESC] LIMIT k`.
    *
    * Soundness (ASC; DESC mirrors with lo): pick the smallest
    * threshold V with `base + Σ_{g: hi(g) ≤ V} liveNonNull⁻(g) ≥ k`
    * (base = Σ liveNull⁻ when NULLS FIRST — every such g has
    * `hi(g) ≤ V`, hence is itself KEPT, so the counted rows exist in
    * the scanned subset). A file f drops only when BOTH parts are
    * excluded: its non-null rows (`lo(f) > V` — strictly after the
    * ≥ k counted rows; grid monotonicity makes the strict grid
    * inequality imply the strict real one) and its null rows (none,
    * or NULLS LAST with ≥ k non-null rows surviving in kept files).
    * DELETION VECTORS only ever shrink the live set, so exclusion by
    * bounds stays sound unchanged, while every COUNTED quantity uses
    * the live LOWER bound (`rows − dvCard − nulls` clamped at 0 for
    * non-nulls, `nulls − dvCard` clamped for nulls) — an undercount
    * can only keep extra files, never drop a needed one. Ties and
    * later sort keys cannot resurrect a dropped row: the counted rows
    * precede it STRICTLY on the first key.
    *
    * Returns None when pruning is impossible (missing bounds, fewer
    * than k provable rows); the caller fails open to the full list.
    */
  def topNKeepFiles(
      ranges: Seq[FileRange],
      limit: Int,
      asc: Boolean,
      nullsFirst: Boolean): Option[Set[String]] = {
    if (ranges.isEmpty || limit <= 0) return None
    def liveNonNullLb(r: FileRange): Long =
      math.max(0L, r.rows - r.dvCard - r.nulls)
    def liveNullLb(r: FileRange): Long =
      math.max(0L, r.nulls - r.dvCard)
    val bounded = ranges.filter(r => r.rows - r.nulls > 0)
    // contract check (all-null ⇔ no bounds); anything else fails open
    if (bounded.exists(r => r.lo.isEmpty || r.hi.isEmpty)) return None

    val base = if (nullsFirst) ranges.map(liveNullLb).sum else 0L
    var acc = base
    var v: Option[BigDecimal] = None
    if (acc < limit) {
      val it = (if (asc) bounded.sortBy(_.hi.get)
        else bounded.sortBy(_.lo.get)(Ordering[BigDecimal].reverse))
        .iterator
      while (v.isEmpty && it.hasNext) {
        val g = it.next()
        acc += liveNonNullLb(g)
        if (acc >= limit) v = Some(if (asc) g.hi.get else g.lo.get)
      }
    }
    if (acc < limit) return None // fewer than k provable rows: no-op

    def nonNullExcluded(r: FileRange): Boolean =
      r.rows - r.nulls == 0 || (v match {
        case Some(t) => if (asc) r.lo.get > t else r.hi.get < t
        case None => true // base (nulls) alone covers k
      })
    // live non-null rows surviving in kept files — what may exclude
    // nulls under NULLS LAST (they all precede every null row)
    val keptNonNull = ranges.collect {
      case r if !nonNullExcluded(r) => liveNonNullLb(r)
    }.sum
    def nullExcluded(r: FileRange): Boolean =
      r.nulls == 0 || (!nullsFirst && keptNonNull >= limit)

    Some(ranges.collect {
      case r if !nonNullExcluded(r) || !nullExcluded(r) => r.file
    }.toSet)
  }

  /** A DELETION VECTOR reference (protocol v6 — the Delta DV /
    * Iceberg position-delete idea): an add-action may name a DV
    * object holding the file's deleted ROW POSITIONS, so a row-level
    * DELETE commits O(deleted rows) of sidecar instead of rewriting
    * the file (merge-on-read). `path` is the absolute DV parquet
    * object (columns `__name` = data-file basename, `__pos` = parquet
    * row index — one object may serve many files of one commit);
    * `card` is THIS file's deleted-position count (distinct), so
    * row accounting stays metadata-only. The file's other stats keep
    * describing the PHYSICAL file — a sound over-approximation for
    * every skipping probe. A later DELETE re-adds the file with a new
    * DV carrying the position UNION; compaction/rewrites materialize
    * and drop the reference.
    */
  final case class DvRef(path: String, card: Long)

  /** One file's planner-time stats ([[ManifestTableFormat!.statsLookup]]):
    * its recorded row count, the head's deletion-vector cardinality,
    * and one column's stats.
    */
  final case class FileStat(
      file: String, rows: Option[Long], dvCard: Long,
      col: Option[ManifestLog.ColStats])

  /** Log-derived maintenance gauges (see
    * [[ManifestTableFormat.maintenanceStats]]).
    */
  final case class MaintenanceStats(
      version: Long,
      files: Long,
      bytes: Long,
      smallFiles: Long,
      smallBytes: Long,
      dvFiles: Long,
      dvDeletedRows: Long,
      physicalRows: Long,
      maxDvFrac: Double)

  /** StructField metadata key carrying a column's stable PHYSICAL
    * name (protocol v5 column mapping — the Delta/Iceberg column-id
    * idea expressed as names): data files and per-file stats always
    * use the physical name; the logical name is presentation. Absent
    * metadata means physical == logical, which keeps every pre-v5
    * table byte-identical.
    */
  val physicalKey = "graft.physical"

  /** The column's physical (on-disk) name. */
  def physicalName(f: StructField): String =
    if (f.metadata.contains(physicalKey)) f.metadata.getString(physicalKey)
    else f.name

  /** The schema rendered in physical names (metadata stripped) — the
    * shape data files are written and read with.
    */
  def physicalSchema(s: StructType): StructType =
    StructType(s.fields.map(f => StructField(
      physicalName(f), f.dataType, f.nullable)))

  /** OBSERVABILITY PIN for the filtered metadata-COUNT lane
    * ([[ManifestTableFormat!.filteredCounts]]): (log-answered files,
    * boundary files scanned) of the most recent successful split in
    * this JVM, or null before any ran — JVM-global because the lane
    * runs on catalog-resolved instances the spec never holds. The
    * spec asserts boundary < total on a clustered table, so a silent
    * lane regression (everything boundary) fails a test instead of
    * only costing reads.
    */
  @volatile var lastMetaCountSplit: (Long, Long) = null

  /** Absolute boundary-file allowance for the filtered metadata-COUNT
    * lane ([[ManifestTableFormat!.filteredCounts]]) — the fractional
    * cap (1/16 of the list) governs large tables; this floor keeps
    * the lane usable on small ones. Past the cap the lane refuses:
    * a planning-time job over a large fraction of the table is worse
    * than the normal lazy scan it would replace.
    */
  private[graft] val maxMetaCountBoundary = 16L

  /** At most this many leading skippable columns get per-file min/max
    * stats (Delta's `dataSkippingNumIndexedCols` idea) — metadata per
    * file stays O(1) however wide an evolved schema grows.
    */
  private[sink] val maxStatsColumns = 32

  /** MERGE skips its affected-file pre-scan when the table holds at
    * most this many live files (or the session's shuffle-partition
    * count if larger — "one write batch" at any core count) and
    * rewrites them all: the pre-scan reads the same files the rewrite
    * would, so on a small table it is a pure extra pass. Larger
    * tables keep the pre-scan — the churn bound that makes MERGE
    * O(matched files) at corpus scale.
    */
  private[sink] val mergePreScanMinFiles = 32

  /** MERGE pre-scan key-prune stops collecting past this many
    * distinct source key tuples (the IN-probe literals live on the
    * driver — the same cap family as IncrementalAgg's endangered-key
    * pruning; past it the pre-scan reads the full live list as
    * before).
    */
  private[sink] val mergeKeyPruneCap = 10000

  /** The most (url, log-tail file) pairs a url-keyed file selection
    * folds on the driver as literals; see `selectsByLiterals`.
    */
  private[sink] val literalProbePairs = 100000L

  /** `xxhash64(s)` for a string, computed on the driver — the value
    * Spark's `xxhash64` gives the same string column, which is what
    * the url and per-column string blooms record.
    */
  private[sink] def stringHash(s: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s),
      org.apache.spark.sql.types.StringType, 42L)

  /** String column stats keep at most this many chars; a longer max
    * is bounded upward by appending U+10FFFF (see [[truncHi]]).
    */
  private[sink] val maxStatsStringLen = 64

  /** A scan-pushed conjunct the per-file stats can test. Extraction
    * (Catalyst expression → probe) lives in the scan builder; the
    * evaluation against the stats frame lives in
    * [[ManifestTableFormat.pruneFilesForScan]]. All probes are
    * FAIL-OPEN: a file whose stats are absent, invalid, or outside
    * the comparable domain always survives.
    */
  sealed trait StatsProbe

  /** `lo <= column <= hi` where the bound strings render the literal
    * exactly as the stats side rendered the column's values (same
    * canonical encoding — compared after a shared monotone cast to
    * DECIMAL(38,18), overflow/NaN falling open via try_cast NULL).
    * `None` = unbounded on that side.
    */
  final case class NumRange(column: String,
      lo: Option[String], hi: Option[String]) extends StatsProbe

  /** `lo <= column <= hi` under Spark's string ordering (evaluated
    * IN the stats frame, so the comparison semantics are exactly the
    * scan's). `document_url` consults the dedicated full-precision
    * lo/hi fields; other string columns the (truncation-bounded)
    * column stats.
    */
  final case class StrRange(column: String,
      lo: Option[String], hi: Option[String]) extends StatsProbe

  /** `column IS [NOT] NULL` — testable from the per-column null
    * count plus the file row count.
    */
  final case class NullTest(column: String, isNull: Boolean)
      extends StatsProbe

  /** `document_url = v` / `IN (vs)` — testable by the per-file url
    * bloom (no false negatives) + url min/max range.
    */
  final case class UrlIn(values: Seq[String]) extends StatsProbe

  /** `column IN (v1..vn)` point SET for a non-url column, values on
    * the canonical stats grid — serviced by the protocol-v9
    * per-column blooms (a file survives if ANY value's bloom test
    * passes; no bloom → fail open). Emitted ALONGSIDE the min/max
    * envelope and capped at [[StatsProbes.maxValuesInProbe]] values
    * (a larger set — e.g. a runtime DPP key set — keeps only the
    * envelope, bounding the pruning expression's size).
    */
  final case class ValuesIn(column: String, values: Seq[String])
      extends StatsProbe

  /** An EXACT probe — the fail-closed mirror of [[StatsProbe]] for
    * the metadata-only DELETE lane: extraction
    * ([[StatsProbes.extractExact]]) succeeds only when EVERY conjunct
    * of the predicate converts losslessly, so "all rows of this file
    * match" is provable from stats alone. `op` ∈ lt/le/gt/ge/eq;
    * `exactGrid` marks column kinds whose canonical-string stats grid
    * is injective (integral/date/timestamp/boolean) — float kinds
    * prove only STRICT grid inequalities.
    */
  /** A filtered-metadata-aggregate target ([[ManifestTableFormat!
    * .filteredAggregates]]): COUNT(*) / COUNT(col) / MIN(col) /
    * MAX(col), columns by PHYSICAL name.
    */
  sealed trait MetaAgg
  case object MetaCountStar extends MetaAgg
  final case class MetaCount(phys: String) extends MetaAgg
  final case class MetaMin(phys: String) extends MetaAgg
  final case class MetaMax(phys: String) extends MetaAgg

  sealed trait ExactProbe
  final case class ExactCmp(column: String, op: String, value: String,
      exactGrid: Boolean) extends ExactProbe
  final case class ExactNull(column: String, isNull: Boolean)
      extends ExactProbe

  /** Compaction's output file-size target (the parquet sweet spot —
    * row groups fill, scans split well).
    */
  val defaultTargetFileBytes: Long = 128L << 20

  /** [[ChunkStore]]'s default `format`: the handle on the store's
    * main log.
    */
  def factory: ChunkStore => ManifestTableFormat = s =>
    new ManifestTableFormat(s.spark, s.path, s.schema)

  /** [[factory]] pinned to a BRANCH: reads and commits go to the
    * branch's forked log; data files share the table's `data/`
    * namespace (the write-audit-publish flow —
    * [[ManifestTableFormat!.createBranch]] /
    * [[ManifestTableFormat!.fastForward]]).
    */
  def branchFactory(branch: String): ChunkStore => ManifestTableFormat = s =>
    new ManifestTableFormat(s.spark, s.path, s.schema,
      branch = Some(branch))

  /** Branch names are path segments: one liberal-but-safe charset. */
  def validBranchName(name: String): Boolean =
    name.matches("[A-Za-z0-9][A-Za-z0-9_.-]*") && name.length <= 255
}
