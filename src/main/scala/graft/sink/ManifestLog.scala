package graft.sink

import scala.collection.immutable.SortedMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

import graft.ops.Layout
import graft.sink.ManifestLog._
import graft.sink.ManifestTableFormat.DvRef

/** The commit log of one manifest table (or of one of its branches):
  * the only code that knows the `_log` directory — its file names, its
  * action codec, and how a version's state is replayed from it.
  * [[ManifestTableFormat]] holds one and keeps data writes, DML and
  * stats pruning.
  *
  *  - **The log is the table.** `_log/<version>.json` entries list
  *    `add`/`rm` file actions; the live file set is the replay of all
  *    committed versions. Data files are immutable and invisible
  *    until an entry references them — a crashed writer leaves only
  *    unreferenced files (cleaned by vacuum), never a torn table.
  *  - **Commits are one atomic publish.** An entry is staged to a
  *    temp name and published at the next version with the strongest
  *    fail-if-exists primitive the filesystem offers ([[CommitPublisher]]):
  *    hard-link on local filesystems (POSIX link(2) fails on an
  *    existing target — rename there would silently overwrite),
  *    rename-if-absent on HDFS-class stores, conditional put on
  *    S3-class stores (same contract as Delta's LogStore requirement).
  *    No directory renames anywhere. The cross-process race test pins
  *    the local primitive with two concurrent writer JVMs.
  *  - **One replay.** The state at version v is the newest checkpoint
  *    at or below v plus the entries after it ([[snapshot]]) — the
  *    head, time travel and restore all read it so (Delta's "Action
  *    Reconciliation").
  *
  * Driver state: bounded by CHECKPOINT CADENCE, not table size.
  * Checkpoints are PARQUET (Delta's answer to log replay): snapshot
  * assembly reads them as a Spark job ([[statsFrame]]) and the driver
  * holds only (a) the tail — per-file stats of commits since the
  * newest checkpoint, ~1 KB/file — and (b) live file NAMES when a
  * scan is planned. A 10⁷-file table with a maintenance-cadence
  * checkpoint keeps the driver at O(churn since checkpoint) +
  * O(names), never O(table × stats). An unrecognized line fails with
  * an explicit protocol message, never a half-read table. Upgrades are
  * ONE-WAY: compatibility guards live in THIS reader (new code reads
  * v1 logs), but a v1-era binary knows no protocol file to check, so
  * after a parquet checkpoint + vacuum prunes the entries a v1 reader
  * would have replayed, that old binary reconstructs a tail-only state
  * with no error — do not point pre-parquet-checkpoint engine builds
  * at a vacuumed current log (the same operational contract as raising
  * a Delta table's reader version).
  *
  * PROTOCOL LEDGER (each one-way; this reader is the compatibility
  * boundary — it reads every older shape, older binaries fail loudly
  * on newer logs rather than half-reading):
  *  - v1: add-actions carry exact url sets (`"u":[…]`) — read with
  *    stats synthesized on parse (same bit walk as the write side);
  *    v1 JSON checkpoints are still read too.
  *  - v2: add-actions carry fixed-size url bloom + min/max; parquet
  *    manifest-list checkpoints.
  *  - v3: add-actions additionally carry the file's row count, byte
  *    size, and per-column min/max + null-count skipping stats
  *    (`"rows"/"sz"/"cs*"` fields — ignored by a v2 reader, so v3
  *    LOGS stay v2-readable; v3 CHECKPOINTS are not).
  *  - v4: streaming transaction actions (`"a":"txn"`) + the
  *    checkpoint txns sidecar.
  *  - v5: COLUMN MAPPING — schema-sidecar fields may carry a
  *    `graft.physical` metadata entry naming the column's stable
  *    on-disk name; data files and per-file column stats always use
  *    physical names (identical to logical until the first RENAME or
  *    re-ADD, so pre-v5 tables are byte-identical). CAVEAT: this is
  *    the first sidecar change an older binary cannot DETECT — a
  *    pre-v5 reader on a renamed table silently reads the renamed
  *    column as NULL (it reads by logical name). Do not point pre-v5
  *    engine builds at renamed tables — same operational contract as
  *    raising a Delta table's reader version with column mapping.
  *  - v6: DELETION VECTORS — an add-action may carry a `dvp`/`dvc`
  *    reference to a position-delete sidecar ([[ManifestTableFormat.DvRef]]);
  *    re-adding a live file with a new DV supersedes its previous
  *    add. CAVEAT (one-way, like v5): a pre-v6 reader ignores the
  *    unknown fields and reads deleted rows back — do not point pre-v6
  *    engine builds at DV-carrying tables.
  *  - v7: per-column EXACT-BOUNDS marker (`"cse"` array) — records at
  *    stats-write time whether a column's lo/hi are the file's exact
  *    extrema (always for the canonical numeric grid; for strings,
  *    iff neither bound was truncation-adjusted). Ignored by older
  *    readers; enables the log-answered string MIN/MAX lane.
  *  - v8: IN-COMMIT TIMESTAMPS (`"a":"cts"` — the Delta ICT idea):
  *    every commit entry leads with its own monotone epoch-ms
  *    timestamp, so timestamp time travel ([[versionAtTimestamp]])
  *    and history answer from the COMMIT CONTENT, not file mtime —
  *    mtime shifts on object-store copy/migration and on
  *    [[ManifestLog.cloneLog]] (which copies log objects), and is not
  *    even guaranteed monotone across racing writers' clocks.
  *    Monotonicity is enforced at commit time (`max(wall clock,
  *    predecessor + 1)`); checkpoints carry the subsumed timestamp in
  *    the txns sidecar so vacuum never loses it. Pre-v8 entries fall
  *    back to mtime (documented best-effort, exactly the pre-ICT Delta
  *    contract). CAVEAT (one-way, like v4): a pre-v8 reader fails
  *    loudly on the unknown action kind.
  *  - v9: PER-COLUMN BLOOMS (`"csb"` array — the Delta bloom-filter-
  *    index idea at file-skipping granularity): columns declared via
  *    `recordBloomColumns` carry, per add-action, a fixed-size bloom
  *    over `xxhash64(value)` (same params and bit walk as the url
  *    bloom). Ignored by older readers; absent blooms fail open.
  *  - Versioned SIDECARS (never vacuumed; bounded by ALTER count):
  *    `<v>.schema.json` (ADD/DROP/RENAME COLUMN eras),
  *    `<v>.constraints.json` (the named CHECK set), `<v>.txns.json`
  *    (checkpoint-subsumed stream markers), `_base.schema.json` +
  *    `_partition.cols` (creation-time identity), `_bloom.cols`;
  *    `<v>.ndv.json` (ANALYZE's HLL sketches — newest wins, older ones
  *    vacuum). A branch log also holds `_fork` (its fork version).
  */
final class ManifestLog(
    spark: SparkSession,
    tablePath: String,
    branch: Option[String],
    /** The schema a table created without a DDL schema starts from. */
    defaultSchema: StructType,
    bloomBits: Int,
    bloomHashes: Int,
    /** Wall clock of the in-commit timestamps (a test seam). */
    clock: () => Long = () => System.currentTimeMillis()) {

  val dir: Path = logDir(new Path(tablePath), branch)

  private def fs: FileSystem =
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The log object of `kind` for version `v`. */
  def at(v: Long, kind: String): Path = new Path(dir, f"$v%012d.$kind")

  private def named(name: String): Path = new Path(dir, name)

  def exists: Boolean = fs.exists(dir)

  def readText(p: Path): String = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n > 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toString("UTF-8")
    } finally in.close()
  }

  private def write(p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** The actions of one log object (entry, JSON checkpoint or txns
    * sidecar), in order.
    */
  def actions(p: Path): Iterator[Action] =
    readText(p).linesIterator.filter(_.nonEmpty).map(parseAction)

  // ---- the census ---------------------------------------------------

  /** One listing of the log directory, with every versioned object
    * sorted by kind and version and carrying its mtime — the only
    * listing any log read makes (listings are the expensive primitive
    * on object stores). A parquet checkpoint counts only when its
    * write completed (`_SUCCESS`, which Spark writes last): each is
    * probed once, when the census is first asked about them. A torn
    * checkpoint is ignored by replay, which falls back to the previous
    * checkpoint + entries, and reclaimed by vacuum.
    */
  final class Census private[ManifestLog] (
      val exists: Boolean, val listed: Seq[FileStatus]) {
    private val byKind: Map[String, SortedMap[Long, FileStatus]] =
      listed.flatMap(st => st.getPath.getName match {
        case Versioned(v, kind) if Kinds(kind) => Some((kind, v.toLong, st))
        case _ => None
      }).groupBy(_._1).map { case (k, xs) =>
        k -> SortedMap(xs.map(x => x._2 -> x._3): _*)
      }
    private def all(kind: String) =
      byKind.getOrElse(kind, SortedMap.empty[Long, FileStatus])
    private lazy val (complete, torn0) = all(ParquetCkpt).partition {
      case (v, _) => fs.exists(new Path(at(v, ParquetCkpt), "_SUCCESS")) }
    private def of(kind: String) =
      if (kind == ParquetCkpt) complete else all(kind)

    /** Versions of `kind`, ascending (complete parquet checkpoints only). */
    def versions(kind: String): Seq[Long] = of(kind).keys.toSeq
    def has(kind: String, v: Long): Boolean = of(kind).contains(v)
    def mtime(kind: String, v: Long): Long = of(kind)(v).getModificationTime
    /** Parquet checkpoint directories without `_SUCCESS`. */
    def torn: Seq[Long] = torn0.keys.toSeq
    /** Staging leftovers of commits, checkpoints and forks. */
    def strays: Seq[FileStatus] =
      listed.filter(_.getPath.getName.startsWith("tmp-"))
    /** The newest committed version (−1 before the first commit). */
    def latest: Long = (versions(Entry) ++ versions(JsonCkpt) ++
      versions(ParquetCkpt)).foldLeft(-1L)(math.max)
  }

  def census(): Census = {
    val f = fs
    if (!f.exists(dir)) new Census(false, Nil)
    else new Census(true, f.listStatus(dir).toSeq)
  }

  // ---- replay -------------------------------------------------------

  /** The live state at `asOf` (the head when `None`): the newest
    * checkpoint at or below that version plus the entries after it —
    * the one replay behind reads, writes, time travel and restore. A
    * PARQUET checkpoint is not parsed here at all: the snapshot only
    * records its path, and [[statsFrame]] consumes it as a Spark read
    * — the driver holds just the tail. Legacy JSON checkpoints replay
    * driver-side. Temp files (crashed commit/checkpoint staging) are
    * ignored: only fully-published numbered files (and
    * `_SUCCESS`-complete parquet directories) count. A version whose
    * entries vacuum pruned without a checkpoint to stand in for them
    * is refused, never served as a wrong state.
    */
  def snapshot(asOf: Option[Long] = None): Snapshot = {
    val c = census()
    val latest = c.latest
    asOf.foreach { v =>
      require(c.exists, s"no log at $tablePath")
      require(v >= 0 && v <= latest,
        s"version $v out of range [0, $latest] at $tablePath")
    }
    val upTo = asOf.getOrElse(latest)
    def newest(kind: String) =
      c.versions(kind).filter(_ <= upTo).lastOption.getOrElse(-1L)
    val jc = newest(JsonCkpt)
    val pc = newest(ParquetCkpt)
    val ckpt = math.max(jc, pc)
    val tail = c.versions(Entry).filter(v => v > ckpt && v <= upTo)
    require(asOf.isEmpty || tail.size == upTo - ckpt,
      s"version $upTo at $tablePath is no longer reconstructable — " +
        s"entries in ($ckpt, $upTo] were vacuumed (history retention " +
        "is bounded by checkpoint + vacuum)")
    var base = Map.empty[String, FileStats]
    var removed = Set.empty[String]
    var txns = Map.empty[String, Long]
    var cts: Option[Long] = None
    def take(a: Action): Unit = (a.txn, a.cts) match {
      case (Some((app, batch)), _) =>
        txns += (app -> math.max(batch, txns.getOrElse(app, Long.MinValue)))
      case (_, Some(ts)) => cts = Some(cts.fold(ts)(math.max(_, ts)))
      case _ =>
        if (a.add) { base += (a.file -> a.stats.get); removed -= a.file }
        else { base -= a.file; removed += a.file }
    }
    val parquetBase = pc >= 0 && pc >= jc
    if (!parquetBase && ckpt >= 0) actions(at(ckpt, JsonCkpt)).foreach(take)
    // a checkpoint's txn SIDECAR carries the markers its subsumed
    // entries held (vacuum prunes those entries; without the sidecar
    // a very late micro-batch replay could double-append) — and, from
    // protocol v8 on, the subsumed in-commit timestamp (without it a
    // vacuumed table's next commit could step its timeline backwards)
    if (ckpt >= 0 && c.has(Txns, ckpt)) actions(at(ckpt, Txns)).foreach(take)
    tail.foreach(v => actions(at(v, Entry)).foreach(take))
    Snapshot(upTo,
      if (parquetBase) Some(at(pc, ParquetCkpt)) else None,
      base,
      if (parquetBase) removed else Set.empty,
      schemaAt(c, upTo), txns, cts,
      c.versions(Constraints).filter(_ <= upTo).lastOption.getOrElse(-1L))
  }

  /** The snapshot's per-file stats as a DataFrame, shaped for
    * [[Layout.bloomTest]] — so affected-file selection runs as a Spark
    * job over (file, bits, lo, hi), never as a driver loop. With a
    * parquet checkpoint the bulk of the frame is a NARROW PARQUET READ
    * (checkpoint minus tail-removed names, anti-joined as a frame,
    * union the tail's adds); only the tail is a driver-local relation.
    */
  def statsFrame(snap: Snapshot): DataFrame = {
    import spark.implicits._
    val tail = snap.base.toSeq
      .map { case (f, st) =>
        (f, st.bits, st.lo, st.hi, st.numBits, st.numHashes,
          st.rows, st.bytes,
          st.cols.map(_.name), st.cols.map(_.lo.getOrElse("")),
          st.cols.map(_.hi.getOrElse("")),
          st.cols.map(c => if (c.lo.isDefined && c.hi.isDefined) 1 else 0),
          st.cols.map(_.nulls),
          st.cols.map(c => if (c.exact) 1 else 0),
          // per-column blooms (v9); empty seq = not recorded
          st.cols.map(_.bloom.getOrElse(Seq.empty[Long])),
          st.dv.map(_.path), st.dv.map(_.card)) }
      .toDF("file", "bits", "lo", "hi", "num_bits", "num_hashes",
        "rows", "bytes", "cs_names", "cs_lo", "cs_hi", "cs_valid",
        "cs_nn", "cs_exact", "cs_bloom", "dv_path", "dv_card")
    snap.ckptParquet match {
      case None => tail
      case Some(d) =>
        val ck = ckptFrame(spark, d.toString)
        // names the tail removed or re-added supersede the checkpoint
        val shadowed = (snap.removed ++ snap.base.keySet).toSeq
        val kept =
          if (shadowed.isEmpty) ck
          else ck.join(shadowed.toDF("file"), Seq("file"), "left_anti")
        // a pre-column-stats checkpoint reads its missing stats
        // columns null ([[statsSchema]]: fail-open everywhere they are
        // consulted); the next checkpoint re-records the full shape
        kept.unionByName(tail)
    }
  }

  /** Live file names, sorted — the ONLY thing that ever transits the
    * driver from a parquet checkpoint (a single-column projection of
    * the stats frame). Any file-list-planned scan holds this much; the
    * per-file stats stay executor-side.
    */
  def liveNames(snap: Snapshot): Seq[String] = snap.ckptParquet match {
    case None => snap.base.keys.toSeq.sorted
    case Some(_) =>
      statsFrame(snap).select("file")
        .collect().map(_.getString(0)).toSeq.sorted
  }

  /** Live (file, dv) pairs, sorted by name — [[liveNames]] plus each
    * file's deletion-vector reference (an add for a live name replaced
    * its previous pair: how a DV commit supersedes).
    */
  def liveWithDv(snap: Snapshot): Seq[(String, Option[DvRef])] =
    snap.ckptParquet match {
      case None =>
        snap.base.toSeq.sortBy(_._1).map { case (f, st) => (f, st.dv) }
      case Some(_) =>
        statsFrame(snap).select("file", "dv_path", "dv_card").collect()
          .map(r => r.getString(0) -> (if (r.isNullAt(1)) None
            else Some(DvRef(r.getString(1), r.getLong(2)))))
          .toSeq.sortBy(_._1)
    }

  /** Full [[FileStats]] for the given live names — one narrow collect,
    * bounded by the CALLER's list (DML churn), never table size.
    */
  def statsOf(snap: Snapshot, files: Seq[String]): Map[String, FileStats] = {
    if (files.isEmpty) return Map.empty
    // checkpoint-less snapshot: the stats already sit in the
    // driver-held tail map — a Spark semi-join here is pure job-launch
    // overhead (measured ≥1 job per DML cycle at 30-100 ms each)
    if (snap.ckptParquet.isEmpty)
      return files.flatMap(f => snap.base.get(f).map(f -> _)).toMap
    import spark.implicits._
    statsFrame(snap).join(files.toDF("file"), Seq("file"), "left_semi")
      .collect().map(rowToStats).toMap
  }

  /** Full [[FileStats]] of every live file — O(files at that version)
    * on the driver, the bound of a restore commit, which lists every
    * re-added file anyway.
    */
  def liveStats(snap: Snapshot): Map[String, FileStats] =
    if (snap.ckptParquet.isEmpty) snap.base
    else statsFrame(snap).collect().map(rowToStats).toMap

  /** A stats-frame / checkpoint row back to [[FileStats]] (the two
    * shapes are identical by construction — [[checkpoint]] writes the
    * stats frame). Pre-v3/v6 rows lack columns entirely; absent or
    * null means "not recorded" (fail-open downstream).
    */
  private def rowToStats(r: org.apache.spark.sql.Row): (String, FileStats) = {
    def opt[T](n: String): Option[T] =
      if (!r.schema.fieldNames.contains(n)) None
      else {
        val i = r.fieldIndex(n)
        if (r.isNullAt(i)) None else Some(r.getAs[T](n))
      }
    def arr[T](n: String): Seq[T] =
      opt[scala.collection.Seq[T]](n).map(_.toSeq).getOrElse(Nil)
    val names = arr[String]("cs_names")
    val los = arr[String]("cs_lo")
    val his = arr[String]("cs_hi")
    val valid = arr[Int]("cs_valid")
    val nulls = arr[Long]("cs_nn")
    val exact = arr[Int]("cs_exact")
    val blooms = arr[scala.collection.Seq[Long]]("cs_bloom")
    val cols = names.indices.map { i =>
      val ok = i < valid.size && valid(i) == 1
      ColStats(names(i),
        if (ok) Some(los(i)) else None,
        if (ok) Some(his(i)) else None,
        if (i < nulls.size) nulls(i) else 0L,
        exact = i < exact.size && exact(i) == 1,
        bloom = if (i < blooms.size && blooms(i).nonEmpty)
          Some(blooms(i).toSeq) else None)
    }
    r.getAs[String]("file") -> FileStats(
      r.getAs[scala.collection.Seq[Long]]("bits").toSeq,
      r.getAs[String]("lo"), r.getAs[String]("hi"),
      r.getAs[Int]("num_bits"), r.getAs[Int]("num_hashes"),
      opt[Long]("rows"), cols, opt[Long]("bytes"),
      opt[String]("dv_path").map(p =>
        DvRef(p, opt[Long]("dv_card").getOrElse(0L))))
  }

  // ---- commit and checkpoint ----------------------------------------

  /** Stage `actions` as version `base.version + 1` and publish it;
    * false when the version was taken (lost race).
    */
  def tryCommit(base: Snapshot, actions: Seq[Action]): Boolean = {
    val f = fs
    if (!f.exists(dir)) f.mkdirs(dir)
    val target = at(base.version + 1, Entry)
    if (f.exists(target)) return false
    val tmp = named(s"tmp-${java.util.UUID.randomUUID()}")
    // protocol v8: the entry leads with its IN-COMMIT TIMESTAMP,
    // clamped monotone against the predecessor (max(wall, prev+1)) so
    // timestamp time travel has a total order even across writers
    // with skewed clocks or a driver clock stepping backwards
    val stamped = Action(add = false, "", None, None,
      Some(math.max(clock(), base.cts.fold(Long.MinValue)(_ + 1)))) +: actions
    write(tmp, stamped.map(renderAction).mkString("\n"), overwrite = false)
    // The commit is an atomic publish of `tmp` at `target`, delegated
    // to the scheme's registered [[CommitPublisher]] (link(2)-if-absent
    // local, rename-if-absent HDFS-class, LOUD REFUSAL on schemes
    // without a registered conditional-put publisher — see the trait's
    // doc for why exists+rename on S3-class stores is a lost-commit
    // race, not a fallback). Pinned by the cross-process race tests
    // and the seam race/refusal tests in ManifestFormatSpec.
    val won = publisher.putFileIfAbsent(f, tmp, target)
    f.delete(tmp, false) // link published a second name; tmp always goes
    won
  }

  /** The publish primitive for this table's store, resolved from the
    * table path's URI scheme (falling back to the FileSystem's scheme
    * for scheme-less local paths). Resolved per call so a publisher
    * registered after the table handle was built is still honored.
    */
  private def publisher: CommitPublisher =
    CommitPublisher.forScheme(Option(new Path(tablePath).toUri.getScheme)
      .getOrElse(fs.getScheme))

  /** Write the head's live state as a PARQUET checkpoint — assembled
    * as a Spark job over the previous checkpoint + tail
    * ([[statsFrame]]), so checkpointing never materializes per-file
    * stats on the driver either. Published by staged-write + directory
    * publish with `_SUCCESS` as the completeness marker (a torn
    * directory is ignored by replay). Safe to race: a lost publish
    * means someone else checkpointed — both summaries describe a
    * committed state, keeping either is sound. Replay thereafter
    * starts at the checkpoint; [[vacuum]] prunes the subsumed entries.
    */
  def checkpoint(): Unit = {
    val snap = snapshot()
    if (snap.version < 0) return
    val f = fs
    val target = at(snap.version, ParquetCkpt)
    def complete = f.exists(new Path(target, "_SUCCESS"))
    if (f.exists(at(snap.version, JsonCkpt)) || complete) return
    // a TORN target (no _SUCCESS — a crashed or non-atomic publish)
    // is never read; without this, every later checkpoint() at this
    // version silently no-ops and replay stays O(entire log) until a
    // vacuum happens to run — reclaim it here instead
    if (f.exists(target)) f.delete(target, true)
    // txn sidecar FIRST: its content for a version is deterministic
    // (the replayed markers at that version), so a racing writer
    // producing the same file is harmless, and ordering it before the
    // parquet publish means vacuum can never prune marker-carrying
    // entries subsumed by a checkpoint whose sidecar is missing
    if ((snap.txns.nonEmpty || snap.cts.isDefined) &&
        !f.exists(at(snap.version, Txns))) {
      val lines = snap.cts.toSeq.map(ts =>
        renderAction(Action(add = false, "", None, None, Some(ts)))) ++
        snap.txns.toSeq.sortBy(_._1).map { case (app, b) =>
          renderAction(Action(add = false, "", None, Some((app, b))))
        }
      write(at(snap.version, Txns), lines.mkString("\n"), overwrite = true)
    }
    val tmp = named(s"tmp-ckpt-${java.util.UUID.randomUUID()}")
    // MANIFEST-LIST sizing (the Iceberg idea): the checkpoint is a
    // DIRECTORY of manifest part-files, ~100k file-stats (~100 MB)
    // each, so a 10⁷-file table checkpoints as ~100 parallel parts —
    // written AND read as a distributed job; the driver ever holds
    // one directory name. Small tables still get one part.
    try {
      val stats = statsFrame(snap)
      val parts = math.max(1L, stats.count() / statsPerManifestPart).toInt
      stats.repartition(parts).write.parquet(tmp.toString)
      // directory publish through the same seam: a lost race is sound
      // here (checkpoint content is deterministic per version), but an
      // UNREGISTERED scheme still refuses — same policy as commits
      if (!publisher.putDirIfAbsent(f, tmp, target)) f.delete(tmp, true)
    } catch {
      case e: Throwable => f.delete(tmp, true); throw e
    }
  }

  // ---- history and timestamps ---------------------------------------

  /** The surviving commit history, oldest first — one row per
    * still-on-disk log object: `(version, timestampMillis, adds,
    * removes, kind)` with kind `commit` (data actions), `txn` (stream
    * markers only), `schema` (an ALTER's claim — empty entry +
    * sidecar), or `checkpoint`. A commit's timestamp is its v8
    * in-commit stamp (mtime for pre-v8 entries), a checkpoint's its
    * mtime. Driver cost is O(surviving entries) — bounded by the
    * checkpoint+vacuum cadence, the same set replay walks.
    */
  def history(): Seq[(Long, Long, Long, Long, String)] = {
    val c = census()
    val commitRows = c.versions(Entry).map { v =>
      val all = actions(at(v, Entry)).toSeq
      // the v8 in-commit timestamp is commit METADATA: it names the
      // history row's timestamp and never counts as an action
      val acts = all.filter(_.cts.isEmpty)
      val ts = all.flatMap(_.cts).headOption.getOrElse(c.mtime(Entry, v))
      val kind =
        if (acts.isEmpty && c.has(SchemaEra, v)) "schema"
        else if (acts.nonEmpty && acts.forall(_.txn.isDefined)) "txn"
        else "commit"
      (v, ts, acts.count(_.add).toLong,
        acts.count(a => !a.add && a.txn.isEmpty).toLong, kind)
    }
    val ckptRows = Seq(JsonCkpt, ParquetCkpt).flatMap(k =>
      c.versions(k).map(v => (v, c.mtime(k, v), 0L, 0L, "checkpoint")))
    (commitRows ++ ckptRows).sortBy(r => (r._1, r._5))
  }

  /** The latest version committed at or before `tsMillis` (epoch ms),
    * behind SQL `TIMESTAMP AS OF`. A version's commit time is its v8
    * IN-COMMIT stamp — the entry's first line, or for a version only a
    * checkpoint still holds, the stamp its txns sidecar carries — and
    * the log object's filesystem mtime only when there is no stamp
    * (pre-v8, the best-effort Delta convention: mtime shifts on
    * object-store copy and CLONE, the stamp does not). Versions whose
    * entries a checkpoint+vacuum pruned are not independently dated:
    * they resolve to the checkpoint (the earliest state still
    * reconstructable). Fails loudly when nothing was committed yet at
    * the asked time.
    */
  def versionAtTimestamp(tsMillis: Long): Long = {
    val c = census()
    require(c.exists, s"no log at $tablePath")
    val versions = (c.versions(Entry) ++ c.versions(JsonCkpt) ++
      c.versions(ParquetCkpt)).distinct.sorted
    require(versions.nonEmpty, s"no committed versions at $tablePath")
    // the stamp is always the FIRST line of a v8 entry/sidecar — one
    // line parses, pre-v8 shapes simply yield None
    def stamp(p: Path): Option[Long] = scala.util.Try(
      readText(p).linesIterator.find(_.nonEmpty)
        .flatMap(parseAction(_).cts)).toOption.flatten
    def tsOf(v: Long): Long =
      if (c.has(Entry, v)) stamp(at(v, Entry)).getOrElse(c.mtime(Entry, v))
      else (if (c.has(Txns, v)) stamp(at(v, Txns)) else None).getOrElse(
        c.mtime(if (c.has(JsonCkpt, v)) JsonCkpt else ParquetCkpt, v))
    // in-commit stamps are monotone in version (enforced at commit);
    // binary-search the newest version at or before the ask, reading
    // O(log n) commits — never one read per retained version. Mixed
    // logs (pre-v8 prefix under mtime) keep the same search: entries
    // were written in version order, so their mtimes are ordered too
    // unless externally touched — and externally-touched pre-v8 logs
    // had no reliable answer under any strategy (that is v8's point).
    var lo = 0
    var hi = versions.size - 1
    require(tsOf(versions(lo)) <= tsMillis,
      s"no version of $tablePath was committed at or before epoch-ms " +
        s"$tsMillis (earliest commit: ${tsOf(versions(lo))})")
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (tsOf(versions(mid)) <= tsMillis) lo = mid else hi = mid - 1
    }
    versions(lo)
  }

  // ---- vacuum (the log half) ----------------------------------------

  /** Reclaim log objects no replay needs, returning how many: entries
    * and older checkpoints the newest checkpoint subsumes (with their
    * txns sidecars), a same-version legacy JSON twin of a parquet
    * checkpoint, superseded NDV sidecars, torn parquet checkpoints,
    * and staging strays older than an hour. `dryRun` counts without
    * deleting.
    */
  def vacuum(dryRun: Boolean): Long = {
    val f = fs
    val c = census()
    def reclaim(p: Path, recursive: Boolean): Unit =
      if (!dryRun) { f.delete(p, recursive); () }
    var n = 0L
    val json = c.versions(JsonCkpt)
    val pq = c.versions(ParquetCkpt)
    if (json.nonEmpty || pq.nonEmpty) {
      val ckpt = (json ++ pq).max
      val oldEntries = c.versions(Entry).filter(_ <= ckpt)
      oldEntries.foreach(v => reclaim(at(v, Entry), recursive = false))
      val oldJson = json.filter(_ < ckpt)
      oldJson.foreach(v => reclaim(at(v, JsonCkpt), recursive = false))
      val oldPq = pq.filter(_ < ckpt)
      oldPq.foreach(v => reclaim(at(v, ParquetCkpt), recursive = true))
      // txn sidecars of superseded checkpoints are subsumed by the
      // newest checkpoint's own sidecar (markers only ever grow)
      (oldJson ++ oldPq).foreach(v => reclaim(at(v, Txns), recursive = false))
      n += oldEntries.size + oldJson.size + oldPq.size
      // a same-version legacy JSON twin is subsumed by the parquet
      // checkpoint (identical state, heavier replay) — drop it
      if (pq.contains(ckpt) && json.contains(ckpt)) {
        reclaim(at(ckpt, JsonCkpt), recursive = false)
        n += 1
      }
    }
    // superseded NDV sidecars: only the newest analysis is ever served
    val ndv = c.versions(Ndv)
    ndv.dropRight(1).foreach(v => reclaim(at(v, Ndv), recursive = false))
    n += math.max(0, ndv.size - 1)
    // torn parquet checkpoints (no _SUCCESS): crashed writers'
    // leftovers, never read
    c.torn.foreach(v => reclaim(at(v, ParquetCkpt), recursive = true))
    n += c.torn.size
    // stale commit/checkpoint staging leftovers (hard-killed writers):
    // never referenced, reclaimed only once provably stale — the mtime
    // guard keeps a LIVE writer's staging safe
    val staleMs = 60L * 60 * 1000
    val now = System.currentTimeMillis()
    val strays = c.strays.filter(st => now - st.getModificationTime > staleMs)
    strays.foreach(st => reclaim(st.getPath, recursive = true))
    n + strays.size
  }

  // ---- sidecars -----------------------------------------------------

  private def parseStruct(p: Path): StructType =
    DataType.fromJson(readText(p)) match {
      case s: StructType => s
      case other => throw new IllegalStateException(
        s"schema sidecar $p holds a ${other.typeName}, not a struct — " +
          "corrupt or foreign file")
    }

  /** The evolution floor: the persisted DDL schema when the table was
    * created with one (`_base.schema.json`, written once at CREATE
    * TABLE), else the default schema (the chunk shape).
    */
  lazy val baseSchema: StructType =
    if (fs.exists(named(BaseSchemaFile))) parseStruct(named(BaseSchemaFile))
    else defaultSchema

  /** The effective schema at `v`: the newest schema era at or below it
    * (ADD/DROP/RENAME COLUMN each write one — sidecars are never
    * vacuumed, so time travel across an ALTER keeps working), else the
    * base schema.
    */
  def schemaAt(c: Census, v: Long): StructType =
    c.versions(SchemaEra).filter(_ <= v).lastOption
      .fold(baseSchema)(e => parseStruct(at(e, SchemaEra)))

  def schemaAt(v: Long): StructType = schemaAt(census(), v)

  /** Every schema the table ever had: the base, then each era. */
  def schemaEras: Seq[StructType] =
    baseSchema +: census().versions(SchemaEra)
      .map(v => parseStruct(at(v, SchemaEra)))

  def recordSchema(v: Long, s: StructType): Unit =
    write(at(v, SchemaEra), s.json, overwrite = false)

  /** The current named CHECK constraints (name → SQL expression). */
  def constraints: Seq[(String, String)] =
    constraintsAt(census().versions(Constraints).lastOption.getOrElse(-1L))

  /** The CHECK constraints `snap` was replayed under (no listing). */
  def constraints(snap: Snapshot): Seq[(String, String)] =
    constraintsAt(snap.constraintsEra)

  private def constraintsAt(era: Long): Seq[(String, String)] =
    if (era < 0) Nil
    else readText(at(era, Constraints)).linesIterator.filter(_.nonEmpty)
      .map(line => (stringField(line, "n"), stringField(line, "e"))).toSeq

  /** Record the FULL constraint set as of version `v`. */
  def recordConstraints(v: Long, cs: Seq[(String, String)]): Unit =
    write(at(v, Constraints), cs.map { case (n, e) =>
      s"""{"n":"${esc(n)}","e":"${esc(e)}"}""" }.mkString("\n"),
      overwrite = false)

  /** Declared partition columns (`PARTITIONED BY`), fixed at creation. */
  lazy val partitionColumns: Seq[String] = lines(named(PartitionColsFile))

  /** Declared per-column bloom columns (physical names), read per call
    * — a declaration after the handle was built applies to its next
    * write.
    */
  def bloomColumns: Seq[String] = lines(named(BloomColsFile))

  def recordBloomColumns(phys: Seq[String]): Unit =
    write(named(BloomColsFile), phys.mkString("\n"), overwrite = true)

  private def lines(p: Path): Seq[String] =
    if (!fs.exists(p)) Seq.empty
    else readText(p).linesIterator.map(_.trim).filter(_.nonEmpty).toSeq

  /** Create the log directory with the table's creation-time identity:
    * the DDL schema (written once — a second CREATE over the same
    * directory refuses) and the identity partition columns.
    */
  def initialize(ddlSchema: Option[StructType], partCols: Seq[String]): Unit = {
    fs.mkdirs(dir)
    ddlSchema.foreach { s =>
      require(!fs.exists(named(BaseSchemaFile)),
        s"table at $tablePath already has a base schema — CREATE TABLE " +
          "ran twice, or the directory is being reused")
      write(named(BaseSchemaFile), s.json, overwrite = false)
    }
    if (partCols.nonEmpty)
      write(named(PartitionColsFile), partCols.mkString("\n"),
        overwrite = false)
  }

  /** Record an NDV analysis of version `v`: (column, estimate, base64
    * HLL sketch) per column.
    */
  def recordNdv(v: Long, cols: Seq[(String, Long, String)]): Unit =
    write(at(v, Ndv), s"""{"v":$v,"cols":[""" + cols.map {
      case (c, e, s64) => s"""{"n":"${esc(c)}","ndv":$e,"s":"$s64"}"""
    }.mkString(",") + "]}", overwrite = true)

  /** The newest NDV analysis: (analyzed version, column → estimate). */
  def ndvInfo: Option[(Long, Map[String, Long])] =
    census().versions(Ndv).lastOption.flatMap { nv =>
      val line = readText(at(nv, Ndv))
      val cols = "\\{\"n\":\"((?:[^\"\\\\]|\\\\.)*)\",\"ndv\":(\\d+)".r
      "\"v\":(-?\\d+)".r.findFirstMatchIn(line).map { m =>
        m.group(1).toLong -> cols.findAllMatchIn(line)
          .map(c => unesc(c.group(1)) -> c.group(2).toLong).toMap
      }
    }

  // ---- branches -----------------------------------------------------

  private def branchRoot = new Path(dir, "branches")

  /** The forked log of branch `name` (which must exist to be read). */
  def branchLog(name: String): ManifestLog = new ManifestLog(spark, tablePath,
    Some(name), defaultSchema, bloomBits, bloomHashes, clock)

  /** A branch log's fork version (its `_fork` marker). */
  def forkVersion: Long = {
    val p = named(ForkFile)
    require(fs.exists(p),
      s"branch dir $dir has no _fork marker — not a branch fork")
    readText(p).trim.toLong
  }

  /** The branches of this table: (name, fork version), sorted. */
  def branches: Seq[(String, Long)] = {
    val f = fs
    if (!f.exists(branchRoot)) Nil
    else f.listStatus(branchRoot).toSeq.filter(_.isDirectory)
      .map(st => st.getPath.getName)
      .map(b => (b, branchLog(b).forkVersion)).sortBy(_._1)
  }

  /** Fork this log into branch `name`: a SELF-CONTAINED copy of the
    * census's committed objects (entries, complete checkpoints, every
    * sidecar; never staging strays or torn checkpoints) plus the
    * `_fork` marker, published as one directory so a creation race has
    * exactly one winner. Log objects are write-once and versions
    * contiguous, so the copied set is a committed prefix under ANY
    * concurrent commit activity. Returns the fork version.
    */
  def fork(name: String): Long = {
    val f = fs
    val c = census()
    require(c.exists, s"no log at $tablePath")
    val target = new Path(branchRoot, name)
    if (f.exists(target)) throw new IllegalStateException(
      s"branch '$name' already exists at $tablePath")
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = named(s"tmp-branch-${java.util.UUID.randomUUID()}")
    try {
      f.mkdirs(tmp)
      val complete =
        c.versions(ParquetCkpt).map(at(_, ParquetCkpt).getName).toSet
      c.listed.filter { st =>
        val n = st.getPath.getName
        !n.startsWith("tmp-") && (!st.isDirectory || complete(n))
      }.foreach(st => org.apache.hadoop.fs.FileUtil.copy(
        f, st.getPath, f, new Path(tmp, st.getPath.getName), false, conf))
      val fork = c.latest
      write(new Path(tmp, ForkFile), fork.toString, overwrite = false)
      if (!publisher.putDirIfAbsent(f, tmp, target)) {
        f.delete(tmp, true)
        throw new IllegalStateException(
          s"branch '$name' already exists at $tablePath (lost creation race)")
      }
      fork
    } catch {
      case e: Throwable =>
        if (f.exists(tmp)) f.delete(tmp, true)
        throw e
    }
  }

  def dropBranch(name: String): Unit = {
    val d = new Path(branchRoot, name)
    require(fs.exists(d), s"no branch '$name' at $tablePath")
    fs.delete(d, true)
    ()
  }

  // ---- the action codec ---------------------------------------------

  /** Parse one log line. Strict: the shapes this engine has ever
    * emitted parse, anything else fails with a protocol message rather
    * than a generic parse error (a NEWER writer's log must not be
    * half-read).
    */
  def parseAction(line: String): Action = {
    def fail(what: String): Nothing = throw new IllegalArgumentException(
      s"unrecognized manifest log line ($what) at $tablePath — the log " +
        "was written by a newer engine protocol than this reader " +
        s"understands, or is corrupt: ${line.take(200)}")
    def fieldAt(key: String): Option[(Int, Int)] = {
      val i = line.indexOf("\"" + key + "\":\"")
      if (i < 0) None
      else {
        val start = i + key.length + 4
        Some((start, closingQuote(line, start)))
      }
    }
    def field(key: String): String = fieldAt(key) match {
      case Some((s, e)) => unesc(line.substring(s, e))
      case None => fail(s"missing field $key")
    }
    def num(key: String): Int = {
      val tag = "\"" + key + "\":"
      val i = line.indexOf(tag)
      if (i < 0) fail(s"missing field $key")
      var j = i + tag.length
      while (j < line.length && line.charAt(j).isDigit) j += 1
      line.substring(i + tag.length, j).toInt
    }
    def numLong(key: String): Option[Long] = {
      val tag = "\"" + key + "\":"
      val i = line.indexOf(tag)
      if (i < 0) None
      else {
        // signed: a stream marker may record −1 (IndexSync.markSynced)
        var j = i + tag.length
        if (j < line.length && line.charAt(j) == '-') j += 1
        while (j < line.length && line.charAt(j).isDigit) j += 1
        Some(line.substring(i + tag.length, j).toLong)
      }
    }
    def colStats: Seq[ColStats] =
      if (!line.contains("\"csn\":[")) Nil
      else {
        val names = parseStringArray(line, "csn")
        val los = parseStringArray(line, "cslo")
        val his = parseStringArray(line, "cshi")
        val valid = parseLongArray(line, "csv")
        val nulls = parseLongArray(line, "csnn")
        val exact = if (line.contains("\"cse\":["))
          parseLongArray(line, "cse") else Seq.empty
        val blooms = if (line.contains("\"csb\":["))
          parseStringArray(line, "csb") else Seq.empty
        if (Seq(los, his).exists(_.size != names.size) ||
            Seq(valid, nulls).exists(_.size != names.size) ||
            (exact.nonEmpty && exact.size != names.size) ||
            (blooms.nonEmpty && blooms.size != names.size))
          fail("ragged column-stats arrays")
        names.indices.map { i =>
          val ok = valid(i) == 1L
          ColStats(names(i),
            if (ok) Some(los(i)) else None,
            if (ok) Some(his(i)) else None, nulls(i),
            exact = i < exact.size && exact(i) == 1L,
            bloom = if (i < blooms.size && blooms(i).nonEmpty)
              Some(unpackBits(blooms(i))) else None)
        }
      }
    def dvRef: Option[DvRef] =
      fieldAt("dvp").map { case (s, e) =>
        DvRef(unesc(line.substring(s, e)),
          numLong("dvc").getOrElse(fail("dvp without dvc")))
      }
    if (line.contains("\"a\":\"add\"")) {
      if (fieldAt("b").nonEmpty)
        Action(add = true, field("f"), Some(FileStats(
          unpackBits(field("b")), field("lo"), field("hi"),
          num("nb"), num("nh"), numLong("rows"), colStats,
          numLong("sz"), dvRef)))
      else if (line.contains("\"u\":[")) {
        // PROTOCOL V1 add-action: the file's exact url set instead of
        // bloom stats. Accepted on read — stats are synthesized with
        // the same xxhash64+double-hash bit walk the write side uses,
        // so a pre-stats table stays readable (and its point reads
        // prunable) with no migration step; the next checkpoint or
        // rewrite re-records it in the current protocol.
        val urls = parseStringArray(line, "u")
        if (urls.isEmpty) fail("v1 add-action with empty url set")
        val bits = new Array[Long](bloomBits / 64)
        urls.foreach { u =>
          val h = ManifestTableFormat.stringHash(u)
          var i = 0
          while (i < bloomHashes) {
            val pos = Layout.bloomPos(h, i, bloomBits)
            bits(pos >> 6) |= (1L << (pos & 63))
            i += 1
          }
        }
        Action(add = true, field("f"), Some(FileStats(
          bits.toSeq, urls.min, urls.max, bloomBits, bloomHashes)))
      } else fail("add-action with neither stats nor url set")
    } else if (line.contains("\"a\":\"rm\""))
      Action(add = false, field("f"), None)
    else if (line.contains("\"a\":\"txn\""))
      Action(add = false, "", None,
        Some((field("app"), numLong("batch").getOrElse(
          fail("txn action without batch")))))
    else if (line.contains("\"a\":\"cts\""))
      Action(add = false, "", None, None,
        Some(numLong("ts").getOrElse(fail("cts action without ts"))))
    else fail("unknown action")
  }
}

object ManifestLog {

  /** The kinds of versioned log object, each named
    * `<12-digit version>.<kind>`.
    */
  val Entry = "json"
  val JsonCkpt = "checkpoint.json"
  val ParquetCkpt = "checkpoint.parquet"
  val Txns = "txns.json"
  val SchemaEra = "schema.json"
  val Constraints = "constraints.json"
  val Ndv = "ndv.json"
  private val Kinds =
    Set(Entry, JsonCkpt, ParquetCkpt, Txns, SchemaEra, Constraints, Ndv)
  private val Versioned = """(\d{12})\.(.+)""".r

  private val BaseSchemaFile = "_base.schema.json"
  private val PartitionColsFile = "_partition.cols"
  private val BloomColsFile = "_bloom.cols"
  private val ForkFile = "_fork"

  /** The log directory of the table at `root`: `_log`, or a branch's
    * fork under `_log/branches/<name>`.
    */
  def logDir(root: Path, branch: Option[String]): Path =
    branch.fold(new Path(root, "_log"))(b =>
      new Path(root, s"_log/branches/$b"))

  /** Whether `root` holds a manifest table (it has a log). */
  def isTable(fs: FileSystem, root: Path): Boolean =
    fs.exists(logDir(root, None))

  /** Whether the table at `root` has branch `name`. */
  def hasBranch(fs: FileSystem, root: Path, name: String): Boolean =
    fs.exists(logDir(root, Some(name)))

  // ---- log entries --------------------------------------------------

  /** Per-column skipping stats an add-action may carry (the
    * Delta/Iceberg data-skipping idea): min/max of the column's
    * non-null values in this file, rendered as a canonical string
    * (numeric kinds by `toString`/`toPlainString` of the encoded
    * value — timestamps as epoch micros, dates as epoch days,
    * booleans as 0/1 — strings truncated to a sound prefix bound),
    * plus the null count. `lo`/`hi` are both present or both absent
    * (absent = all-null column, or an unboundable truncated max).
    */
  final case class ColStats(
      name: String, lo: Option[String], hi: Option[String], nulls: Long,
      /** Bounds are the column's EXACT extrema (always true for the
        * canonical numeric grid; for strings, true iff neither bound
        * was truncation-adjusted) — protocol v7's `cse` marker. Absent
        * on older actions → false (string extremum lane fails open;
        * nothing else consults it).
        */
      exact: Boolean = false,
      /** Protocol v9 per-column BLOOM: a fixed-size bitset over
        * `xxhash64(value)` (same bit walk and params as the url bloom)
        * for columns declared at write time. Absent → fail open (the
        * file is read).
        */
      bloom: Option[Seq[Long]] = None)

  /** Per-file stats an add-action carries: a bloom bitset over
    * xxhash64(document_url) plus the min/max url — fixed size, so the
    * log stays O(files) however many documents a file packs — and,
    * from protocol v3 on, the file's row count plus per-column
    * min/max/null-count skipping stats ([[ColStats]], bounded at
    * [[ManifestTableFormat.maxStatsColumns]] columns). Pre-v3 actions
    * parse with `rows = None, cols = Nil` and every consumer treats
    * absent stats as "may match anything" (fail-open).
    */
  final case class FileStats(
      bits: Seq[Long], lo: String, hi: String, numBits: Int, numHashes: Int,
      rows: Option[Long] = None, cols: Seq[ColStats] = Nil,
      bytes: Option[Long] = None,
      dv: Option[DvRef] = None)

  /** One committed action: add (with the file's stats), remove, or —
    * when `txn` is set (protocol v4) — a STREAMING TRANSACTION marker
    * `(appId, batchId)` recording that a writer's micro-batch
    * committed in this entry (the Delta `SetTransaction` idea). Txn
    * actions carry no file (`file = ""`, `add = false`); replay keeps
    * the MAX batchId per appId, which is what makes a restarted
    * micro-batch replay idempotent.
    */
  final case class Action(
      add: Boolean, file: String, stats: Option[FileStats],
      txn: Option[(String, Long)] = None,
      /** Protocol v8 IN-COMMIT TIMESTAMP (`"a":"cts"`): the commit's
        * own monotone epoch-ms stamp, written as the entry's first
        * line by [[ManifestLog!.tryCommit]]. Carries no file; every
        * replay site skips it (and may harvest the value).
        */
      cts: Option[Long] = None)

  /** A replayed snapshot. Driver state is bounded by CHECKPOINT
    * CADENCE, not table size: `base` holds only the stats of files
    * added since the newest parquet checkpoint (plus the whole state
    * when no parquet checkpoint exists yet — the pre-checkpoint
    * bootstrap, or a legacy JSON checkpoint), and `removed` the names
    * the tail removed from the checkpoint. The checkpoint itself
    * stays ON DISK as parquet and is consumed as a Spark read
    * ([[ManifestLog!.statsFrame]]); only live-file NAMES ever transit
    * the driver, never the per-file bloom stats.
    */
  final case class Snapshot(
      version: Long,
      ckptParquet: Option[Path],
      base: Map[String, FileStats],
      removed: Set[String],
      tableSchema: StructType,
      txns: Map[String, Long] = Map.empty,
      /** Newest in-commit timestamp replayed (protocol v8) — the
        * monotonicity floor for the next commit. None on pre-v8
        * tails (the next commit starts the timeline).
        */
      cts: Option[Long] = None,
      /** Version of the newest constraints sidecar at or below
        * `version` (−1: none): a writer whose commit race an ADD or
        * DROP CONSTRAINT won sees it move and re-enforces.
        */
      constraintsEra: Long = -1L)

  private[sink] def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def unesc(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => b += '"'; i += 2
          case '\\' => b += '\\'; i += 2
          case 'n' => b += '\n'; i += 2
          case 'r' => b += '\r'; i += 2
          case 't' => b += '\t'; i += 2
          case 'u' =>
            b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar
            i += 6
          case other => b += other; i += 2
        }
      } else { b += c; i += 1 }
    }
    b.result()
  }

  /** Index of the quote closing a string value that starts at `start`
    * (escape-aware: a backslash consumes the next char, so an
    * escaped-backslash-final value cannot hide the closing quote).
    */
  private def closingQuote(line: String, start: Int): Int = {
    var j = start
    while (line.charAt(j) != '"') j += (if (line.charAt(j) == '\\') 2 else 1)
    j
  }

  /** Escape-aware `"key":"value"` scan. */
  private def stringField(line: String, key: String): String = {
    val tag = "\"" + key + "\":\""
    val i = line.indexOf(tag)
    require(i >= 0, s"corrupt constraints sidecar line: ${line.take(120)}")
    val start = i + tag.length
    unesc(line.substring(start, closingQuote(line, start)))
  }

  private def packBits(bits: Seq[Long]): String = {
    val buf = java.nio.ByteBuffer.allocate(bits.length * 8)
    bits.foreach(buf.putLong)
    java.util.Base64.getEncoder.encodeToString(buf.array())
  }

  private def unpackBits(b64: String): Seq[Long] = {
    val buf = java.nio.ByteBuffer.wrap(java.util.Base64.getDecoder.decode(b64))
    Seq.fill(buf.remaining() / 8)(buf.getLong)
  }

  /** Parse a `"key":[1,2,3]` array of non-negative integers. */
  private def parseLongArray(line: String, key: String): Seq[Long] = {
    val tag = "\"" + key + "\":["
    val at = line.indexOf(tag)
    if (at < 0) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var i = at + tag.length
    while (i < line.length && line.charAt(i) != ']') {
      if (line.charAt(i).isDigit) {
        var j = i
        while (j < line.length && line.charAt(j).isDigit) j += 1
        out += line.substring(i, j).toLong
        i = j
      } else i += 1
    }
    out.toSeq
  }

  /** Parse a `"key":["...","..."]` string array (escape-aware). */
  private def parseStringArray(line: String, key: String): Seq[String] = {
    val tag = "\"" + key + "\":["
    val at = line.indexOf(tag)
    if (at < 0) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = at + tag.length
    while (i < line.length && line.charAt(i) != ']') {
      if (line.charAt(i) == '"') {
        val j = closingQuote(line, i + 1)
        out += unesc(line.substring(i + 1, j))
        i = j + 1
      } else i += 1
    }
    out.toSeq
  }

  /** One log line per action, in the current protocol. */
  def renderAction(a: Action): String = a.stats match {
    case Some(st) =>
      val base = s""""a":"add","f":"${esc(a.file)}","lo":"${esc(st.lo)}","hi":"${
        esc(st.hi)}","nb":${st.numBits},"nh":${st.numHashes},"b":"${
        packBits(st.bits)}""""
      // column skipping stats (protocol v3): five PARALLEL arrays —
      // names, lo, hi, a lo/hi validity flag (an empty string is a
      // legitimate value, so absence needs its own bit), null counts —
      // plus the file row count. An older reader ignores unknown
      // fields, so v3 logs stay readable by the v2 parser.
      val sz = st.bytes.fold("")(b => "," + "\"sz\":" + b) +
        // protocol v6: deletion-vector reference (path + cardinality)
        st.dv.fold("")(d =>
          s""","dvp":"${esc(d.path)}","dvc":${d.card}""")
      val ext = st.rows match {
        case None => sz
        case Some(n) =>
          val cs = st.cols
          val names = cs.map(c => "\"" + esc(c.name) + "\"").mkString(",")
          val los = cs.map(c => "\"" + esc(c.lo.getOrElse("")) + "\"")
            .mkString(",")
          val his = cs.map(c => "\"" + esc(c.hi.getOrElse("")) + "\"")
            .mkString(",")
          val valid = cs.map(c => if (c.lo.isDefined && c.hi.isDefined) 1
            else 0).mkString(",")
          val nulls = cs.map(_.nulls).mkString(",")
          // protocol v7: per-column exact-bounds marker (string
          // extremum lane); older readers ignore the field
          val exact = cs.map(c => if (c.exact) 1 else 0).mkString(",")
          // protocol v9: per-column blooms for declared columns ("" =
          // none recorded); older readers ignore the field
          val blooms =
            if (cs.forall(_.bloom.isEmpty)) ""
            else "," + "\"csb\":[" + cs.map(c =>
              "\"" + c.bloom.fold("")(packBits) + "\"").mkString(",") + "]"
          s"""$sz,"rows":$n,"csn":[$names],"cslo":[$los],"cshi":[$his],""" +
            s""""csv":[$valid],"csnn":[$nulls],"cse":[$exact]$blooms"""
      }
      s"{$base$ext}"
    case None => a.txn match {
      case Some((app, batch)) =>
        s"""{"a":"txn","app":"${esc(app)}","batch":$batch}"""
      case None => a.cts match {
        case Some(ts) => s"""{"a":"cts","ts":$ts}"""
        case None => s"""{"a":"rm","f":"${esc(a.file)}"}"""
      }
    }
  }

  // ---- checkpoint frames --------------------------------------------

  /** Stats rows per checkpoint manifest part (~100 MB of per-file
    * stats each) and the vacuum listing batch size — the two knobs
    * that keep driver state bounded at the 10⁷-file end.
    */
  private[sink] val statsPerManifestPart = 100000L

  /** The stats frame's columns ([[ManifestLog!.statsFrame]]), which is
    * what a parquet checkpoint holds. Checkpoints read under it, so no
    * read infers a schema; a column an older checkpoint lacks reads
    * null, which every consumer treats as "not recorded".
    */
  private[sink] val statsSchema: StructType = {
    import org.apache.spark.sql.types._
    def arr(t: DataType) = ArrayType(t)
    StructType(Seq("file" -> StringType, "bits" -> arr(LongType),
      "lo" -> StringType, "hi" -> StringType, "num_bits" -> IntegerType,
      "num_hashes" -> IntegerType, "rows" -> LongType, "bytes" -> LongType,
      "cs_names" -> arr(StringType), "cs_lo" -> arr(StringType),
      "cs_hi" -> arr(StringType), "cs_valid" -> arr(IntegerType),
      "cs_nn" -> arr(LongType), "cs_exact" -> arr(IntegerType),
      "cs_bloom" -> arr(arr(LongType)), "dv_path" -> StringType,
      "dv_card" -> LongType).map { case (n, t) => StructField(n, t) })
  }

  /** Memo of the LAZY DataFrame handle per (session, checkpoint dir) —
    * the Tables() pattern applied to checkpoint manifests. A checkpoint
    * parquet directory is IMMUTABLE once published (versioned name,
    * `_SUCCESS`-guarded; vacuum only ever deletes SUPERSEDED dirs no
    * live snapshot references), yet every `spark.read.parquet` on it
    * lists the directory again. Caching the unresolved plan removes
    * that; every action on the handle still reads the checkpoint
    * bytes, so no row or result is ever reused.
    *
    * Bounded: one entry per log directory (the checkpoint directory's
    * parent), holding the newest checkpoint read so far. Reading a
    * newer checkpoint replaces it; a read of an older one (time
    * travel) is served uncached. Vacuum reclaims only checkpoints
    * older than the newest, and the snapshot read that planning or
    * vacuum does next installs the newest. The parquet listing runs
    * outside the lock.
    */
  private val ckptMemo =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[Path, (Path, DataFrame)]]()

  private[sink] def ckptFrame(spark: SparkSession, dir: String): DataFrame = {
    val d = new Path(dir)
    def memo = ckptMemo.computeIfAbsent(spark,
      _ => scala.collection.mutable.Map.empty)
    ckptMemo.synchronized(memo.get(d.getParent)).collect {
      case (cached, df) if cached == d => df
    }.getOrElse {
      val df = spark.read.schema(statsSchema).parquet(dir)
      ckptMemo.synchronized {
        memo.get(d.getParent) match {
          // zero-padded version names order like the versions
          case Some((held, heldDf)) if held.getName >= d.getName =>
            if (held == d) heldDf else df
          case _ => memo(d.getParent) = (d, df); df
        }
      }
    }
  }

  /** Log directories and the checkpoint each memoizes (spec hook). */
  private[sink] def memoizedCheckpoints(spark: SparkSession)
      : Seq[(Path, Path)] =
    ckptMemo.synchronized {
      Option(ckptMemo.get(spark)).toSeq.flatMap(_.toSeq.map {
        case (log, (d, _)) => log -> d })
    }

  /** SHALLOW CLONE: fork `srcPath`'s table into a new table at
    * `destPath` by copying its `_log` directory — a metadata-only
    * copy, O(log objects), never O(data). Every data-file reference
    * in the log is an ABSOLUTE path and checkpoints are discovered by
    * listing (never by embedded path), so the copied log is fully
    * self-contained: the clone reads the source's data files by
    * reference and all future writes land under the clone's own
    * `data/`, invisible to the source (and vice versa).
    *
    * Fork semantics (stronger than Delta shallow CLONE): the FULL log
    * history carries over — time travel reaches pre-clone versions,
    * schema eras, CHECK constraints, CDF, and streaming txn markers
    * all behave as if the clone had always been this table.
    *
    * Consistency: one recursive listing picks the fork point; every
    * log object is write-once, and a checkpoint caught mid-write
    * (no `_SUCCESS` yet) replays as a crashed checkpoint exactly as
    * it would at the source — ignored, falling back to entries.
    *
    * CAVEAT (the shallow-clone hazard, same as Delta's): VACUUM on
    * the SOURCE reclaims files the source dropped after the fork but
    * the clone may still reference. Vacuum a cloned-from table only
    * after its clones are dropped or compacted away from the shared
    * files (clone-side `compact` rewrites into the clone's own dir).
    * Clone-side vacuum is always safe: it only ever lists the
    * clone's own `data/`.
    *
    * Returns the number of log objects copied.
    */
  def cloneLog(spark: SparkSession, srcPath: String,
      destPath: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(srcPath).getFileSystem(conf)
    val src = fs.makeQualified(logDir(new Path(srcPath), None))
    val dst = logDir(new Path(destPath), None)
    if (!fs.exists(src)) throw new UnsupportedOperationException(
      s"$srcPath is not a manifest-format table (no _log) — CLONE " +
        "forks the commit log")
    if (fs.exists(dst)) throw new IllegalStateException(
      s"$destPath already holds a manifest table — CLONE refuses to " +
        "overwrite")
    val it = fs.listFiles(src, true)
    var copied = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile) {
        val rel = src.toUri.relativize(
          fs.makeQualified(f.getPath).toUri).getPath
        org.apache.hadoop.fs.FileUtil.copy(
          fs, f.getPath, fs, new Path(dst, rel), false, conf)
        copied += 1
      }
    }
    copied
  }
}
