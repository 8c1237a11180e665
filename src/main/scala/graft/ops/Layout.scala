package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data layout — the multi-dimensional sibling of
  * the chunk store's single-key file pruning (SURVEY §2.1 A21:
  * the reference provisions its store's index/layout once at bootstrap,
  * `AzureCosmosDB/.../CosmosDBClientWrapper.cs:119-144`; a columnar lake
  * expresses the same idea as file/row-group clustering).
  *
  * Writing a table ordered by the interleaved bits of several columns
  * clusters ALL of those columns at once: every output file (and every
  * parquet row group inside it) covers a small hyper-rectangle of the
  * key space, so min/max footer stats prune scans for predicates on ANY
  * subset of the dimensions — the property a single-column sort only
  * gives its leading key. This is how 100 TB tables serve selective
  * multi-dimension queries without a secondary index: `zorderWrite`
  * costs one range exchange + per-partition sort at write time, and
  * every later scan with a dim predicate skips the files whose hull
  * misses it ([[fileHulls]] computes exactly the stats the reader's
  * row-group skipping consults).
  *
  * The curve itself is pure bit arithmetic composed from built-in
  * `shiftleft`/`&`/`|` columns — whole-stage codegen, no UDF.
  */
object Layout {

  /** Spread the low 16 bits of `c` to the even bit positions of a long
    * (classic magic-mask bit dilation, public-domain bit-twiddling).
    */
  private def spread2(c: Column): Column =
    Seq(8 -> 0x00FF00FFL, 4 -> 0x0F0F0F0FL, 2 -> 0x33333333L, 1 -> 0x55555555L)
      .foldLeft(c.cast("long").bitwiseAND(lit(0xFFFFL))) {
        case (x, (s, m)) => x.bitwiseOR(shiftleft(x, s)).bitwiseAND(lit(m))
      }

  /** Generic bit-interleave of `dims.size` non-negative ints, `bits`
    * low bits each: dim d's bit b lands at position `b * n + d`. The
    * expression tree is `bits × n` shift/mask terms — constant-size,
    * codegen'd, and folded by Catalyst when inputs are literals.
    */
  private[graft] def mortonGeneric(dims: Seq[Column], bits: Int): Column =
    dims.zipWithIndex.map { case (c, d) =>
      val x = c.cast("long")
      (0 until bits).map { b =>
        shiftleft(shiftright(x, b).bitwiseAND(lit(1L)), b * dims.size + d)
      }.reduce(_.bitwiseOR(_))
    }.reduce(_.bitwiseOR(_))

  /** Morton code of pre-quantized non-negative dimension values.
    * Two dimensions at ≤16 bits take the 8-operation mask fast path;
    * any other arity uses the generic interleave. Later dims occupy
    * higher bit positions within each group (dim 0 is least
    * significant), matching the generic path bit-for-bit.
    */
  def mortonCode(dims: Seq[Column], bits: Int = 16): Column = {
    require(dims.nonEmpty && dims.size * bits <= 63,
      s"morton code must fit a long: ${dims.size} dims × $bits bits")
    dims match {
      case Seq(x, y) if bits <= 16 =>
        spread2(x).bitwiseOR(shiftleft(spread2(y), 1))
      case _ => mortonGeneric(dims, bits)
    }
  }

  /** Equi-width quantization of a numeric column onto [0, 2^bits):
    * the [lo, hi] range comes from table stats (driver-scale state, the
    * same place a writer gets its range-partition bounds). Values
    * outside [lo, hi] clamp to the edge cells.
    */
  def quantize(c: Column, lo: Double, hi: Double, bits: Int = 16): Column = {
    require(hi > lo, s"quantize range must be non-empty: [$lo, $hi]")
    val cells = (1L << bits) - 1
    least(greatest(
      floor((c.cast("double") - lit(lo)) / lit(hi - lo) * lit(cells.toDouble + 1))
        .cast("long"), lit(0L)), lit(cells))
  }

  /** The z-ordered frame `zorderWrite` writes: an appended morton
    * column, one range exchange on it (file count = `numFiles`), and a
    * per-partition sort so row groups inside each file are clustered
    * too. Exposed so plan guards can pin the shape (exactly one
    * `rangepartitioning` exchange, no global sort).
    */
  def zorderFrame(df: DataFrame, dims: Seq[Column], numFiles: Int,
      bits: Int = 16): DataFrame = {
    require(!df.columns.contains("__z"),
      "zorderFrame reserves the column name __z; rename the input column")
    df.withColumn("__z", mortonCode(dims, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
  }

  /** Write `df` to `path` as parquet clustered on the morton code of
    * `dims` (quantized by the caller — compose with [[quantize]]).
    * One exchange, one local sort, `numFiles` output files; rows are
    * unchanged (the curve only permutes them).
    */
  def zorderWrite(df: DataFrame, dims: Seq[Column], path: String,
      numFiles: Int, bits: Int = 16): Unit =
    zorderFrame(df, dims, numFiles, bits)
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** [[zorderWrite]] with ranges taken from the data: ONE narrow
    * min/max aggregate over the dim columns (driver receives 2×dims
    * doubles), then the quantized curve write. Two scans total — the
    * stats pass reads only the dim columns (column pruning), the write
    * pass is the one range exchange.
    */
  def zorderWriteAuto(df: DataFrame, dimNames: Seq[String], path: String,
      numFiles: Int, bits: Int = 16): Unit =
    zorderFrameAuto(df, dimNames, numFiles, bits)
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** The FRAME half of [[zorderWriteAuto]]: range stats + quantized
    * curve partition/sort, `__z` still attached (drop it before
    * writing). Lets callers that own their write path — the manifest
    * format's copy-on-write compaction — reuse the auto-quantized
    * curve without a second implementation.
    */
  def zorderFrameAuto(df: DataFrame, dimNames: Seq[String],
      numFiles: Int, bits: Int = 16): DataFrame = {
    val stats = df.agg(
      dimNames.flatMap(d => Seq(min(col(d)).cast("double"),
        max(col(d)).cast("double"))).head,
      dimNames.flatMap(d => Seq(min(col(d)).cast("double"),
        max(col(d)).cast("double"))).tail: _*).collect().head
    val dims = dimNames.zipWithIndex.map { case (d, i) =>
      // an empty input (or all-null dim) yields null min/max — treat
      // like a degenerate (constant) dim rather than NPE-ing: every
      // row (if any) lands in cell 0 and the write still happens
      if (stats.isNullAt(2 * i) || stats.isNullAt(2 * i + 1)) lit(0L)
      else {
        val (lo, hi) = (stats.getDouble(2 * i), stats.getDouble(2 * i + 1))
        if (hi > lo) quantize(col(d), lo, hi, bits) else lit(0L)
      }
    }
    zorderFrame(df, dims, numFiles, bits)
  }

  /** Per-file bounding hulls of `dimCols` — the min/max stats a
    * parquet reader consults for row-group/file skipping. One narrow
    * aggregate keyed by file name; used to measure how well a layout
    * clusters (and by the spec to prove the z-order write prunes).
    */
  def fileHulls(spark: SparkSession, path: String,
      dimCols: Seq[String]): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("rows"),
        dimCols.flatMap(d => Seq(
          min(col(d)).as(s"${d}_min"), max(col(d)).as(s"${d}_max"))): _*)

  /** Persist the per-file hulls as a `_hulls` sidecar inside the data
    * directory (the leading underscore hides it from parquet readers —
    * same convention as `_SUCCESS`). This is the Iceberg/Delta
    * manifest idea in one tiny table: file-count rows of driver-scale
    * stats that let a scan skip whole FILES on non-partition columns,
    * one level above the row-group skipping inside each file.
    */
  def writeManifest(spark: SparkSession, path: String,
      dimCols: Seq[String]): Unit =
    fileHulls(spark, path, dimCols)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_hulls")

  /** Files whose hull intersects every `(dim, lo, hi)` interval — the
    * driver-side manifest consultation (file-count rows, KB-scale at
    * any corpus size: 10⁵ files × a few doubles).
    */
  /** Interval bounds typed to the column: comparing a 64-bit id column
    * against a double literal would silently round above 2^53, so
    * integral columns get long bounds (interval tightened inward —
    * ceil(lo)/floor(hi) — which keeps pruning and filtering exact).
    */
  private def typedBounds(df: DataFrame, d: String, lo: Double, hi: Double)
      : (Column, Column) =
    df.schema(d).dataType match {
      case org.apache.spark.sql.types.ByteType |
          org.apache.spark.sql.types.ShortType |
          org.apache.spark.sql.types.IntegerType |
          org.apache.spark.sql.types.LongType =>
        (lit(math.ceil(lo).toLong), lit(math.floor(hi).toLong))
      case _ => (lit(lo), lit(hi))
    }

  private[graft] def selectFiles(spark: SparkSession, path: String,
      preds: Seq[(String, Double, Double)]): Seq[String] = {
    val hulls = spark.read.parquet(s"$path/_hulls")
    preds.foldLeft(hulls) { case (df, (d, lo, hi)) =>
      val (l, h) = typedBounds(df, s"${d}_min", lo, hi)
      df.filter(col(s"${d}_max") >= l && col(s"${d}_min") <= h)
    }.select("file").collect().map(_.getString(0)).toSeq
  }

  /** Re-cluster a z-ordered table after appends have diluted the
    * layout (appended files land wherever the writer put them, so
    * their hulls span the key space and pruning degrades toward a
    * full scan). Stages a fresh curve write of the CURRENT rows to a
    * sibling directory, swaps whole directories by rename, then
    * rebuilds the manifests — the layout twin of the chunk store's
    * small-file compaction, and like it the live table is renamed
    * aside (never deleted) until the swap succeeds, so a failure
    * leaves either the old table or the new one, not a mix. Manifests
    * are rebuilt AFTER the swap because they key on final file paths;
    * in the gap, pruned scans fall back to full scans — sound, just
    * unpruned.
    */
  def recluster(spark: SparkSession, path: String, dimNames: Seq[String],
      numFiles: Int, bits: Int = 16,
      bloomKey: Option[String] = None): Unit = {
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new org.apache.hadoop.fs.Path(
      path + ".staging-" + java.util.UUID.randomUUID())
    // the staged write MATERIALIZES the copy before anything moves;
    // the swap runs under the shared marker protocol (StagedSwap), so
    // an interrupted swap is detectable and recovers to one complete
    // generation
    zorderWriteAuto(spark.read.parquet(path), dimNames, tmp.toString,
      numFiles, bits)
    graft.sink.StagedSwap.swap(fs, live, tmp)
    writeManifest(spark, path, dimNames)
    bloomKey.foreach(k => writeKeyManifest(spark, path, k))
  }

  /** Fixed-size bloom bitset over pre-hashed keys: k positions per key
    * by double hashing the one xxhash64 value. An `Aggregator`, so the
    * per-file bitsets build map-side and the exchange carries one
    * `numBits`-bit buffer per file per partition — never a key list.
    */
  private[graft] def bloomAgg(numBits: Int, numHashes: Int)
      : org.apache.spark.sql.expressions.Aggregator[Long, Array[Long], Seq[Long]] =
    new org.apache.spark.sql.expressions.Aggregator[Long, Array[Long], Seq[Long]] {
      override def zero: Array[Long] = new Array[Long](numBits / 64)
      override def reduce(b: Array[Long], h: Long): Array[Long] = {
        var i = 0
        while (i < numHashes) {
          val pos = bloomPos(h, i, numBits)
          b(pos >> 6) |= (1L << (pos & 63))
          i += 1
        }
        b
      }
      override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
        var i = 0
        while (i < a.length) { a(i) |= b(i); i += 1 }
        a
      }
      override def finish(b: Array[Long]): Seq[Long] = b.toSeq
      override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
      override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    }

  private[graft] def bloomPos(h: Long, i: Int, numBits: Int): Int = {
    val h1 = h >>> 32
    val h2 = (h & 0xFFFFFFFFL) | 1L // odd → walks all positions
    java.lang.Math.floorMod(h1 + i * h2, numBits.toLong).toInt
  }

  /** Per-file key bloom filters as a `_keybloom` sidecar — the
    * point-set complement of the `_hulls` intervals: min/max stats
    * cannot prune an equality probe on a high-cardinality key, a
    * bloom can. Params ride along as columns so readers validate
    * against the write-time configuration, including the KEY TYPE:
    * xxhash64 is type-sensitive (an INT probe hashes differently from
    * the BIGINT value it equals), so the probe side must cast to the
    * recorded type before hashing or every test would be a silent
    * false negative — dropped rows, not just missed pruning.
    */
  def writeKeyManifest(spark: SparkSession, path: String, keyCol: String,
      numBits: Int = 1 << 16, numHashes: Int = 5): Unit = {
    require(numBits % 64 == 0, s"numBits must be a multiple of 64: $numBits")
    val agg = udaf(bloomAgg(numBits, numHashes))
    val table = spark.read.parquet(path)
    table
      .select(input_file_name().as("file"), xxhash64(col(keyCol)).as("h"))
      .groupBy("file")
      .agg(agg(col("h")).as("bits"))
      .withColumn("key", lit(keyCol))
      .withColumn("key_type", lit(table.schema(keyCol).dataType.json))
      .withColumn("num_bits", lit(numBits))
      .withColumn("num_hashes", lit(numHashes))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_keybloom")
  }

  /** The bloom membership test as a COLUMN over (h, bits, num_bits,
    * num_hashes) — the exact engine-side twin of the driver
    * [[bloomPos]] the write-side aggregator used (same double-hash
    * walk, same long-overflow wrap via Java arithmetic, pmod ≡
    * floorMod for a positive modulus). Evaluating it in a Spark job
    * is what keeps the probe off the driver.
    */
  private[graft] def bloomTest: Column =
    bloomTestOn(col("bits"), col("h"), col("num_bits"), col("num_hashes"))

  /** The bloom membership test over explicit columns — the
    * [[bloomTest]] bit walk parameterized so callers can aim it at
    * any (bits, hash, params) triple (e.g. the manifest's per-column
    * blooms next to its url bloom in one stats frame).
    */
  private[graft] def bloomTestOn(bits: Column, h: Column,
      numBits: Column, numHashes: Column): Column = {
    val h1 = call_function("shiftrightunsigned", h, lit(32))
    val h2 = h.bitwiseAND(lit(0xFFFFFFFFL)).bitwiseOR(lit(1L))
    forall(sequence(lit(0L), numHashes.cast("long") - 1L), i => {
      val pos = pmod(h1 + i * h2, numBits.cast("long"))
      val word = element_at(bits,
        (call_function("shiftright", pos, lit(6)) + 1L).cast("int"))
      val mask = call_function("shiftleft", lit(1L),
        pos.bitwiseAND(lit(63L)).cast("int"))
      word.bitwiseAND(mask) =!= 0L
    })
  }

  /** Equality/IN-probe pruning, evaluated AS A SPARK JOB: the
    * `_keybloom` manifest frame joins the (distinct, type-cast,
    * broadcast) probe-hash frame and the bloom test filters the
    * pairs; only the surviving FILE NAMES reach the driver. At 10⁵
    * files × 10⁴ probe keys that is 10⁹ bloom tests distributed
    * across executors instead of a single-threaded driver loop, and
    * driver memory is file-names-that-match, never the bitset
    * manifest itself (the round-4 `collect()` materialized ~800 MB of
    * bitsets for 10⁵ files — the one 100 TB flag this closes).
    *
    * Probe values are cast to the manifest's recorded key type before
    * hashing (xxhash64 is type-sensitive — see [[writeKeyManifest]]),
    * so pruning keeps its no-false-negative soundness across probe
    * frames of any compatible type. False positives only cost extra
    * files; the caller's semi-join makes results exact.
    */
  private[graft] def keyedSurvivors(spark: SparkSession, path: String,
      probe: DataFrame): DataFrame = {
    val keyName = probe.columns.head
    val manifest = spark.read.parquet(s"$path/_keybloom")
    require(manifest.schema.fieldNames.contains("key_type"),
      s"_keybloom at $path predates key-type stamping — rebuild it with " +
        "writeKeyManifest (typeless manifests cannot be probed soundly)")
    val hd = manifest.select("key", "key_type").limit(1).collect()
    if (hd.isEmpty) return manifest.select("file").limit(0)
    val head = hd.head
    require(head.getString(0) == keyName,
      s"_keybloom was built on '${head.getString(0)}', " +
        s"probed with '$keyName'")
    val keyType =
      org.apache.spark.sql.types.DataType.fromJson(head.getString(1))
    val hashes = probe
      .select(xxhash64(col(keyName).cast(keyType)).as("h")).distinct()
    manifest.join(broadcast(hashes))
      .filter(bloomTest)
      .select("file").distinct()
  }

  private[graft] def selectFilesByKey(spark: SparkSession, path: String,
      probe: DataFrame): Seq[String] =
    keyedSurvivors(spark, path, probe)
      .collect().map(_.getString(0)).toSeq

  def prunedScanByKey(spark: SparkSession, path: String,
      probe: DataFrame): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(s"$path/_keybloom")
    val keyName = probe.columns.head
    val base =
      if (p.getFileSystem(conf).exists(p)) {
        val manifest = spark.read.parquet(s"$path/_keybloom")
          .select("file").collect().map(_.getString(0)).toSeq
        val files = readSet(spark, path, manifest,
          selectFilesByKey(spark, path, probe))
        if (files.isEmpty) spark.read.parquet(path).limit(0)
        else spark.read.parquet(files: _*)
      } else spark.read.parquet(path)
    base.join(broadcast(probe.distinct()), Seq(keyName), "left_semi")
  }

  /** Interval-predicate scan that consults the `_hulls` manifest to
    * read only the files whose stats overlap ALL predicates, then
    * applies the exact predicates — so results equal a full
    * scan-and-filter whatever the manifest says (pruning is sound
    * because a matching row can only live in an overlapping file;
    * exactness comes from the residual filter). Without a manifest it
    * degrades to the plain filtered scan. On a z-ordered table the
    * file list shrinks like the hull coverage — this is what the
    * write-time exchange bought.
    */
  /** The files a pruned scan must read, derived from the SCAN-TIME
    * inputFiles set so each physical file appears AT MOST ONCE:
    * a file the manifest doesn't know (appended since the manifest
    * was built, or a path-rendering divergence) can never be pruned —
    * always read; a known file is read only when selected. This keeps
    * pruning SOUND against a stale manifest — the failure direction
    * of any mismatch is "read more", never "drop rows" — without the
    * duplicate reads a rendering divergence would otherwise cause
    * (every file "unknown" AND the manifest-rendered selection also
    * listed → rows doubled).
    */
  private def readSet(spark: SparkSession, path: String,
      manifestFiles: Seq[String], selected: Seq[String]): Seq[String] = {
    val known = manifestFiles.toSet
    val sel = selected.toSet
    spark.read.parquet(path).inputFiles.toSeq
      .filter(f => !known.contains(f) || sel.contains(f))
  }

  /** The file SUBSET a sidecar-aware scan should read, or None when
    * neither sidecar applies — the pruning core of [[prunedScan]] /
    * [[prunedScanByKey]] exposed for the SQL catalog's scan builder
    * (predicates arrive from Catalyst there, not as API arguments).
    *
    * `intervals` consult `_hulls` (only dims the manifest records —
    * others are ignored, sound); `keyEqs` consult `_keybloom` (only
    * when the probed column IS the recorded key; values probe as
    * strings and are cast to the recorded key type before hashing).
    * Both selections go through [[readSet]] so stale manifests stay
    * sound, and multiple applicable sidecars INTERSECT (a file must
    * survive every manifest that knows it).
    */
  def pruneFilesForScan(spark: SparkSession, path: String,
      intervals: Seq[(String, Double, Double)],
      keyEqs: Map[String, Seq[String]]): Option[Seq[String]] = {
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    def sidecar(name: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(s"$path/$name")
      p.getFileSystem(conf).exists(p)
    }
    val picks = scala.collection.mutable.ArrayBuffer
      .empty[(Seq[String], Seq[String])] // (manifest files, selected)
    // pruning FAILS OPEN: a malformed/stale sidecar must degrade a SQL
    // read to the full scan, never break it
    def attempt(what: String)(body: => Unit): Unit =
      try body catch {
        case e: Exception =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"$what sidecar at $path unusable for scan pruning " +
              s"(${e.getMessage}); reading unpruned")
      }
    if (sidecar("_hulls") && intervals.nonEmpty) attempt("_hulls") {
      val hulls = spark.read.parquet(s"$path/_hulls")
      val dims = hulls.schema.fieldNames
        .filter(_.endsWith("_min")).map(_.stripSuffix("_min")).toSet
      val usable = intervals.filter(p => dims.contains(p._1))
      if (usable.nonEmpty)
        picks += ((hulls.select("file").collect().map(_.getString(0)).toSeq,
          selectFiles(spark, path, usable)))
    }
    if (sidecar("_keybloom") && keyEqs.nonEmpty) attempt("_keybloom") {
      val manifest = spark.read.parquet(s"$path/_keybloom")
      val hd = manifest.select("key").limit(1).collect()
      if (hd.nonEmpty) keyEqs.get(hd.head.getString(0)).filter(_.nonEmpty)
        .foreach { vals =>
          picks += ((manifest.select("file").collect()
              .map(_.getString(0)).toSeq,
            selectFilesByKey(spark, path,
              vals.toDF(hd.head.getString(0)))))
        }
    }
    if (picks.isEmpty) None
    else {
      val listing = spark.read.parquet(path).inputFiles.toSeq
      val sets = picks.map { case (mf, sel) =>
        val known = mf.toSet
        val s = sel.toSet
        listing.filter(f => !known.contains(f) || s.contains(f)).toSet
      }
      Some(listing.filter(f => sets.forall(_.contains(f))))
    }
  }

  def prunedScan(spark: SparkSession, path: String,
      preds: Seq[(String, Double, Double)]): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(s"$path/_hulls")
    val base =
      if (p.getFileSystem(conf).exists(p)) {
        val manifest = spark.read.parquet(s"$path/_hulls")
          .select("file").collect().map(_.getString(0)).toSeq
        val files = readSet(spark, path, manifest,
          selectFiles(spark, path, preds))
        if (files.isEmpty) spark.read.parquet(path).limit(0)
        else spark.read.parquet(files: _*)
      } else spark.read.parquet(path)
    preds.foldLeft(base) { case (df, (d, lo, hi)) =>
      val (l, h) = typedBounds(df, d, lo, hi)
      df.filter(col(d) >= l && col(d) <= h)
    }
  }
}
