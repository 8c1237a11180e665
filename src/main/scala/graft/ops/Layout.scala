package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
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
  * key space, so min/max stats prune scans for predicates on ANY
  * subset of the dimensions — the property a single-column sort only
  * gives its leading key. Manifest tables apply the curve through
  * `CALL compact_zorder` ([[graft.sink.ManifestTableFormat.compactZorder]]):
  * one range exchange + per-partition sort in a copy-on-write commit,
  * after which the log's per-file min/max (and `set_bloom_columns`
  * blooms, built with the helpers below) skip the files a predicate
  * misses.
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

  /** The z-ordered frame: an appended morton column, one range
    * exchange on it (file count = `numFiles`), and a per-partition sort
    * so row groups inside each file are clustered too. Exposed so plan guards can pin the shape (exactly one
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

  /** [[zorderFrame]] with ranges taken from the data: ONE narrow
    * min/max aggregate over the dim columns (driver receives 2×dims
    * doubles), then the quantized curve partition/sort, `__z` still
    * attached (drop it before writing). The manifest format's
    * copy-on-write compaction writes it.
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
}
