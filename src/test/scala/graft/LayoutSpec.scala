package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.Layout

/** Z-order layout (ops.Layout): the morton curve is pinned three ways
  * (mask fast path ≡ generic interleave ≡ plain-Scala reference), the
  * z-ordered frame is shown to actually buy multi-dimension pruning —
  * per-file min/max hulls cover a fraction of the key space that a
  * round-robin layout's files do not — and manifest tables' file
  * skipping, which serves that layout (`CALL compact_zorder`), stays
  * exact at its edges.
  */
class LayoutSpec extends SparkSpec {

  import org.apache.spark.sql.DataFrame

  /** Plain-Scala morton reference: dim d bit b → position b*n+d. */
  private def mortonRef(xs: Seq[Long], bits: Int): Long =
    xs.zipWithIndex.map { case (x, d) =>
      (0 until bits).map(b => ((x >> b) & 1L) << (b * xs.size + d)).reduce(_ | _)
    }.reduce(_ | _)

  test("morton: mask fast path ≡ generic interleave ≡ scala reference") {
    val rng = new scala.util.Random(7)
    val pts = Seq.fill(200)((rng.nextInt(1 << 16).toLong, rng.nextInt(1 << 16).toLong))
    val df = spark.createDataFrame(pts).toDF("x", "y")
    val got = df.select(
      Layout.mortonCode(Seq(col("x"), col("y")), 16).as("fast"),
      Layout.mortonGeneric(Seq(col("x"), col("y")), 16).as("gen"),
      col("x"), col("y")).collect()
    got.foreach { r =>
      val exp = mortonRef(Seq(r.getLong(2), r.getLong(3)), 16)
      assert(r.getLong(0) == exp && r.getLong(1) == exp,
        s"(${r.getLong(2)},${r.getLong(3)}): fast=${r.getLong(0)} gen=${r.getLong(1)} ref=$exp")
    }
  }

  test("morton: 3-dim generic path matches the reference and fits a long") {
    val rng = new scala.util.Random(11)
    val pts = Seq.fill(100)(
      (rng.nextInt(1 << 10).toLong, rng.nextInt(1 << 10).toLong,
        rng.nextInt(1 << 10).toLong))
    val df = spark.createDataFrame(pts).toDF("x", "y", "z")
    df.select(Layout.mortonCode(Seq(col("x"), col("y"), col("z")), 10).as("m"),
        col("x"), col("y"), col("z")).collect()
      .foreach { r =>
        val exp = mortonRef(Seq(r.getLong(1), r.getLong(2), r.getLong(3)), 10)
        assert(r.getLong(0) == exp)
      }
  }

  test("morton: quantize maps [lo,hi] onto [0,2^bits) with edge clamping") {
    val df = spark.range(1).select(
      Layout.quantize(lit(-5.0), 0.0, 100.0, 8).as("below"),
      Layout.quantize(lit(0.0), 0.0, 100.0, 8).as("lo"),
      Layout.quantize(lit(100.0), 0.0, 100.0, 8).as("hi"),
      Layout.quantize(lit(250.0), 0.0, 100.0, 8).as("above"),
      Layout.quantize(lit(50.0), 0.0, 100.0, 8).as("mid"))
    val r = df.collect().head
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L)
    assert(r.getLong(2) == 255L && r.getLong(3) == 255L)
    assert(r.getLong(4) == 128L)
  }

  /** Per-file min/max hulls of `dims` over the parquet files at `path`
    * — the stats file skipping consults.
    */
  private def fileHulls(path: String, dims: Seq[String]): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("rows"), dims.flatMap(d => Seq(
        min(col(d)).as(s"${d}_min"), max(col(d)).as(s"${d}_max"))): _*)

  /** Sum over files of the fraction of the 2-d key space the file's
    * min/max hull covers — the pruning currency: a scan with a point
    * predicate must read every file whose hull contains it.
    */
  private def hullCoverage(hulls: DataFrame, span: Double): Double =
    hulls.select(sum(
      (col("x_max") - col("x_min") + lit(1)) / lit(span) *
        ((col("y_max") - col("y_min") + lit(1)) / lit(span))).as("c"))
      .collect().head.getDouble(0)

  test("zorderFrame clusters both dims per file; round-robin does not") {
    val raw = Tables(spark, sf(), "lineitem")
    // range stats (driver-scale, same provenance as write-time bounds)
    val Array(b) = raw.agg(min("l_partkey"), max("l_partkey"),
      min("l_suppkey"), max("l_suppkey")).collect()
    val li = raw.select(col("l_orderkey"), col("l_linenumber"),
      Layout.quantize(col("l_partkey"), b.getLong(0).toDouble,
        b.getLong(1).toDouble, 10).as("x"),
      Layout.quantize(col("l_suppkey"), b.getLong(2).toDouble,
        b.getLong(3).toDouble, 10).as("y"))
    val base = Files.createTempDirectory("graft-zorder").toString
    val nFiles = 8

    Layout.zorderFrame(li, Seq(col("x"), col("y")), nFiles).drop("__z")
      .write.parquet(s"$base/z")
    li.repartition(nFiles).write.parquet(s"$base/rr")

    // rows unchanged — the curve only permutes
    val back = spark.read.parquet(s"$base/z")
    assert(back.count() == li.count())
    assert(back.agg(sum(col("l_orderkey") * col("l_linenumber"))).collect()
      .head.getLong(0) ==
      li.agg(sum(col("l_orderkey") * col("l_linenumber"))).collect()
        .head.getLong(0))

    val zHulls = fileHulls(s"$base/z", Seq("x", "y"))
    val rrHulls = fileHulls(s"$base/rr", Seq("x", "y"))
    assert(zHulls.count() == nFiles)

    // round-robin: every file spans ~the whole space → coverage ≈ nFiles.
    // z-order: 8 contiguous z-ranges ≈ disjoint quadrant unions →
    // coverage is a small multiple of 1 (perfect partition = 1.0).
    val zCov = hullCoverage(zHulls, 1024.0)
    val rrCov = hullCoverage(rrHulls, 1024.0)
    assert(rrCov > nFiles * 0.8, s"round-robin hulls unexpectedly tight: $rrCov")
    assert(zCov < rrCov / 2, s"z-order coverage $zCov not < half of $rrCov")

    // the pruning this buys: a point predicate on (x, y) hits few files
    val hit = zHulls.filter(
      lit(100) >= col("x_min") && lit(100) <= col("x_max") &&
        lit(700) >= col("y_min") && lit(700) <= col("y_max")).count()
    assert(hit <= nFiles / 2, s"point predicate still hits $hit/$nFiles files")
  }

  test("zorderFrameAuto: self-ranged frame preserves rows and clusters") {
    val li = Tables(spark, sf(), "lineitem")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val dir = Files.createTempDirectory("graft-zauto").toString + "/z"
    Layout.zorderFrameAuto(li, Seq("l_partkey", "l_suppkey"), 8, bits = 10)
      .drop("__z").write.parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == li.count())
    val hulls = fileHulls(dir, Seq("l_partkey", "l_suppkey"))
    val Array(g) = li.agg(
      (max("l_partkey") - min("l_partkey") + lit(1)).cast("double"),
      (max("l_suppkey") - min("l_suppkey") + lit(1)).cast("double")).collect()
    val cov = hulls.select(sum(
      (col("l_partkey_max") - col("l_partkey_min") + lit(1)) / lit(g.getDouble(0)) *
        ((col("l_suppkey_max") - col("l_suppkey_min") + lit(1)) / lit(g.getDouble(1))))
      .as("c")).collect().head.getDouble(0)
    assert(cov < 4.0, s"auto z-order hull coverage too loose: $cov (8 files)")
  }

  /** A fresh graft catalog over a fresh warehouse: (catalog, warehouse). */
  private def freshCatalog(): (String, String) = {
    val wh = Files.createTempDirectory("graft-zcat").toString
    (graft.queries.QueryDef.freshCatalog(spark, "graft_layout", wh), wh)
  }

  /** Files the (single) scan of `q` planned, after running it. */
  private def plannedFiles(q: DataFrame): Int = {
    q.collect()
    val scans = new org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanHelper {
      def scansOf(p: org.apache.spark.sql.execution.SparkPlan) =
        collectWithSubqueries(p) {
          case b: org.apache.spark.sql.execution.datasources.v2
              .BatchScanExec => b
        }
    }.scansOf(q.queryExecution.executedPlan)
    org.apache.spark.sql.graftbridge.Scans.fileScan(scans.head.scan)
      .fileIndex.inputFiles.length
  }

  test("compact_zorder: an empty table stays empty, not NPE; an " +
      "all-null dim keeps its rows") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.e (a BIGINT, b BIGINT) " +
      "TBLPROPERTIES ('format'='manifest')")
    spark.sql(s"CALL $cat.compact_zorder('e', 'a,b')")
    assert(spark.sql(s"SELECT * FROM $cat.e").count() == 0)
    // all-null dim on a non-empty table: degenerate cell, rows kept
    spark.sql(s"INSERT INTO $cat.e VALUES (1, NULL), (2, NULL)")
    spark.sql(s"CALL $cat.compact_zorder('e', 'a,b')")
    assert(spark.sql(s"SELECT a FROM $cat.e").collect().map(_.getLong(0))
      .sorted.toSeq == Seq(1L, 2L))
  }

  test("integral predicate bounds stay exact beyond 2^53") {
    // 2^53 and 2^53+1 are equal as doubles — a double-cast stats
    // comparison would keep both files (and a double-cast filter
    // return both rows) for a point predicate on either
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.big (id BIGINT) " +
      "TBLPROPERTIES ('format'='manifest')")
    spark.sql(s"INSERT INTO $cat.big VALUES (${1L << 53})")
    spark.sql(s"INSERT INTO $cat.big VALUES (${(1L << 53) + 1L})")
    assert(plannedFiles(spark.sql(s"SELECT id FROM $cat.big")) == 2)
    val q = spark.sql(s"SELECT id FROM $cat.big WHERE id = ${1L << 53}")
    assert(plannedFiles(q) == 1)
    val got = q.collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L << 53), s"got $got")
  }

  test("zorderFrame rejects a reserved __z input column") {
    import spark.implicits._
    val df = Seq((1L, 2L)).toDF("__z", "y")
    intercept[IllegalArgumentException] {
      Layout.zorderFrame(df, Seq(col("y")), 2)
    }
  }

  test("zorderFrame plan: one range exchange on the curve, local sort only") {
    val li = Tables(spark, sf(), "lineitem")
      .select(pmod(col("l_partkey"), lit(1024)).as("x"),
        pmod(col("l_suppkey"), lit(1024)).as("y"))
    val p = Layout.zorderFrame(li, Seq(col("x"), col("y")), 8)
      .queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("rangepartitioning"), p.take(2000))
    // the sort is within partitions (global = false) — never a total sort
    assert(!p.contains("Sort [__z#") || p.contains("false, 0"), p.take(2000))
    assert("Exchange".r.findAllIn(p).length == 1, p.take(2000))
  }
}
