package graft.sink

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec
import graft.ops.Layout

/** Url-keyed file selection with the urls on the driver
  * ([[ManifestTableFormat.urlFiles]]): point reads, `delete(Seq)` and
  * keyed upserts test up to [[ManifestTableFormat.mergeKeyPruneCap]]
  * urls, and at most [[ManifestTableFormat.literalProbePairs]]
  * (url, log-tail file) pairs, as literals against the per-file stats;
  * larger url sets keep the url frame join. Pinned here: the Spark
  * jobs a point read and an all-new upsert launch, where the literal
  * path ends, and the selected files and returned rows against a brute
  * force — the files that physically hold a probed url, and a driver
  * loop over [[Layout.bloomPos]] with UTF-8 range compares.
  */
class UrlFileSelectionSpec extends SparkSpec {

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("graft-ufs").toString + "/t"

  /** One chunk per url (None = a null url), in one file when `oneFile`. */
  private def rows(urls: Seq[Option[String]], tag: String,
      oneFile: Boolean = true): DataFrame = {
    import spark.implicits._
    val df = urls.zipWithIndex.map { case (u, i) =>
        (i, s"$tag-$i", Seq(1f), 1, u) }
      .toDF("chunk_id", "chunk_text", "embedding", "page_number",
        "document_url")
    if (oneFile) df.repartition(1) else df
  }

  /** Four one-file commits of ten urls each. */
  private def fourFiles(): ChunkStore = {
    val store = new ChunkStore(spark, freshPath())
    (0 until 4).foreach(b => store.append(
      rows((0 until 10).map(i => Some(f"doc://j/$b/$i%02d")), "a")))
    store
  }

  test("a point read launches one job without a checkpoint and at " +
      "most 9 with one; an all-new upsert launches at most 7") {
    val store = fourFiles()
    val url = "doc://j/2/05"
    // warm the session's codegen and metadata caches
    store.readDocument(url).collect()
    val (one, tailJobs) = jobsDuring(store.readDocument(url).collect())
    assert(one.length == 1 && one.head.getAs[String]("chunk_text") == "a-5")
    assert(tailJobs == 1, s"checkpoint-less point read ran $tailJobs jobs")

    new ManifestTableFormat(spark, store.path, store.schema).checkpoint()
    val (again, ckptJobs) = jobsDuring(store.readDocument(url).collect())
    assert(again.toSeq == one.toSeq)
    // 9: what selection by a broadcast url-hash join launched here;
    // 4 since the checkpoint reads under its known schema (no
    // schema-inference job)
    assert(ckptJobs <= 4, s"checkpointed point read ran $ckptJobs jobs")

    // an all-new upsert (the ingest steady state) selects no file and
    // writes no survivor leg: at least 2 below the 9 jobs of a hash-join
    // selection followed by an empty survivor anti-join
    val fresh = fourFiles()
    val batch = rows((0 until 12).map(i => Some(s"doc://new/${i % 3}")),
      "n", oneFile = false)
    val (_, upsertJobs) = jobsDuring(fresh.upsert(batch))
    assert(upsertJobs <= 7, s"all-new upsert ran $upsertJobs jobs")
    assert(fresh.read().count() == 52)
  }

  /** The url stats of one file, as the log recorded them. */
  private case class UrlStats(lo: String, hi: String, bits: Seq[Long],
      numBits: Int, numHashes: Int)

  /** Every live file's url stats; the table must have no checkpoint. */
  private def urlStats(mtf: ManifestTableFormat): Map[String, UrlStats] = {
    val snap = mtf.log.snapshot()
    assert(snap.ckptParquet.isEmpty)
    snap.base.map { case (f, st) =>
      f -> UrlStats(st.lo, st.hi, st.bits, st.numBits, st.numHashes) }
  }

  /** The brute-force file set for `probes`: every file whose stats
    * pass the range test (UTF-8 order) and a driver walk of its bloom
    * for some probe.
    */
  private def bruteForce(stats: Map[String, UrlStats], probes: Seq[String])
      : Seq[String] = {
    def admits(st: UrlStats, u: String): Boolean = {
      val b = UTF8String.fromString(u)
      val h = ManifestTableFormat.stringHash(u)
      UTF8String.fromString(st.lo).compareTo(b) <= 0 &&
        b.compareTo(UTF8String.fromString(st.hi)) <= 0 &&
        (0 until st.numHashes).forall { i =>
          val pos = Layout.bloomPos(h, i, st.numBits)
          (st.bits(pos >>> 6) & (1L << (pos & 63))) != 0L
        }
    }
    stats.collect { case (f, st) if probes.exists(admits(st, _)) => f }
      .toSeq.sorted
  }

  /** Live files (by basename) that physically hold each url. */
  private def holders(files: Seq[String]): Map[String, Set[String]] =
    if (files.isEmpty) Map.empty
    else spark.read.parquet(files: _*)
      .select(col("_metadata.file_name"), col("document_url"))
      .collect().toSeq
      .filterNot(_.isNullAt(1))
      .groupBy(_.getString(1))
      .map { case (u, rs) => u -> rs.map(_.getString(0)).toSet }

  private def baseName(f: String): String = f.substring(f.lastIndexOf('/') + 1)

  /** Selection == brute force, every physical holder (`held`) selected,
    * and the point read's rows == the full read filtered to the probes.
    */
  private def checkProbes(store: ChunkStore, mtf: ManifestTableFormat,
      stats: Map[String, UrlStats], held: Map[String, Set[String]],
      probes: Seq[String], label: String): Unit = {
    val picked = mtf.urlFiles(mtf.log.snapshot(), probes)
    assert(picked == bruteForce(stats, probes),
      s"$label: selection for ${probes.take(4)} is not the brute force")
    probes.flatMap(held.getOrElse(_, Set.empty)).foreach { b =>
      assert(picked.map(baseName).contains(b),
        s"$label: a file holding a probed url was not selected")
    }
    def sorted(rs: Array[Row]) = rs.map(_.toString).sorted.toSeq
    val read = store.readDocuments(probes)
    assert(read.schema == store.read().schema)
    assert(sorted(read.collect()) == sorted(store.read()
      .filter(col("document_url").isin(probes: _*)).collect()),
      s"$label: point read rows differ from scan-and-filter")
  }

  test("selected files and rows equal a brute force, with and without " +
      "a checkpoint") {
    // U+FF61 sorts BEFORE U+1F600 in UTF-8 (code point) order but
    // after it in UTF-16 order (the surrogate D83D < FF61)
    val exotic = Seq("\uff61", "\ud83d\ude00", "\ufffd", "\u00e9", "")

    // an empty table selects nothing: a new one, one whose documents
    // were all deleted, and that one after a checkpoint
    val empty = new ChunkStore(spark, freshPath())
    empty.ensure()
    val emptyFmt = new ManifestTableFormat(spark, empty.path, empty.schema)
    checkProbes(empty, emptyFmt, Map.empty, Map.empty, Seq("doc://a"), "new")
    empty.append(rows(Seq(Some("doc://a"), Some("doc://b")), "e"))
    empty.delete(Seq("doc://a", "doc://b"))
    checkProbes(empty, emptyFmt, Map.empty, Map.empty, Seq("doc://a"),
      "emptied")
    emptyFmt.checkpoint()
    assert(emptyFmt.log.snapshot().ckptParquet.isDefined)
    checkProbes(empty, emptyFmt, Map.empty, Map.empty, Seq("doc://a"),
      "emptied checkpoint")

    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val pool = (0 until 60).map(i =>
        s"doc://g$seed/${rnd.nextInt(40)}${exotic(i % exotic.size)}" +
          exotic(rnd.nextInt(exotic.size))).distinct
      val (used, absent) = pool.splitAt(pool.size * 2 / 3)
      val store = new ChunkStore(spark, freshPath())
      val mtf = new ManifestTableFormat(spark, store.path, store.schema)
      // files of 3..8 urls drawn from `used`; one all-null-url file
      // ("" lo/hi); one file whose bounds order differently in UTF-8
      // and UTF-16, with a url strictly between them in UTF-8 only
      used.grouped(3 + rnd.nextInt(6)).foreach(g =>
        store.append(rows(g.map(Some(_)), "g")))
      store.append(rows(Seq(None, None), "null"))
      val odd = Seq("\uff61", "\ufffd", "\ud83d\ude00")
        .map(c => s"doc://g$seed/x$c")
      store.append(rows(odd.map(Some(_)), "x"))
      // deletion vectors over two documents
      spark.conf.set("spark.graft.deletionVectors", "true")
      try store.delete(Seq(used(1), used(4)))
      finally spark.conf.unset("spark.graft.deletionVectors")
      val stats = urlStats(mtf)
      val held = holders(stats.keys.toSeq)
      assert(mtf.log.snapshot().base.values.exists(_.dv.isDefined),
        "no DV'd file")
      val bounds = stats.values.toSeq.flatMap(st => Seq(st.lo, st.hi))
      val probeSets = Seq(
        rnd.shuffle(used).take(1 + rnd.nextInt(5)),
        bounds.filter(_.nonEmpty).take(6),
        absent.take(5),
        odd,
        Seq(used(1), used(4), absent.head),
        Seq(""),
        rnd.shuffle(used ++ absent).take(8))
      probeSets.foreach(p =>
        checkProbes(store, mtf, stats, held, p, s"seed $seed tail"))
      mtf.checkpoint()
      assert(mtf.log.snapshot().ckptParquet.isDefined)
      probeSets.foreach(p =>
        checkProbes(store, mtf, stats, held, p, s"seed $seed checkpoint"))
    }
  }

  test("the literal path ends at literalProbePairs (url, tail file) " +
      "pairs; past it a point read selects by the frame join and " +
      "returns the same rows") {
    val files = 20
    val store = new ChunkStore(spark, freshPath())
    store.append(rows((0 until 300 * files).map(i => Some(f"doc://b/$i%06d")),
      "b", oneFile = false).repartition(files))
    val mtf = new ManifestTableFormat(spark, store.path, store.schema)
    assert(mtf.log.snapshot().base.size == files)
    val atBudget = (ManifestTableFormat.literalProbePairs / files).toInt
    def check(n: Int): Int = {
      val probes = (0 until n).map(i => f"doc://b/$i%06d")
      store.readDocuments(probes).collect() // warm
      val (got, jobs) = jobsDuring(store.readDocuments(probes).collect())
      assert(got.map(_.getAs[String]("document_url")).sorted.toSeq == probes)
      jobs
    }
    val literalJobs = check(atBudget)
    assert(literalJobs == 1, s"$atBudget urls x $files files ran $literalJobs jobs")
    val frameJobs = check(atBudget + 1)
    assert(frameJobs > 1, s"${atBudget + 1} urls x $files files ran $frameJobs jobs")
  }

  test("url sets above mergeKeyPruneCap select by the url frame join: " +
      "a merge rewrites the brute-force files and replaces exactly its " +
      "documents, a read and a delete return and remove exactly theirs") {
    var rewrites: List[DataFrame] = Nil
    val store = new ChunkStore(spark, freshPath(),
      format = s => new ManifestTableFormat(s.spark, s.path, s.schema) {
        override protected def onRewrite(df: DataFrame): DataFrame = {
          rewrites ::= df; df
        }
      })
    val mtf = new ManifestTableFormat(spark, store.path, store.schema)
    val n = ManifestTableFormat.mergeKeyPruneCap + 500
    store.append(rows((0 until 2000).map(i => Some(f"doc://cap/$i%06d")),
      "old", oneFile = false))
    val stats = urlStats(mtf)
    // overlapping 1000 old documents plus n - 1000 new ones
    val batch = (1000 until 1000 + n).map(i => f"doc://cap/$i%06d")
    rewrites = Nil
    val (_, mergeJobs) = jobsDuring(
      store.upsert(rows(batch.map(Some(_)), "new", oneFile = false)))
    // 12 jobs: the capped url collect, the frame join's file
    // selection, the survivor rewrite and the write's stats
    assert(mergeJobs <= 12, s"upsert past the cap ran $mergeJobs jobs")
    assert(rewrites.head.inputFiles.map(baseName).sorted.toSeq ==
      bruteForce(stats, batch).map(baseName).sorted)
    val all = store.read()
    assert(all.count() == 1000 + n)
    assert(all.filter(col("chunk_text").startsWith("old")).count() == 1000)
    assert(all.groupBy("document_url").count()
      .filter(col("count") =!= 1).isEmpty)
    val probes = Seq("doc://cap/000999", "doc://cap/001000",
      f"doc://cap/${999 + n}%06d", "doc://cap/absent")
    assert(store.readDocuments(probes).select("chunk_text")
      .collect().map(_.getString(0)).sorted.toSeq ==
      Seq("new-0", s"new-${n - 1}", "old-999"))

    // more urls than the cap: read, then delete, 500 until 500 + n
    val many = (500 until 500 + n).map(i => f"doc://cap/$i%06d") :+
      "doc://cap/absent"
    def urlsOf(df: DataFrame): Seq[String] =
      df.select("document_url").collect().map(_.getString(0)).sorted.toSeq
    assert(urlsOf(store.readDocuments(many)) == many.init)
    store.delete(many)
    assert(urlsOf(store.read()) ==
      ((0 until 500) ++ (500 + n until 1000 + n)).map(i => f"doc://cap/$i%06d"))
  }
}
