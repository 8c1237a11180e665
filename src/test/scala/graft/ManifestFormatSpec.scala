package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sink.{ChunkStore, ManifestTableFormat}

/** The properties of the log-commit model: snapshot-isolated
  * readers, optimistic concurrent writers (no writer-lock file),
  * crash-leftover invisibility, and vacuum.
  */
class ManifestFormatSpec extends SparkSpec {

  private def freshPath(): String =
    Files.createTempDirectory("graft-mtf").toString + "/t"

  private def chunksOf(url: String, texts: String*): DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) =>
      (i, t, Seq(i.toFloat, 1f), 1, url)
    }.toDF("chunk_id", "chunk_text", "embedding", "page_number",
      "document_url")
  }

  private def state(store: ChunkStore): Set[(String, Int, String)] =
    store.read().select("document_url", "chunk_id", "chunk_text")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
      .toSet

  test("readers are snapshot-isolated: a plan outlives a concurrent rewrite") {
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    store.upsert(chunksOf("doc://a", "v1"))
    // plan a read against the current snapshot's file list...
    val pinned = store.read()
    // ...then rewrite the document (rm old file + add new one)
    store.upsert(chunksOf("doc://a", "v2"))
    // the pinned plan still reads the OLD file — rm never deletes
    // bytes, so the running scan is unbroken and sees v1
    assert(pinned.select("chunk_text").collect().map(_.getString(0)).toSeq
      == Seq("v1"))
    assert(state(store) == Set(("doc://a", 0, "v2")))
  }

  test("checkpoint heals a torn predecessor instead of silently no-oping") {
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    store.upsert(chunksOf("doc://a", "v1"))
    val mtf = new ManifestTableFormat(spark, path, store.schema)
    // plant a torn parquet checkpoint at the current version: a dir
    // with no _SUCCESS (crashed / non-atomic publish) — never read
    val torn = new org.apache.hadoop.fs.Path(
      s"$path/_log/${"%012d".format(mtf.version)}.checkpoint.parquet")
    val fs = torn.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(torn)
    val junk = fs.create(new org.apache.hadoop.fs.Path(torn, "part-junk"), true)
    try junk.write("x".getBytes("UTF-8")) finally junk.close()
    // checkpoint() must reclaim the torn dir and publish a VALID one
    mtf.checkpoint()
    assert(fs.exists(new org.apache.hadoop.fs.Path(torn, "_SUCCESS")))
    assert(state(store) == Set(("doc://a", 0, "v1")))
  }

  test("lost race on DISJOINT files recommits under the next version") {
    val path = freshPath()
    var raced = false
    val store: ChunkStore = new ChunkStore(spark, path,
      format = s => new ManifestTableFormat(s.spark, s.path, s.schema) {
        override protected def beforeCommit(): Unit =
          if (!raced) {
            raced = true
            // a concurrent writer lands a commit for a DIFFERENT
            // document in the race window; none of our files vanish
            new ChunkStore(spark, path,
              format = ManifestTableFormat.factory)
              .upsert(chunksOf("doc://other", "o1"))
          }
      })
    store.upsert(chunksOf("doc://mine", "m1"))
    assert(raced)
    // both writers' documents landed; no writer-lock file exists
    assert(state(store) == Set(("doc://other", 0, "o1"),
      ("doc://mine", 0, "m1")))
    assert(!new org.apache.hadoop.fs.Path(path, "_graft_writer_lock")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(path, "_graft_writer_lock")))
  }

  test("file-level conflict re-runs the merge against the new snapshot") {
    val path = freshPath()
    val seed = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    seed.upsert(chunksOf("doc://a", "v1"))
    var raced = false
    val store: ChunkStore = new ChunkStore(spark, path,
      format = s => new ManifestTableFormat(s.spark, s.path, s.schema) {
        override protected def beforeCommit(): Unit =
          if (!raced) {
            raced = true
            // the competing writer rewrites THE SAME document — the
            // file our staged commit planned to remove disappears
            new ChunkStore(spark, path,
              format = ManifestTableFormat.factory)
              .upsert(chunksOf("doc://a", "v2-theirs"))
          }
      })
    store.upsert(chunksOf("doc://a", "v3-ours"))
    assert(raced)
    // our merge re-ran against the post-conflict snapshot: exactly
    // one version of the document survives, and it is ours
    assert(state(store) == Set(("doc://a", 0, "v3-ours")))
  }

  test("a CHECK constraint added in an append's race window refuses " +
      "the append: the lost race re-runs the write and re-enforces") {
    val path = freshPath()
    val seed = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    seed.upsert(chunksOf("doc://ok", "fine"))
    val other = new ManifestTableFormat(spark, path, seed.schema)
    var raced = false
    val mtf = new ManifestTableFormat(spark, path, seed.schema) {
      override protected def beforeCommit(): Unit =
        if (!raced) {
          raced = true
          // validates the live rows only: the staged, still
          // unreferenced batch is not among them
          other.addConstraint("short_text", "length(chunk_text) < 10")
        }
    }
    val before = mtf.version
    val e = intercept[IllegalArgumentException](
      mtf.append(chunksOf("doc://bad", "far too long a text")))
    assert(raced)
    assert(e.getMessage.contains("violates a CHECK constraint"))
    // only the constraint's claim landed, and no staged file survives
    assert(mtf.version == before + 1)
    assert(state(seed) == Set(("doc://ok", 0, "fine")))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(path, "data"), true)
    var parts = 0
    while (it.hasNext) if (it.next().getPath.getName.startsWith("part-")) parts += 1
    assert(parts == mtf.liveFiles.size)
  }

  test("RESTORE racing an append re-runs: the appended file is removed " +
      "and the table equals the restored version") {
    val path = freshPath()
    val seed = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    seed.upsert(chunksOf("doc://a", "a1"))
    val mtf0 = new ManifestTableFormat(spark, path, seed.schema)
    val v0 = mtf0.version
    seed.upsert(chunksOf("doc://b", "b1"))
    var raced = false
    val mtf = new ManifestTableFormat(spark, path, seed.schema) {
      override protected def beforeCommit(): Unit =
        if (!raced) {
          raced = true
          seed.append(chunksOf("doc://c", "c1"))
        }
    }
    // the re-run removes doc://b's file and the racing append's file
    assert(mtf.restore(v0) == ((0L, 2L)))
    assert(raced)
    assert(state(seed) == Set(("doc://a", 0, "a1")))
    assert(mtf.liveFiles == mtf.filesAtVersion(v0))
  }

  test("vacuum dry run reports without deleting; the real vacuum then " +
      "reclaims exactly what was reported") {
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    store.upsert(chunksOf("doc://a", "a1"))
    store.upsert(chunksOf("doc://a", "a2")) // rm's the first file
    val mtf = new ManifestTableFormat(spark, path, store.schema)
    mtf.checkpoint() // makes the pre-checkpoint entries reclaimable
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataCount(): Int = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$path/data"), true)
      var n = 0
      while (it.hasNext) { if (it.next().isFile) n += 1 }
      n
    }
    val before = dataCount()
    val (dryData, dryLog) = mtf.vacuum(0L, dryRun = true)
    assert(dryData > 0 && dryLog > 0, s"dry run found ($dryData, $dryLog)")
    assert(dataCount() == before, "dry run must delete NOTHING")
    assert(state(store) == Set(("doc://a", 0, "a2")))
    val (gotData, gotLog) = mtf.vacuum()
    assert((gotData, gotLog) == ((dryData, dryLog)),
      s"real vacuum reclaimed ($gotData, $gotLog), dry run promised " +
        s"($dryData, $dryLog)")
    assert(dataCount() == before - dryData.toInt)
    assert(state(store) == Set(("doc://a", 0, "a2")))
  }

  test("crash leftovers are invisible; vacuum reclaims them and removed files") {
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    store.upsert(chunksOf("doc://a", "a1"))
    store.upsert(chunksOf("doc://a", "a2")) // rm's the first file
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crashed writer's leftovers: an unreferenced data file and a
    // torn staged log entry
    val orphan = new org.apache.hadoop.fs.Path(s"$path/data/orphan.parquet")
    chunksOf("doc://ghost", "g").limit(1).write.mode("overwrite")
      .parquet(s"$path/data/orphan-dir")
    fs.rename(fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$path/data/orphan-dir")).toSeq
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get, orphan)
    val torn = new org.apache.hadoop.fs.Path(s"$path/_log/tmp-crashed")
    val out = fs.create(torn, true)
    try out.write("{\"a\":\"add".getBytes("UTF-8")) finally out.close()
    // neither is visible to reads
    assert(state(store) == Set(("doc://a", 0, "a2")))
    def dataFiles(): Seq[String] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$path/data"), true)
      val b = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getPath.getName.endsWith(".parquet"))
          b += st.getPath.getName
      }
      b.toSeq
    }
    val before = dataFiles().size
    new ManifestTableFormat(spark, path, store.schema).vacuum()
    // vacuum dropped the orphan AND the rm'd first version; reads
    // are unchanged
    assert(dataFiles().size < before)
    assert(!fs.exists(orphan))
    assert(state(store) == Set(("doc://a", 0, "a2")))
  }

  test("append is log-committed and duplicates like A18; catalog routes through the log") {
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    store.upsert(chunksOf("doc://a", "a1"))
    store.append(chunksOf("doc://a", "a1"))
    assert(store.read().count() == 2) // append does not dedup (A18)
    assert(store.listDocumentUrls() == Seq("doc://a"))
    store.upsert(chunksOf("doc://a", "a1-only"))
    assert(state(store) == Set(("doc://a", 0, "a1-only")))
  }

  test("checkpoint bounds replay: state identical, commits continue, vacuum prunes") {
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    (1 to 5).foreach(i => store.upsert(chunksOf(s"doc://$i", s"t$i")))
    store.delete(Seq("doc://2"))
    val before = state(store)
    val mtf = new ManifestTableFormat(spark, path, store.schema)
    mtf.checkpoint()
    assert(state(store) == before)
    // commits continue past the checkpoint under the next versions
    store.upsert(chunksOf("doc://6", "t6"))
    assert(state(store) == before + (("doc://6", 0, "t6")))
    // vacuum prunes the subsumed entries; only the checkpoint and the
    // post-checkpoint commit remain, and the state is unchanged
    mtf.vacuum()
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logNames = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$path/_log")).toSeq
      .map(_.getPath.getName).sorted
    assert(logNames.count(_.endsWith(".checkpoint.parquet")) == 1,
      s"checkpoints are parquet directories now, got: $logNames")
    assert(logNames.count(n => n.matches("\\d{12}\\.json")) == 1,
      s"expected one post-checkpoint entry, got: $logNames")
    assert(state(store) == before + (("doc://6", 0, "t6")))
    // a second checkpoint+vacuum collapses the log to one summary
    mtf.checkpoint(); mtf.vacuum()
    assert(state(store) == before + (("doc://6", 0, "t6")))
  }

  test("time travel: readVersion reconstructs history until vacuum prunes it") {
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    store.upsert(chunksOf("doc://a", "v1"))           // version 0
    store.upsert(chunksOf("doc://a", "v2"))           // version 1
    store.upsert(chunksOf("doc://b", "b1"))           // version 2
    val mtf = new ManifestTableFormat(spark, path, store.schema)
    assert(mtf.version == 2)
    def textsAt(v: Long): Set[String] =
      mtf.readVersion(v).select("chunk_text")
        .collect().map(_.getString(0)).toSet
    assert(textsAt(0) == Set("v1"))
    assert(textsAt(1) == Set("v2"))
    assert(textsAt(2) == Set("v2", "b1"))
    intercept[IllegalArgumentException](mtf.readVersion(3))
    // checkpoint + vacuum bound retention: the latest version stays
    // reconstructable (from the checkpoint), pre-checkpoint history
    // fails loudly instead of silently serving a wrong state
    mtf.checkpoint(); mtf.vacuum()
    assert(textsAt(2) == Set("v2", "b1"))
    val e = intercept[IllegalArgumentException](mtf.readVersion(0))
    assert(e.getMessage.contains("vacuumed"))
  }

  test("point reads prune to the files the log says hold the documents") {
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    (1 to 6).foreach(i => store.upsert(chunksOf(s"doc://$i", s"t$i")))
    val all = store.read().inputFiles.length
    assert(all >= 6) // one commit per doc → at least one file each
    val got = store.readDocuments(Seq("doc://3", "doc://absent"))
    // stats pruning (bloom + min/max from the log): only doc://3's
    // file survives the probe — a false positive could only ADD a
    // file, and at one key per 8192-bit bloom none occurs
    assert(got.inputFiles.length == 1,
      s"read ${got.inputFiles.length} of $all files")
    assert(got.select("chunk_text").collect().map(_.getString(0)).toSeq
      == Seq("t3"))
    // the single-document path routes through the same pruning
    assert(store.readDocument("doc://5").inputFiles.length == 1)
    // absent-only probe: nothing read, nothing returned
    assert(store.readDocuments(Seq("doc://nope")).count() == 0)
  }

  test("add-action metadata is O(1) per file: stats, never url sets") {
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    import spark.implicits._
    // one file holding MANY documents — the shape whose url set the
    // old log format carried verbatim (O(documents) per action)
    val many = (1 to 3000).map(i =>
      (0, s"t$i", Seq(1f, 2f), 1, f"doc://bulk/$i%05d"))
      .toDF("chunk_id", "chunk_text", "embedding", "page_number",
        "document_url").coalesce(1)
    store.upsert(many)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logLines = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$path/_log")).toSeq
      .filter(_.getPath.getName.matches("\\d{12}\\.json"))
      .flatMap { st =>
        val in = fs.open(st.getPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      }
    val adds = logLines.filter(_.contains("\"a\":\"add\""))
    assert(adds.nonEmpty)
    adds.foreach { l =>
      // 8192-bit bloom ≈ 1.4 KB base64 + two boundary urls; a 3000-url
      // set would be ~50 KB — the O(1)-per-file bound is the point
      assert(l.length < 4096,
        s"add-action is ${l.length} chars — carrying url sets again?")
      assert(!l.contains("doc://bulk/01500"),
        "log metadata must not enumerate document urls")
    }
    // stats still answer point reads exactly
    assert(store.read().count() == 3000)
    val one = store.readDocuments(Seq("doc://bulk/01500"))
    assert(one.count() == 1)
  }

  test("merge rewrites survivors with a broadcast anti-join, no url In-literals") {
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val path = freshPath()
    var captured: List[DataFrame] = Nil
    val store = new ChunkStore(spark, path,
      format = s => new ManifestTableFormat(s.spark, s.path, s.schema) {
        override protected def onRewrite(df: DataFrame): DataFrame = {
          captured ::= df; df
        }
      })
    import spark.implicits._
    def batch(texts: Int => String, n: Int): DataFrame =
      (1 to n).map(i => (0, texts(i), Seq(1f), 1, s"doc://m/$i"))
        .toDF("chunk_id", "chunk_text", "embedding", "page_number",
          "document_url")
    store.upsert(batch(i => s"old$i", 2000))
    captured = Nil
    // an INFLATED overlapping batch: the old merge built a 1500-value
    // driver Set and an isin(...) In-literal from this — the rewrite
    // plan must instead anti-join the broadcast url frame
    store.upsert(batch(i => s"new$i", 1500))
    val rewrite = captured.last
    val opt = rewrite.queryExecution.optimizedPlan
    val inLits = opt.collect { case p => p.expressions }.flatten
      .flatMap(_.collect { case e: In => e: Any; case e: InSet => e: Any })
    assert(inLits.isEmpty,
      s"merge rewrite plans url In-literals: ${inLits.take(3)}")
    assert(opt.collect {
        case j: Join if j.joinType == LeftAnti => j }.nonEmpty,
      "survivor rewrite must be a left anti join")
    val physical = rewrite.queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastHashJoin") &&
        physical.contains("LeftAnti"),
      s"the anti-join must broadcast the incoming url frame:\n${
        physical.take(2000)}")
    // and the merge itself is right: 1500 replaced, 500 untouched
    assert(store.read().count() == 2000)
    assert(store.read().filter(col("chunk_text") === "new7").count() == 1)
    assert(store.read().filter(col("chunk_text") === "old1501").count() == 1)
  }

  test("frame-native delete: anti-join rewrite, no url In-literals, no url collect") {
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val path = freshPath()
    var captured: List[DataFrame] = Nil
    val store = new ChunkStore(spark, path,
      format = s => new ManifestTableFormat(s.spark, s.path, s.schema) {
        override protected def onRewrite(df: DataFrame): DataFrame = {
          captured ::= df; df
        }
      })
    import spark.implicits._
    store.upsert((1 to 2000).map(i => (0, s"t$i", Seq(1f), 1,
        s"doc://fd/$i"))
      .toDF("chunk_id", "chunk_text", "embedding", "page_number",
        "document_url"))
    captured = Nil
    // a TABLE-shaped delete source (range frame, never a driver Seq):
    // 1200 present urls + 300 absent ones (no-ops by contract)
    val urls = spark.range(1, 1501).select(
      when(col("id") <= 1200, concat(lit("doc://fd/"), col("id")))
        .otherwise(concat(lit("doc://absent/"), col("id")))
        .as("document_url"))
    store.delete(urls)
    val rewrite = captured.last
    val opt = rewrite.queryExecution.optimizedPlan
    val inLits = opt.collect { case p => p.expressions }.flatten
      .flatMap(_.collect { case e: In => e: Any; case e: InSet => e: Any })
    assert(inLits.isEmpty,
      s"frame delete plans url In-literals: ${inLits.take(3)}")
    assert(opt.collect {
        case j: Join if j.joinType == LeftAnti => j }.nonEmpty,
      "survivor rewrite must be a left anti join")
    // 800 survivors; absent urls were no-ops; a specific survivor holds
    assert(store.read().count() == 800)
    assert(store.read().filter(col("document_url") === "doc://fd/1500")
      .count() == 1)
    assert(store.read().filter(col("document_url") === "doc://fd/1200")
      .count() == 0)
    // Seq form delegates to the same frame path (one more rewrite)
    captured = Nil
    store.delete(Seq("doc://fd/1999", "doc://fd/2000"))
    assert(captured.nonEmpty && store.read().count() == 798)
  }

  test("two writer JVMs: every commit lands exactly once (cross-process race)") {
    // the real multi-writer scenario: two SEPARATE processes share one
    // log. The commit primitive on local filesystems is
    // hard-link-if-absent (POSIX link(2) fails on an existing target),
    // so racing writers at the same version get exactly one winner and
    // the loser retries at the next — a silently-overwriting rename
    // would drop whole commits and fail the version/row counts below.
    val path = freshPath()
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val cp = sys.props("java.class.path")
    def launch(tag: String): (Process, java.io.File) = {
      val log = java.io.File.createTempFile(s"race-$tag", ".log")
      val pb = new ProcessBuilder(javaBin, "-cp", cp, "-Xmx2g",
        "graft.tools.ManifestRaceProbe", path, tag, "3", "25")
      pb.redirectErrorStream(true)
      pb.redirectOutput(log)
      (pb.start(), log)
    }
    val (pa, la) = launch("wa")
    val (pb, lb) = launch("wb")
    def tail(f: java.io.File): String = {
      val s = scala.io.Source.fromFile(f)
      try s.getLines().toSeq.takeRight(25).mkString("\n") finally s.close()
    }
    assert(pa.waitFor(300, java.util.concurrent.TimeUnit.SECONDS) &&
      pb.waitFor(300, java.util.concurrent.TimeUnit.SECONDS),
      "writer JVMs did not finish")
    assert(pa.exitValue() == 0, s"writer A failed:\n${tail(la)}")
    assert(pb.exitValue() == 0, s"writer B failed:\n${tail(lb)}")
    // all 6 commits landed as 6 contiguous versions, none overwritten
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$path/_log")).toSeq
      .map(_.getPath.getName).filter(_.matches("\\d{12}\\.json"))
      .map(_.stripSuffix(".json").toLong).sorted
    assert(versions == (0L to 5L), s"lost commits: versions $versions")
    // every writer's every batch is present; LWW per writer holds
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    val read = store.read().cache()
    assert(read.count() == 50, s"expected 2×25 rows, got ${read.count()}")
    Seq("wa", "wb").foreach { tag =>
      assert(read.filter(col("chunk_text").startsWith(s"$tag-b3-"))
        .count() == 25, s"$tag's final batch did not win")
    }
    read.unpersist()
  }

  test("two writer JVMs through SQL INSERT INTO: no lost rows (catalog race)") {
    // the catalog's INSERT path layers V1Write → store.append →
    // commitCycle on the same log; two processes inserting through
    // `INSERT INTO graftrace.chunks` must land every batch (appends
    // never conflict at the file level, so a lost race simply
    // recommits at the next version)
    val wh = freshPath()
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val cp = sys.props("java.class.path")
    def launch(tag: String): (Process, java.io.File) = {
      val log = java.io.File.createTempFile(s"sqlrace-$tag", ".log")
      val pb = new ProcessBuilder(javaBin, "-cp", cp, "-Xmx2g",
        "graft.tools.ManifestRaceProbe", wh, tag, "3", "25", "sql-insert")
      pb.redirectErrorStream(true)
      pb.redirectOutput(log)
      (pb.start(), log)
    }
    val (pa, la) = launch("sa")
    val (pb, lb) = launch("sb")
    def tail(f: java.io.File): String = {
      val s = scala.io.Source.fromFile(f)
      try s.getLines().toSeq.takeRight(25).mkString("\n") finally s.close()
    }
    assert(pa.waitFor(300, java.util.concurrent.TimeUnit.SECONDS) &&
      pb.waitFor(300, java.util.concurrent.TimeUnit.SECONDS),
      "writer JVMs did not finish")
    assert(pa.exitValue() == 0, s"writer A failed:\n${tail(la)}")
    assert(pb.exitValue() == 0, s"writer B failed:\n${tail(lb)}")
    // all 6 INSERT commits landed as 6 contiguous versions
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$wh/chunks/_log")).toSeq
      .map(_.getPath.getName).filter(_.matches("\\d{12}\\.json"))
      .map(_.stripSuffix(".json").toLong).sorted
    assert(versions == (0L to 5L), s"lost commits: versions $versions")
    // INSERT is append: every writer's every batch row is present
    val store = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory)
    val read = store.read().cache()
    assert(read.count() == 150, s"expected 2x3x25 rows, got ${read.count()}")
    Seq("sa", "sb").foreach { tag =>
      (1 to 3).foreach { b =>
        assert(read.filter(col("chunk_text").startsWith(s"$tag-b$b-"))
          .count() == 25, s"$tag batch $b lost rows")
      }
    }
    read.unpersist()
  }

  private def launchProbe(path: String, tag: String, batches: Int,
      rows: Int, mode: String): (Process, java.io.File) = {
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val cp = sys.props("java.class.path")
    val log = java.io.File.createTempFile(s"race-$tag", ".log")
    val pb = new ProcessBuilder(javaBin, "-cp", cp, "-Xmx2g",
      "graft.tools.ManifestRaceProbe", path, tag, batches.toString,
      rows.toString, mode)
    pb.redirectErrorStream(true)
    pb.redirectOutput(log)
    (pb.start(), log)
  }

  private def probeTail(f: java.io.File): String = {
    val s = scala.io.Source.fromFile(f)
    try s.getLines().toSeq.takeRight(25).mkString("\n") finally s.close()
  }

  test("two JVMs: UPDATE vs MERGE serialize — every increment applies " +
      "exactly once (cross-process copy-on-write conflict)") {
    // both writers rewrite OVERLAPPING files: 3 full-table UPDATEs in
    // one process race 3 MERGE-matched increments in another. The
    // copy-on-write conflict check must force the loser to re-run on
    // the winner's snapshot; a lost or doubled rewrite shows up as a
    // page_number != 6 somewhere.
    val wh = freshPath()
    import spark.implicits._
    val seed = (1 to 40).map(i =>
        (0, s"seed-$i", Seq(1f), 0, f"doc://seed/$i%04d"))
      .toDF("chunk_id", "chunk_text", "embedding", "page_number",
        "document_url")
    new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory).upsert(seed)
    val (pa, la) = launchProbe(wh, "ua", 3, 40, "sql-update")
    val (pb, lb) = launchProbe(wh, "mb", 3, 40, "sql-merge-inc")
    assert(pa.waitFor(300, java.util.concurrent.TimeUnit.SECONDS) &&
      pb.waitFor(300, java.util.concurrent.TimeUnit.SECONDS),
      "writer JVMs did not finish")
    assert(pa.exitValue() == 0, s"updater failed:\n${probeTail(la)}")
    assert(pb.exitValue() == 0, s"merger failed:\n${probeTail(lb)}")
    val read = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory).read().cache()
    assert(read.count() == 40, "row count must be unchanged")
    val pages = read.select("page_number").as[Int].collect().toSeq
    assert(pages.forall(_ == 6),
      s"3 UPDATEs + 3 MERGE increments must serialize to +6 " +
        s"everywhere; page_number distribution: ${
          pages.groupBy(identity).view.mapValues(_.size).toMap}")
    read.unpersist()
  }

  test("two JVMs: compaction vs DELETE — deletes never resurrect " +
      "through a racing rewrite (cross-process)") {
    // one process runs 3 full compactions while the other deletes 3
    // disjoint 10-url slices. A compaction that read pre-delete files
    // and committed anyway would resurrect deleted documents; the
    // file-level conflict check must make it re-run instead.
    val wh = freshPath()
    import spark.implicits._
    val store = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory)
    // three separate commits → several live files for compact to bin
    (0 until 3).foreach { g =>
      store.append((g * 20 + 1 to g * 20 + 20).map(i =>
          (0, s"seed-$i", Seq(1f), 0, f"doc://seed/$i%04d"))
        .toDF("chunk_id", "chunk_text", "embedding", "page_number",
          "document_url"))
    }
    val (pa, la) = launchProbe(wh, "ca", 3, 10, "compact-loop")
    val (pb, lb) = launchProbe(wh, "db", 3, 10, "sql-delete")
    assert(pa.waitFor(300, java.util.concurrent.TimeUnit.SECONDS) &&
      pb.waitFor(300, java.util.concurrent.TimeUnit.SECONDS),
      "writer JVMs did not finish")
    assert(pa.exitValue() == 0, s"compactor failed:\n${probeTail(la)}")
    assert(pb.exitValue() == 0, s"deleter failed:\n${probeTail(lb)}")
    val read = new ChunkStore(spark, s"$wh/chunks",
      format = ManifestTableFormat.factory).read().cache()
    // urls 1..30 deleted, 31..60 survive exactly once
    assert(read.count() == 30,
      s"expected 30 survivors, got ${read.count()}")
    assert(read.filter(col("document_url") <= "doc://seed/0030")
      .count() == 0, "a deleted document resurrected through compaction")
    val dups = read.groupBy("document_url").count()
      .filter(col("count") > 1).count()
    assert(dups == 0, "a compaction duplicated rows")
    read.unpersist()
  }

  test("change feed: row-level version deltas from the log's file diff") {
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    store.upsert(chunksOf("doc://a", "a-v1")
      .unionByName(chunksOf("doc://b", "b-v1")))          // version 0
    store.upsert(chunksOf("doc://a", "a-v2"))             // version 1
    store.delete(Seq("doc://b"))                          // version 2
    val mtf = new ManifestTableFormat(spark, path, store.schema)
    def delta(from: Long, to: Long): Set[(String, String)] =
      mtf.changesBetween(from, to)
        .select("_change_type", "chunk_text")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // since-genesis: everything at v0 is an insert
    assert(delta(-1L, 0L) ==
      Set(("insert", "a-v1"), ("insert", "b-v1")))
    // the upsert is delete(old)+insert(new); b's survivor rows cancel
    assert(delta(0L, 1L) ==
      Set(("insert", "a-v2"), ("delete", "a-v1")))
    assert(delta(1L, 2L) == Set(("delete", "b-v1")))
    // spans compose to the net state diff
    assert(delta(0L, 2L) ==
      Set(("insert", "a-v2"), ("delete", "a-v1"), ("delete", "b-v1")))
    // identical versions: empty feed
    assert(delta(2L, 2L) == Set.empty)
    // out-of-range fails loudly (same contract as readVersion)
    intercept[IllegalArgumentException] {
      mtf.changesBetween(0L, 99L)
    }
  }

  test("log round-trip survives hostile urls (quotes, commas, newlines)") {
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    val evil = Seq("doc://a\"b", "doc://c,\"d\"", "doc://e\\", "doc://f\ng")
    evil.foreach(u => store.upsert(chunksOf(u, "t")))
    assert(store.listDocumentUrls().toSet == evil.toSet)
    store.delete(Seq(evil.head))
    assert(store.listDocumentUrls().toSet == evil.tail.toSet)
  }

  test("vacuum retention keeps young dead files; 0 reclaims now") {
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    store.upsert(chunksOf("doc://a", "t1"))
    store.upsert(chunksOf("doc://a", "t2")) // rewrites: t1's file dies
    val mtf = new ManifestTableFormat(spark, path, store.schema)
    // within the retention window: nothing reclaimed
    val (kept, _) = mtf.vacuum(retentionMs = 60L * 60 * 1000)
    assert(kept == 0L, s"reclaimed $kept inside the retention window")
    // immediate reclamation: the dead file goes
    val (gone, _) = mtf.vacuum(0L)
    assert(gone >= 1L, s"reclaimed $gone")
    assert(state(store) == Set(("doc://a", 0, "t2")))
  }

  test("schema evolution: ADD COLUMN null-fills old files, one scan " +
      "mixes old+new, time travel keeps the old shape") {
    import org.apache.spark.sql.types.StringType
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    val mtf = new ManifestTableFormat(spark, path, store.schema)
    store.upsert(chunksOf("doc://old", "before"))        // v0: base shape
    val preAlter = mtf.version
    mtf.addColumn("lang", StringType)                     // v1: schema
    assert(mtf.currentSchema.fieldNames.last == "lang")
    assert(mtf.currentSchema("lang").nullable)
    // a post-ALTER append CARRIES the column; the caller frame has it
    import spark.implicits._
    store.append(Seq((0, "after", Seq(1f), 1, "doc://new", "en"))
      .toDF("chunk_id", "chunk_text", "embedding", "page_number",
        "document_url", "lang")
      .withColumn("embedding", col("embedding").cast("array<float>")))
    // one scan over old+new files: the pre-ALTER file reads NULL
    val got = store.read().select("document_url", "chunk_text", "lang")
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.getString(2)))).toSet
    assert(got == Set(("doc://old", "before", None),
      ("doc://new", "after", Some("en"))), got)
    // a post-ALTER upsert WITHOUT the column null-fills (default-null)
    store.upsert(chunksOf("doc://plain", "nofield"))
    assert(store.read().filter(col("document_url") === "doc://plain")
      .select("lang").collect().head.isNullAt(0))
    // time travel BEFORE the ALTER: the old shape, no lang column
    val old = mtf.readVersion(preAlter)
    assert(!old.columns.contains("lang"), old.columns.mkString(","))
    // change feed across the boundary speaks the evolved shape
    val feed = mtf.changesBetween(preAlter, mtf.version)
    assert(feed.columns.contains("lang"))
    // evolution survives checkpoint + vacuum (sidecars are never
    // pruned), and the evolved column is UPDATE-able
    mtf.checkpoint(); mtf.vacuum()
    assert(mtf.currentSchema.fieldNames.contains("lang"))
    store.update(Some(col("document_url") === "doc://old"),
      Seq("lang" -> lit("la")))
    val langs = store.read().select("document_url", "lang")
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toMap
    assert(langs("doc://old") == Some("la") &&
      langs("doc://new") == Some("en") && langs("doc://plain").isEmpty)
    // incompatible evolution refuses loudly
    intercept[IllegalArgumentException] {
      mtf.addColumn("LANG", StringType) // case-insensitive duplicate
    }
  }

  test("MERGE pre-scan key-prunes candidate files from equality ON " +
      "stats; result identical to the unpruned plan") {
    import spark.implicits._
    import graft.sink.{GraftMergeInsert, GraftMergeUpdate}
    val path = freshPath()
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    // 40 single-value-clustered batches: each append's files carry
    // tight page_number min/max stats, and 40 > the small-table
    // shortcut threshold, so mergeInto takes the pre-scan branch
    (0 until 40).foreach { p =>
      store.append(Seq((p, s"text-$p", Seq(1f), p, s"doc://$p"))
        .toDF("chunk_id", "chunk_text", "embedding", "page_number",
          "document_url"))
    }
    val mtf = new ManifestTableFormat(spark, path, store.schema)
    val total = mtf.filesAtVersion(mtf.version).size
    assert(total >= 40, s"expected >=40 live files, got $total")
    val src = Seq((3, "updated-3"), (7, "updated-7"), (77, "inserted-77"))
      .toDF("page_number", "chunk_text")
    val onCond = col("__graft_t.page_number") ===
      col("__graft_s.page_number")
    // the key pre-prune drops files whose page_number stats exclude
    // {3, 7, 77} — a strict subset survives, never zero
    val candidates = mtf.mergePreScanCandidatesAtHead(src, onCond)
    assert(candidates.nonEmpty && candidates.size < total,
      s"pre-prune kept ${candidates.size} of $total")
    // an unextractable ON shape fails open to the full list
    val opaque = mtf.mergePreScanCandidatesAtHead(src,
      col("__graft_t.page_number") + 0 === col("__graft_s.page_number"))
    assert(opaque.size == total, s"fail-open kept ${opaque.size}")
    // and the merge result through the pruned pre-scan is exactly the
    // relational expectation (update pages 3/7, insert page 77)
    mtf.mergeInto(src, onCond,
      matched = Seq(GraftMergeUpdate(None,
        Seq("chunk_text" -> col("__graft_s.chunk_text")))),
      notMatched = Seq(GraftMergeInsert(None, Seq(
        "chunk_id" -> lit(99), "chunk_text" -> col("__graft_s.chunk_text"),
        "embedding" -> typedlit(Seq(1f)), "page_number" ->
          col("__graft_s.page_number"),
        "document_url" -> concat(lit("doc://"),
          col("__graft_s.page_number"))))),
      notMatchedBySource = Seq.empty, urlProbe = None)
    val got = store.read().select("page_number", "chunk_text")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    val want = (0 until 40).map(p => (p,
      if (p == 3 || p == 7) s"updated-$p" else s"text-$p")).toSet +
      ((77, "inserted-77"))
    assert(got == want, (got -- want, want -- got).toString)
  }
}
