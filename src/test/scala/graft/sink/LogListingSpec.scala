package graft.sink

import java.net.URI
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StringType

import graft.SparkSpec

/** A local filesystem under its own scheme that counts the listings of
  * any `_log` directory.
  */
class LogListingCountingFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "lscount"
  override def getUri: URI = URI.create("lscount:///")
  override def listStatus(f: Path): Array[FileStatus] = {
    if (f.getName == "_log") LogListingCountingFileSystem.logListings.incrementAndGet()
    super.listStatus(f)
  }
}

object LogListingCountingFileSystem {
  val logListings = new AtomicInteger()
}

/** The manifest log is read through one listing: the head replay,
  * time travel, history and each write attempt list the log directory
  * once, and vacuum's census sorts every object kind the same way the
  * per-kind listings it replaced did.
  */
class LogListingSpec extends SparkSpec {

  private def hconf = spark.sparkContext.hadoopConfiguration

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    hconf.set("fs.lscount.impl", classOf[LogListingCountingFileSystem].getName)
    CommitPublisher.register("lscount", CommitPublisher.LocalLink)
  }

  override protected def afterAll(): Unit = {
    CommitPublisher.unregister("lscount")
    super.afterAll()
  }

  private def docs(tag: String, urls: String*): DataFrame = {
    import spark.implicits._
    urls.map(u => (0, s"$tag $u", Seq(1f), 1, u))
      .toDF("chunk_id", "chunk_text", "embedding", "page_number",
        "document_url").repartition(1)
  }

  /** Log listings `op` makes. */
  private def listings(op: => Any): Int = {
    val before = LogListingCountingFileSystem.logListings.get()
    op
    LogListingCountingFileSystem.logListings.get() - before
  }

  test("a head snapshot, time travel and history each list the log " +
      "directory once") {
    val path = s"lscount:${Files.createTempDirectory("graft-lscount")}/t"
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    val mtf = new ManifestTableFormat(spark, path, store.schema)
    store.upsert(docs("v1", "doc://a", "doc://b"))
    store.upsert(docs("v2", "doc://b", "doc://c"))
    mtf.addColumn("note", StringType)
    mtf.checkpoint()
    store.upsert(docs("v3", "doc://c", "doc://d"))
    val head = mtf.version
    assert(head == 3L)
    assert(listings(mtf.version) == 1)
    assert(listings(mtf.liveFiles) == 1)
    // a version inside the checkpointed prefix and one in the tail
    Seq(1L, 3L).foreach { v =>
      assert(listings(mtf.readVersion(v).count()) == 1, s"readVersion($v)")
      assert(listings(mtf.pinScan(Some(v))) == 1, s"pinScan(Some($v))")
    }
    assert(mtf.readVersion(1L).count() == 3L)
    assert(mtf.readVersion(3L).count() == 4L)
    assert(listings(mtf.history()) == 1)
    assert(mtf.history().map(r => (r._1, r._5)) == Seq(
      0L -> "commit", 1L -> "commit", 2L -> "checkpoint", 2L -> "schema",
      3L -> "commit"))
  }

  test("a write lists the log directory once: an upsert, an append and " +
      "a keyed delete, as a read and a point read do") {
    val path = s"lscount:${Files.createTempDirectory("graft-lscount-w")}/t"
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    store.upsert(docs("v1", "doc://a", "doc://b"))
    // enforcement reads the attempt's snapshot's constraints
    new ManifestTableFormat(spark, path, store.schema)
      .addConstraint("page_ok", "page_number >= 0")
    assert(listings(store.upsert(docs("v2", "doc://b", "doc://c"))) == 1)
    assert(listings(store.append(docs("v3", "doc://d"))) == 1)
    assert(listings(store.delete(Seq("doc://a"))) == 1)
    assert(listings(store.read().count()) == 1)
    assert(listings(store.readDocuments(Seq("doc://c")).count()) == 1)
    assert(store.read().count() == 3L)
  }

  test("vacuum's dry run counts every kind of reclaimable log object " +
      "from one census") {
    val path = s"${Files.createTempDirectory("graft-census")}/t"
    val store = new ChunkStore(spark, path,
      format = ManifestTableFormat.factory)
    val mtf = new ManifestTableFormat(spark, path, store.schema)
    store.upsert(docs("v1", "doc://a", "doc://b"))           // v0
    store.upsert(docs("v2", "doc://b"))                      // v1
    mtf.addColumn("note", StringType)                        // v2 schema
    mtf.addConstraint("page_ok", "page_number >= 0")         // v3
    assert(mtf.appendStream(docs("s", "doc://s"), "app", 0L)) // v4 txn
    mtf.analyzeNdv(Seq("document_url"))                      // ndv @4
    mtf.checkpoint()                        // parquet + txns sidecar @4
    store.upsert(docs("v3", "doc://a"))                      // v5
    mtf.analyzeNdv(Seq("document_url"))                      // ndv @5
    assert(mtf.version == 5L)
    val log = new Path(path, "_log")
    val fs = log.getFileSystem(hconf)
    def touch(p: Path): Unit = fs.create(p, false).close()
    // a legacy JSON checkpoint the parquet one supersedes
    touch(new Path(log, f"${1}%012d.checkpoint.json"))
    // a torn parquet checkpoint: a part file but no _SUCCESS
    touch(new Path(log, f"${5}%012d.checkpoint.parquet/part-0.parquet"))
    // staging strays: one an hour old, one a live writer's
    touch(new Path(log, "tmp-stale"))
    fs.setTimes(new Path(log, "tmp-stale"),
      System.currentTimeMillis() - 2L * 60 * 60 * 1000, -1L)
    touch(new Path(log, "tmp-fresh"))
    val before = fs.listStatus(log).map(_.getPath.getName).sorted.toSeq
    // log: entries 0-4 and the JSON checkpoint under the parquet one,
    // the older NDV sidecar, the torn checkpoint and the stale stray
    assert(mtf.vacuum(0L, dryRun = true) == ((3L, 9L)))
    assert(fs.listStatus(log).map(_.getPath.getName).sorted.toSeq == before,
      "a dry run deletes nothing")
    assert(mtf.vacuum(0L) == ((3L, 9L)))
    assert(store.read().count() == 3L)
    assert(mtf.constraints.map(_._1) == Seq("page_ok"))
    assert(mtf.streamTransactions == Seq("app" -> 0L))
    assert(mtf.ndvInfo.map(_._1).contains(5L))
  }
}
