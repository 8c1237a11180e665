package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.ops.TextIndex

/** Persistent BM25 text index (B4d): build writes a stamped postings
  * + doclen layout; query answers from the index alone — identical to
  * the transient B4c scan path — and prunes to the query terms'
  * posting buckets.
  */
class TextIndexSpec extends SparkSpec {

  private lazy val docs = Tables(spark, sf(), "documents").cache()

  private def tmp(name: String): String = {
    val d = s"/tmp/graft-text-index-spec/$name"
    val p = new Path(d)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    d
  }

  /** The transient B4c scan-path BM25 (same shape as the b4c query). */
  private def scanBm25(terms: Seq[String], k: Int) = {
    val stats = docs.agg(
      count(lit(1)).cast("double").as("n"),
      avg(size(split(col("text"), " ")).cast("double")).as("avgdl")).head()
    val (n, avgdl) = (stats.getDouble(0), stats.getDouble(1))
    val qtok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w").isin(terms: _*))
    val tf = qtok.groupBy("doc_id", "w")
      .agg(count(lit(1)).cast("double").as("tf"))
    val idf = qtok.groupBy("w")
      .agg(countDistinct("doc_id").cast("double").as("df"))
    val dl = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("double").as("dl"))
    val idfW = log(lit(1.0) + (lit(n) - col("df") + 0.5) / (col("df") + 0.5))
    val lenNorm = lit(1.2) * (lit(1.0) - lit(0.75) +
      lit(0.75) * col("dl") / lit(avgdl))
    dl.join(broadcast(tf.join(broadcast(idf), "w")), "doc_id")
      .groupBy("doc_id")
      .agg(round(sum(idfW * col("tf") * lit(2.2) /
        (col("tf") + lenNorm)), 6).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** (docCount, sumDl): the live doc-length rows' count and sum. */
  private def corpus(path: String): (Long, Double) = {
    val r = TextIndex.read(spark, path).filter(col("term").isNull)
      .agg(count(lit(1)), sum(col("dl"))).head()
    (r.getLong(0), r.getDouble(1))
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("prebuilt index answers identically to the scan path") {
    val path = tmp("identical")
    TextIndex.build(docs, path, "doc_id", "text")
    val viaIndex = TextIndex.query(spark, path, Seq("window", "filter"), 20)
    assert(rows(viaIndex) == rows(scanBm25(Seq("window", "filter"), 20)))
    // the postings scan must prune to the terms' tb buckets: files
    // picked by per-file tb min/max from the log, rows filtered on tb
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*(In|EqualTo)\\(tb,".r
      .findFirstIn(plan).isDefined, plan.take(2000))
  }

  test("query touches only the index (corpus deleted after build)") {
    val path = tmp("no-corpus")
    val basePath = tmp("no-corpus-base")
    docs.select("doc_id", "text").write.parquet(basePath)
    val base = spark.read.parquet(basePath)
    TextIndex.build(base, path, "doc_id", "text")
    val p = new Path(basePath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val out = TextIndex.query(spark, path, Seq("window", "filter"), 20)
    assert(rows(out) == rows(scanBm25(Seq("window", "filter"), 20)))
  }

  test("build(A)+append(B) is bit-identical to build(A∪B)") {
    val inc = tmp("append-inc"); val full = tmp("append-full")
    TextIndex.build(docs.filter(col("doc_id") % 5 =!= 0), inc,
      "doc_id", "text")
    TextIndex.append(docs.filter(col("doc_id") % 5 === 0), inc, "text")
    TextIndex.build(docs, full, "doc_id", "text")
    // the stamps agree, the corpus stats agree exactly (docCount and
    // the EXACT sumDl), so the scoring constants are bit-equal, and the
    // postings carry the same (doc, term, tf) rows
    assert(TextIndex.load(spark, inc) == TextIndex.load(spark, full))
    assert(corpus(inc) == corpus(full))
    def q(p: String) = rows(
      TextIndex.query(spark, p, Seq("window", "filter"), 20))
    assert(q(inc) == q(full))
  }

  test("append to a missing index fails loudly") {
    intercept[IllegalArgumentException] {
      TextIndex.append(docs.limit(1), tmp("append-absent"), "text")
    }
  }

  test("stamp validation fails loudly") {
    val path = tmp("stamp")
    intercept[IllegalArgumentException] {
      TextIndex.query(spark, path, Seq("x"), 5)
    }
    // round-trip
    val m = TextIndex.Meta("doc_id", 64, 1.2, 0.75)
    assert(TextIndex.parse(TextIndex.render(m), path) == m)
    intercept[IllegalArgumentException] {
      TextIndex.parse("something else v9\nkind=?", path)
    }
  }

  test("phraseQuery: consecutive-token semantics vs a raw-token reference") {
    import spark.implicits._
    val path = tmp("phrase")
    val corpus = Seq(
      (1L, "a b c a b"),       // "a b" twice (positions 0, 3)
      (2L, "a a a"),           // overlapping "a a" twice (0, 1)
      (3L, "b a c"),           // terms present, never consecutive
      (4L, "a b"),             // exact phrase
      (5L, "c c c")            // no phrase terms
    ).toDF("doc_id", "text")
    TextIndex.build(corpus, path, "doc_id", "text")

    val ab = TextIndex.phraseQuery(spark, path, Seq("a", "b"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(ab.toSeq == Seq((1L, 2L, 0L), (4L, 1L, 0L)))

    // self-overlapping phrase: both occurrences counted
    val aa = TextIndex.phraseQuery(spark, path, Seq("a", "a"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(aa.toSeq == Seq((2L, 2L, 0L)))

    // 3-term phrase
    val abc = TextIndex.phraseQuery(spark, path, Seq("c", "a", "b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(abc.toSeq == Seq((1L, 1L, 2L)))

    // no matches → empty, and <2 terms is a contract violation
    assert(TextIndex.phraseQuery(spark, path, Seq("b", "b")).count() == 0)
    intercept[IllegalArgumentException] {
      TextIndex.phraseQuery(spark, path, Seq("a"))
    }
  }

  test("phraseQuery: sees appended documents (v2 positional postings)") {
    import spark.implicits._
    val path = tmp("phrase-append")
    TextIndex.build(Seq((1L, "x y z")).toDF("doc_id", "text"),
      path, "doc_id", "text")
    TextIndex.append(Seq((2L, "w x y")).toDF("doc_id", "text"),
      path, "text")
    val hits = TextIndex.phraseQuery(spark, path, Seq("x", "y"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(hits.toSeq == Seq((1L, 1L, 0L), (2L, 1L, 1L)))
  }

  test("BM25 query path column-prunes the v2 positions away") {
    val path = tmp("prune")
    TextIndex.build(docs.limit(50), path, "doc_id", "text")
    val df = TextIndex.query(spark, path, Seq("window"), k = 5)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the positions column exists in the layout but must never be
    // read on the score path (phrase queries pay for it, BM25 doesn't)
    assert(!p.contains("positions"), p.take(2000))
  }

  test("delete: queries hash-match a fresh build over the reduced " +
      "corpus, pre- and post-compact; phrases exclude deleted docs") {
    val deleted = docs.filter(col("doc_id") % 7 === 0)
    val remaining = docs.filter(col("doc_id") % 7 =!= 0)
    val delP = tmp("delete"); val refP = tmp("delete-ref")
    TextIndex.build(docs, delP, "doc_id", "text")
    TextIndex.delete(deleted.select("doc_id"), delP)
    TextIndex.build(remaining, refP, "doc_id", "text")
    // the corpus stats are exactly the reduced corpus's build stats
    assert(corpus(delP) == corpus(refP))
    // the delete's commit removed every row of the deleted documents
    def held() = TextIndex.read(spark, delP)
      .filter(col("doc_id") % 7 === 0).count()
    assert(held() == 0)
    def q(p: String) = rows(
      TextIndex.query(spark, p, Seq("window", "filter"), 20))
    assert(q(delP) == q(refP))
    // phrase path masks too (any 2-token prefix of a deleted doc)
    val phrase = TextIndex.phraseQuery(spark, delP, Seq("the", "quick"))
    assert(phrase.filter(col("doc_id") % 7 === 0).count() == 0)
    // compact: rows stay gone, answers fixed
    TextIndex.compact(spark, delP)
    assert(q(delP) == q(refP))
    assert(held() == 0)
    // a second compaction changes no answer
    TextIndex.compact(spark, delP)
    assert(q(delP) == q(refP))
  }

  test("delete is idempotent and absent ids are a no-op; append after " +
      "delete keeps stats exact") {
    import spark.implicits._
    val path = tmp("delete-idem"); val refP = tmp("delete-idem-ref")
    TextIndex.build(docs.filter(col("doc_id") < 400), path,
      "doc_id", "text")
    TextIndex.delete(docs.filter(col("doc_id") < 10).select("doc_id"), path)
    val stats = corpus(path)
    // re-delete the same ids + ids that never existed: stats unchanged
    TextIndex.delete(docs.filter(col("doc_id") < 10).select("doc_id"), path)
    TextIndex.delete(Seq(999999L).toDF("doc_id"), path)
    assert(corpus(path) == stats)
    // append post-delete: equivalent to building over (400..440) ∪
    // surviving — the incremental stat deltas compose exactly
    val extra = docs.filter(col("doc_id") >= 400 && col("doc_id") < 440)
    TextIndex.append(extra, path, "text")
    TextIndex.build(
      docs.filter((col("doc_id") >= 10 && col("doc_id") < 440)),
      refP, "doc_id", "text")
    assert(corpus(path) == corpus(refP))
    def q(p: String) = rows(
      TextIndex.query(spark, p, Seq("window", "filter"), 20))
    assert(q(path) == q(refP))
  }

  test("rebuild clears tombstones: a fresh build must not inherit the " +
      "old generation's deletes") {
    val path = tmp("delete-rebuild")
    TextIndex.build(docs, path, "doc_id", "text")
    TextIndex.delete(docs.filter(col("doc_id") < 250).select("doc_id"), path)
    TextIndex.build(docs, path, "doc_id", "text")
    def full(p: String) = rows(
      TextIndex.query(spark, p, Seq("window", "filter"), 20))
    val refP = tmp("delete-rebuild-ref")
    TextIndex.build(docs, refP, "doc_id", "text")
    assert(full(path) == full(refP))
  }

  test("driver-side term bucket agrees with the hash(term) column") {
    import spark.implicits._
    val terms = Seq("window", "filter", "spark", "a", "", "zebra")
    val colSide = terms.toDF("term")
      .select(col("term"), pmod(hash(col("term")), lit(64)).as("tb"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    terms.foreach { t =>
      assert(TextIndex.termBucket(t, 64) == colSide(t), s"term '$t'")
    }
  }

  test("an index in the retired layout is refused with a rebuild " +
      "message") {
    val path = tmp("old-layout")
    docs.select(col("doc_id"), lit(1.0).as("dl")).write.parquet(s"$path/doclen")
    val out = new Path(path, "_graft_text_index").getFileSystem(
      spark.sparkContext.hadoopConfiguration)
      .create(new Path(path, "_graft_text_index"), true)
    out.write(Seq("graft-text-index v2", "idCol=doc_id", "docCount=1.0",
      "sumDl=1.0", "numBuckets=64", "k1=1.2", "b=0.75").mkString("\n")
      .getBytes("UTF-8"))
    out.close()
    val e = intercept[IllegalStateException] {
      TextIndex.query(spark, path, Seq("window"), 5)
    }
    assert(e.getMessage.contains("retired layout") &&
      e.getMessage.contains("rebuild"), e.getMessage)
    TextIndex.build(docs, path, "doc_id", "text")
    assert(rows(TextIndex.query(spark, path, Seq("window", "filter"), 20)) ==
      rows(scanBm25(Seq("window", "filter"), 20)))
  }
}
