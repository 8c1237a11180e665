package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Persistent full-text (BM25) index — the text-side sibling of
  * [[VectorIndex]], completing the reference's "eventually Full-text"
  * endpoint (`AzureCosmosDB/csharp/README.md:15`) as a provisioned
  * artifact instead of a per-query corpus scan.
  *
  * Layout at `path` ([[IndexTable]]): one manifest table partitioned
  * on `tb`, holding two kinds of row —
  *  - postings (doc_id, term, tf, positions) under
  *    `tb = pmod(hash(term), numBuckets)`: a query picks its terms'
  *    buckets' files from per-file `tb` min/max on the driver (the
  *    bucket values come from the SAME Murmur3 evaluated as a Catalyst
  *    literal expression, so the column and the pruning list can never
  *    disagree), then filters the rows;
  *  - one doc-length row (doc_id, dl) per document, under the reserved
  *    bucket [[DocLenBucket]] with a null term.
  * So an append, or a delete of a document's postings and length, is
  * ONE commit. The `_graft_text_index` stamp holds what the build
  * fixed (id column, bucket count, k1, b), validated on load (probing
  * with a stale/foreign stamp fails loudly; same pattern as
  * [[VectorIndex]]).
  *
  * Scale: the build is one tokenize+count aggregate (one exchange on
  * (doc, term), map-side combined) plus one narrow length projection.
  * A query touches ONLY the query terms' posting buckets and the
  * doc-length rows — cost follows result size, not corpus size;
  * document frequencies come from the pruned postings themselves
  * (COUNT per term), and the corpus stats (N, sum of lengths) from the
  * live doc-length rows, inside the query plan. Scoring reproduces the
  * transient BM25 query (B4c) bit-for-bit: same tokenizer
  * (single-space split), same k1=1.2 / b=0.75 formula, and exact
  * integer-valued length sums, so a prebuilt index answers
  * hash-identically to the scan path.
  */
object TextIndex {

  private val Version = "graft-text-index v3"
  private[ops] val StampName = "_graft_text_index"

  /** The `tb` of the doc-length rows: below every term bucket. */
  private[ops] val DocLenBucket = -1

  /** What the build fixed. Corpus stats are not stamped: they are the
    * live doc-length rows' count and sum, so appends and deletes never
    * rewrite the stamp.
    */
  final case class Meta(
      idCol: String,
      numBuckets: Int,
      k1: Double,
      b: Double)

  /** Driver-side twin of the build's `pmod(hash(term), nb)` column. */
  private[graft] def termBucket(term: String, nb: Int): Int = {
    val h = Murmur3Hash(
      Seq(Literal(UTF8String.fromString(term),
        org.apache.spark.sql.types.StringType)), 42)
      .eval(null).asInstanceOf[Int]
    math.floorMod(h, nb)
  }

  /** Tokenize `docs` (single-space split — B4c's corpus convention),
    * materialize postings + doc lengths at `path` as one index table,
    * stamp the parameters. Overwrites any previous index at `path`;
    * the stamp is written last, so a crashed build is no index.
    */
  def build(
      docs: DataFrame,
      path: String,
      idCol: String,
      textCol: String,
      numBuckets: Int = 64,
      k1: Double = 1.2,
      b: Double = 0.75): Unit = {
    require(numBuckets >= 1, s"numBuckets=$numBuckets")
    val spark = docs.sparkSession
    IndexTable.create(spark, path, rowsFor(docs, idCol, textCol, numBuckets),
      Seq("tb"))
    IndexTable.writeStamp(spark, path, StampName,
      render(Meta(idCol, numBuckets, k1, b)))
  }

  /** Incrementally index new documents WITHOUT rebuilding: their
    * postings and doc-length rows append in ONE commit, so
    * build(A)+append(B) holds exactly the rows of build(A∪B), and the
    * exact integer-valued length sums make its scores bit-identical
    * (TextIndexSpec pins it). O(batch), never reads the existing index
    * data. Ids are the caller's append-only contract, as in
    * [[VectorIndex.append]].
    */
  def append(
      docs: DataFrame,
      path: String,
      textCol: String): Unit = {
    val spark = docs.sparkSession
    val meta = load(spark, path)
    IndexTable.open(spark, path)
      .append(rowsFor(docs, meta.idCol, textCol, meta.numBuckets))
  }

  /** Delete documents: their postings and doc-length rows go in ONE
    * commit on the index table, so a deleted document stops matching
    * at once — including its share of per-term document frequencies
    * and of the corpus stats, which queries derive from the live rows.
    * BM25 scores after a delete therefore hash-equal the scan path over
    * the remaining documents (gate b4h). Deleting an absent id is a
    * no-op; deletes are idempotent.
    */
  def delete(ids: DataFrame, path: String): Unit = {
    val spark = ids.sparkSession
    load(spark, path)
    IndexTable.deleteIds(IndexTable.open(spark, path), ids, "doc_id")
  }

  /** Rewrite the index table's files ([[ManifestTableFormat.compact]]),
    * still clustered by `tb`. Answers are unchanged.
    */
  def compact(spark: SparkSession, path: String): Unit = {
    load(spark, path)
    IndexTable.open(spark, path).compact()
  }

  /** The live index rows at `path`: postings, and the doc-length rows
    * (null `term`, `tb` = [[DocLenBucket]]).
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    load(spark, path)
    IndexTable.open(spark, path).read()
  }

  /** The index rows of `docs`: one tokenize (position-carrying) + one
    * (doc, term) aggregate, map-side combined, for the postings, plus
    * a narrow doc-length row per document. `positions` makes the index
    * positional: phrase queries answer from postings alone, while the
    * BM25 path's (doc_id, term, tf) projection lets Parquet column
    * pruning skip the positions bytes entirely.
    */
  private[ops] def rowsFor(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numBuckets: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "term")))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("tb", pmod(hash(col("term")), lit(numBuckets)))
      .unionByName(docs.select(col(idCol).as("doc_id"),
          size(split(col(textCol), " ")).cast("double").as("dl"),
          lit(DocLenBucket).as("tb")),
        allowMissingColumns = true)

  /** Positional phrase query (the store-side `CONTAINS '"w1 w2"'`
    * surface): documents where `terms` occur as CONSECUTIVE tokens,
    * answered from the positional postings with ZERO corpus access.
    * Output `(doc_id, n_occ, first_pos)` — occurrence count
    * (overlapping matches included) and the 0-based token position of
    * the first match.
    *
    * Shape: prune to the phrase terms' buckets (as in [[query]]),
    * then an n-way equi-join on `doc_id` of the per-term position
    * lists, folding
    * `positions(tᵢ₊₁) ∩ (positions(tᵢ) + 1)` — candidate documents
    * shrink at every join, and only (doc_id, positions) width ever
    * moves. Cost follows the phrase terms' posting sizes, never the
    * corpus.
    */
  def phraseQuery(
      spark: SparkSession,
      path: String,
      terms: Seq[String]): DataFrame = {
    require(terms.size >= 2, "a phrase needs at least 2 terms")
    val meta = load(spark, path)
    val distinctTerms = terms.distinct
    val buckets = distinctTerms.map(termBucket(_, meta.numBuckets)).distinct
    val posts = IndexTable.open(spark, path).pinScan()
      .readWhereIn("tb", buckets)
      .filter(col("term").isin(distinctTerms: _*))
      .select("doc_id", "term", "positions")
    val byTerm = terms.zipWithIndex.map { case (t, i) =>
      posts.filter(col("term") === t)
        .select(col("doc_id"), col("positions").as(s"__p$i"))
    }
    val joined = byTerm.reduce(_.join(_, "doc_id"))
    // fold: after step i the accumulator holds the token positions of
    // term i in full prefix matches t0..ti; the final array holds the
    // LAST term's positions of complete phrase matches
    val ends = (1 until terms.size).foldLeft(col("__p0")) { (acc, i) =>
      array_intersect(transform(acc, p => p + 1), col(s"__p$i"))
    }
    joined.select(col("doc_id"), ends.as("__ends"))
      .filter(size(col("__ends")) > 0)
      .select(col("doc_id"),
        size(col("__ends")).cast("long").as("n_occ"),
        (array_min(col("__ends")) - lit(terms.size - 1)).cast("long")
          .as("first_pos"))
  }

  /** BM25 top-k for `terms` from the prebuilt index: reads only the
    * terms' posting buckets + the narrow doc-length rows; the corpus
    * stats (N, average length) aggregate those rows in the same plan
    * (no document scan, no driver job). Output (doc_id, score) —
    * identical to the transient B4c formulation on the same corpus.
    */
  def query(
      spark: SparkSession,
      path: String,
      terms: Seq[String],
      k: Int): DataFrame = {
    require(terms.nonEmpty, "query needs at least one term")
    val meta = load(spark, path)
    val pin = IndexTable.open(spark, path).pinScan()
    val buckets = terms.map(termBucket(_, meta.numBuckets)).distinct
    val tf = pin.readWhereIn("tb", buckets)
      .filter(col("term").isin(terms: _*))
      .select("doc_id", "term", "tf")
    val df = tf.groupBy("term")
      .agg(count(lit(1)).cast("double").as("df"))
    val dl = pin.readWhereIn("tb", Seq(DocLenBucket)).select("doc_id", "dl")
    // integer-valued lengths: the double sum is exact in any order
    val corpus = dl.agg(count(lit(1)).cast("double").as("__n"),
      sum(col("dl")).as("__sumdl"))
    val idfW = log(lit(1.0) +
      (col("__n") - col("df") + 0.5) / (col("df") + 0.5))
    val lenNorm = lit(meta.k1) * (lit(1.0) - lit(meta.b) +
      lit(meta.b) * col("dl") / (col("__sumdl") / col("__n")))
    dl.join(broadcast(tf.join(broadcast(df), "term")), "doc_id")
      .crossJoin(broadcast(corpus))
      .groupBy("doc_id")
      .agg(round(sum(idfW * col("tf") * lit(meta.k1 + 1.0) /
        (col("tf") + lenNorm)), 6).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  // ---------------------------------------------------------------
  // stamp plumbing (same contract as VectorIndex)
  // ---------------------------------------------------------------

  private[graft] def render(m: Meta): String =
    Seq(Version, s"idCol=${m.idCol}", s"numBuckets=${m.numBuckets}",
      s"k1=${m.k1}", s"b=${m.b}").mkString("\n")

  private[graft] def parse(text: String, path: String): Meta = {
    val lines = text.split("\n", -1).toSeq
    require(lines.headOption.contains(Version),
      s"text index at $path has stamp version " +
        s"'${lines.headOption.getOrElse("")}' — this build reads only " +
        s"'$Version'")
    val kv = lines.tail.map { l =>
      val i = l.indexOf('=')
      require(i > 0, s"malformed stamp line '$l' in text index at $path")
      l.substring(0, i) -> l.substring(i + 1)
    }.toMap
    Meta(kv("idCol"), kv("numBuckets").toInt, kv("k1").toDouble,
      kv("b").toDouble)
  }

  /** Load and validate the stamp — a driver-side file read, no Spark
    * job. Fails loudly on a missing/incompatible index.
    */
  def load(spark: SparkSession, path: String): Meta =
    parse(IndexTable.readStamp(spark, path, StampName,
      s"no text index at $path (missing $StampName stamp) — build() " +
        "must complete before query()"), path)
}
