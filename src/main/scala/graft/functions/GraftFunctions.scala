package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

/** Scala Column API + SQL registration for graft's custom expressions.
  *
  * `register(spark)` makes every function callable from `spark.sql`
  * (e.g. `SELECT cosine_distance(embedding, :q) ...`); the Column
  * wrappers below work regardless of registration.
  */
object GraftFunctions {

  /** Single-evaluation let-binding: evaluates `c` exactly once per row
    * and hands it to `body` as a lambda variable. Referencing a plain
    * Column n times duplicates its whole subtree n times in the plan;
    * a lambda variable is an attribute reference, so the subtree stays
    * single however often the body uses it.
    */
  def bound(c: Column)(body: Column => Column): Column = {
    import org.apache.spark.sql.functions.{array, element_at, transform}
    element_at(transform(array(c), body), 1)
  }

  def cosine_distance(a: Column, b: Column): Column =
    binary(a, b, CosineDistance)
  def cosine_similarity(a: Column, b: Column): Column =
    binary(a, b, CosineSimilarity)
  def cosine_distance_stored_norm(
      a: Column, b: Column, normA: Column, normB: Column): Column = {
    val s = activeSession
    Bridge.column(CosineDistanceStoredNorm(
      Bridge.expression(s, a), Bridge.expression(s, b),
      Bridge.expression(s, normA), Bridge.expression(s, normB)))
  }
  def dot_product(a: Column, b: Column): Column =
    binary(a, b, DotProduct)
  def l2_distance(a: Column, b: Column): Column =
    binary(a, b, L2Distance)
  def vector_norm(a: Column): Column = {
    val s = activeSession
    Bridge.column(VectorNorm(Bridge.expression(s, a)))
  }

  def chunk_text(text: Column, maxTokens: Column, overlap: Column,
      mode: Column): Column = {
    val s = activeSession
    Bridge.column(ChunkText(
      Bridge.expression(s, text), Bridge.expression(s, maxTokens),
      Bridge.expression(s, overlap), Bridge.expression(s, mode)))
  }

  def token_count(text: Column): Column = {
    val s = activeSession
    Bridge.column(TokenCount(Bridge.expression(s, text)))
  }

  def bpe_encode(text: Column, merges: Column): Column =
    binary(text, merges, BpeEncode)

  def bow_embed(text: Column, dim: Column): Column =
    binary(text, dim, BowEmbed)

  def nfc_normalize(text: Column): Column = {
    val s = activeSession
    Bridge.column(NfcNormalize(Bridge.expression(s, text)))
  }

  def simhash64(text: Column, shingleSize: Column): Column =
    binary(text, shingleSize, SimHash64)

  def minhash_signature(text: Column, numHashes: Column,
      shingleSize: Column): Column = {
    val s = activeSession
    Bridge.column(MinHashSignature(
      Bridge.expression(s, text), Bridge.expression(s, numHashes),
      Bridge.expression(s, shingleSize)))
  }

  def word_shingles(text: Column, shingleSize: Column): Column =
    binary(text, shingleSize, WordShingles)

  def gram_hashes(text: Column, n: Column): Column =
    binary(text, n, GramHashes)

  def winnow_fingerprints(text: Column, k: Column, w: Column): Column = {
    val s = activeSession
    Bridge.column(WinnowFingerprints(
      Bridge.expression(s, text), Bridge.expression(s, k),
      Bridge.expression(s, w)))
  }

  def profile_scores(text: Column, spec: Column, mode: Column): Column = {
    val s = activeSession
    Bridge.column(ProfileScores(
      Bridge.expression(s, text), Bridge.expression(s, spec),
      Bridge.expression(s, mode)))
  }

  def int8_pack(codes: Column): Column = {
    val s = activeSession
    Bridge.column(Int8Pack(Bridge.expression(s, codes)))
  }

  def q8_cosine_distance(codes: Column, mn: Column, scale: Column,
      query: Column): Column = {
    val s = activeSession
    Bridge.column(Q8CosineDistance(
      Bridge.expression(s, codes), Bridge.expression(s, mn),
      Bridge.expression(s, scale), Bridge.expression(s, query)))
  }

  private def activeSession: SparkSession =
    SparkSession.getActiveSession.getOrElse(
      throw new IllegalStateException("no active SparkSession"))

  private def binary(
      a: Column,
      b: Column,
      f: (org.apache.spark.sql.catalyst.expressions.Expression,
          org.apache.spark.sql.catalyst.expressions.Expression) =>
        org.apache.spark.sql.catalyst.expressions.Expression): Column = {
    val s = activeSession
    Bridge.column(f(Bridge.expression(s, a), Bridge.expression(s, b)))
  }

  // SQL-path arity guard: a wrong-argument-count call fails with the
  // function's name and expected arity instead of a raw
  // IndexOutOfBoundsException out of es(n)
  private def fn(name: String, arity: Int)(
      b: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression)
      : (String,
         Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
           org.apache.spark.sql.catalyst.expressions.Expression) =
    name -> (es => {
      if (es.length != arity) throw new IllegalArgumentException(
        s"function $name expects $arity argument(s), got ${es.length}")
      b(es)
    })

  /** Every graft scalar SQL function: name → expression builder
    * (registered through [[graft.GraftExtensions.functions]]).
    */
  val builders: Seq[(String,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression)] = Seq(
    fn("cosine_distance", 2)(es => CosineDistance(es(0), es(1))),
    fn("cosine_similarity", 2)(es => CosineSimilarity(es(0), es(1))),
    fn("cosine_distance_stored_norm", 4)(
      es => CosineDistanceStoredNorm(es(0), es(1), es(2), es(3))),
    fn("dot_product", 2)(es => DotProduct(es(0), es(1))),
    fn("l2_distance", 2)(es => L2Distance(es(0), es(1))),
    fn("vector_norm", 1)(es => VectorNorm(es(0))),
    fn("chunk_text", 4)(es => ChunkText(es(0), es(1), es(2), es(3))),
    fn("token_count", 1)(es => TokenCount(es(0))),
    fn("nfc_normalize", 1)(es => NfcNormalize(es(0))),
    fn("simhash64", 2)(es => SimHash64(es(0), es(1))),
    fn("minhash_signature", 3)(es => MinHashSignature(es(0), es(1), es(2))),
    fn("word_shingles", 2)(es => WordShingles(es(0), es(1))),
    fn("gram_hashes", 2)(es => GramHashes(es(0), es(1))),
    fn("int8_pack", 1)(es => Int8Pack(es(0))),
    fn("winnow_fingerprints", 3)(
      es => WinnowFingerprints(es(0), es(1), es(2))),
    fn("profile_scores", 3)(es => ProfileScores(es(0), es(1), es(2))),
    fn("q8_cosine_distance", 4)(
      es => Q8CosineDistance(es(0), es(1), es(2), es(3))),
    fn("bpe_encode", 2)(es => BpeEncode(es(0), es(1))),
    fn("bow_embed", 2)(es => BowEmbed(es(0), es(1))))
}
