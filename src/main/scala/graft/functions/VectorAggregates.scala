package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.graftbridge.Bridge

/** Typed UDAF surface (SURVEY §2.5): `vector_avg` — the per-group
  * embedding centroid. An `Aggregator` with a fixed-size mutable
  * buffer (dim doubles + a count): partial aggregation is map-side,
  * the exchange carries one buffer per group per partition, and no
  * vector list ever materializes — the 100 TB-side requirement for
  * centroid jobs (IVF index builds, per-class mean embeddings,
  * cluster summaries).
  *
  * Accumulates and emits in DOUBLE precision: a float-valued centroid
  * would round differently engine-to-engine; callers cast down when
  * storing.
  */
object VectorAggregates {

  case class AvgBuf(var sums: Array[Double], var n: Long)

  val vectorAvg: Aggregator[Seq[Float], AvgBuf, Seq[Double]] =
    new Aggregator[Seq[Float], AvgBuf, Seq[Double]] {
      override def zero: AvgBuf = AvgBuf(Array.empty, 0L)

      override def reduce(b: AvgBuf, v: Seq[Float]): AvgBuf = {
        // dimension mismatches fail loudly: silently truncating to the
        // shared prefix would skew every truncated dimension's mean
        require(v.nonEmpty, "vector_avg: empty vector in input")
        if (b.sums.isEmpty) b.sums = new Array[Double](v.length)
        require(v.length == b.sums.length,
          s"vector_avg: mixed dimensions ${v.length} vs ${b.sums.length}")
        var i = 0
        while (i < v.length) { b.sums(i) += v(i); i += 1 }
        b.n += 1
        b
      }

      override def merge(a: AvgBuf, b: AvgBuf): AvgBuf = {
        // an empty-sums buffer has necessarily seen no rows (reduce
        // rejects empty vectors), so its count is 0 and dropping it
        // loses nothing
        if (a.sums.isEmpty) return b
        if (b.sums.isEmpty) return a
        require(a.sums.length == b.sums.length,
          s"vector_avg: mixed dimensions ${a.sums.length} vs ${b.sums.length}")
        var i = 0
        while (i < a.sums.length) { a.sums(i) += b.sums(i); i += 1 }
        a.n += b.n
        a
      }

      override def finish(b: AvgBuf): Seq[Double] =
        if (b.n == 0) Seq.empty
        else b.sums.map(_ / b.n).toSeq

      override def bufferEncoder: Encoder[AvgBuf] = ExpressionEncoder()
      override def outputEncoder: Encoder[Seq[Double]] = ExpressionEncoder()
    }

  private lazy val vectorAvgUdaf = udaf(vectorAvg)

  /** Column form: `vector_avg(embedding)` in an `agg(...)`. */
  def vector_avg(c: Column): Column = vectorAvgUdaf(c)

  /** Group-level MinHash (the second §2.5 UDAF): the signature of a
    * GROUP's shingle-set union is the elementwise minimum of its rows'
    * signatures — exact by the MinHash construction (min over a union
    * = min of the mins), so per-document signatures fold into
    * collection-level signatures without touching the texts again.
    * Fixed-size buffer (k longs), map-side partials.
    */
  val minhashAgg: Aggregator[Seq[Long], Array[Long], Seq[Long]] =
    new Aggregator[Seq[Long], Array[Long], Seq[Long]] {
      override def zero: Array[Long] = Array.empty

      private def mins(a: Array[Long], b: Seq[Long]): Array[Long] = {
        if (a.isEmpty) return b.toArray
        require(a.length == b.length,
          s"minhash_agg: mixed signature widths ${a.length} vs ${b.length}")
        var i = 0
        while (i < a.length) { a(i) = math.min(a(i), b(i)); i += 1 }
        a
      }

      override def reduce(b: Array[Long], v: Seq[Long]): Array[Long] =
        // null/empty inputs are identity, matching how built-in
        // aggregates skip nulls (ScalaAggregator does NOT pre-filter
        // them) and keeping behavior independent of row order
        if (v == null || v.isEmpty) b else mins(b, v)
      override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
        if (b.isEmpty) a else mins(a, b.toSeq)
      override def finish(b: Array[Long]): Seq[Long] = b.toSeq
      override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
      override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
    }

  private lazy val minhashAggUdaf = udaf(minhashAgg)

  /** Column form: `minhash_agg(minhash_signature(text, k, n))`. */
  def minhash_agg(c: Column): Column = minhashAggUdaf(c)

  /** SQL builders, registered through [[graft.GraftExtensions.functions]]. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "vector_avg" -> Bridge.aggregatorBuilder(vectorAvgUdaf.withName("vector_avg")),
    "minhash_agg" -> Bridge.aggregatorBuilder(minhashAggUdaf.withName("minhash_agg")))
}
