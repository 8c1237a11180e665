package graft.functions

import java.util.PriorityQueue

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Bounded top-k per group (SURVEY D16): `topk_agg(k)(key, id)` keeps
  * the first k `(key, id)` pairs of a group under Spark's
  * `ORDER BY key ASC NULLS LAST, id ASC` and returns them in that
  * order as ARRAY<STRUCT<key, id>>. Callers wanting the largest keys
  * pass the negated key.
  *
  * The window formulation (`row_number() OVER (PARTITION BY g ORDER BY
  * key, id) <= k`) shuffles and SORTS every row of every group; this
  * aggregate is the map-side-combine shape instead — each partition
  * reduces a group to ≤ k pairs before the exchange, so the shuffle
  * carries k × groups × partitions pairs regardless of row count, and
  * no per-group sort of the full data ever runs. At 100 TB "top 10
  * documents per domain by quality" is the difference between
  * exchanging ~everything and exchanging kilobytes per reducer.
  *
  * One total order, Spark's own: the comparator is the
  * [[InterpretedOrdering]] a sort on those two keys uses, so NaN ranks
  * after every number, -0.0 ties 0.0, a null key ranks last, a null id
  * first among equal keys, and string ids compare in UTF-8 byte order.
  * Key and id may be any orderable type (the callers pass numeric keys
  * and long or string ids); kept pairs are emitted with their input
  * values, bit for bit. TopKOrderSpec checks the aggregate against the
  * window form on hostile inputs; the d16 gate hash-matches the DuckDB
  * window oracle.
  */
case class TopKAggregate(
    k: Int,
    key: Expression,
    id: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[PriorityQueue[InternalRow]]
    with BinaryLike[Expression] {

  override def left: Expression = key
  override def right: Expression = id
  override def prettyName: String = "topk_agg"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("key", key.dataType), StructField("id", id.dataType))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (RowOrdering.isOrderable(key.dataType) &&
        RowOrdering.isOrderable(id.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("topk_agg needs an orderable " +
      s"key and id, got ${key.dataType.simpleString} and " +
      id.dataType.simpleString)

  /** The one comparator, over kept pairs held as (key, id) rows. */
  @transient private lazy val order: Ordering[InternalRow] =
    new InterpretedOrdering(Seq(
      SortOrder(BoundReference(0, key.dataType, nullable = true),
        Ascending, NullsLast, Seq.empty),
      SortOrder(BoundReference(1, id.dataType, nullable = true), Ascending)))

  /** The head of the heap is the worst pair kept, so a full buffer
    * decides a candidate with one comparison and replaces in O(log k).
    */
  override def createAggregationBuffer(): PriorityQueue[InternalRow] =
    new PriorityQueue[InternalRow](math.min(k, 64), order.reverse)

  private def admits(q: PriorityQueue[InternalRow], r: InternalRow): Boolean =
    q.size < k || order.lt(r, q.peek)

  private def keep(q: PriorityQueue[InternalRow], r: InternalRow): Unit = {
    if (q.size == k) q.poll()
    q.add(r)
  }

  override def update(q: PriorityQueue[InternalRow], input: InternalRow)
      : PriorityQueue[InternalRow] = {
    val kv = key.eval(input)
    val iv = id.eval(input)
    // copy only on admission: a string id still points into the input
    if (admits(q, new GenericInternalRow(Array[Any](kv, iv))))
      keep(q, new GenericInternalRow(Array[Any](
        InternalRow.copyValue(kv), InternalRow.copyValue(iv))))
    q
  }

  override def merge(a: PriorityQueue[InternalRow],
      b: PriorityQueue[InternalRow]): PriorityQueue[InternalRow] = {
    b.forEach(r => if (admits(a, r)) keep(a, r))
    a
  }

  override def eval(q: PriorityQueue[InternalRow]): Any = {
    val kept = q.toArray(new Array[InternalRow](0))
    java.util.Arrays.sort(kept, order)
    new GenericArrayData(kept.toSeq)
  }

  @transient private lazy val toUnsafe =
    UnsafeProjection.create(Array[DataType](dataType))

  override def serialize(q: PriorityQueue[InternalRow]): Array[Byte] =
    toUnsafe(InternalRow(new GenericArrayData(q.toArray.toSeq))).getBytes

  override def deserialize(bytes: Array[Byte]): PriorityQueue[InternalRow] = {
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    val kept = row.getArray(0)
    val q = createAggregationBuffer()
    // the structs view `bytes`, which this buffer alone holds
    (0 until kept.numElements()).foreach(i => q.add(kept.getStruct(i, 2)))
    q
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKAggregate =
    copy(key = newLeft, id = newRight)
}

object TopKAggregate {

  /** Column form: `topk_agg(k)(key, id)` in an `agg(...)` — returns
    * ARRAY<STRUCT<key, id>>, first-ranked first.
    */
  def topk_agg(k: Int)(key: Column, id: Column): Column = {
    require(k >= 1 && k <= 65536, s"k=$k (want 1..65536)")
    val s = SparkSession.active
    Bridge.column(TopKAggregate(k, Bridge.expression(s, key),
      Bridge.expression(s, id)).toAggregateExpression())
  }
}
