package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Ascending, BaseOrdering, BoundReference,
  Descending, Expression, GenericInternalRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k buffer: at most `k` hits, best first. A hit is an
  * `UnsafeRow` `(score, id, payload)`; the ordering reads fields 0 and
  * 1 only, so a candidate is ranked before its payload exists.
  */
final class TopKBuffer(val k: Int) {
  val hits = new Array[UnsafeRow](k)
  var size = 0

  /** The index at which a hit keyed like `key` enters, or -1 when the
    * buffer is full and `key` does not rank strictly before the worst
    * hit. Ties go after the hits already held.
    */
  def slot(key: InternalRow, ord: BaseOrdering): Int =
    if (size == k && ord.compare(key, hits(k - 1)) >= 0) -1
    else {
      var i = size
      while (i > 0 && ord.compare(key, hits(i - 1)) < 0) i -= 1
      i
    }

  /** Inserts at a [[slot]] index, dropping the worst hit when full. */
  def insert(at: Int, hit: UnsafeRow): Unit = {
    val kept = math.min(size, k - 1)
    System.arraycopy(hits, at, hits, at + 1, kept - at)
    hits(at) = hit
    size = kept + 1
  }
}

/** Per-group bounded top-k as a `TypedImperativeAggregate`: the `k`
  * payloads whose `(score, id)` rank first under Spark's own ordering
  * for `score DESC NULLS LAST, id ASC NULLS FIRST`, returned best
  * first. It is the exact answer of `row_number() <= k` over that
  * window order — NaN scores rank first, -0.0 and 0.0 tie, null scores
  * rank after every non-null one — without sorting the group.
  *
  * Per input row only `score` and `id` are evaluated and compared; the
  * `payload` struct is evaluated and copied only when the row enters
  * the buffer, so a group of n rows copies about k·ln(n/k) payloads in
  * arbitrary input order. State is k rows per group, with map-side
  * partial aggregation and k-way merges from the aggregate contract.
  */
case class TopKAgg(
    score: Expression,
    id: Expression,
    payload: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  require(k >= 1, s"graft_top_k k must be >= 1, got $k")

  override def prettyName: String = "graft_top_k"
  override def dataType: DataType = ArrayType(payload.dataType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(score, id, payload)

  override def checkInputDataTypes(): TypeCheckResult =
    if (!payload.dataType.isInstanceOf[StructType])
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a STRUCT payload, got ${payload.dataType.catalogString}")
    else if (!RowOrdering.isOrderable(score.dataType) || !RowOrdering.isOrderable(id.dataType))
      TypeCheckResult.TypeCheckFailure(s"$prettyName expects orderable score and id, got " +
        s"${score.dataType.catalogString} / ${id.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess

  // per-instance, and Spark copies the function for every aggregation
  // iterator, so the reused `cand` row is never shared between tasks
  @transient private lazy val ordering: BaseOrdering = RowOrdering.create(Seq(
    SortOrder(BoundReference(0, score.dataType, nullable = true), Descending),
    SortOrder(BoundReference(1, id.dataType, nullable = true), Ascending)), Nil)
  @transient private lazy val toHit =
    UnsafeProjection.create(Array(score.dataType, id.dataType, payload.dataType))
  @transient private lazy val cand = new GenericInternalRow(3)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    cand.update(0, score.eval(input))
    cand.update(1, id.eval(input))
    val at = buf.slot(cand, ordering)
    if (at >= 0) {
      cand.update(2, payload.eval(input))
      buf.insert(at, toHit(cand).copy())
    }
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    // `other` is sorted: once one of its hits misses, the rest miss too
    var i = 0
    var at = 0
    while (i < other.size && at >= 0) {
      at = buf.slot(other.hits(i), ordering)
      if (at >= 0) buf.insert(at, other.hits(i))
      i += 1
    }
    buf
  }

  override def eval(buf: TopKBuffer): Any = {
    val n = payload.dataType.asInstanceOf[StructType].size
    new GenericArrayData(Array.tabulate[Any](buf.size)(i => buf.hits(i).getStruct(2, n)))
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val rows = buf.hits.take(buf.size).map(_.getBytes)
    val bb = ByteBuffer.allocate(4 + rows.map(4 + _.length).sum)
    bb.putInt(rows.length)
    rows.foreach { r => bb.putInt(r.length); bb.put(r) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new TopKBuffer(k)
    buf.size = bb.getInt
    var i = 0
    while (i < buf.size) {
      val b = new Array[Byte](bb.getInt)
      bb.get(b)
      val hit = new UnsafeRow(3)
      hit.pointTo(b, b.length)
      buf.hits(i) = hit
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKAgg =
    copy(score = newChildren(0), id = newChildren(1), payload = newChildren(2))
}

object TopKAgg {
  import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

  /** Column-API entry: `topK(score, id, struct(...), k)` inside `agg(...)`. */
  def topK(score: Column, id: Column, payload: Column, k: Int): Column =
    column(TopKAgg(expression(score), expression(id), expression(payload), k)
      .toAggregateExpression())
}
