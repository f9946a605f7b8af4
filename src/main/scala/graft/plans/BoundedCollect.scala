package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** collect_list for long keys with a HARD per-group element cap
  * (round 19, the sharedShingleEdges one-scan rewrite): append stops
  * at `limit`, so a degenerate group (a boilerplate shingle held by
  * the whole corpus) buffers at most `limit` longs per aggregation
  * buffer instead of a corpus-sized array — the exact unbounded-
  * collect hazard the former stats-then-semi-join two-pass shape
  * existed to avoid.
  *
  * Self-guarding: the buffer also keeps the exact count of non-null
  * inputs seen, and a group that saw MORE than `limit` values
  * evaluates to null, never to a truncated array. A group of at most
  * `limit` values collects COMPLETELY (partials can only under-fill;
  * merge concatenates then re-caps) and is element-equal to
  * collect_list up to order — and the collect_list order was never
  * deterministic to begin with (ArrayPairsSpec's longPairs consumers
  * are order-insensitive by value). Callers no longer have to pair
  * the aggregate with an exact count filter for correctness.
  */
case class BoundedCollectLong(child: Expression, limit: Int,
                              mutableAggBufferOffset: Int = 0,
                              inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BoundedCollect.Buffer] {
  import BoundedCollect.Buffer
  require(limit > 0, "bounded_collect_long limit must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bounded_collect_long requires a long argument, got $other")
  }
  override def children: Seq[Expression] = child :: Nil
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "bounded_collect_long"

  override def createAggregationBuffer(): Buffer = new Buffer

  override def update(buffer: Buffer, input: InternalRow): Buffer = {
    val v = child.eval(input)
    if (v != null) {
      buffer.seen += 1
      if (buffer.elems.length < limit) buffer.elems += v.asInstanceOf[Long]
    }
    buffer
  }

  override def merge(buffer: Buffer, other: Buffer): Buffer = {
    buffer.seen += other.seen
    var i = 0
    while (buffer.elems.length < limit && i < other.elems.length) {
      buffer.elems += other.elems(i)
      i += 1
    }
    buffer
  }

  override def eval(buffer: Buffer): Any =
    if (buffer.seen > limit) null
    else new GenericArrayData(buffer.elems.toArray)

  override def serialize(buffer: Buffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * (buffer.elems.length + 1))
    bb.putLong(buffer.seen)
    var i = 0
    while (i < buffer.elems.length) { bb.putLong(buffer.elems(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Buffer
    out.seen = bb.getLong()
    while (bb.remaining() >= 8) out.elems += bb.getLong()
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedCollectLong =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedCollectLong =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BoundedCollectLong =
    copy(child = newChildren.head)
}

object BoundedCollect {
  /** Aggregation buffer: the exact non-null count and at most `limit`
    * of the values.
    */
  final class Buffer {
    var seen: Long = 0L
    val elems: ArrayBuffer[Long] = ArrayBuffer.empty
  }

  def boundedCollectLong(child: Column, limit: Int): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      BoundedCollectLong(
        org.apache.spark.sql.graftbridge.Bridge.expression(child), limit)
        .toAggregateExpression())
}
