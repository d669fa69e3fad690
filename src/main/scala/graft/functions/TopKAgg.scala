package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** `topk(value, k)` — bounded top-k aggregate (largest k doubles,
  * descending) as a Catalyst TypedImperativeAggregate.
  *
  * Why it exists: the standard group-wise top-k (`row_number() OVER
  * (PARTITION BY g ORDER BY v DESC) <= k`, Windows.w01TopNPerGroup)
  * must shuffle and SORT every row of every group. This aggregate keeps
  * only a k-element bound per partial state, combines map-side, and
  * ships O(k) bytes per group per partition — at 100 TB the difference
  * between sorting the fact table and a partial-aggregated pass.
  *
  * State is a scala PriorityQueue (min-heap of up to k values);
  * serialization is a plain double array (k ≤ a few thousand by
  * contract — it is a TOP-k, not a sort).
  */
case class TopKAgg(
    child: Expression,
    kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[scala.collection.mutable.PriorityQueue[Double]] {

  private lazy val k: Int = kExpr.eval(InternalRow.empty).asInstanceOf[Number].intValue()

  override def children: Seq[Expression] = Seq(child, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "topk"

  // min-heap: head is the SMALLEST of the kept values → O(log k) evict
  override def createAggregationBuffer(): scala.collection.mutable.PriorityQueue[Double] =
    scala.collection.mutable.PriorityQueue.empty[Double](Ordering[Double].reverse)

  override def update(buf: scala.collection.mutable.PriorityQueue[Double],
                      input: InternalRow): scala.collection.mutable.PriorityQueue[Double] = {
    val v = child.eval(input)
    if (v != null) {
      val d = v.asInstanceOf[Double]
      if (buf.size < k) buf.enqueue(d)
      else if (d > buf.head) { buf.dequeue(); buf.enqueue(d) }
    }
    buf
  }

  override def merge(buf: scala.collection.mutable.PriorityQueue[Double],
                     other: scala.collection.mutable.PriorityQueue[Double]): scala.collection.mutable.PriorityQueue[Double] = {
    other.foreach { d =>
      if (buf.size < k) buf.enqueue(d)
      else if (d > buf.head) { buf.dequeue(); buf.enqueue(d) }
    }
    buf
  }

  override def eval(buf: scala.collection.mutable.PriorityQueue[Double]): Any =
    new GenericArrayData(buf.toArray.sorted(Ordering[Double].reverse))

  override def serialize(buf: scala.collection.mutable.PriorityQueue[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 8)
    bb.putInt(buf.size)
    buf.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): scala.collection.mutable.PriorityQueue[Double] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    (0 until n).foreach(_ => buf.enqueue(bb.getDouble))
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TopKAgg =
    copy(child = newChildren(0), kExpr = newChildren(1))
}
