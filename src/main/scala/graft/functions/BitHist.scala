package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `bithist(value, prefixShift, prefix, bucketShift, nBuckets)` — bounded
  * histogram over the order-isomorphic bit image of a double column, the
  * building block of the scalable EXACT quantile
  * (graft.util.ScalableQuantile).
  *
  * Why it exists: Spark's exact `percentile` is an ObjectHashAggregate
  * whose final state holds a counts-map over EVERY distinct value — a
  * single-reducer memory bottleneck that OOMs a global quantile at 100 TB.
  * This aggregate's state is a FIXED 3×nBuckets long array (≤ ~100 KB at
  * the default 4096 buckets) regardless of input size: counts, plus the
  * min/max bit-key actually seen per bucket (the min==max case lets the
  * driver-side selection terminate as soon as a bucket holds one distinct
  * value — 2–3 passes in practice on real data).
  *
  * The bit image `u` of a double is the classic monotone map (flip all
  * bits of negatives, set the sign bit of positives): unsigned order on
  * `u` equals java.lang.Double.compare order on the value, INCLUDING
  * -0.0 < 0.0 and NaN above +Inf — exactly the ordering Spark's
  * `percentile` sorts by, so rank selection over `u` reproduces
  * `percentile`'s order statistics bit-for-bit.
  *
  * A row contributes iff `(u >>> prefixShift) == prefix` (prefixShift ≥ 64
  * means "all rows"); its bucket is `(u >>> bucketShift) & (nBuckets-1)`.
  * Nulls are skipped, mirroring `percentile`.
  *
  * The weighted form `bithistw(value, weight, ...)` accumulates int64
  * WEIGHT per bucket instead of row counts (rows with null or ≤0 weight
  * are skipped) — the building block of the exact weighted quantile,
  * where `percentile(value, p, freq)`'s counts-map state has the same
  * single-reducer bottleneck as the unweighted one.
  */
case class BitHistAgg(
    child: Expression,
    prefixShiftE: Expression,
    prefixE: Expression,
    bucketShiftE: Expression,
    nBucketsE: Expression,
    weightE: Expression = org.apache.spark.sql.catalyst.expressions.Literal(1L),
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  private lazy val prefixShift: Int =
    prefixShiftE.eval(InternalRow.empty).asInstanceOf[Number].intValue()
  private lazy val prefix: Long =
    prefixE.eval(InternalRow.empty).asInstanceOf[Number].longValue()
  private lazy val bucketShift: Int =
    bucketShiftE.eval(InternalRow.empty).asInstanceOf[Number].intValue()
  private lazy val nBuckets: Int =
    nBucketsE.eval(InternalRow.empty).asInstanceOf[Number].intValue()

  override def children: Seq[Expression] =
    Seq(child, prefixShiftE, prefixE, bucketShiftE, nBucketsE, weightE)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "bithist"

  // layout: [counts | minKeys | maxKeys], each nBuckets long
  override def createAggregationBuffer(): Array[Long] = {
    val a = new Array[Long](3 * nBuckets)
    java.util.Arrays.fill(a, nBuckets, 2 * nBuckets, -1L)        // min = unsigned max
    // max block stays 0 = unsigned min
    a
  }

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val wAny = weightE.eval(input)
      val w = if (wAny == null) 0L else wAny.asInstanceOf[Number].longValue()
      if (w > 0) {
        val u = BitHistAgg.keyOf(v.asInstanceOf[Double])
        if (prefixShift >= 64 || (u >>> prefixShift) == prefix) {
          val b = ((u >>> bucketShift) & (nBuckets - 1)).toInt
          val first = buf(b) == 0
          buf(b) += w
          if (first || java.lang.Long.compareUnsigned(u, buf(nBuckets + b)) < 0)
            buf(nBuckets + b) = u
          if (first || java.lang.Long.compareUnsigned(u, buf(2 * nBuckets + b)) > 0)
            buf(2 * nBuckets + b) = u
        }
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var b = 0
    while (b < nBuckets) {
      if (other(b) > 0) {
        if (buf(b) == 0) {
          buf(nBuckets + b) = other(nBuckets + b)
          buf(2 * nBuckets + b) = other(2 * nBuckets + b)
        } else {
          if (java.lang.Long.compareUnsigned(other(nBuckets + b), buf(nBuckets + b)) < 0)
            buf(nBuckets + b) = other(nBuckets + b)
          if (java.lang.Long.compareUnsigned(other(2 * nBuckets + b), buf(2 * nBuckets + b)) > 0)
            buf(2 * nBuckets + b) = other(2 * nBuckets + b)
        }
        buf(b) += other(b)
      }
      b += 1
    }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BitHistAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BitHistAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): BitHistAgg =
    copy(child = newChildren(0), prefixShiftE = newChildren(1),
      prefixE = newChildren(2), bucketShiftE = newChildren(3),
      nBucketsE = newChildren(4), weightE = newChildren(5))
}

object BitHistAgg {

  /** Monotone bit image: unsigned order on the result == IEEE-754 total
    * order on the double (java.lang.Double.compare semantics). */
  def keyOf(d: Double): Long = {
    val raw = java.lang.Double.doubleToLongBits(d)
    if (raw < 0) ~raw else raw | Long.MinValue
  }

  /** Inverse of [[keyOf]]. */
  def keyToDouble(u: Long): Double = {
    val raw = if (u < 0) u & Long.MaxValue else ~u
    java.lang.Double.longBitsToDouble(raw)
  }
}
