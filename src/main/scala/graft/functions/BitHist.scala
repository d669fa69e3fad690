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
  * This aggregate's state never exceeds 3×nBuckets longs (~100 KB at the
  * default 4096 buckets) regardless of input size. It has two forms:
  *
  *  - EXACT, while the contributing rows carry at most
  *    [[BitHistAgg.exactCap]] (4,607 at 4096 buckets) distinct keys: a
  *    negative header long, then (bit key, weight) pairs. Dense counts are
  *    never negative, so the header's sign tells the forms apart. Updates
  *    build it as an open-addressing hash table of
  *    [[BitHistAgg.slots]] (6,143) slots filled to at most three
  *    quarters, so a row costs one short probe, not a search; `eval` and
  *    `serialize` return the n pairs sorted by unsigned key after the
  *    header `~n`, and the driver finishes a selection from them directly;
  *  - DENSE: counts, plus the min/max bit key actually seen per bucket
  *    (the min==max case lets the driver-side selection terminate as soon
  *    as a bucket holds one distinct value).
  *
  * A buffer starts exact and turns dense, for good, when an update or a
  * merge adds a key past the cap; the dense result is the same histogram
  * the rows would have built directly. A merge adds the other state's
  * pairs or buckets one by one.
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
  * WEIGHT per key or bucket instead of row counts (rows with null or ≤0
  * weight are skipped) — the building block of the exact weighted
  * quantile, where `percentile(value, p, freq)`'s counts-map state has the
  * same single-reducer bottleneck as the unweighted one.
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

  private lazy val cap: Int = BitHistAgg.exactCap(nBuckets)
  private lazy val slots: Int = BitHistAgg.slots(nBuckets)

  // the same 3×nBuckets-long allocation a dense buffer takes
  override def createAggregationBuffer(): Array[Long] = {
    val a = new Array[Long](1 + 2 * slots)
    a(0) = BitHistAgg.hashHeader(0)
    a
  }

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) return buf
    val wAny = weightE.eval(input)
    val w = if (wAny == null) 0L else wAny.asInstanceOf[Number].longValue()
    val u = BitHistAgg.keyOf(v.asInstanceOf[Double])
    if (w > 0 && (prefixShift >= 64 || (u >>> prefixShift) == prefix)) add(buf, u, w)
    else buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] =
    if (!BitHistAgg.isExact(other)) {
      val dense = if (BitHistAgg.isExact(buf)) toDense(buf) else buf
      var b = 0
      while (b < nBuckets) {
        if (other(b) > 0) addDense(dense, b, other(b), other(nBuckets + b), other(2 * nBuckets + b))
        b += 1
      }
      dense
    } else {
      var out = buf
      var i = 0
      while (i < BitHistAgg.pairSlots(other)) {
        if (other(2 + 2 * i) > 0) out = add(out, other(1 + 2 * i), other(2 + 2 * i))
        i += 1
      }
      out
    }

  /** Adds weight `w` at key `u`: in place, or in a hashed or dense copy. */
  private def add(buf: Array[Long], u: Long, w: Long): Array[Long] = {
    if (!BitHistAgg.isExact(buf)) {
      addDense(buf, bucketOf(u), w, u, u)
      return buf
    }
    if (!BitHistAgg.isHashed(buf)) return add(merge(createAggregationBuffer(), buf), u, w)
    val i = find(buf, u)
    val n = BitHistAgg.exactSize(buf)
    if (buf(2 + 2 * i) > 0) buf(2 + 2 * i) += w
    else if (n == cap) { val d = toDense(buf); addDense(d, bucketOf(u), w, u, u); return d }
    else {
      buf(1 + 2 * i) = u
      buf(2 + 2 * i) = w
      buf(0) = BitHistAgg.hashHeader(n + 1)
    }
    buf
  }

  /** The slot holding key `u` in a hashed form, or the empty one where it
    * goes: linear probing from a multiplicative hash. */
  private def find(h: Array[Long], u: Long): Int = {
    var i = (((u * 0x9E3779B97F4A7C15L) >>> 32) * slots >>> 32).toInt
    while (h(2 + 2 * i) > 0 && h(1 + 2 * i) != u) i = if (i + 1 == slots) 0 else i + 1
    i
  }

  private def bucketOf(u: Long): Int = ((u >>> bucketShift) & (nBuckets - 1)).toInt

  // dense layout: [counts | minKeys | maxKeys], each nBuckets long
  private def addDense(dense: Array[Long], b: Int, w: Long, minU: Long, maxU: Long): Unit = {
    val first = dense(b) == 0
    dense(b) += w
    if (first || java.lang.Long.compareUnsigned(minU, dense(nBuckets + b)) < 0)
      dense(nBuckets + b) = minU
    if (first || java.lang.Long.compareUnsigned(maxU, dense(2 * nBuckets + b)) > 0)
      dense(2 * nBuckets + b) = maxU
  }

  private def toDense(exact: Array[Long]): Array[Long] = {
    val a = new Array[Long](3 * nBuckets)
    java.util.Arrays.fill(a, nBuckets, 2 * nBuckets, -1L)        // min = unsigned max
    // max block stays 0 = unsigned min
    merge(a, exact)
  }

  /** The sorted exact form of a hashed one; other forms as they are. */
  private def sorted(h: Array[Long]): Array[Long] =
    if (!BitHistAgg.isHashed(h)) h
    else {
      val n = BitHistAgg.exactSize(h)
      // flipping the sign bit makes the signed sort the unsigned order
      val keys = new Array[Long](n)
      var k = 0
      var i = 0
      while (i < slots) {
        if (h(2 + 2 * i) > 0) { keys(k) = h(1 + 2 * i) ^ Long.MinValue; k += 1 }
        i += 1
      }
      java.util.Arrays.sort(keys)
      val out = new Array[Long](1 + 2 * n)
      out(0) = ~n.toLong
      k = 0
      while (k < n) {
        val u = keys(k) ^ Long.MinValue
        out(1 + 2 * k) = u
        out(2 + 2 * k) = h(2 + 2 * find(h, u))
        k += 1
      }
      out
    }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(sorted(buf))

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val out = sorted(buf)
    val bb = ByteBuffer.allocate(out.length * 8)
    out.foreach(bb.putLong)
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

  /** Slots of the hashed exact form: its header plus two longs per slot
    * stay below the dense form's 3×nBuckets longs. */
  def slots(nBuckets: Int): Int = (3 * nBuckets - 1) / 2

  /** Most distinct keys the exact form holds: three quarters of the
    * slots, so a probe stays short. */
  def exactCap(nBuckets: Int): Int = slots(nBuckets) * 3 / 4

  /** True for an exact (key, weight) form, false for the dense histogram. */
  def isExact(h: Array[Long]): Boolean = h(0) < 0

  /** Number of (key, weight) pairs in an exact form. */
  def exactSize(h: Array[Long]): Int = (~h(0)).toInt

  /** True for the hashed exact form updates build; the sorted one that
    * `eval` and `serialize` return has a clear bit 32 under its `~`. */
  private def isHashed(h: Array[Long]): Boolean = isExact(h) && ((~h(0)) >>> 32) != 0

  private def hashHeader(n: Int): Long = ~(n.toLong | (1L << 32))

  /** Pair positions in an exact form: every slot of a hashed one (empty
    * ones have weight 0), every pair of a sorted one. */
  private def pairSlots(h: Array[Long]): Int = (h.length - 1) / 2

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
