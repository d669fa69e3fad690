package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.BitHistAgg

/** Scalable EXACT quantiles: the 100 TB replacement for a global
  * `expr("percentile(c, p)")`.
  *
  * Spark's exact `percentile` buffers a counts-map over every distinct
  * value into ONE final aggregation state — a single-reducer bottleneck
  * that does not survive a large corpus. This computes the identical
  * result (same order statistics, same interpolation arithmetic as
  * Percentile.getPercentile, hence bit-identical output) by driver-
  * orchestrated radix selection instead:
  *
  *   1. one `bithist` pass summarizes each column's candidate values in
  *      bounded state (≤ 3×4096 longs per aggregate, map-side
  *      combinable — no unbounded value buffering anywhere). While the
  *      candidates hold at most 4,607 distinct values the state is their
  *      exact (key, weight) list, sorted, and the driver reads every
  *      order statistic straight off it: such a selection finishes in the
  *      pass that sees it;
  *   2. past that the state is a 4096-bucket histogram of the bit key;
  *      the driver walks the cumulative counts to locate the bucket
  *      holding each target rank, then re-histograms WITHIN that bucket
  *      (12 more bits per pass). A bucket whose min==max key is resolved
  *      immediately, and so is one whose next pass comes back exact;
  *      6 passes is the worst-case bound (64 bits / 12 per pass).
  *
  * All requested (column, probability) pairs share the same passes: one
  * job per round regardless of how many quantiles are in flight, and
  * every round is a full map-side-combined tree aggregate. Ranks needing
  * interpolation (fractional position) resolve as two selections.
  *
  * [[parts]] returns each quantile's position and the two order
  * statistics it interpolates between; [[quantiles]] is that valued with
  * `percentile`'s arithmetic. Order statistics commute with a monotone
  * map, so the same parts also give the quantile of a clamped column
  * without a pass over it (the health ETL's IQR cap, see
  * [[Parts.value]]).
  *
  * Nulls are ignored and NaN sorts above +Inf — `percentile` semantics
  * exactly (see [[graft.functions.BitHistAgg.keyOf]]).
  */
object ScalableQuantile {

  private val Width = 12            // bits refined per pass
  private val NBuckets = 1 << Width // 4096

  /** One order-statistic selection in progress: the 0-based rank still
    * to skip among the candidates, the candidates being the keys whose
    * high `64 - prefixShift` bits equal `prefix`. */
  private class Cursor {
    var remaining: Long = 0L
    var prefix: Long = 0L
    var prefixShift: Int = 64   // bits NOT yet resolved
    var done: Option[Long] = None

    /** Walks one `bithist` result over this cursor's candidates to its
      * rank: an exact-form result, a single-key bucket or the last 12
      * bits finish the selection; otherwise the prefix narrows to the
      * rank's bucket. */
    def advance(h: Array[Long], what: => String): Unit = {
      var rem = remaining
      if (BitHistAgg.isExact(h)) {
        val n = BitHistAgg.exactSize(h)
        var i = 0
        while (i < n && rem >= h(2 + 2 * i)) { rem -= h(2 + 2 * i); i += 1 }
        require(i < n, s"rank not found in $what")
        done = Some(h(1 + 2 * i))
        return
      }
      val bucketShift = math.max(prefixShift - Width, 0)
      var b = 0
      while (b < NBuckets && rem >= h(b)) { rem -= h(b); b += 1 }
      require(b < NBuckets, s"rank not found in $what")
      val minU = h(NBuckets + b)
      // single distinct key, or all 64 bits resolved (bucketShift==0
      // buckets are singleton key values by construction)
      if (minU == h(2 * NBuckets + b) || bucketShift == 0) done = Some(minU)
      else {
        prefix = (prefix << (prefixShift - bucketShift)) | b.toLong
        prefixShift = bucketShift
        remaining = rem
      }
    }
  }

  private final class Sel(val colIdx: Int, val rank: Long) extends Cursor {
    remaining = rank
  }

  /** Total weight in a `bithist` result (the non-null count for `bithist`). */
  private def total(h: Array[Long]): Long =
    if (BitHistAgg.isExact(h)) (0 until BitHistAgg.exactSize(h)).map(i => h(2 + 2 * i)).sum
    else h.take(NBuckets).sum

  /** Where one quantile falls among a column's n sorted non-null values:
    * its position p·(n−1) and the order statistics at the position's
    * floor and ceiling, the two that Spark's `percentile` interpolates
    * between. */
  final case class Parts(pos: Double, lower: Double, higher: Double) {

    /** The quantile of `f(column)`, for an `f` that is monotone
      * non-decreasing in `percentile`'s order (NaN above +Inf): order
      * statistics commute with such a map, so this repeats
      * `PercentileBase.getPercentile`'s arithmetic, early returns
      * included, on `f(lower)` and `f(higher)`. Bit-identical to
      * `percentile` over the mapped column. */
    def value(f: Double => Double): Double = {
      val lo = pos.floor.toLong
      val hi = pos.ceil.toLong
      val lowerVal = f(lower)
      if (lo == hi) return lowerVal
      val higherVal = f(higher)
      if (higherVal == lowerVal) lowerVal
      else (hi - pos) * lowerVal + (pos - lo) * higherVal
    }

    /** The quantile itself: `percentile`'s value, bit for bit. */
    def value: Double = value(identity[Double] _)
  }

  /** The [[Parts]] of many (column, probs) pairs, resolved in ≤6 shared
    * aggregate passes. Returns (column, prob) → parts; None when the
    * column has no non-null rows (as `percentile` returns null). Columns
    * are cast to double first — identical to `percentile`'s result for
    * any value exactly representable as a double.
    */
  def parts(df: DataFrame, specs: Seq[(String, Seq[Double])])
      : Map[(String, Double), Option[Parts]] = {
    val cols = specs.map(_._1)

    // Round 1: unconditional histogram per column; its total weight is
    // the non-null count, so no separate count pass is needed.
    val first = histPass(df, cols.zipWithIndex.map { case (c, i) =>
      (i, c, 64, 0L)
    })
    val counts: Map[Int, Long] = first.map { case ((i, _, _), h) => i -> total(h) }

    // Target positions; one selection per (colIdx, rank), shared across
    // probs
    val positions: Seq[((String, Double), Int, Option[Double])] =
      specs.zipWithIndex.flatMap { case ((c, ps), i) =>
        val n = counts(i)
        ps.map(p => ((c, p), i, if (n == 0) None else Some(p * (n - 1))))
      }
    val selMap = scala.collection.mutable.LinkedHashMap[(Int, Long), Sel]()
    positions.foreach { case (_, i, pos) =>
      pos.foreach(p => Seq(p.floor.toLong, p.ceil.toLong).foreach { r =>
        selMap.getOrElseUpdate((i, r), new Sel(i, r))
      })
    }

    // Resolve round 1 from the already-computed histograms, then iterate.
    advance(selMap.values.toSeq, first, cols)
    var round = 1
    while (selMap.values.exists(_.done.isEmpty)) {
      round += 1
      require(round <= 6, "bit selection failed to terminate") // 64 bits / 12 per pass
      val running = selMap.values.filter(_.done.isEmpty).toSeq
      val needs = running.map(s => (s.colIdx, cols(s.colIdx), s.prefixShift, s.prefix)).distinct
      advance(running, histPass(df, needs), cols)
    }

    def stat(i: Int, rank: Long) = BitHistAgg.keyToDouble(selMap((i, rank)).done.get)
    positions.map { case (key, i, pos) =>
      key -> pos.map(p => Parts(p, stat(i, p.floor.toLong), stat(i, p.ceil.toLong)))
    }.toMap
  }

  /** Exact interpolated quantiles: the [[Parts]] of each pair, valued. */
  def quantiles(df: DataFrame, specs: Seq[(String, Seq[Double])])
      : Map[(String, Double), Option[Double]] =
    parts(df, specs).map { case (k, p) => k -> p.map(_.value) }

  /** Single convenience median over several columns. */
  def medians(df: DataFrame, cols: Seq[String]): Map[String, Option[Double]] =
    quantiles(df, cols.map(c => c -> Seq(0.5))).map { case ((c, _), v) => c -> v }

  private final class WSel(val label: String, val cond: org.apache.spark.sql.Column)
      extends Cursor {
    var empty: Boolean = false
  }

  /** Exact LOWER weighted median per labeled slice: the smallest value v
    * with 2·cumweight(≤ v) ≥ W (total weight). Same radix selection as
    * [[quantiles]], but over `bithistw` weight-sum histograms — the
    * scalable replacement for `percentile(value, 0.5, freq)`, whose
    * counts-map final state is a single-reducer bottleneck. All slices
    * share each pass (one aggregate column per still-running slice, the
    * slice condition folded into the value via CASE so nulls skip).
    * Rows with null or ≤0 weight are ignored. Returns None for a slice
    * with no weighted rows. The result is always an actual data value
    * (no interpolation), so it is bit-exact across engines.
    */
  def weightedLowerMedians(df: DataFrame, valueCol: String, weightCol: String,
      slices: Seq[(String, org.apache.spark.sql.Column)]): Map[String, Option[Double]] = {
    val sels = slices.map { case (l, c) => new WSel(l, c) }

    def hist(needs: Seq[WSel]): Map[WSel, Array[Long]] = {
      val aggCols = needs.zipWithIndex.map { case (s, j) =>
        call_function("bithistw",
          when(s.cond, col(valueCol).cast("double")),
          col(weightCol).cast("long"),
          lit(s.prefixShift), lit(s.prefix),
          lit(math.max(s.prefixShift - Width, 0)), lit(NBuckets)).as(s"__h$j")
      }
      val row = df.select(aggCols: _*).head()
      needs.zipWithIndex.map { case (s, j) => s -> row.getSeq[Long](j).toArray }.toMap
    }

    val first = hist(sels)
    sels.foreach { s =>
      val w = total(first(s))
      if (w == 0) s.empty = true
      // lower median = weighted 0-based rank ceil(W/2) - 1
      else s.remaining = (w + 1) / 2 - 1
    }
    sels.filterNot(_.empty).foreach(s => s.advance(first(s), s"slice ${s.label}"))
    var round = 1
    while (sels.exists(s => !s.empty && s.done.isEmpty)) {
      round += 1
      require(round <= 6, "weighted bit selection failed to terminate")
      val running = sels.filter(s => !s.empty && s.done.isEmpty)
      val hs = hist(running)
      running.foreach(s => s.advance(hs(s), s"slice ${s.label}"))
    }
    sels.map(s => s.label -> (if (s.empty) None
                              else s.done.map(BitHistAgg.keyToDouble))).toMap
  }

  /** One aggregate job computing a `bithist` per (colIdx, col, prefixShift,
    * prefix) need. Returns each need's state: exact or dense.
    */
  private def histPass(df: DataFrame,
      needs: Seq[(Int, String, Int, Long)]): Map[(Int, Int, Long), Array[Long]] = {
    val aggCols = needs.zipWithIndex.map { case ((_, c, ps, pf), j) =>
      expr(s"bithist(CAST(`$c` AS DOUBLE), $ps, ${pf}L, ${math.max(ps - Width, 0)}, $NBuckets)")
        .as(s"__h$j")
    }
    val row = df.select(aggCols: _*).head()
    needs.zipWithIndex.map { case ((i, _, ps, pf), j) =>
      (i, ps, pf) -> row.getSeq[Long](j).toArray
    }.toMap
  }

  private def advance(running: Seq[Sel],
      hists: Map[(Int, Int, Long), Array[Long]], cols: Seq[String]): Unit =
    running.foreach { s =>
      s.advance(hists((s.colIdx, s.prefixShift, s.prefix)),
        s"histogram of ${cols(s.colIdx)} at rank ${s.rank}")
    }
}
