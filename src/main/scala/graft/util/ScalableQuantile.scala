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
  *   1. one `bithist` pass partitions each column's values into 4096
  *      buckets of the order-isomorphic bit key (fixed ~100 KB state per
  *      aggregate, map-side combinable — no value buffering anywhere);
  *   2. the driver walks the cumulative counts to locate the bucket
  *      holding each target rank, then re-histograms WITHIN that bucket
  *      (12 more bits per pass). A bucket whose min==max key is resolved
  *      immediately — on real (clustered, duplicate-heavy) data most
  *      selections finish in 2–3 passes; 6 passes is the worst-case
  *      bound (64 bits / 12 per pass).
  *
  * All requested (column, probability) pairs share the same passes: one
  * job per round regardless of how many quantiles are in flight, and
  * every round is a full map-side-combined tree aggregate. Ranks needing
  * interpolation (fractional position) resolve as two selections.
  *
  * Nulls are ignored and NaN sorts above +Inf — `percentile` semantics
  * exactly (see [[graft.functions.BitHistAgg.keyOf]]).
  */
object ScalableQuantile {

  private val Width = 12            // bits refined per pass
  private val NBuckets = 1 << Width // 4096

  private final case class Sel(colIdx: Int, rank: Long) {
    var remaining: Long = rank  // rank within the current candidate set
    var prefix: Long = 0L       // resolved high bits of the bit key
    var prefixShift: Int = 64   // bits NOT yet resolved
    var done: Option[Long] = None
  }

  /** Exact interpolated quantiles for many (column, probs) pairs in ≤6
    * shared aggregate passes. Returns (column, prob) → value; None when
    * the column has no non-null rows (as `percentile` returns null).
    * Columns are cast to double first — identical to `percentile`'s
    * result for any value exactly representable as a double.
    */
  def quantiles(df: DataFrame, specs: Seq[(String, Seq[Double])])
      : Map[(String, Double), Option[Double]] = {
    val cols = specs.map(_._1)

    // Round 1: unconditional histogram per column; bucket sums double as
    // the non-null counts, so no separate count pass is needed.
    val first = histPass(df, cols.zipWithIndex.map { case (c, i) =>
      (i, c, 64, 0L)
    })
    val counts: Map[Int, Long] = first.map { case ((i, _, _), h) =>
      i -> h.take(NBuckets).sum
    }

    // Target positions and the order-statistic ranks they need.
    val positions: Seq[((String, Double), Int, Option[(Double, Long, Long)])] =
      specs.zipWithIndex.flatMap { case ((c, ps), i) =>
        ps.map { p =>
          val n = counts(i)
          if (n == 0) ((c, p), i, None)
          else {
            val pos = p * (n - 1)
            ((c, p), i, Some((pos, pos.floor.toLong, pos.ceil.toLong)))
          }
        }
      }
    // selections keyed by (colIdx, rank), deduplicated across probs
    val selMap = scala.collection.mutable.LinkedHashMap[(Int, Long), Sel]()
    specs.zipWithIndex.foreach { case ((c, ps), i) =>
      val n = counts(i)
      if (n > 0) ps.foreach { p =>
        val pos = p * (n - 1)
        Seq(pos.floor.toLong, pos.ceil.toLong).foreach { r =>
          selMap.getOrElseUpdate((i, r), Sel(i, r))
        }
      }
    }

    // Resolve round 1 from the already-computed histograms, then iterate.
    advance(selMap.values.toSeq, first.map { case ((i, _, _), h) => (i, 64, 0L) -> h }.toMap, cols)
    var round = 1
    while (selMap.values.exists(_.done.isEmpty)) {
      round += 1
      require(round <= 6, "bit selection failed to terminate") // 64 bits / 12 per pass
      val running = selMap.values.filter(_.done.isEmpty).toSeq
      val needs = running.map(s => (s.colIdx, cols(s.colIdx), s.prefixShift, s.prefix)).distinct
      advance(running, histPass(df, needs), cols)
    }

    val values: Map[(Int, Long), Double] = selMap.map { case (k, s) =>
      k -> BitHistAgg.keyToDouble(s.done.get)
    }.toMap
    positions.map {
      case (key, _, None) => key -> None
      case (key, i, Some((pos, lo, hi))) =>
        val lowerVal = values((i, lo))
        val higherVal = values((i, hi))
        // interpolation arithmetic mirrors Percentile.getPercentile so the
        // result is bit-identical to Spark's exact percentile
        val v =
          if (lo == hi || higherVal == lowerVal) lowerVal
          else (hi - pos) * lowerVal + (pos - lo) * higherVal
        key -> Some(v)
    }.toMap
  }

  /** Single convenience median over several columns. */
  def medians(df: DataFrame, cols: Seq[String]): Map[String, Option[Double]] =
    quantiles(df, cols.map(c => c -> Seq(0.5))).map { case ((c, _), v) => c -> v }

  private final class WSel(val label: String, val cond: org.apache.spark.sql.Column) {
    var remaining: Long = 0L
    var prefix: Long = 0L
    var prefixShift: Int = 64
    var done: Option[Long] = None
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

    def advance(s: WSel, h: Array[Long]): Unit = {
      val bucketShift = math.max(s.prefixShift - Width, 0)
      val width = s.prefixShift - bucketShift
      var b = 0
      var rem = s.remaining
      var found = false
      while (!found && b < NBuckets) {
        val c = h(b)
        if (rem < c) {
          found = true
          val minU = h(NBuckets + b)
          val maxU = h(2 * NBuckets + b)
          if (minU == maxU || bucketShift == 0) s.done = Some(minU)
          else {
            s.prefix = (s.prefix << width) | b.toLong
            s.prefixShift = bucketShift
            s.remaining = rem
          }
        } else { rem -= c; b += 1 }
      }
      require(found, s"weighted rank not found for slice ${s.label}")
    }

    val first = hist(sels)
    sels.foreach { s =>
      val w = first(s).take(NBuckets).sum
      if (w == 0) s.empty = true
      // lower median = weighted 0-based rank ceil(W/2) - 1
      else s.remaining = (w + 1) / 2 - 1
    }
    sels.filterNot(_.empty).foreach(s => advance(s, first(s)))
    var round = 1
    while (sels.exists(s => !s.empty && s.done.isEmpty)) {
      round += 1
      require(round <= 6, "weighted bit selection failed to terminate")
      val running = sels.filter(s => !s.empty && s.done.isEmpty)
      val hs = hist(running)
      running.foreach(s => advance(s, hs(s)))
    }
    sels.map(s => s.label -> (if (s.empty) None
                              else s.done.map(BitHistAgg.keyToDouble))).toMap
  }

  /** One aggregate job computing a `bithist` per (colIdx, col, prefixShift,
    * prefix) need. Returns each need's 3×NBuckets array.
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

  /** Walk each running selection's histogram: locate the bucket holding
    * its rank, finish if the bucket has one distinct key, else narrow the
    * prefix by one level.
    */
  private def advance(running: Seq[Sel],
      hists: Map[(Int, Int, Long), Array[Long]], cols: Seq[String]): Unit =
    running.foreach { s =>
      val h = hists((s.colIdx, s.prefixShift, s.prefix))
      val bucketShift = math.max(s.prefixShift - Width, 0)
      val width = s.prefixShift - bucketShift
      var b = 0
      var rem = s.remaining
      var found = false
      while (!found && b < NBuckets) {
        val c = h(b)
        if (rem < c) {
          found = true
          val minU = h(NBuckets + b)
          val maxU = h(2 * NBuckets + b)
          if (minU == maxU || bucketShift == 0) {
            // single distinct key, or all 64 bits resolved (bucketShift==0
            // buckets are singleton key values by construction)
            s.done = Some(minU)
          } else {
            s.prefix = (s.prefix << width) | b.toLong
            s.prefixShift = bucketShift
            s.remaining = rem
          }
        } else { rem -= c; b += 1 }
      }
      require(found, s"rank ${s.rank} not found in histogram of ${cols(s.colIdx)}")
    }
}
