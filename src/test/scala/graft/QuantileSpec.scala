package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.BitHistAgg
import graft.util.ScalableQuantile

/** ScalableQuantile must reproduce Spark's exact `percentile` BIT-FOR-BIT
  * — it replaces it on every global-quantile path (a12, a13, the health
  * ETL's three passes), so any deviation breaks the DuckDB oracles and the
  * pandas bit-exact ETL diff. The ETL also values a column's order
  * statistics through its IQR cap, so that path is held to the same bits.
  */
class QuantileSpec extends AnyFunSuite {
  import SparkTestSession._

  private def sparkPercentile(df: org.apache.spark.sql.DataFrame,
      c: String, p: Double): Option[Double] = {
    val r = df.agg(expr(s"percentile(CAST(`$c` AS DOUBLE), ${p}D)")).head()
    if (r.isNullAt(0)) None else Some(r.getDouble(0))
  }

  // the exact form's cap at ScalableQuantile's 4096 buckets (4,607)
  private val cap = BitHistAgg.exactCap(4096)
  private val probs = Seq(0.0, 0.25, 0.5, 0.75, 1.0)

  /** `n` distinct doubles, bit-adjacent in steps of 3 above 1.0 so they
    * share one bucket down to the last radix passes, every 7th one twice
    * and a null: a candidate set of exactly `n` keys on every pass until
    * the rank's bucket falls under the cap. */
  private def boundaryValues(n: Int): Seq[java.lang.Double] = {
    val base = java.lang.Double.doubleToLongBits(1.0)
    val vs = (0 until n).map(k => java.lang.Double.longBitsToDouble(base + 3L * k))
    (vs ++ vs.indices.filter(_ % 7 == 0).map(vs)).map(Double.box) :+ null
  }

  test("bit key is order-isomorphic and invertible") {
    val vals = Seq(Double.NegativeInfinity, -1e300, -2.5, -1.0, -Double.MinPositiveValue,
      -0.0, 0.0, Double.MinPositiveValue, 0.1, 1.0, 2.5, 1e300, Double.PositiveInfinity,
      Double.NaN)
    val keys = vals.map(BitHistAgg.keyOf)
    assert(keys.sliding(2).forall { case Seq(a, b) =>
      java.lang.Long.compareUnsigned(a, b) < 0 })
    vals.zip(keys).foreach { case (v, k) =>
      val back = BitHistAgg.keyToDouble(k)
      assert(java.lang.Double.doubleToLongBits(back) ==
        java.lang.Double.doubleToLongBits(v), s"round-trip $v")
    }
  }

  test("matches percentile bit-for-bit on real tables (nulls included)") {
    val li = graft.Tables.lineitem(spark, sf)
    val ev = graft.Tables.events(spark, sf)
    val probs = Seq(0.25, 0.5, 0.75)
    val got = ScalableQuantile.quantiles(li,
      Seq("l_quantity" -> probs, "l_extendedprice" -> probs))
    for (c <- Seq("l_quantity", "l_extendedprice"); p <- probs) {
      val want = sparkPercentile(li, c, p)
      assert(got((c, p)).map(java.lang.Double.doubleToLongBits) ==
        want.map(java.lang.Double.doubleToLongBits), s"$c @ $p: ${got((c, p))} vs $want")
    }
    // events.value has nulls — percentile ignores them
    val gotEv = ScalableQuantile.quantiles(ev, Seq("value" -> Seq(0.5)))
    assert(gotEv(("value", 0.5)).map(java.lang.Double.doubleToLongBits) ==
      sparkPercentile(ev, "value", 0.5).map(java.lang.Double.doubleToLongBits))
  }

  test("adversarial full-64-bit spread exercises the deep-refinement bound") {
    // values spanning ~2000 binades plus ULP-adjacent clusters: every
    // radix pass down to the last 12 bits must refine correctly (worst
    // case for the 4096-bucket histogram: the quantile sits inside a
    // cluster of bit-adjacent doubles, so early passes cannot isolate it)
    val s = spark
    import s.implicits._
    val base = java.lang.Double.doubleToLongBits(1.0)
    val cluster = (0 until 64).map(k => java.lang.Double.longBitsToDouble(base + k))
    val spread = Seq(-1e308, -1e300, -1.0, -1e-300, -Double.MinPositiveValue,
      -0.0, 0.0, Double.MinPositiveValue, 1e-300, 1e300, 1e308)
    val vs = (cluster ++ spread).map(Double.box)
    val df = vs.toDF("v")
    Seq(0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0).foreach { p =>
      val got = ScalableQuantile.quantiles(df, Seq("v" -> Seq(p)))(("v", p))
      val want = sparkPercentile(df, "v", p)
      assert(got.map(java.lang.Double.doubleToLongBits) ==
        want.map(java.lang.Double.doubleToLongBits), s"@ $p: $got vs $want")
    }
  }

  test("weighted lower median == brute-force expansion, and weights actually matter") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    // deterministic but irregular weights, including a 0-weight and a null value
    val rows: Seq[(java.lang.Double, java.lang.Long)] =
      (1 to 200).map(i => (Double.box(((i * 37) % 101).toDouble + i / 300.0),
                           Long.box(((i * 13) % 7 + (if (i % 11 == 0) 0 else 1)).toLong))) ++
      Seq((null: java.lang.Double, Long.box(5L)))
    val df = rows.toDF("v", "w")
    val got = ScalableQuantile.weightedLowerMedians(
      df, "v", "w", Seq("all" -> lit(true), "half" -> (col("w") >= 3)))
    // brute force: repeat each value by weight, sort, pick ceil(W/2)-1
    def brute(f: ((java.lang.Double, java.lang.Long)) => Boolean): Double = {
      val expanded = rows.filter(r => r._1 != null && r._2 > 0 && f(r))
        .flatMap { case (v, w) => Seq.fill(w.toInt)(v.doubleValue) }.sorted
      expanded(((expanded.size + 1) / 2 - 1).toInt)
    }
    assert(got("all") == Some(brute(_ => true)), s"all: ${got("all")}")
    assert(got("half") == Some(brute(_._2 >= 3)), s"half: ${got("half")}")
    // weighting must shift the answer vs the unweighted median on this data
    val unweighted = ScalableQuantile.medians(df, Seq("v"))("v").get
    assert(got("all").get != unweighted, "weights had no effect — test data too uniform")
    // all-zero-weight slice resolves to None, not an error
    val none = ScalableQuantile.weightedLowerMedians(df, "v", "w", Seq("z" -> lit(false)))
    assert(none("z").isEmpty)
  }

  test("edge cases: tiny n, duplicates, negatives, all-null") {
    val s = spark
    import s.implicits._
    val cases: Seq[Seq[java.lang.Double]] = Seq(
      Seq(42.0),                                  // n = 1
      Seq(1.0, 2.0),                              // n = 2, interpolation
      Seq(-5.0, -1.0, 3.5, 3.5, 3.5, 100.0),      // duplicates + negatives
      Seq(0.0, -0.0, 1.0, null),                  // signed zero + null
      Seq(null, null),                            // all null -> None
      Seq(2.0, 2.0, 2.0, 2.0))                    // all equal
    cases.foreach { vs =>
      val df = vs.toDF("v")
      Seq(0.0, 0.25, 0.5, 0.75, 1.0).foreach { p =>
        val got = ScalableQuantile.quantiles(df, Seq("v" -> Seq(p)))(("v", p))
        val want = sparkPercentile(df, "v", p)
        assert(got.map(java.lang.Double.doubleToLongBits) ==
          want.map(java.lang.Double.doubleToLongBits), s"$vs @ $p: $got vs $want")
      }
    }
  }

  test("exact and dense forms agree with percentile across the cap, under 1 and 13 partitions") {
    val s = spark
    import s.implicits._
    for (n <- Seq(cap - 1, cap, cap + 1, 2 * cap); parts <- Seq(1, 13)) {
      val df = boundaryValues(n).toDF("v").repartition(parts)
      val got = ScalableQuantile.quantiles(df, Seq("v" -> probs))
      val want = df.agg(expr(s"percentile(v, array(${probs.mkString(", ")}))")).head()
        .getSeq[Double](0)
      probs.zip(want).foreach { case (p, w) =>
        assert(got(("v", p)).map(java.lang.Double.doubleToLongBits) ==
          Some(java.lang.Double.doubleToLongBits(w)), s"n=$n parts=$parts @ $p")
      }
    }
  }

  test("every update and merge path gives the histogram the rows build directly") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.types.DoubleType
    val agg = BitHistAgg(BoundReference(0, DoubleType, nullable = true),
      Literal(64), Literal(0L), Literal(52), Literal(4096))
    def build(vs: Seq[Double]): Array[Long] =
      vs.foldLeft(agg.createAggregationBuffer())((b, v) => agg.update(b, InternalRow(v)))
    // a shuffle hands partial states over in serialized form
    def ship(h: Array[Long]): Array[Long] = agg.deserialize(agg.serialize(h))
    def dense(h: Array[Long]): Seq[Long] =
      if (!BitHistAgg.isExact(h)) h.toSeq
      else {
        val pairs = (0 until BitHistAgg.exactSize(h)).map(i => (h(1 + 2 * i), h(2 + 2 * i)))
        val byBucket = pairs.groupBy { case (u, _) => ((u >>> 52) & 4095).toInt }
        val (counts, mins, maxs) = (0 until 4096).map { b =>
          byBucket.get(b).fold((0L, -1L, 0L)) { ps =>
            (ps.map(_._2).sum, ps.head._1, ps.last._1)
          }
        }.unzip3
        counts ++ mins ++ maxs
      }
    val vs = boundaryValues(2 * cap + 2).filter(_ != null).map(_.doubleValue) ++
      Seq(-1e300, -0.0, 0.0, 7.5, 7.5, Double.PositiveInfinity)
    val (small1, small2) = (vs.take(cap / 2), vs.slice(cap / 4, cap))
    val (big1, big2) = (vs.take(cap + 5), vs.drop(cap - 3))
    val cases = Seq(
      "exact+exact" -> (small1, small2),
      "exact+exact, union at the cap" -> (vs.take(cap - 3), vs.slice(cap - 10, cap)),
      "exact+exact, union one past the cap" -> (vs.take(cap - 3), vs.slice(cap - 10, cap + 1)),
      "exact+dense" -> (small1, big2),
      "dense+exact" -> (big1, small2),
      "dense+dense" -> (big1, big2))
    for ((name, (a, b)) <- cases) {
      val mergedState = agg.merge(ship(build(a)), ship(build(b)))
      val merged = ship(mergedState)
      val direct = ship(build(a ++ b))
      // updates may resume on a state that came back sorted or dense
      val resumed = ship(b.foldLeft(ship(build(a)))((h, v) => agg.update(h, InternalRow(v))))
      val distinct = (a ++ b).map(BitHistAgg.keyOf).distinct.size
      assert(BitHistAgg.isExact(merged) == (distinct <= cap), s"$name form")
      assert(BitHistAgg.isExact(direct) == (distinct <= cap), s"$name direct form")
      assert(dense(merged) == dense(direct), s"$name histogram")
      assert(dense(resumed) == dense(direct), s"$name updates after shipping")
      val counts = (a ++ b).groupBy(BitHistAgg.keyOf).map { case (u, xs) => (u, xs.size.toLong) }
        .toSeq.sortWith((x, y) => java.lang.Long.compareUnsigned(x._1, y._1) < 0)
      val want = (~counts.size.toLong) +: counts.flatMap { case (u, c) => Seq(u, c) }
      assert(dense(merged) == dense(want.toArray), s"$name histogram vs counted rows")
      if (BitHistAgg.isExact(merged)) assert(merged.toSeq == want, s"$name pairs vs counted rows")
      assert(agg.eval(mergedState).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray().toSeq == merged.toSeq, s"$name eval == serialize")
    }
    // the empty state is exact with no keys and serializes to one long
    assert(agg.serialize(agg.createAggregationBuffer()).length == 8)
    assert(agg.serialize(build(vs)).length == 8 * 3 * 4096)
  }

  test("weighted lower median == brute-force expansion across the cap") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    for (n <- Seq(cap - 1, cap, cap + 1, 2 * cap)) {
      val rows = boundaryValues(n).zipWithIndex.map { case (v, k) =>
        (v, Long.box(if (k % 11 == 0) 0L else 1L + (k * 7) % 5))
      }
      val df = rows.toDF("v", "w").repartition(13)
      val got = ScalableQuantile.weightedLowerMedians(
        df, "v", "w", Seq("all" -> lit(true), "heavy" -> (col("w") >= 3)))
      def brute(f: Long => Boolean): Double = {
        val expanded = rows.filter(r => r._1 != null && r._2 > 0 && f(r._2))
          .flatMap { case (v, w) => Seq.fill(w.toInt)(v.doubleValue) }.sorted
        expanded((expanded.size + 1) / 2 - 1)
      }
      assert(got("all") == Some(brute(_ => true)), s"n=$n all")
      assert(got("heavy") == Some(brute(_ >= 3)), s"n=$n heavy")
    }
  }

  test("Parts valued through a cap == percentile over the capped column, bit for bit") {
    val s = spark
    import s.implicits._
    val specials: Seq[java.lang.Double] = Seq(null, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, 0.0, -2.5, 1.0, 3.0, 3.0, 7.25)
    val finite: Seq[java.lang.Double] = Seq(-0.0, 0.0, 1.0, 2.0, 2.0, 5.5, null)
    val datasets = Seq(
      "specials, even n" -> specials,
      "specials, odd n" -> (specials :+ Double.box(1e300)),
      "finite, even n" -> finite,
      "finite, odd n" -> finite.drop(1),
      "all null" -> Seq[java.lang.Double](null, null, null),
      "dense" -> (boundaryValues(2 * cap) ++ specials))
    // below, at and inside the data, above the finite sets, and NaN
    val bounds = Seq(Double.NegativeInfinity, -1e308, -2.5, -0.0, 0.0, 2.0, 3.0, 1e308,
      Double.PositiveInfinity, Double.NaN)
    val pairs = for (lo <- bounds; hi <- bounds) yield (lo, hi)
    val ps = Seq(0.0, 0.1, 0.25, 0.5, 0.75, 1.0)
    for ((name, vs) <- datasets) {
      val df = vs.toDF("v").repartition(3)
      val v = col("v")
      // the ETL's cap: null stays null (greatest/least skip nulls)
      val want = df.agg(pairs.map { case (lo, hi) =>
        call_function("percentile", when(v.isNull, lit(null).cast("double"))
          .otherwise(greatest(lit(lo), least(lit(hi), v))), typedLit(ps.toArray))
      }.head, pairs.tail.map { case (lo, hi) =>
        call_function("percentile", when(v.isNull, lit(null).cast("double"))
          .otherwise(greatest(lit(lo), least(lit(hi), v))), typedLit(ps.toArray))
      }: _*).head()
      val got = ScalableQuantile.parts(df, Seq("v" -> ps))
      pairs.zipWithIndex.foreach { case ((lo, hi), j) =>
        val w = if (want.isNullAt(j)) ps.map(_ => None) else want.getSeq[Double](j).map(Some(_))
        ps.zip(w).foreach { case (p, wp) =>
          val g = got(("v", p)).map(_.value(graft.health.HealthEtl.capValue(lo, hi)))
          assert(g.map(java.lang.Double.doubleToRawLongBits) ==
            wp.map(java.lang.Double.doubleToRawLongBits),
            s"$name, cap [$lo, $hi] @ $p: $g vs $wp")
        }
      }
      // unclamped, the parts value to percentile itself
      ps.foreach { p =>
        assert(got(("v", p)).map(pp => java.lang.Double.doubleToRawLongBits(pp.value)) ==
          sparkPercentile(df, "v", p).map(java.lang.Double.doubleToRawLongBits), s"$name @ $p")
      }
    }
  }

  test("a quantile over at most cap values resolves in one pass, one job") {
    val s = spark
    import s.implicits._
    def jobs(n: Int): Int = {
      val df = boundaryValues(n).toDF("v").coalesce(1)
      QueryMetrics(spark)(ScalableQuantile.quantiles(df, Seq("v" -> probs)))._2.jobs
    }
    assert(jobs(cap) == 1)
    assert(jobs(cap + 1) > 1)
  }
}
