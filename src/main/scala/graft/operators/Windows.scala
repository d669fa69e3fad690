package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QueryDef, Tables}
import graft.util.Exact._

/** Window-function family: ranking, offsets, running/rolling frames,
  * distribution. The reference's only implicit windows are the grouped-
  * median transform and the global row number (SURVEY §2.5); this fills the
  * rest of the surface. Every window here partitions by a real key — the
  * one global window in the engine (a15_row_number) is documented as the
  * small-data path, with the partition-parallel variant in ScaleOps.
  */
object Windows {

  /** rank / dense_rank / row_number + top-N-per-group filter: top-3 orders
    * per market segment by price. The sort happens once per partition key;
    * Catalyst plans a single Exchange + Sort + Window.
    */
  def w01TopNPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val cus = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .join(broadcast(cus), col("o_custkey") === col("c_custkey"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("c_mktsegment"), col("rk").cast(IntegerType).as("rk"),
              col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("c_mktsegment"), col("rk"))
  }

  private val w01Sql =
    """SELECT c_mktsegment, CAST(rk AS INTEGER) AS rk, o_orderkey, o_totalprice
      |FROM (
      |  SELECT c_mktsegment, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
      |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      |  FROM orders JOIN customer ON o_custkey = c_custkey)
      |WHERE rk <= 3
      |ORDER BY c_mktsegment, rk""".stripMargin

  /** lag/lead offsets: per-user event value delta vs previous event. */
  def w02LagDelta(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .select(col("event_id"), col("user_id"),
        round(col("value") - col("prev_value"), 4).as("delta"),
        col("next_type"))
      .orderBy(col("event_id"))
  }

  private val w02Sql =
    """SELECT event_id, user_id,
      |  ROUND("value" - LAG("value", 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4) AS delta,
      |  LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** Rolling frame: 5-row moving average of event value per user. The avg
    * is computed as exact decimal sum / count so the result is identical
    * in any engine and under any partitioning.
    */
  def w03RollingAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-4, 0)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        (sum(dec(col("value"), 2)).over(w).cast(DoubleType) /
           count(col("value")).over(w)).as("moving_avg"))
      .orderBy(col("event_id"))
  }

  private val w03Sql =
    """SELECT event_id, user_id,
      |  CAST(SUM(CAST("value" AS DECIMAL(18,2))) OVER w AS DOUBLE)
      |    / COUNT("value") OVER w AS moving_avg
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  /** Running total + share-of-partition: cumulative spend per customer over
    * time, plus each order's fraction of the customer's total (exact
    * decimal sums → exact division).
    */
  def w04RunningShare(spark: SparkSession, dir: String): DataFrame = {
    val run = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val all = Window.partitionBy(col("o_custkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        sum(dec(col("o_totalprice"))).over(run).cast(DoubleType).as("running_spend"),
        (dec(col("o_totalprice")).cast(DoubleType) /
           sum(dec(col("o_totalprice"))).over(all).cast(DoubleType)).as("share"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  private val w04Sql =
    """SELECT o_custkey, o_orderkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
      |    / CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey) AS DOUBLE) AS share
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** ntile + percent_rank distribution buckets over account balances —
    * WITHOUT the global single-partition window the naive
    * `ntile(10).over(Window.orderBy(...))` plans (it was the engine's
    * last unbounded one-partition sort). Both statistics are pure
    * functions of the global row number, which [[ScaleOps.denseIds]]
    * supplies partition-parallel (range repartition + per-partition
    * offsets): SQL NTILE(k) FRONT-LOADS the n mod k oversized tiles —
    * with q = n div k and m = n mod k, the first m tiles hold q+1 rows
    * and the rest hold q, so the closed form is
    * `if r ≤ m·(q+1) then ⌊(r−1)/(q+1)⌋+1 else m + ⌊(r−1−m·(q+1))/q⌋+1`.
    * (The tempting ⌊(r−1)·k/n⌋+1 distributes the oversized tiles EVENLY
    * across the range and diverges whenever n mod k ≠ 0 — e.g. n=12:
    * SQL puts row 4 in tile 2, the even form yields 3. TPC-H customer
    * is always a multiple of 10, so only the Round7OpsSpec property
    * test on a non-multiple cardinality can catch that bug.) And
    * PERCENT_RANK ≡ (r−1)/(n−1) (ties impossible: c_custkey is a total
    * tiebreak, matching the window's ORDER BY). n arrives as a 1-row
    * broadcast, so every stage is partition-parallel at any scale.
    */
  /** SQL text of the front-loaded NTILE(`k`) closed form over a 1-based
    * global row number column `r` and a total-count column `n` — exactly
    * SQL NTILE's tile assignment for every n (Round7OpsSpec property-
    * tests it on cardinalities not divisible by k, where the even form
    * diverges). The q = 0 (n < k) case stays in the WHEN branch
    * (r ≤ m·1 = n always), so the ELSE's `div q` never sees a zero
    * divisor (CASE WHEN is lazy in codegen).
    */
  private[graft] def ntileClosedForm(r: String, n: String, k: Int): String =
    s"""CAST(CASE WHEN $r <= ($n % $k) * ($n div $k + 1)
       |     THEN ($r - 1) div ($n div $k + 1) + 1
       |     ELSE ($n % $k) + ($r - 1 - ($n % $k) * ($n div $k + 1)) div ($n div $k) + 1
       |     END AS INT)""".stripMargin

  def w05Distribution(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(spark, dir).select(col("c_custkey"), col("c_acctbal"))
    val n = base.agg(count(lit(1)).as("n"))
    ScaleOps.denseIds(base, Seq("c_acctbal", "c_custkey"), "r")
      .crossJoin(broadcast(n))
      .select(col("c_custkey"),
        expr(ntileClosedForm("r", "n", 10)).as("decile"),
        // greatest(n−1, 1): a 1-row input must give 0.0 like
        // PERCENT_RANK(), not 0.0/0.0 = NaN
        round((col("r") - 1).cast("double") /
            greatest(col("n") - 1, lit(1L)).cast("double"), 6)
          .as("pct_rank"))
      .orderBy(col("c_custkey"))
  }

  private val w05Sql =
    """SELECT c_custkey,
      |  CAST(NTILE(10) OVER (ORDER BY c_acctbal ASC, c_custkey ASC) AS INTEGER) AS decile,
      |  ROUND(PERCENT_RANK() OVER (ORDER BY c_acctbal ASC, c_custkey ASC), 6) AS pct_rank
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  /** w06 — the same top-3-per-segment answer as w01, computed by the
    * custom [[graft.functions.TopKAgg]] aggregate instead of a window:
    * partial top-k states combine map-side, so nothing ever sorts the
    * full fact table. Output exploded to (segment, rank, price).
    */
  def w06TopKAggregate(spark: SparkSession, dir: String): DataFrame = {
    val cus = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    Tables.orders(spark, dir)
      .join(broadcast(cus), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(expr("topk(o_totalprice, 3)").as("top3"))
      .select(col("c_mktsegment"), posexplode(col("top3")).as(Seq("pos", "o_totalprice")))
      .select(col("c_mktsegment"), (col("pos") + 1).cast(IntegerType).as("rk"),
              col("o_totalprice"))
      .orderBy(col("c_mktsegment"), col("rk"))
  }

  private val w06Sql =
    """SELECT c_mktsegment, CAST(rk AS INTEGER) AS rk, o_totalprice
      |FROM (
      |  SELECT c_mktsegment, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
      |                       ORDER BY o_totalprice DESC) AS rk
      |  FROM orders JOIN customer ON o_custkey = c_custkey)
      |WHERE rk <= 3
      |ORDER BY c_mktsegment, rk""".stripMargin

  /** w07 — cume_dist + dense_rank, PARTITIONED by segment (unlike w05's
    * deliberately-global decile ranking, this is the shape that scales:
    * each partition ranks independently, one shuffle on the key).
    */
  def w07CumeDist(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"),
        round(cume_dist().over(w), 6).as("cd"),
        dense_rank().over(w).cast(IntegerType).as("drk"))
      .orderBy(col("c_custkey"))
  }

  private val w07Sql =
    """SELECT c_custkey, c_mktsegment,
      |  ROUND(CUME_DIST() OVER (PARTITION BY c_mktsegment
      |                          ORDER BY c_acctbal ASC, c_custkey ASC), 6) AS cd,
      |  CAST(DENSE_RANK() OVER (PARTITION BY c_mktsegment
      |                          ORDER BY c_acctbal ASC, c_custkey ASC) AS INTEGER) AS drk
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  /** w08 — batch sessionization via gap detection: a new session starts
    * when a user's inter-event gap exceeds 30 minutes; session index =
    * running count of session starts per user; then one aggregate per
    * (user, session). The lag + cumulative-flag idiom is THE standard
    * batch sessionizer (st04/flatSessionize are its streaming duals).
    *
    * Scale shape: ONE hash shuffle on user_id serves both windows (same
    * partition key, Catalyst plans a single Exchange) and the final
    * aggregate re-uses it. Value sums use floor-to-cents int64 so the
    * result is bit-identical under any partitioning or engine.
    */
  def w08Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val wLag = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val wRun = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // all time arithmetic in epoch MICROS (the events table is
    // microsecond-precise) so both engines compare identical integers;
    // value sums floor to cents for partition-order invariance
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        floor(col("value") * 100).cast(LongType).as("cents"))
      .withColumn("new_sess",
        when(lag(col("us"), 1).over(wLag).isNull
          or col("us") - lag(col("us"), 1).over(wLag) > 1800L * 1000000L, 1L)
        .otherwise(0L))
      .withColumn("session_idx", sum(col("new_sess")).over(wRun))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
           min(col("us")).as("session_start_us"),
           max(col("us")).as("session_end_us"),
           sum(col("cents")).as("sum_cents"))
      .withColumn("duration_us", col("session_end_us") - col("session_start_us"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  private val w08Sql =
    """WITH flagged AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    CAST(FLOOR(value * 100) AS BIGINT) AS cents,
      |    CASE WHEN LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
      |           OR epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) > 1800 * 1000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events),
      |sess AS (
      |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      |  FROM flagged)
      |SELECT user_id, session_idx, COUNT(*) AS n_events,
      |  MIN(us) AS session_start_us, MAX(us) AS session_end_us,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  MAX(us) - MIN(us) AS duration_us
      |FROM sess
      |GROUP BY user_id, session_idx
      |ORDER BY user_id, session_idx""".stripMargin

  /** w09 — time-RANGE window frame: per user, the count and exact sum
    * of events in the trailing 2-hour interval ending at each event —
    * a `RANGE BETWEEN` frame over epoch-micros, not a row-count frame
    * (w03): the frame width follows the DATA's timestamps, so bursts
    * and gaps change how many rows each frame holds. Peers with equal
    * timestamps enter the frame together in every engine, which is what
    * makes the result engine-independent. The trailing-interval shape
    * is the batch analogue of a sliding streaming window (st02) — same
    * semantics, windowed per row instead of per bucket.
    */
  def w09RangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-7200000000L, 0) // 2 h in micros, inclusive
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("value"))
      .withColumn("n_2h", count(lit(1)).over(w))
      .withColumn("sum_2h",
        sum(col("value").cast(DecimalType(18, 2))).over(w)
          .cast(DoubleType))
      .select(col("event_id"), col("user_id"), col("us"), col("n_2h"), col("sum_2h"))
      .orderBy(col("event_id"))
  }

  private val w09Sql =
    """SELECT event_id, user_id, epoch_us(ts) AS us,
      |  COUNT(*) OVER w AS n_2h,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_2h
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |             RANGE BETWEEN 7200000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  /** w10 — last-observation-carried-forward gap fill: sensor/telemetry
    * tables carry sparse measurements, and the standard repair is "each
    * row sees the latest non-null reading at or before it" — a
    * `last_value(... IGNORE NULLS)` running frame, which Spark evaluates
    * in one pass per partition (no self-join, no correlated subquery).
    * Nulls are planted deterministically ('view' events report no
    * value) so the oracle sees the same gaps. Rows before the first
    * reading stay null — LOCF never invents data. The filled value is a
    * carried INPUT double (no arithmetic), so cross-engine equality is
    * bit-trivial. Scale shape: one hash shuffle on user_id; the frame
    * is streaming (running state = one value), never buffering the
    * partition.
    */
  def w10LocfFill(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"),
        when(col("event_type") =!= "view", col("value")).as("reading"))
      .withColumn("filled", last(col("reading"), ignoreNulls = true).over(w))
      .withColumn("was_gap", col("reading").isNull && col("filled").isNotNull)
      .select(col("event_id"), col("user_id"), col("us"),
        col("filled"), col("was_gap"))
      .orderBy(col("event_id"))
  }

  private val w10Sql =
    """WITH s AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS us,
      |    CASE WHEN event_type <> 'view' THEN value END AS reading
      |  FROM events),
      |f AS (
      |  SELECT *, LAST_VALUE(reading IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      |  FROM s)
      |SELECT event_id, user_id, us, filled,
      |  (reading IS NULL AND filled IS NOT NULL) AS was_gap
      |FROM f ORDER BY event_id""".stripMargin

  /** w11 — cohort retention over the event stream: users are cohorted by
    * their first active epoch-day, then each (cohort, day-offset) cell
    * counts the distinct users still active. The classic growth-analytics
    * matrix, and a window/agg composition the reference's dashboard
    * queries gesture at (A2 yearly trends) without the per-entity anchor.
    *
    * Scale shape: ONE hash exchange on user_id serves the cohort-anchor
    * window (min day per user); the retention cell aggregate then
    * shuffles on (cohort, offset) with partial distinct. The cohort-size
    * denominator is the offset-0 diagonal picked out by a window over
    * the aggregated CELLS (weeks² rows) — a self-join against the raw
    * aggregate would re-scan the whole event stream a second time. All
    * time math is integer epoch-micros → epoch-days; retention is
    * emitted in exact ppm (integer floor division) so no float quotient
    * crosses the engine boundary.
    */
  def w11CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val wUser = Window.partitionBy(col("user_id"))
    val wCohort = Window.partitionBy(col("cohort_day"))
    val base = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .withColumn("cohort_day", min(col("day")).over(wUser))
    base
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"),
           count(lit(1)).as("n_events"))
      .withColumn("cohort_size",
        max(when(col("day_offset") === 0, col("n_active"))).over(wCohort))
      .select(col("cohort_day"), col("day_offset"), col("n_active"),
        col("n_events"),
        expr("n_active * 1000000 div cohort_size").as("retention_ppm"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  private val w11Sql =
    """WITH w AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |    MIN(epoch_us(ts) // 86400000000) OVER (PARTITION BY user_id) AS cohort_day
      |  FROM events),
      |cells AS (
      |  SELECT cohort_day, day - cohort_day AS day_offset,
      |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active,
      |    COUNT(*) AS n_events
      |  FROM w GROUP BY 1, 2)
      |SELECT cohort_day, day_offset, n_active, n_events,
      |  CAST(n_active * 1000000 //
      |    MAX(CASE WHEN day_offset = 0 THEN n_active END)
      |      OVER (PARTITION BY cohort_day) AS BIGINT) AS retention_ppm
      |FROM cells
      |ORDER BY cohort_day, day_offset""".stripMargin

  /** w12 — ORDERED, time-bounded funnel conversion (view → click within
    * 6 h → purchase within 6 h more, other events freely interleaved):
    * the sequence-pattern query behind every product-analytics funnel
    * (MATCH_RECOGNIZE's most common case). Stage progress is a chain of
    * running-max timestamps — "latest view", "latest click within 6 h
    * of a view", "purchase within 6 h of that" — so membership in stage
    * k is decidable per row with O(1) state.
    *
    * Scale shape: both running maxes share ONE (user_id) exchange and
    * sort; the per-user collapse reuses the same key. No collect_list
    * of event sequences, no self-joins — at 100 TB the funnel costs one
    * shuffle of (user, time, type) triples.
    */
  def w12FunnelSteps(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = 6L * 3600L * 1000000L
    val wRun = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val staged = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("last_view_us",
        max(when(col("event_type") === "view", col("us"))).over(wRun))
      .withColumn("vc_us",
        when(col("event_type") === "click" && col("last_view_us").isNotNull &&
             col("us") - col("last_view_us") <= gapUs, col("us")))
      .withColumn("last_vc_us", max(col("vc_us")).over(wRun))
      .withColumn("is_full",
        when(col("event_type") === "purchase" && col("last_vc_us").isNotNull &&
             col("us") - col("last_vc_us") <= gapUs, 1).otherwise(0))
    staged.groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "view", 1).otherwise(0)).as("s1"),
           max(when(col("vc_us").isNotNull, 1).otherwise(0)).as("s2"),
           max(col("is_full")).as("s3"))
      .agg(count(lit(1)).as("n_users"),
           sum(col("s1")).as("n_view"),
           sum(col("s2")).as("n_view_click"),
           sum(col("s3")).as("n_full_funnel"))
      .select(col("n_users"), col("n_view"), col("n_view_click"),
        col("n_full_funnel"),
        expr("n_full_funnel * 1000000 div n_view").as("conversion_ppm"))
  }

  private val w12Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
      |s1 AS (
      |  SELECT *, MAX(CASE WHEN event_type = 'view' THEN us END)
      |    OVER (PARTITION BY user_id ORDER BY us, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_us
      |  FROM e),
      |s2 AS (
      |  SELECT *, CASE WHEN event_type = 'click' AND last_view_us IS NOT NULL
      |                  AND us - last_view_us <= CAST(21600000000 AS BIGINT)
      |                 THEN us END AS vc_us
      |  FROM s1),
      |s3 AS (
      |  SELECT *, MAX(vc_us)
      |    OVER (PARTITION BY user_id ORDER BY us, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_vc_us
      |  FROM s2),
      |s4 AS (
      |  SELECT *, CASE WHEN event_type = 'purchase' AND last_vc_us IS NOT NULL
      |                  AND us - last_vc_us <= CAST(21600000000 AS BIGINT)
      |                 THEN 1 ELSE 0 END AS is_full
      |  FROM s3),
      |u AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS s1,
      |    MAX(CASE WHEN vc_us IS NOT NULL THEN 1 ELSE 0 END) AS s2,
      |    MAX(is_full) AS s3
      |  FROM s4 GROUP BY user_id)
      |SELECT COUNT(*) AS n_users,
      |  CAST(SUM(s1) AS BIGINT) AS n_view,
      |  CAST(SUM(s2) AS BIGINT) AS n_view_click,
      |  CAST(SUM(s3) AS BIGINT) AS n_full_funnel,
      |  CAST(SUM(s3) * 1000000 // SUM(s1) AS BIGINT) AS conversion_ppm
      |FROM u""".stripMargin

  /** w13 — gaps-and-islands: each user's longest streak of CONSECUTIVE
    * active days. The island identity — `day - dense_rank(day)` is
    * constant exactly within a consecutive run — turns streak detection
    * into a plain aggregation, the canonical SQL-pattern the reference's
    * trend queries stop short of.
    *
    * Scale shape: one (user) exchange serves the dedup-to-days
    * aggregate, the ranking window, and both streak aggregates — no
    * self-joins, no sequence materialization.
    */
  def w13LongestStreak(spark: SparkSession, dir: String): DataFrame = {
    val wRank = Window.partitionBy(col("user_id")).orderBy(col("day"))
    Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
      .withColumn("island", col("day") - dense_rank().over(wRank))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("streak"))
      .groupBy(col("user_id"))
      .agg(sum(col("streak")).as("n_active_days"),
           max(col("streak")).as("longest_streak"),
           count(lit(1)).as("n_streaks"))
      .orderBy(col("user_id"))
  }

  private val w13Sql =
    """WITH d AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |i AS (
      |  SELECT user_id, day,
      |    day - DENSE_RANK() OVER (PARTITION BY user_id ORDER BY day) AS island
      |  FROM d),
      |s AS (
      |  SELECT user_id, island, COUNT(*) AS streak
      |  FROM i GROUP BY user_id, island)
      |SELECT user_id,
      |  CAST(SUM(streak) AS BIGINT) AS n_active_days,
      |  CAST(MAX(streak) AS BIGINT) AS longest_streak,
      |  COUNT(*) AS n_streaks
      |FROM s
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** w14 — time-weighted average value (TWAP) per user-day: each event's
    * value holds until the next event (step-function semantics), the last
    * event of the day holds to midnight, and the day's average weights
    * each value by its holding duration — the time-series resampling
    * primitive a plain AVG gets wrong whenever sampling is irregular
    * (bursts over-represent themselves in an unweighted mean).
    *
    * Exactness: durations are int64 micros, values int64 cents, so the
    * weighted sum is exact integer math (≤ 8.6e15 per row, no overflow);
    * only the final divide is floating point, identically parenthesized
    * in both engines. One exchange on (user, day) serves the lead()
    * and the aggregate.
    */
  def w14Twap(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("day", expr("us div 86400000000"))
    val w = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("us"), col("event_id"))
    base
      .withColumn("dur",
        coalesce(lead(col("us"), 1).over(w), (col("day") + 1) * 86400000000L) - col("us"))
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("cents") * col("dur")).as("wsum"),
           sum(col("dur")).as("tdur"))
      .select(col("user_id"), col("day"), col("n_events"),
        round(col("wsum").cast("double") / col("tdur") / 100.0, 6).as("twap"))
      .orderBy(col("user_id"), col("day"))
  }

  private val w14Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) us,
      |    CAST(round("value" * 100) AS BIGINT) cents,
      |    epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |x AS (
      |  SELECT user_id, day, cents,
      |    COALESCE(LEAD(us) OVER (PARTITION BY user_id, day ORDER BY us, event_id),
      |             (day + 1) * 86400000000) - us AS dur
      |  FROM e)
      |SELECT user_id, day, COUNT(*) AS n_events,
      |  ROUND(CAST(SUM(cents * dur) AS DOUBLE) / SUM(dur) / 100.0, 6) AS twap
      |FROM x
      |GROUP BY user_id, day
      |ORDER BY user_id, day""".stripMargin

  /** w15 — OHLC bars: per (event_type, hour) open/high/low/close of the
    * value series — the time-series downsampling shape (finance bars,
    * metric rollups). First/last are selected by row_number over
    * (ts, event_id) — a total order, so ties at the same timestamp
    * cannot make open/close nondeterministic — and both directions plus
    * the extrema resolve in ONE exchange on the bar key (two window
    * passes and the aggregate share it). Values stay int64 cents.
    */
  def w15OhlcBars(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hour"),
        expr("unix_micros(ts)").as("us"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val key = Window.partitionBy(col("event_type"), col("hour"))
    val asc = key.orderBy(col("us").asc, col("event_id").asc)
    val desc = key.orderBy(col("us").desc, col("event_id").desc)
    base
      .withColumn("rna", row_number().over(asc))
      .withColumn("rnd", row_number().over(desc))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("n"),
           max(when(col("rna") === 1, col("cents"))).as("open_cents"),
           max(col("cents")).as("high_cents"),
           min(col("cents")).as("low_cents"),
           max(when(col("rnd") === 1, col("cents"))).as("close_cents"))
      .orderBy(col("event_type"), col("hour"))
  }

  private val w15Sql =
    """WITH e AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS "hour",
      |    epoch_us(ts) us, event_id,
      |    CAST(round("value" * 100) AS BIGINT) cents
      |  FROM events),
      |r AS (
      |  SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY event_type, "hour" ORDER BY us ASC, event_id ASC) rna,
      |    ROW_NUMBER() OVER (PARTITION BY event_type, "hour" ORDER BY us DESC, event_id DESC) rnd
      |  FROM e)
      |SELECT event_type, "hour", COUNT(*) n,
      |  MAX(CASE WHEN rna = 1 THEN cents END) open_cents,
      |  MAX(cents) high_cents,
      |  MIN(cents) low_cents,
      |  MAX(CASE WHEN rnd = 1 THEN cents END) close_cents
      |FROM r
      |GROUP BY event_type, "hour"
      |ORDER BY event_type, "hour"""".stripMargin

  /** w17 — recency-decayed engagement score per user: the most recent
    * `horizon` events weighted by powers of two (latest = 2^15 down to
    * 2^0), summed over int64 cents — an EWMA-shaped freshness signal
    * with NO floating point anywhere. True EWMA (alpha^k over all
    * history) needs unbounded-precision state to be exact; truncating
    * to a power-of-two kernel over a fixed horizon keeps the score
    * integer-exact, cross-engine bit-identical, and — the scale
    * property — computable from a BOUNDED window frame (16 lags) per
    * user instead of a full-history scan. A user is `is_stale` when
    * their last event trails the corpus max by >24h (the global max
    * arrives as a 1-row broadcast, never a driver constant).
    *
    * One exchange on user_id serves the lag frame, the count, the
    * latest-row selection, and the final projection.
    */
  def w17DecayScore(spark: SparkSession, dir: String): DataFrame = {
    val horizon = 16
    val base = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val wDesc = Window.partitionBy(col("user_id"))
      .orderBy(col("us").desc, col("event_id").desc)
    val score = (0 until horizon).map { j =>
      val weight = lit(1L << (horizon - 1 - j))
      if (j == 0) col("cents") * weight
      else coalesce(lag(col("cents"), j).over(w), lit(0L)) * weight
    }.reduce(_ + _)
    val maxUs = Tables.events(spark, dir).agg(max(expr("unix_micros(ts)")).as("mx"))
    base
      .withColumn("decay_score", score)
      .withColumn("n_events", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .withColumn("rn", row_number().over(wDesc))
      .filter(col("rn") === 1)
      .crossJoin(broadcast(maxUs))
      .select(col("user_id"), col("n_events"), col("us").as("last_us"),
        col("decay_score"), (col("us") < col("mx") - 86400000000L).as("is_stale"))
      .orderBy(col("user_id"))
  }

  private val w17Sql = {
    val terms = "cents * 32768" +: (1 until 16).map(j =>
      s"COALESCE(LAG(cents, $j) OVER w, 0) * ${1L << (15 - j)}")
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(ts) us,
       |    CAST(round("value" * 100) AS BIGINT) cents
       |  FROM events),
       |s AS (
       |  SELECT user_id, us,
       |    ${terms.mkString(" + ")} AS decay_score,
       |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC) rn,
       |    COUNT(*) OVER (PARTITION BY user_id) n_events
       |  FROM e
       |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |m AS (SELECT MAX(epoch_us(ts)) mx FROM events)
       |SELECT user_id, n_events, us AS last_us, decay_score,
       |       (us < m.mx - 86400000000) AS is_stale
       |FROM s, m WHERE rn = 1
       |ORDER BY user_id""".stripMargin
  }

  /** w18 — calendar densification + EXACT linear interpolation: each
    * (event_type, user) daily spend series is completed to a gap-free
    * day spine over its own [min_day, max_day] span, and every missing
    * day is filled by integer linear interpolation between its
    * bracketing observed days, in the weighted-average form
    * (prev·(next_day−d) + next·(d−prev_day)) div (next_day−prev_day) —
    * numerator non-negative by construction, so Spark's truncating
    * `div` and DuckDB's flooring `//` agree (the negative-dividend
    * divergence w16's docstring warns about never arises). w10 answered
    * gaps with LOCF (step-hold); this is the ramp variant ML feature
    * pipelines want for slowly-varying signals.
    *
    * Scale shape: the spine explodes one row per day of each series'
    * OWN span (never a global calendar times every key), the
    * bracketing values arrive via two IGNORE-NULLS running-frame
    * windows (forward + backward) partitioned by the series key — the
    * same one-shuffle-per-direction shape as w10 — and series are
    * independent, so a 100 TB run partitions by (type, user) and never
    * sees cross-key traffic.
    */
  def w18InterpolateFill(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("event_type"), col("user_id"), col("day"))
      .agg(sum(col("cents")).as("cents"))
    val spine = daily.groupBy(col("event_type"), col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type"), col("user_id"),
        explode(expr("sequence(d0, d1)")).as("day"))
    val joined = spine.join(daily, Seq("event_type", "user_id", "day"), "left")
    val wFwd = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
    val wBwd = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("day")).rowsBetween(0, Window.unboundedFollowing)
    val obsDay = when(col("cents").isNotNull, col("day"))
    joined
      .withColumn("pv", last(col("cents"), ignoreNulls = true).over(wFwd))
      .withColumn("pd", last(obsDay, ignoreNulls = true).over(wFwd))
      .withColumn("nv", first(col("cents"), ignoreNulls = true).over(wBwd))
      .withColumn("nd", first(obsDay, ignoreNulls = true).over(wBwd))
      .select(col("event_type"), col("user_id"), col("day"),
        when(col("cents").isNotNull, col("cents")).otherwise(
          expr("(pv * (nd - day) + nv * (day - pd)) div (nd - pd)")).as("filled_cents"),
        col("cents").isNull.as("interpolated"))
      .orderBy(col("event_type"), col("user_id"), col("day"))
  }

  private val w18Sql =
    """WITH daily AS (
      |  SELECT event_type, user_id, epoch_us(ts) // 86400000000 AS day,
      |         SUM(CAST(round(value * 100) AS BIGINT)) AS cents
      |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3),
      |bounds AS (
      |  SELECT event_type, user_id, MIN(day) d0, MAX(day) d1
      |  FROM daily GROUP BY 1, 2),
      |spine AS (
      |  SELECT event_type, user_id, unnest(range(d0, d1 + 1)) AS day FROM bounds),
      |j AS (
      |  SELECT s.event_type, s.user_id, s.day, d.cents,
      |    LAST_VALUE(d.cents IGNORE NULLS) OVER w AS pv,
      |    LAST_VALUE(CASE WHEN d.cents IS NOT NULL THEN s.day END IGNORE NULLS)
      |      OVER w AS pd,
      |    FIRST_VALUE(d.cents IGNORE NULLS) OVER v AS nv,
      |    FIRST_VALUE(CASE WHEN d.cents IS NOT NULL THEN s.day END IGNORE NULLS)
      |      OVER v AS nd
      |  FROM spine s LEFT JOIN daily d
      |    ON s.event_type = d.event_type AND s.user_id = d.user_id AND s.day = d.day
      |  WINDOW w AS (PARTITION BY s.event_type, s.user_id ORDER BY s.day
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         v AS (PARTITION BY s.event_type, s.user_id ORDER BY s.day
      |               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT event_type, user_id, day,
      |  CAST(CASE WHEN cents IS NOT NULL THEN cents
      |       ELSE (pv * (nd - day) + nv * (day - pd)) // (nd - pd) END
      |    AS BIGINT) AS filled_cents,
      |  cents IS NULL AS interpolated
      |FROM j ORDER BY event_type, user_id, day""".stripMargin

  /** w19 — rolling-median smoothing per user: the robust alternative to
    * w03's rolling mean (a single spike moves a mean by spike/k but a
    * median not at all — the standard telemetry de-noiser). The frame is
    * the last 5 events (ROWS 4 PRECEDING..CURRENT, ordered by ts with
    * event_id as the tiebreak so frames are engine-independent), values
    * are exact cents, and the median is the LOWER median — always a
    * data value, picked by sorted-array index, so no float averaging
    * anywhere: hash-green across engines.
    *
    * Scale shape: one window exchange on user_id; each frame holds ≤5
    * int64s, so the collect-sort-index per row is O(k log k) map-side
    * work with constant memory — the pattern stays cheap at any corpus
    * size because k is fixed, unlike an exact global median (a17/a19's
    * radix machinery exists for that).
    */
  def w19RollingMedian(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id")).rowsBetween(-4, 0)
    Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("frame", collect_list(col("cents")).over(w))
      .select(col("event_id"), col("user_id"), col("us"), col("cents"),
        expr("element_at(array_sort(frame), CAST((size(frame) + 1) div 2 AS INT))")
          .as("median_cents"),
        size(col("frame")).cast(LongType).as("frame_n"))
      .orderBy(col("event_id"))
  }

  private val w19Sql =
    """WITH f AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS us,
      |    CAST(round(value * 100) AS BIGINT) AS cents,
      |    list(CAST(round(value * 100) AS BIGINT))
      |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS frame
      |  FROM events WHERE value IS NOT NULL)
      |SELECT event_id, user_id, us, cents,
      |  list_sort(frame)[CAST((len(frame) + 1) // 2 AS INTEGER)] AS median_cents,
      |  CAST(len(frame) AS BIGINT) AS frame_n
      |FROM f ORDER BY event_id""".stripMargin

  /** w20 — max-concurrency sweep line: each event opens an interval
    * ([ts, ts + (cents div 10) seconds] — a deterministic integer
    * duration derived from the value, the w16 cents convention), and
    * the question is the classic capacity one: how many intervals are
    * open at once, per event type, and when does the peak first occur.
    * The sweep is +1/−1 boundary points, a running sum ordered by
    * (us, delta) — delta −1 sorts first, so closes at an instant
    * precede opens (end-exclusive intervals), and the default RANGE
    * frame sums tied peers together identically in both engines.
    *
    * Scale shape: no interval self-join (the naive overlap query is
    * O(n²)); the sweep is 2n points through ONE window exchange on
    * event_type, and the peak extraction reuses the same partitioning
    * (no second shuffle). At cluster scale the running sum becomes the
    * textbook two-pass prefix sum: range-partition by time, local sums,
    * then add broadcast per-partition offsets.
    */
  def w20Concurrency(spark: SparkSession, dir: String): DataFrame = {
    val iv = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      // clamp cents at 0 BEFORE the div (the a40 convention): Spark's
      // div truncates toward zero, DuckDB's // floors — a negative
      // value would disagree by one second AND yield end < start,
      // corrupting the sweep
      .select(col("event_type"), unix_micros(col("ts")).as("s"),
        expr("unix_micros(ts) + (greatest(CAST(round(value * 100) AS BIGINT), 0L) div 10) * 1000000")
          .as("e"))
    val pts = iv.select(col("event_type"), col("s").as("us"), lit(1L).as("delta"))
      .unionByName(iv.select(col("event_type"), col("e").as("us"), lit(-1L).as("delta")))
    val wRun = Window.partitionBy(col("event_type")).orderBy(col("us"), col("delta"))
    val wAll = Window.partitionBy(col("event_type"))
    // n_intervals rides the SAME window partition (count of +1 points)
    // instead of a second scan + aggregate + join — one scan, one
    // exchange for the entire operator
    val run = pts.withColumn("conc", sum(col("delta")).over(wRun))
      .withColumn("mx", max(col("conc")).over(wAll))
      .withColumn("n_iv",
        sum(when(col("delta") === 1, 1L).otherwise(0L)).over(wAll))
    run.filter(col("conc") === col("mx"))
      .groupBy(col("event_type"))
      .agg(max(col("mx")).as("max_concurrent"), min(col("us")).as("peak_us"),
           max(col("n_iv")).as("n_intervals"))
      .orderBy(col("event_type"))
  }

  private val w20Sql =
    """WITH iv AS (
      |  SELECT event_type, epoch_us(ts) s,
      |    epoch_us(ts) + (greatest(CAST(round(value * 100) AS BIGINT), 0) // 10) * 1000000 e
      |  FROM events WHERE value IS NOT NULL),
      |pts AS (
      |  SELECT event_type, s us, CAST(1 AS BIGINT) delta FROM iv
      |  UNION ALL SELECT event_type, e us, CAST(-1 AS BIGINT) delta FROM iv),
      |run AS (
      |  SELECT event_type, us, delta,
      |    SUM(delta) OVER (PARTITION BY event_type ORDER BY us, delta) conc
      |  FROM pts),
      |pk AS (
      |  SELECT event_type, conc, us,
      |    MAX(conc) OVER (PARTITION BY event_type) mx,
      |    SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY event_type) n_iv
      |  FROM run)
      |SELECT event_type, CAST(MAX(mx) AS BIGINT) max_concurrent,
      |  MIN(us) peak_us, CAST(MAX(n_iv) AS BIGINT) n_intervals
      |FROM pk WHERE conc = mx GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** w21 — exact nearest-rank latency percentiles (P50/P90/P99) per
    * event type: idx(p) = ⌈n·p/100⌉ picked by row_number over
    * (cents, event_id) — always a DATA value (no interpolation, no
    * floats), with the event_id tiebreak making the picked row
    * engine-independent even among equal cents. The SRE dashboard
    * query, done exactly.
    *
    * Scale shape: ONE window exchange on event_type serves both the
    * ranking and the per-type count (same partitioning, no second
    * shuffle); the percentile fan-out explodes 3 pct rows per ranked
    * row MAP-SIDE and filters to the 3 hits per type immediately. Note
    * the contract: per-GROUP exact percentiles via windows hold while
    * each group fits a partition's sort spill budget — for a single
    * global percentile over 100 TB use the a29/a30 radix-select
    * machinery instead (no global sort at all).
    */
  def w21LatencyPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val wRank = Window.partitionBy(col("event_type"))
      .orderBy(col("cents"), col("event_id"))
    val wAll = Window.partitionBy(col("event_type"))
    Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wAll))
      .select(col("event_type"), col("cents"), col("rn"), col("n"),
        explode(expr("array(50, 90, 99)")).as("pct"))
      .filter(col("rn") === expr("(pct * n + 99) div 100"))
      .select(col("event_type"), col("pct"), col("cents").as("pct_cents"), col("n"))
      .orderBy(col("event_type"), col("pct"))
  }

  private val w21Sql =
    """WITH e AS (
      |  SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) cents
      |  FROM events WHERE value IS NOT NULL),
      |r AS (
      |  SELECT event_type, cents,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents, event_id) rn,
      |    COUNT(*) OVER (PARTITION BY event_type) n
      |  FROM e),
      |p AS (SELECT r.*, unnest([50, 90, 99]) pct FROM r)
      |SELECT event_type, pct, cents AS pct_cents, CAST(n AS BIGINT) AS n
      |FROM p WHERE rn = (pct * n + 99) // 100
      |ORDER BY event_type, pct""".stripMargin

  /** w22 — exponentially-weighted moving average with DYADIC weights:
    * the newest of the last 16 observations weighs 2¹⁵, each older one
    * half that — α = 1/2 EWMA truncated at 16 lags, which makes every
    * weight a power of two and the whole smoother EXACT integer
    * arithmetic (the float-recursive EWMA can never be oracle-checked
    * bit-for-bit; the dyadic truncation can, and 16 lags ≈ weight
    * 1/65536 is far below any signal). Emitted as the weighted sum,
    * the realized weight total (short prefixes have fewer lags), and
    * the milli-cents ratio under floor division.
    *
    * Scale shape: same contract as w19 — one window exchange on
    * user_id, constant-size frames (≤16 int64s), O(k) map-side work
    * per row, independent of corpus size.
    */
  def w22Ewma(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id")).rowsBetween(-15, 0)
    Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("frame", collect_list(col("cents")).over(w))
      .select(col("event_id"), col("user_id"), col("us"), col("cents"),
        expr("aggregate(sequence(1, size(frame)), CAST(0 AS BIGINT), " +
             "(acc, i) -> acc + element_at(frame, i) * shiftleft(1L, i - 1))")
          .as("wsum"),
        expr("shiftleft(1L, size(frame)) - 1").as("wtotal"))
      .withColumn("ewma_milli", expr("(1000 * wsum) div wtotal"))
      .orderBy(col("event_id"))
  }

  private val w22Sql =
    """WITH f AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS us,
      |    CAST(round(value * 100) AS BIGINT) AS cents,
      |    list(CAST(round(value * 100) AS BIGINT))
      |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |            ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS frame
      |  FROM events WHERE value IS NOT NULL)
      |SELECT event_id, user_id, us, cents,
      |  CAST(list_sum(list_transform(range(1, len(frame) + 1),
      |    i -> frame[CAST(i AS INTEGER)]
      |       * (CAST(1 AS BIGINT) << CAST(i - 1 AS INTEGER)))) AS BIGINT) AS wsum,
      |  (CAST(1 AS BIGINT) << CAST(len(frame) AS INTEGER)) - 1 AS wtotal,
      |  (1000 * CAST(list_sum(list_transform(range(1, len(frame) + 1),
      |    i -> frame[CAST(i AS INTEGER)]
      |       * (CAST(1 AS BIGINT) << CAST(i - 1 AS INTEGER)))) AS BIGINT))
      |    // ((CAST(1 AS BIGINT) << CAST(len(frame) AS INTEGER)) - 1) AS ewma_milli
      |FROM f ORDER BY event_id""".stripMargin

  /** w23 — bounce rate by session entry type: gap-sessionize (30 min,
    * the w08 convention), attribute each session to its FIRST event's
    * type (picked by a struct-min over (us, event_id, type) — unique
    * key, so the pick is engine-independent), and report the share of
    * single-event sessions per entry type — the landing-page quality
    * number, computed exactly.
    *
    * Scale shape: the sessionization windows (lag + running sum) and
    * the per-session aggregate all key on user_id — Spark folds them
    * into ONE exchange; the entry-type rollup is a ≤|types|-row
    * aggregate on top.
    */
  def w23BounceRate(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = 1800L * 1000000L
    val wU = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("new_s",
        when(lag(col("us"), 1).over(wU).isNull ||
             col("us") - lag(col("us"), 1).over(wU) > gapUs, 1L).otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(wU))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_events"),
           min(struct(col("us"), col("event_id"), col("event_type"))).as("first"))
      .select(col("first.event_type").as("entry_type"), col("n_events"))
      .groupBy(col("entry_type"))
      .agg(count(lit(1)).as("n_sessions"),
           sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounce"),
           sum(col("n_events")).as("n_events"))
      .withColumn("bounce_ppm", expr("(1000000 * n_bounce) div n_sessions"))
      .orderBy(col("entry_type"))
  }

  private val w23Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) us FROM events),
      |s AS (
      |  SELECT *, CASE WHEN LAG(us) OVER w IS NULL
      |                   OR us - LAG(us) OVER w > 1800000000
      |                 THEN 1 ELSE 0 END new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |sid AS (
      |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id) sid
      |  FROM s),
      |ps AS (
      |  SELECT user_id, sid, COUNT(*) n_events,
      |    FIRST(event_type ORDER BY us, event_id) entry_type
      |  FROM sid GROUP BY user_id, sid)
      |SELECT entry_type, COUNT(*) AS n_sessions,
      |  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
      |  CAST(SUM(n_events) AS BIGINT) AS n_events,
      |  (1000000 * CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)) // COUNT(*) AS bounce_ppm
      |FROM ps GROUP BY entry_type ORDER BY entry_type""".stripMargin

  /** w24 — single best changepoint per event type (binary segmentation,
    * one split): the position maximizing the between-segment contrast
    * score ((n₂·S₁ − n₁·S₂)² div (n₁·n₂)) over running cumulative
    * sums — the CUSUM-family objective with floor-quantization as the
    * documented contract, so the argmax (ties → earliest position) is
    * engine-independent integer arithmetic throughout, DECIMAL(38,0)
    * lifted (safe while (n·Σcents)² < 1e38 per type — w16's ANSI rule:
    * overflow fails LOUDLY, never silently).
    *
    * Scale shape: the running sums, the per-type totals, and the
    * argmax window all partition on event_type — one hash exchange for
    * the whole operator (the w20/w21 contract); candidate scoring is a
    * codegen'd per-row projection.
    */
  def w24Changepoint(spark: SparkSession, dir: String): DataFrame = {
    val D = DecimalType(38, 0)
    val w = Window.partitionBy(col("event_type")).orderBy(col("us"), col("event_id"))
    val wAll = Window.partitionBy(col("event_type"))
    val base = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"), unix_micros(col("ts")).as("us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("i", row_number().over(w).cast(D))
      .withColumn("c1", sum(col("cents")).over(w).cast(D))
      .withColumn("nn", count(lit(1)).over(wAll).cast(D))
      .withColumn("ss", sum(col("cents")).over(wAll).cast(D))
    val wBest = Window.partitionBy(col("event_type"))
      .orderBy(col("score").desc, col("us").asc)
    base.filter(col("i") < col("nn"))
      .withColumn("d", expr("(nn - i) * c1 - i * (ss - c1)"))
      .withColumn("score", expr("CAST((d * d) div (i * (nn - i)) AS BIGINT)"))
      .withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("us").as("split_us"),
        col("i").cast(LongType).as("n_left"),
        (col("nn") - col("i")).cast(LongType).as("n_right"),
        col("score"),
        expr("CAST((100 * c1) div i AS BIGINT)").as("mean_left_centi"),
        expr("CAST((100 * (ss - c1)) div (nn - i) AS BIGINT)").as("mean_right_centi"))
      .orderBy(col("event_type"))
  }

  private val w24Sql =
    """WITH e AS (
      |  SELECT event_type, event_id, epoch_us(ts) us,
      |    CAST(round(value * 100) AS BIGINT) cents
      |  FROM events WHERE value IS NOT NULL),
      |b AS (
      |  SELECT event_type, event_id, us,
      |    CAST(ROW_NUMBER() OVER w AS HUGEINT) i,
      |    CAST(SUM(cents) OVER w AS HUGEINT) c1,
      |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS HUGEINT) nn,
      |    CAST(SUM(cents) OVER (PARTITION BY event_type) AS HUGEINT) ss
      |  FROM e WINDOW w AS (PARTITION BY event_type ORDER BY us, event_id)),
      |s AS (SELECT *, ((nn - i) * c1 - i * (ss - c1)) d FROM b WHERE i < nn),
      |sc AS (SELECT event_type, us, i, nn, c1, ss,
      |         CAST((d * d) // (i * (nn - i)) AS BIGINT) score FROM s),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
      |        ORDER BY score DESC, us ASC) rn FROM sc)
      |SELECT event_type, us AS split_us, CAST(i AS BIGINT) AS n_left,
      |  CAST(nn - i AS BIGINT) AS n_right, score,
      |  CAST((100 * c1) // i AS BIGINT) AS mean_left_centi,
      |  CAST((100 * (ss - c1)) // (nn - i) AS BIGINT) AS mean_right_centi
      |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin

  /** w25 — lag-1 autocorrelation per event type, emitted as the EXACT
    * integer components of Pearson's r: num = n·Σxy − Σx·Σy and the
    * two variance terms (r = num/√(varx·vary) — the square root is
    * irrational, and the r² quotient num²/(varx·vary) needs >64-bit
    * division, where Spark's decimal `div` and DuckDB's HUGEINT `//`
    * were MEASURED to disagree by ~10⁴× — so the quotient is exactly
    * the thing a cross-engine contract must NOT emit). The sign of
    * `num` answers the diagnostic question (sticky vs mean-reverting
    * vs i.i.d.); consumers derive r from the three exact integers.
    *
    * Scale shape: the lead pairing is one window exchange on
    * event_type; the five sums partial-aggregate on the same key — the
    * w20/w21 single-exchange contract. Components stay within int64
    * to ~10⁵ rows × 10⁹ cents per type (internally DECIMAL(38,0), the
    * w16 loud-overflow rule past that).
    */
  def w25LagAutocorr(spark: SparkSession, dir: String): DataFrame = {
    val D = DecimalType(38, 0)
    val w = Window.partitionBy(col("event_type")).orderBy(col("us"), col("event_id"))
    Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"), unix_micros(col("ts")).as("us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("x"))
      .withColumn("y", lead(col("x"), 1).over(w))
      .filter(col("y").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast(D).as("n"),
           sum(col("x").cast(D)).as("sx"), sum(col("y").cast(D)).as("sy"),
           sum(col("x").cast(D) * col("y").cast(D)).as("sxy"),
           sum(col("x").cast(D) * col("x").cast(D)).as("sx2"),
           sum(col("y").cast(D) * col("y").cast(D)).as("sy2"))
      .select(col("event_type"),
        col("n").cast(LongType).as("n_pairs"),
        expr("CAST(n * sxy - sx * sy AS BIGINT)").as("num"),
        expr("CAST(n * sx2 - sx * sx AS BIGINT)").as("varx"),
        expr("CAST(n * sy2 - sy * sy AS BIGINT)").as("vary"))
      .orderBy(col("event_type"))
  }

  private val w25Sql =
    """WITH e AS (
      |  SELECT event_type, event_id, epoch_us(ts) us,
      |    CAST(round(value * 100) AS BIGINT) x
      |  FROM events WHERE value IS NOT NULL),
      |p AS (
      |  SELECT event_type, x,
      |    LEAD(x) OVER (PARTITION BY event_type ORDER BY us, event_id) y
      |  FROM e),
      |s AS (
      |  SELECT event_type, CAST(COUNT(*) AS HUGEINT) n,
      |    CAST(SUM(x) AS HUGEINT) sx, CAST(SUM(y) AS HUGEINT) sy,
      |    CAST(SUM(x * y) AS HUGEINT) sxy,
      |    CAST(SUM(x * x) AS HUGEINT) sx2, CAST(SUM(y * y) AS HUGEINT) sy2
      |  FROM p WHERE y IS NOT NULL GROUP BY event_type)
      |SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
      |  CAST(n * sxy - sx * sy AS BIGINT) AS num,
      |  CAST(n * sx2 - sx * sx AS BIGINT) AS varx,
      |  CAST(n * sy2 - sy * sy AS BIGINT) AS vary
      |FROM s ORDER BY event_type""".stripMargin

  /** w26 — maximum drawdown per event type: treat each type's value
    * stream (ordered by event time) as a cumulative series and report
    * the deepest peak-to-trough fall. The classic risk/stability metric
    * for any monitored cumulative signal (reward curves, token-count
    * budgets, revenue): drawdown_i = max_{j<=i}(cum_j) - cum_i, answer =
    * max_i drawdown_i. Exact integer cents; two stacked running frames
    * (SUM then MAX) share ONE Exchange+Sort on the same
    * (partition, order) — Catalyst plans a single Window operator pair,
    * no re-shuffle, so at 100 TB this is one pass per key group.
    */
  def w26MaxDrawdown(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("us"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"), unix_micros(col("ts")).as("us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("cum", sum(col("cents")).over(run))
      .withColumn("peak", max(col("cum")).over(run))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           max(col("peak") - col("cum")).as("max_drawdown_cents"),
           max(col("peak")).as("peak_cents"),
           // the cumulative series ends at the plain total — no
           // order-sensitive last() needed
           sum(col("cents")).as("final_cents"))
      .orderBy(col("event_type"))
  }

  private val w26Sql =
    """WITH e AS (
      |  SELECT event_type, event_id, epoch_us(ts) us,
      |    CAST(round("value" * 100) AS BIGINT) cents
      |  FROM events WHERE "value" IS NOT NULL),
      |c AS (
      |  SELECT event_type, us, event_id, cents,
      |    SUM(cents) OVER (PARTITION BY event_type ORDER BY us, event_id
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum
      |  FROM e),
      |p AS (
      |  SELECT event_type, cents, cum,
      |    MAX(cum) OVER (PARTITION BY event_type ORDER BY us, event_id
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) peak
      |  FROM c)
      |SELECT event_type, COUNT(*) AS n_events,
      |  CAST(MAX(peak - cum) AS BIGINT) AS max_drawdown_cents,
      |  CAST(MAX(peak) AS BIGINT) AS peak_cents,
      |  CAST(SUM(cents) AS BIGINT) AS final_cents
      |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin

  /** w27 — Bollinger-band breach rate: over each event type's value
    * stream, a trailing 20-row frame defines mean ± 2σ; a row whose
    * value escapes the band is a breach. The volatility/outlier gate a
    * monitored metric stream runs continuously (alert fatigue tuning is
    * literally picking this window and k). Exactness: the breach
    * predicate (n·x − s)²·(n−1) > k²·n·(n·q − s²) clears every
    * denominator, so it is pure int64 comparison — no mean, no sqrt, no
    * float — and only frames with the FULL 20 rows count (a shorter
    * frame's variance estimate is a different statistic, and excluding
    * them keeps the predicate well-defined at n ≥ 2). One Exchange+Sort
    * per type partition serves all three frame aggregates; the finale
    * is a per-type count — at 100 TB the cost is one window pass, same
    * as any rolling statistic.
    */
  def w27BollingerBreach(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("us"), col("event_id")).rowsBetween(-19, 0)
    Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"), unix_micros(col("ts")).as("us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("x"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s", sum(col("x")).over(w))
      .withColumn("q", sum(col("x") * col("x")).over(w))
      .filter(col("n") === 20)
      .withColumn("breach",
        ((lit(20L) * col("x") - col("s")) * (lit(20L) * col("x") - col("s")) * lit(19L)
          > lit(80L) * (lit(20L) * col("q") - col("s") * col("s"))).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_windows"), sum(col("breach")).as("n_breaches"))
      .withColumn("breach_ppm", expr("(1000000 * n_breaches) div n_windows"))
      .orderBy(col("event_type"))
  }

  private val w27Sql =
    """WITH e AS (
      |  SELECT event_type, event_id, epoch_us(ts) us,
      |    CAST(round("value" * 100) AS BIGINT) x
      |  FROM events WHERE "value" IS NOT NULL),
      |f AS (
      |  SELECT event_type, x,
      |    COUNT(*) OVER w n, SUM(x) OVER w s, SUM(x * x) OVER w q
      |  FROM e
      |  WINDOW w AS (PARTITION BY event_type ORDER BY us, event_id
      |               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
      |b AS (
      |  SELECT event_type,
      |    CASE WHEN (20 * x - s) * (20 * x - s) * 19 > 80 * (20 * q - s * s)
      |         THEN 1 ELSE 0 END breach
      |  FROM f WHERE n = 20)
      |SELECT event_type, COUNT(*) AS n_windows,
      |  CAST(SUM(breach) AS BIGINT) AS n_breaches,
      |  CAST((1000000 * SUM(breach)) // COUNT(*) AS BIGINT) AS breach_ppm
      |FROM b GROUP BY event_type ORDER BY event_type""".stripMargin

  /** w28 — rolling cross-correlation between two event types' hourly
    * value series (does the error-rate signal co-move with the click
    * signal over the trailing day?): per joint hour, the signed
    * quantized r² of (click avg-cents, error avg-cents) over the
    * trailing 24 joint hours. Pearson's r needs a square root, which no
    * integer plan can replicate bit-for-bit — so like w25 the contract
    * emits sign(cov)·10⁶·cov²/(varx·vary), exactly the statistic a
    * monitor thresholds on, computed entirely in int64/DECIMAL(38,0)
    * (inputs are floor-quantized hourly MEANS, bounded by the value
    * domain, so the decimal headroom is scale-independent).
    *
    * Scale shape: one partial-aggregated pass over events → a per-hour
    * table bounded by the TIME DOMAIN, not the corpus (a 100 TB year is
    * still 8 760 rows); the rolling frame runs over that bounded series
    * (same documented single-partition rationale as a28).
    */
  def w28RollingCorr(spark: SparkSession, dir: String,
                     typeA: String = "click", typeB: String = "error"): DataFrame = {
    def hourly(t: String, out: String) =
      Tables.events(spark, dir)
        .filter(col("value").isNotNull && col("event_type") === t)
        .groupBy(expr("unix_micros(ts) div 3600000000").as("hour"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("s"),
          count(lit(1)).as("c"))
        // FLOOR mean (values can be negative; Spark div truncates while
        // the oracle's // floors): (s − pmod(s,c)) div c is exact floor
        .select(col("hour"), expr("(s - pmod(s, c)) div c").as(out))
    // both sides are time-domain-bounded and near-identical size; pin the
    // build side or AQE's choice flips the plan shape run-to-run (the w29
    // golden-flap lesson)
    val joint = hourly(typeA, "xa").join(broadcast(hourly(typeB, "xb")), "hour")
    val w = Window.orderBy(col("hour")).rowsBetween(-23, 0)
    joint
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sa", sum(col("xa")).over(w))
      .withColumn("sb", sum(col("xb")).over(w))
      .withColumn("qa", sum(col("xa") * col("xa")).over(w))
      .withColumn("qb", sum(col("xb") * col("xb")).over(w))
      .withColumn("sab", sum(col("xa") * col("xb")).over(w))
      .filter(col("n") === 24)
      .select(col("hour"), col("xa"), col("xb"),
        expr("24 * sab - sa * sb").as("cov_n"),
        expr("24 * qa - sa * sa").as("varx_n"),
        expr("24 * qb - sb * sb").as("vary_n"))
      .withColumn("r2_signed_micro", expr(
        """CASE WHEN cov_n >= 0
          |  THEN (1000000 * CAST(cov_n AS DECIMAL(38,0)) * cov_n)
          |       div greatest(CAST(varx_n AS DECIMAL(38,0)) * vary_n, 1)
          |  ELSE -((1000000 * CAST(cov_n AS DECIMAL(38,0)) * cov_n)
          |       div greatest(CAST(varx_n AS DECIMAL(38,0)) * vary_n, 1))
          |END""".stripMargin).cast(LongType))
      .orderBy(col("hour"))
  }

  private val w28Sql =
    """WITH e AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
      |    CAST(round("value" * 100) AS BIGINT) x
      |  FROM events WHERE "value" IS NOT NULL
      |    AND event_type IN ('click', 'error')),
      |h AS (
      |  SELECT hour,
      |    SUM(CASE WHEN event_type = 'click' THEN x END)
      |      // COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS xa,
      |    SUM(CASE WHEN event_type = 'error' THEN x END)
      |      // COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS xb
      |  FROM e GROUP BY hour
      |  HAVING COUNT(CASE WHEN event_type = 'click' THEN 1 END) > 0
      |     AND COUNT(CASE WHEN event_type = 'error' THEN 1 END) > 0),
      |f AS (
      |  SELECT hour, xa, xb, COUNT(*) OVER w n,
      |    SUM(xa) OVER w sa, SUM(xb) OVER w sb,
      |    SUM(xa * xa) OVER w qa, SUM(xb * xb) OVER w qb,
      |    SUM(xa * xb) OVER w sab
      |  FROM h
      |  WINDOW w AS (ORDER BY hour ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
      |g AS (
      |  SELECT hour, xa, xb,
      |    CAST(24 * sab - sa * sb AS HUGEINT) cov_n,
      |    CAST(24 * qa - sa * sa AS HUGEINT) varx_n,
      |    CAST(24 * qb - sb * sb AS HUGEINT) vary_n
      |  FROM f WHERE n = 24)
      |SELECT hour, CAST(xa AS BIGINT) AS xa, CAST(xb AS BIGINT) AS xb,
      |  CAST(cov_n AS BIGINT) AS cov_n,
      |  CAST(varx_n AS BIGINT) AS varx_n,
      |  CAST(vary_n AS BIGINT) AS vary_n,
      |  CAST(CASE WHEN cov_n >= 0
      |    THEN (1000000 * cov_n * cov_n) // greatest(varx_n * vary_n, 1)
      |    ELSE -((1000000 * cov_n * cov_n) // greatest(varx_n * vary_n, 1))
      |  END AS BIGINT) AS r2_signed_micro
      |FROM g ORDER BY hour""".stripMargin

  /** w29 — day-over-day top-k churn: how much of yesterday's top-5
    * leaderboard (users by event count) survives into today — the
    * stability metric behind "is this ranking signal or noise", and the
    * cheap canary for an instrumentation change (a sudden 100% churn
    * day is a pipeline incident, not user behavior). Deterministic
    * (count desc, user asc) tiebreak; per-day ranking partitions by
    * day, so no global window; the day-to-day comparison is a self-join
    * on (day+1, user) — all tables are top-k-bounded after the rank.
    */
  def w29TopkChurn(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("day")).orderBy(col("n").desc, col("user_id").asc)
    val top = daily.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).select(col("day"), col("user_id"))
    val prev = top.select((col("day") + 1).as("day"), col("user_id").as("prev_user"))
    val cur = top.groupBy(col("day")).agg(count(lit(1)).as("cur_top"))
    val pre = prev.groupBy(col("day")).agg(count(lit(1)).as("prev_top"))
    val common = top.join(prev,
        top("day") === prev("day") && col("user_id") === col("prev_user"))
      .groupBy(top("day")).agg(count(lit(1)).as("n_common"))
    // all three are day-bounded (k rows per day); pin the broadcast
    // sides explicitly — the two day tables are near-identical size, so
    // leaving the build-side choice to AQE made the plan shape flip
    // run-to-run on a few compressed bytes
    cur.join(broadcast(pre), "day")
      .join(broadcast(common), Seq("day"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .withColumn("churn_ppm", expr("(1000000 * (cur_top - n_common)) div cur_top"))
      .orderBy(col("day"))
  }

  private val w29Sql =
    """WITH daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day, user_id, COUNT(*) n
      |  FROM events GROUP BY 1, 2),
      |top AS (
      |  SELECT day, user_id FROM (
      |    SELECT day, user_id,
      |      ROW_NUMBER() OVER (PARTITION BY day ORDER BY n DESC, user_id ASC) rn
      |    FROM daily) WHERE rn <= 5),
      |prev AS (SELECT day + 1 AS day, user_id FROM top),
      |cur AS (SELECT day, CAST(COUNT(*) AS BIGINT) cur_top FROM top GROUP BY 1),
      |pre AS (SELECT day, CAST(COUNT(*) AS BIGINT) prev_top FROM prev GROUP BY 1),
      |com AS (
      |  SELECT t.day, CAST(COUNT(*) AS BIGINT) n_common
      |  FROM top t JOIN prev p ON t.day = p.day AND t.user_id = p.user_id
      |  GROUP BY 1)
      |SELECT cur.day, cur_top, prev_top,
      |  COALESCE(n_common, 0) AS n_common,
      |  (1000000 * (cur_top - COALESCE(n_common, 0))) // cur_top AS churn_ppm
      |FROM cur JOIN pre USING (day) LEFT JOIN com ON cur.day = com.day
      |ORDER BY cur.day""".stripMargin

  /** w30 — least-squares trend of the hourly value series per event
    * type, as EXACT integer OLS components. [[w24Changepoint]] finds
    * the single break, [[w25LagAutocorr]] the short-range memory,
    * [[w26MaxDrawdown]] the worst excursion; w30 answers the remaining
    * series question — "is the level drifting, which way, and at what
    * rate?" — via the regression line over (hour index, hourly sum).
    *
    * Exactness: x is the hour index REBASED to the series' first hour
    * (the raw epoch-hour ≈ 5·10⁵ would put sxx at ~10¹⁷ for no
    * information gain — the w16 centering rule), y the hourly cents
    * sum; n, Σx, Σy, Σxy, Σx² are pure int64, and the slope is emitted
    * as its rational form num = n·Σxy − Σx·Σy over den = n·Σx² − (Σx)²
    * plus a sign verdict. The quotient itself is left to the consumer:
    * 10³·num can exceed int64 once hourly mass grows ~10× (the probe
    * corpus), and a DECIMAL division there is exactly the w25
    * cross-engine div trap. den depends only on the hour-index shape,
    * never on data mass; num grows linearly with row count — int64 to
    * ~10⁹ rows/hour, then lift to DECIMAL(38,0) (the w16 rule).
    *
    * Scale shape: one partial-aggregated groupBy collapses the stream
    * to the |types|×hours hourly frame; the rebase min() windows over
    * that BOUNDED frame partitioned by type (the g12 histogram
    * convention), and the finale is a |types|-row aggregate.
    */
  def w30TrendSlope(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hr"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("y"))
    val based = hourly.withColumn("x",
      col("hr") - min(col("hr")).over(Window.partitionBy(col("event_type"))))
    based.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
           sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
           sum(col("x") * col("x")).as("sxx"))
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("trend",
        when(col("num") > 0, lit("up"))
          .when(col("num") < 0, lit("down")).otherwise(lit("flat")))
      .select(col("event_type"), col("n"), col("sx"), col("sy"),
              col("sxy"), col("sxx"), col("num"), col("den"), col("trend"))
      .orderBy(col("event_type"))
  }

  private val w30Sql =
    """WITH h AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 hr,
      |    CAST(SUM(CAST(round("value" * 100) AS BIGINT)) AS BIGINT) y
      |  FROM events WHERE "value" IS NOT NULL GROUP BY 1, 2),
      |b AS (
      |  SELECT event_type,
      |    hr - MIN(hr) OVER (PARTITION BY event_type) x, y
      |  FROM h),
      |g AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) n,
      |    CAST(SUM(x) AS BIGINT) sx, CAST(SUM(y) AS BIGINT) sy,
      |    CAST(SUM(x * y) AS BIGINT) sxy, CAST(SUM(x * x) AS BIGINT) sxx
      |  FROM b GROUP BY 1)
      |SELECT event_type, n, sx, sy, sxy, sxx,
      |  n * sxy - sx * sy AS num, n * sxx - sx * sx AS den,
      |  CASE WHEN n * sxy - sx * sy > 0 THEN 'up'
      |       WHEN n * sxy - sx * sy < 0 THEN 'down'
      |       ELSE 'flat' END AS trend
      |FROM g ORDER BY event_type""".stripMargin

  /** w31 — Mann–Kendall trend test per event type: the NONPARAMETRIC
    * dual of [[w30TrendSlope]]'s OLS fit. OLS answers "what is the
    * slope"; MK answers "is there a monotone trend at all", from pair
    * ORDER alone — S = Σ_{i<j} sgn(y_j − y_i) over the time-ordered
    * DAILY series — so one outlier day can't manufacture a trend the
    * way it can drag a least-squares line. The variance carries the
    * standard tie correction, Var·18 = n(n−1)(2n+5) − Σ t(t−1)(2t+5),
    * and the verdict applies the continuity-corrected z ≥ 2 rule as a
    * pure integer comparison: 18·(|S|−1)² ≥ 4·Var18 (no sqrt crosses
    * the engines; S = 0 is never significant).
    *
    * Scale shape: the fact table reduces to a per-(type, day) daily
    * aggregate FIRST; the O(d²) sign self-join runs on that bounded
    * frame (d grows with the CALENDAR span, not the row count — ten
    * years is ~3 650 days per type regardless of corpus size; past
    * that, the inversion-count rank formulation is the escape, the
    * a52 prefix-rank machinery).
    */
  def w31MannKendall(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("y"))
    val s = daily.as("a").join(daily.as("b"),
        col("a.event_type") === col("b.event_type") && col("a.day") < col("b.day"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(sum(when(col("b.y") > col("a.y"), 1L)
        .when(col("b.y") < col("a.y"), -1L).otherwise(0L)).as("s"))
    val ties = daily.groupBy(col("event_type"), col("y"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_distinct"), sum(col("t")).as("n"),
        sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tie_term"))
    s.join(ties, Seq("event_type"))
      .withColumn("var18",
        col("n") * (col("n") - 1) * (col("n") * 2 + 5) - col("tie_term"))
      .withColumn("sig",
        col("s") =!= 0 &&
          lit(18L) * (abs(col("s")) - 1) * (abs(col("s")) - 1) >= lit(4L) * col("var18"))
      .select(col("event_type"), col("n"), col("n_distinct"), col("s"),
        col("var18"), col("sig"))
      .orderBy(col("event_type"))
  }

  private val w31Sql =
    """WITH d AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 "day",
      |    CAST(SUM(CAST(round("value" * 100) AS BIGINT)) AS BIGINT) y
      |  FROM events WHERE "value" IS NOT NULL GROUP BY 1, 2),
      |s AS (
      |  SELECT a.event_type,
      |    CAST(SUM(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) s
      |  FROM d a JOIN d b ON a.event_type = b.event_type AND a."day" < b."day"
      |  GROUP BY 1),
      |t0 AS (SELECT event_type, y, CAST(COUNT(*) AS BIGINT) t FROM d GROUP BY 1, 2),
      |t AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) n_distinct,
      |    CAST(SUM(t) AS BIGINT) n,
      |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) tie_term
      |  FROM t0 GROUP BY 1),
      |g AS (
      |  SELECT s.event_type, t.n, t.n_distinct, s.s,
      |    t.n * (t.n - 1) * (2 * t.n + 5) - t.tie_term var18
      |  FROM s JOIN t USING (event_type))
      |SELECT event_type, n, n_distinct, s, CAST(var18 AS BIGINT) var18,
      |  s <> 0 AND 18 * (abs(s) - 1) * (abs(s) - 1) >= 4 * var18 AS sig
      |FROM g ORDER BY event_type""".stripMargin

  /** w32 — Wald–Wolfowitz runs test per event type: is the SIGN sequence
    * of day-over-day moves random, or does it streak (momentum) /
    * alternate (mean-reversion)? Complements [[w31MannKendall]]: w31
    * asks "is there a monotone trend", the runs test asks "are moves
    * independent" — a series can pass one and fail the other. Zero
    * deltas are dropped (the standard treatment), R = number of
    * maximal same-sign runs, and the normal-approximation gate
    * |R − µ| ≥ 2σ with µ = 1 + 2·n₁·n₂/n, σ² = 2n₁n₂(2n₁n₂−n)/(n²(n−1))
    * is evaluated as one exact integer inequality — cross-multiplied to
    * ((R−1)·n − 2n₁n₂)²·(n−1) ≥ 4·2n₁n₂·(2n₁n₂−n) in DECIMAL(38,0) /
    * HUGEINT so no float or sqrt crosses the engine boundary (the
    * square overflows int64 once n > ~30k days, i.e. never for
    * calendar-bounded series, but the decimal form is scale-proof).
    *
    * Scale shape: one partial-agg shuffle to the daily rollup, then both
    * windows and the final aggregate share the single event_type
    * exchange; per-type state is calendar-bounded.
    */
  def w32RunsTest(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val sgn = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("y"))
      .withColumn("d", col("y") - lag(col("y"), 1).over(w))
      .filter(col("d").isNotNull && col("d") =!= 0)
      .withColumn("sgn", when(col("d") > 0, 1).otherwise(-1))
    sgn
      .withColumn("prev", lag(col("sgn"), 1).over(w))
      .withColumn("chg",
        when(col("prev").isNull || col("prev") =!= col("sgn"), 1L).otherwise(0L))
      .groupBy(col("event_type"))
      .agg(sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n_up"),
        sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n_down"),
        sum(col("chg")).as("runs"))
      .withColumn("n", col("n_up") + col("n_down"))
      .withColumn("m2", expr("CAST(2 * n_up * n_down AS DECIMAL(38,0))"))
      .withColumn("lhs", expr(
        "CAST((runs - 1) * n AS DECIMAL(38,0)) - m2"))
      .withColumn("sig", expr(
        "m2 > 0 AND lhs * lhs * (n - 1) >= 4 * m2 * (m2 - n)"))
      .select(col("event_type"), col("n_up"), col("n_down"), col("runs"),
        col("sig"))
      .orderBy(col("event_type"))
  }

  private val w32Sql =
    """WITH d AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 "day",
      |    CAST(SUM(CAST(round("value" * 100) AS BIGINT)) AS BIGINT) y
      |  FROM events WHERE "value" IS NOT NULL GROUP BY 1, 2),
      |dd AS (
      |  SELECT event_type, "day",
      |    y - lag(y) OVER (PARTITION BY event_type ORDER BY "day") delta
      |  FROM d),
      |s AS (
      |  SELECT event_type, "day", CASE WHEN delta > 0 THEN 1 ELSE -1 END sgn
      |  FROM dd WHERE delta IS NOT NULL AND delta <> 0),
      |r AS (
      |  SELECT event_type, sgn,
      |    CASE WHEN lag(sgn) OVER (PARTITION BY event_type ORDER BY "day")
      |      IS DISTINCT FROM sgn THEN 1 ELSE 0 END chg
      |  FROM s),
      |g AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) n_up,
      |    CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) n_down,
      |    CAST(SUM(chg) AS BIGINT) runs
      |  FROM r GROUP BY 1)
      |SELECT event_type, n_up, n_down, runs,
      |  2 * n_up * n_down > 0 AND
      |  CAST((runs - 1) * (n_up + n_down) - 2 * n_up * n_down AS HUGEINT)
      |    * CAST((runs - 1) * (n_up + n_down) - 2 * n_up * n_down AS HUGEINT)
      |    * (n_up + n_down - 1)
      |  >= 4 * CAST(2 * n_up * n_down AS HUGEINT)
      |    * (2 * n_up * n_down - (n_up + n_down)) AS sig
      |FROM g ORDER BY event_type""".stripMargin

  /** w33 — rescaled-range (Hurst R/S) components per event type: the
    * long-range-dependence instrument the w-family's short-memory tests
    * cannot see ([[w25LagAutocorr]] is lag-1, [[w32RunsTest]] is
    * sign-independence; a series can pass both and still be persistent).
    * The daily series is cut into blocks of m ∈ {5, 10, 15} days and
    * each FULL block emits its two classic components exactly:
    * `r_scaled` = m·R where R = max−min of the mean-adjusted cumulative
    * deviations (z_i = m·P_i − i·T keeps everything integer — P_i the
    * within-block prefix, T the block total), and `s2_scaled` = m²·S²
    * = m·Σy² − T² in DECIMAL(38,0)/HUGEINT (Σy² overflows int64 once
    * daily sums pass ~3·10⁹ cents). Consumers regress
    * ln(R/S) = ln(r_scaled/√s2_scaled) on ln m for the Hurst exponent —
    * the quotient/sqrt stay out of the contract per the w25 division
    * rule.
    *
    * Scale shape: one partial-agg shuffle to the daily rollup; the
    * row_number/cumsum windows, the per-block aggregate, the broadcast
    * join-back, and the z-extent aggregate all run on the
    * calendar-bounded daily frame (30 rows per type here, ≤ a few
    * thousand at any horizon) — no fact-scale windows.
    */
  def w33RescaledRange(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val daily = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("y"))
      .withColumn("idx", row_number().over(wOrd))
      .withColumn("cum", sum(col("y")).over(wOrd))
    val e = daily
      .withColumn("block_m", explode(array(lit(5L), lit(10L), lit(15L))))
      .withColumn("block_id", expr("(idx - 1) div block_m"))
      .withColumn("i", expr("(idx - 1) % block_m + 1"))
    val blocks = e.groupBy(col("event_type"), col("block_m"), col("block_id"))
      .agg(count(lit(1)).as("nd"), sum(col("y")).as("t"),
        max(when(col("i") === 1, col("cum") - col("y"))).as("c0"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("yy"))
      .filter(col("nd") === col("block_m"))
    e.join(broadcast(blocks), Seq("event_type", "block_m", "block_id"))
      .withColumn("z", expr("block_m * (cum - c0) - i * t"))
      .groupBy(col("event_type"), col("block_m"), col("block_id"))
      .agg((max(col("z")) - min(col("z"))).as("r_scaled"),
        // STRING output: m²S² needs DECIMAL(38,0) once daily sums pass
        // ~3·10⁹ cents (Σy² beyond int64 is the point), and decimal
        // output columns hash-diverge across the two engines' client
        // layers (the r8 class). Consumers parse the exact integer.
        (max(col("block_m")) * max(col("yy")) -
          expr("CAST(max(t) AS DECIMAL(38,0)) * max(t)"))
          .cast(DecimalType(38, 0)).cast("string").as("s2_scaled"))
      .orderBy(col("event_type"), col("block_m"), col("block_id"))
  }

  private val w33Sql =
    """WITH d AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 dy,
      |    CAST(SUM(CAST(round("value" * 100) AS BIGINT)) AS BIGINT) y
      |  FROM events WHERE "value" IS NOT NULL GROUP BY 1, 2),
      |r AS (
      |  SELECT event_type, y,
      |    CAST(ROW_NUMBER() OVER w AS BIGINT) idx,
      |    CAST(SUM(y) OVER w AS BIGINT) cum
      |  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY dy)),
      |e AS (
      |  SELECT event_type, block_m, (idx - 1) // block_m block_id,
      |    (idx - 1) % block_m + 1 i, y, cum
      |  FROM r, (SELECT CAST(unnest([5, 10, 15]) AS BIGINT) block_m)),
      |blk AS (
      |  SELECT event_type, block_m, block_id,
      |    CAST(COUNT(*) AS BIGINT) nd, CAST(SUM(y) AS BIGINT) t,
      |    CAST(MAX(CASE WHEN i = 1 THEN cum - y END) AS BIGINT) c0,
      |    SUM(CAST(y AS HUGEINT) * y) yy
      |  FROM e GROUP BY 1, 2, 3),
      |z AS (
      |  SELECT e.event_type, e.block_m, e.block_id,
      |    e.block_m * (e.cum - blk.c0) - e.i * blk.t zz,
      |    blk.t, blk.yy
      |  FROM e JOIN blk USING (event_type, block_m, block_id)
      |  WHERE blk.nd = e.block_m)
      |SELECT event_type, block_m, block_id,
      |  CAST(MAX(zz) - MIN(zz) AS BIGINT) r_scaled,
      |  CAST(MAX(block_m) * MAX(yy) - CAST(MAX(t) AS HUGEINT) * MAX(t)
      |    AS VARCHAR) s2_scaled
      |FROM z GROUP BY 1, 2, 3
      |ORDER BY event_type, block_m, block_id""".stripMargin

  /** w34 — multi-lag autocorrelation + Ljung–Box portmanteau components
    * per event type over the 30-day daily series: is the daily signal
    * white noise, or does it carry structure at ANY of lags 1–5? (w25
    * answers lag-1 on the raw event stream; w31/w32 test monotone trend
    * and sign independence — this is the omnibus serial-correlation
    * gate, the one a forecasting/backfill consumer checks first.)
    *
    * Exactness contract: mean-centering is done in SCALED integers —
    * c_t = T·y_t − Σy (the ×T lift clears the rational mean) — so the
    * lag-k autocovariance A_k = Σ c_t·c_{t+k} and A_0 = Σ c_t² are
    * exact, and ρ_k = A_k/A_0 exactly (the T² lift cancels). Emitted:
    * the raw integers (acov_num, acov_den) plus ρ in sign-aware floored
    * ppm, and the Ljung–Box term T(T+2)·ρ_k²/(T−k) in micro-units
    * computed FROM the quantized rho_ppm (both engines square the same
    * int64, so the quantization point is the deterministic contract —
    * the a50 convention). Σ lb_term_micro vs the χ²₍₅₎ critical value
    * is the consumer's verdict; all raw components ride along for full-
    * precision recomputation.
    *
    * Scale shape: one partial-agg shuffle to the (type × day)-bounded
    * daily table; ONE window exchange on event_type serves the
    * full-partition T/Σy aggregates and all five leads; the final
    * stack explodes 5 rows per type over the type-bounded aggregate.
    */
  def w34LjungBox(spark: SparkSession, dir: String): DataFrame = {
    val D = DecimalType(38, 0)
    val full = Window.partitionBy(col("event_type"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val daily = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("y"))
    val centered = daily
      .withColumn("td", count(lit(1)).over(full))
      .withColumn("c", col("td").cast(D) * col("y") - sum(col("y")).over(full).cast(D))
    val led = (1 to 5).foldLeft(centered) { (df, k) =>
      df.withColumn(s"c$k", lead(col("c"), k).over(w))
    }
    val agg = led.groupBy(col("event_type"))
      .agg(max(col("td")).as("n_days"),
        sum(col("c") * col("c")).as("a0"),
        coalesce(sum(col("c") * col("c1")), lit(0).cast(D)).as("a1"),
        coalesce(sum(col("c") * col("c2")), lit(0).cast(D)).as("a2"),
        coalesce(sum(col("c") * col("c3")), lit(0).cast(D)).as("a3"),
        coalesce(sum(col("c") * col("c4")), lit(0).cast(D)).as("a4"),
        coalesce(sum(col("c") * col("c5")), lit(0).cast(D)).as("a5"))
    agg
      .select(col("event_type"), col("n_days"), col("a0"),
        expr("stack(5, 1, a1, 2, a2, 3, a3, 4, a4, 5, a5)").as(Seq("lag", "acov")))
      .withColumn("rho_ppm", expr(
        "CAST(CASE WHEN a0 = 0 THEN 0 WHEN acov >= 0 THEN " +
          "(CAST(1000000 AS DECIMAL(38,0)) * acov) div a0 " +
          "ELSE -((CAST(1000000 AS DECIMAL(38,0)) * (-acov)) div a0) END AS BIGINT)"))
      .withColumn("lb_term_micro", expr(
        "CASE WHEN n_days > lag THEN " +
          "n_days * (n_days + 2) * rho_ppm * rho_ppm div (CAST(1000000 AS BIGINT) * (n_days - lag)) " +
          "ELSE CAST(0 AS BIGINT) END"))
      .select(col("event_type"), col("lag").cast("int").as("lag"),
        col("n_days"), expr("CAST(acov AS BIGINT)").as("acov_num"),
        expr("CAST(a0 AS BIGINT)").as("acov_den"),
        col("rho_ppm"), col("lb_term_micro"))
      .orderBy(col("event_type"), col("lag"))
  }

  private val w34Sql =
    """WITH d AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 "day",
      |    CAST(SUM(CAST(round("value" * 100) AS BIGINT)) AS BIGINT) y
      |  FROM events WHERE "value" IS NOT NULL GROUP BY 1, 2),
      |c AS (
      |  SELECT event_type, "day",
      |    CAST(COUNT(*) OVER wf AS BIGINT) td,
      |    CAST(COUNT(*) OVER wf AS HUGEINT) * y - CAST(SUM(y) OVER wf AS HUGEINT) c
      |  FROM d WINDOW wf AS (PARTITION BY event_type)),
      |l AS (
      |  SELECT event_type, td, c,
      |    LEAD(c, 1) OVER wo c1, LEAD(c, 2) OVER wo c2, LEAD(c, 3) OVER wo c3,
      |    LEAD(c, 4) OVER wo c4, LEAD(c, 5) OVER wo c5
      |  FROM c WINDOW wo AS (PARTITION BY event_type ORDER BY "day")),
      |a AS (
      |  SELECT event_type, MAX(td) n_days, SUM(c * c) a0,
      |    COALESCE(SUM(c * c1), 0) a1, COALESCE(SUM(c * c2), 0) a2,
      |    COALESCE(SUM(c * c3), 0) a3, COALESCE(SUM(c * c4), 0) a4,
      |    COALESCE(SUM(c * c5), 0) a5
      |  FROM l GROUP BY 1),
      |u AS (
      |  SELECT event_type, n_days, a0, k.lag,
      |    CASE k.lag WHEN 1 THEN a1 WHEN 2 THEN a2 WHEN 3 THEN a3
      |         WHEN 4 THEN a4 ELSE a5 END acov
      |  FROM a, (SELECT unnest([1, 2, 3, 4, 5]) lag) k),
      |r AS (
      |  SELECT event_type, lag, n_days, acov, a0,
      |    CAST(CASE WHEN a0 = 0 THEN 0 WHEN acov >= 0 THEN
      |        CAST(1000000 AS HUGEINT) * acov // a0
      |      ELSE -(CAST(1000000 AS HUGEINT) * (-acov) // a0) END AS BIGINT) rho_ppm
      |  FROM u)
      |SELECT event_type, CAST(lag AS INTEGER) lag, CAST(n_days AS BIGINT) n_days,
      |  CAST(acov AS BIGINT) acov_num, CAST(a0 AS BIGINT) acov_den, rho_ppm,
      |  CASE WHEN n_days > lag THEN
      |    CAST(n_days * (n_days + 2) * rho_ppm * rho_ppm
      |      // (CAST(1000000 AS BIGINT) * (n_days - lag)) AS BIGINT)
      |  ELSE CAST(0 AS BIGINT) END lb_term_micro
      |FROM r ORDER BY event_type, lag""".stripMargin

  /** w35 — Theil–Sen robust trend per event type: the MEDIAN of all
    * pairwise daily slopes (y_j − y_i)/(day_j − day_i) — w30's OLS dual
    * with a 29.3% breakdown point, the estimator that shrugs off the
    * outlier days that drag a least-squares slope. The daily rollup
    * bounds the pair space to C(30,2) = 435 pairs per type (pairs are
    * generated from the AGGREGATED frame, never the event table), so
    * "all pairs" is a bounded-table operation at any corpus size.
    *
    * Exact median selection over RATIONAL slopes without floats: each
    * slope dy/dx is ranked by the integer image dy·(L div dx) with
    * L = lcm(1..29) = 2329089562800 — day gaps within the 30-day corpus
    * window always divide L, so the image is the slope scaled by a
    * common constant and the ORDER BY is an exact rational order
    * (ties broken by the pair's day coordinates, identically in both
    * engines). The emitted slope is the median pair's raw (dy, dx) plus
    * a sign-aware floored milli-slope.
    *
    * Scale shape: one partial-agg shuffle to the daily table, a
    * type-keyed self-join over 30-row groups, one window on the
    * 435-row-per-type pair table. Nothing touches the raw events twice.
    */
  def w35TheilSen(spark: SparkSession, dir: String): DataFrame = {
    val L = 2329089562800L // lcm(1..29)
    val daily = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("y"))
    val pairs = daily.as("a").join(daily.as("b"),
        col("a.event_type") === col("b.event_type") && col("b.day") > col("a.day"))
      .select(col("a.event_type").as("event_type"),
        col("a.day").as("da"), col("b.day").as("db"),
        (col("b.y") - col("a.y")).as("dy"), (col("b.day") - col("a.day")).as("dx"))
      .withColumn("scaled", expr(
        s"CAST(dy AS DECIMAL(38,0)) * (CAST($L AS DECIMAL(38,0)) div dx)"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("scaled"), col("da"), col("db"))
    pairs
      .withColumn("rn", row_number().over(w))
      .withColumn("n_pairs", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .filter(col("rn") === expr("(n_pairs + 1) div 2"))
      .select(col("event_type"),
        expr("CAST((1 + sqrt(1 + 8 * CAST(n_pairs AS DOUBLE))) / 2 AS BIGINT)").as("n_days"),
        col("n_pairs"), col("dy").as("med_dy_cents"), col("dx").as("med_dx_days"),
        expr("CASE WHEN dy >= 0 THEN (1000 * dy) div dx " +
          "ELSE -((1000 * -dy) div dx) END").as("slope_milli"),
        when(col("dy") > 0, "up").when(col("dy") < 0, "down")
          .otherwise("flat").as("direction"))
      .orderBy(col("event_type"))
  }

  private val w35Sql =
    """WITH d AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 "day",
      |    CAST(SUM(CAST(round("value" * 100) AS BIGINT)) AS BIGINT) y
      |  FROM events WHERE "value" IS NOT NULL GROUP BY 1, 2),
      |p AS (
      |  SELECT a.event_type, a."day" da, b."day" db,
      |    b.y - a.y dy, b."day" - a."day" dx,
      |    CAST(b.y - a.y AS HUGEINT)
      |      * (CAST(2329089562800 AS HUGEINT) // (b."day" - a."day")) scaled
      |  FROM d a JOIN d b
      |    ON a.event_type = b.event_type AND b."day" > a."day"),
      |r AS (
      |  SELECT event_type, da, db, dy, dx,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY scaled, da, db) rn,
      |    COUNT(*) OVER (PARTITION BY event_type) n_pairs
      |  FROM p)
      |SELECT event_type,
      |  CAST((1 + sqrt(1 + 8 * CAST(n_pairs AS DOUBLE))) / 2 AS BIGINT) n_days,
      |  CAST(n_pairs AS BIGINT) n_pairs,
      |  dy med_dy_cents, dx med_dx_days,
      |  CAST(CASE WHEN dy >= 0 THEN (1000 * dy) // dx
      |       ELSE -((1000 * -dy) // dx) END AS BIGINT) slope_milli,
      |  CASE WHEN dy > 0 THEN 'up' WHEN dy < 0 THEN 'down' ELSE 'flat' END direction
      |FROM r WHERE rn = (n_pairs + 1) // 2
      |ORDER BY event_type""".stripMargin

  /** w36 — one-sided CUSUM drift ALARM per event type: the ONLINE
    * sequential detector (first day the cumulative positive excursion
    * exceeds λ) where w24 is the offline retrospective argmax. The
    * recursive S_t = max(0, S_{t−1} + e_t) is rewritten on the window
    * identity S_t = P_t − min_{j≤t} P_j (prefix sum minus running min),
    * so the whole detector is two stacked running frames on ONE ordered
    * exchange — no driver loop, no UDAF.
    *
    * Integer contract (all quantities scaled ×5): reference = the first
    * 5 days; e_t = 5·x_t − R5 (5× the deviation from the reference
    * mean), λ = 10·max_{t<5}|e_t|, alarms evaluated from day index 5.
    * Each type also runs a PLANTED drift twin (+R5 cents/day from day
    * index 20 — a five-reference-mean-days step, sized to clear any
    * reference-noise λ within days; the m12/t42 planted-fault convention) so both verdict branches are exercised
    * deterministically: twins must alarm at/after day 20, and alarm-free
    * raw series report −1.
    *
    * Scale shape: everything after the daily rollup runs on the
    * (type × 30)-bounded frame; the peak/argmax resolution is a
    * bounded self-join on the per-type aggregate, never the events.
    */
  def w36CusumAlarm(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("series"), col("event_type")).orderBy(col("day"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val daily = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("x"))
      .withColumn("i", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("day"))) - 1)
    val ref = daily.filter(col("i") < 5)
      .groupBy(col("event_type")).agg(sum(col("x")).as("r5"))
    val both = daily.join(ref, "event_type")
      .select(lit("raw").as("series"), col("event_type"), col("day"), col("i"),
        col("x"), col("r5"))
      .unionByName(daily.join(ref, "event_type")
        .select(lit("drift").as("series"), col("event_type"), col("day"), col("i"),
          (col("x") + when(col("i") >= 20, expr("greatest(1L, r5)"))
            .otherwise(0L)).as("x"),
          col("r5")))
    val s = both
      .withColumn("e", lit(5L) * col("x") - col("r5"))
      .withColumn("p", sum(col("e")).over(run))
      // the running min must include the EMPTY prefix (P_0 = 0), or the
      // recursive max(0, S+e) identity breaks on all-positive prefixes
      .withColumn("s", col("p") - least(lit(0L), min(col("p")).over(run)))
    val lam = s.filter(col("i") < 5)
      .groupBy(col("series"), col("event_type"))
      .agg((lit(10L) * max(abs(col("e")))).as("lambda"))
    val scored = s.join(lam, Seq("series", "event_type"))
    val agg = scored.groupBy(col("series"), col("event_type"), col("lambda"))
      .agg(coalesce(min(when(col("i") >= 5 && col("s") > col("lambda"), col("i"))),
        lit(-1L)).as("alarm_day"), max(col("s")).as("s_peak"))
    agg.join(scored.select(col("series"), col("event_type"),
        col("i").as("pi"), col("s").as("ps")), Seq("series", "event_type"))
      .filter(col("ps") === col("s_peak"))
      .groupBy(col("series"), col("event_type"), col("lambda"),
        col("alarm_day"), col("s_peak"))
      .agg(min(col("pi")).cast("long").as("peak_day"))
      .select(col("series"), col("event_type"), col("lambda"),
        col("alarm_day").cast("long").as("alarm_day"), col("s_peak"), col("peak_day"))
      .orderBy(col("series"), col("event_type"))
  }

  private val w36Sql =
    """WITH d0 AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 "day",
      |    CAST(SUM(CAST(round("value" * 100) AS BIGINT)) AS BIGINT) x
      |  FROM events WHERE "value" IS NOT NULL GROUP BY 1, 2),
      |d AS (
      |  SELECT event_type, "day", x,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY "day") - 1 i
      |  FROM d0),
      |ref AS (SELECT event_type, CAST(SUM(x) AS BIGINT) r5 FROM d WHERE i < 5 GROUP BY 1),
      |b AS (
      |  SELECT 'raw' series, d.event_type, "day", i, x, r5
      |  FROM d JOIN ref USING (event_type)
      |  UNION ALL
      |  SELECT 'drift', d.event_type, "day", i,
      |    x + CASE WHEN i >= 20 THEN greatest(1, r5) ELSE 0 END, r5
      |  FROM d JOIN ref USING (event_type)),
      |pp AS (
      |  SELECT series, event_type, "day", i, 5 * x - r5 e,
      |    SUM(5 * x - r5) OVER (PARTITION BY series, event_type ORDER BY "day"
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) p
      |  FROM b),
      |s AS (
      |  SELECT series, event_type, i, e,
      |    p - least(0, MIN(p) OVER (PARTITION BY series, event_type ORDER BY "day"
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) s
      |  FROM pp),
      |lam AS (
      |  SELECT series, event_type, CAST(10 * MAX(abs(e)) AS BIGINT) lambda
      |  FROM s WHERE i < 5 GROUP BY 1, 2),
      |sc AS (SELECT s.*, lam.lambda FROM s JOIN lam USING (series, event_type)),
      |a AS (
      |  SELECT series, event_type, lambda,
      |    COALESCE(MIN(CASE WHEN i >= 5 AND s > lambda THEN i END), -1) alarm_day,
      |    MAX(s) s_peak
      |  FROM sc GROUP BY 1, 2, 3)
      |SELECT a.series, a.event_type, a.lambda,
      |  CAST(a.alarm_day AS BIGINT) alarm_day, CAST(a.s_peak AS BIGINT) s_peak,
      |  CAST(MIN(sc.i) AS BIGINT) peak_day
      |FROM a JOIN sc ON a.series = sc.series AND a.event_type = sc.event_type
      |  AND sc.s = a.s_peak
      |GROUP BY 1, 2, 3, 4, 5
      |ORDER BY a.series, a.event_type""".stripMargin

  /** w37 — Kendall τ concordance between event types: for every type
    * PAIR, do the daily series co-move? The rank-based dependence dual
    * of w28's value correlation — robust to any monotone transform of
    * either series, and exact: every quantity is a pair COUNT. Both
    * joins are over the (type × 30)-bounded daily table (w35's
    * bounded-pair convention): align the two series on day, then
    * enumerate the 435 day pairs per type pair and classify
    * sign((x_j−x_i)·(y_j−y_i)) into concordant / discordant / x-tie /
    * y-tie / both-tie. Emitted raw: S = C − D is the test statistic,
    * and the tie counts let the consumer form τ-b's denominator — the
    * one square root this contract correctly refuses to take.
    *
    * Scale shape: one partial-agg shuffle to the daily table; the
    * day-align join and the day-pair join are bounded self-joins (10
    * type pairs × 435 rows); nothing touches raw events twice.
    */
  def w37KendallTau(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("y"))
    val aligned = daily.as("a").join(daily.as("b"),
        col("a.day") === col("b.day") && col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("ta"), col("b.event_type").as("tb"),
        col("a.day").as("day"), col("a.y").as("x"), col("b.y").as("y"))
    val pairs = aligned.as("p").join(aligned.as("q"),
        col("p.ta") === col("q.ta") && col("p.tb") === col("q.tb") &&
          col("q.day") > col("p.day"))
      .select(col("p.ta").as("ta"), col("p.tb").as("tb"),
        (col("q.x") - col("p.x")).as("dx"), (col("q.y") - col("p.y")).as("dy"))
    // classify by signum(dx)·signum(dy), never the raw product: dx/dy
    // are differences of daily cent sums, so dx*dy can overflow int64
    // at large scale factors — Spark (non-ANSI) wraps silently and
    // misclassifies while DuckDB raises. Only the sign matters.
    pairs.groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(signum(col("dx")) * signum(col("dy")) > 0, 1L).otherwise(0L))
          .as("concordant"),
        sum(when(signum(col("dx")) * signum(col("dy")) < 0, 1L).otherwise(0L))
          .as("discordant"),
        sum(when(col("dx") === 0 && col("dy") =!= 0, 1L).otherwise(0L)).as("ties_x"),
        sum(when(col("dy") === 0 && col("dx") =!= 0, 1L).otherwise(0L)).as("ties_y"),
        sum(when(col("dx") === 0 && col("dy") === 0, 1L).otherwise(0L)).as("ties_both"))
      .withColumn("s_stat", col("concordant") - col("discordant"))
      .withColumn("direction",
        when(col("s_stat") > 0, "concordant")
          .when(col("s_stat") < 0, "discordant").otherwise("independent"))
      .select(col("ta"), col("tb"), col("n_pairs"), col("concordant"),
        col("discordant"), col("ties_x"), col("ties_y"), col("ties_both"),
        col("s_stat"), col("direction"))
      .orderBy(col("ta"), col("tb"))
  }

  private val w37Sql =
    """WITH d AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 "day",
      |    CAST(SUM(CAST(round("value" * 100) AS BIGINT)) AS BIGINT) y
      |  FROM events WHERE "value" IS NOT NULL GROUP BY 1, 2),
      |al AS (
      |  SELECT a.event_type ta, b.event_type tb, a."day" "day", a.y x, b.y y
      |  FROM d a JOIN d b ON a."day" = b."day" AND a.event_type < b.event_type),
      |p AS (
      |  SELECT p.ta, p.tb, q.x - p.x dx, q.y - p.y dy
      |  FROM al p JOIN al q
      |    ON p.ta = q.ta AND p.tb = q.tb AND q."day" > p."day"),
      |g AS (
      |  SELECT ta, tb, CAST(COUNT(*) AS BIGINT) n_pairs,
      |    CAST(SUM(CASE WHEN sign(dx) * sign(dy) > 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) concordant,
      |    CAST(SUM(CASE WHEN sign(dx) * sign(dy) < 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) discordant,
      |    CAST(SUM(CASE WHEN dx = 0 AND dy <> 0 THEN 1 ELSE 0 END) AS BIGINT) ties_x,
      |    CAST(SUM(CASE WHEN dy = 0 AND dx <> 0 THEN 1 ELSE 0 END) AS BIGINT) ties_y,
      |    CAST(SUM(CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0 END) AS BIGINT) ties_both
      |  FROM p GROUP BY 1, 2)
      |SELECT ta, tb, n_pairs, concordant, discordant, ties_x, ties_y, ties_both,
      |  concordant - discordant s_stat,
      |  CASE WHEN concordant > discordant THEN 'concordant'
      |       WHEN concordant < discordant THEN 'discordant'
      |       ELSE 'independent' END direction
      |FROM g ORDER BY ta, tb""".stripMargin

  /** w38 — MASE forecast backtest per event type: is there exploitable
    * daily seasonality in the hourly signal, measured the way a
    * forecaster would — by BACKTEST error, not by fit statistics
    * (a51/w16 ask whether the hour-of-week profile is real; this asks
    * whether USING it beats the naive carry-forward). Model = seasonal
    * naive (ŷ_t = y_{t−24h}); baseline = naive (ŷ_t = y_{t−1h});
    * MASE = MAE_model / MAE_naive, emitted as exact integer components
    * (term counts + absolute-error cents sums) plus the floored ppm
    * ratio mase_ppm = ⌊10⁶·s_sum·n_n / (s_n·n_sum)⌋ — < 10⁶ means the
    * seasonal model wins. Gap-safe: naive terms pair STRICTLY
    * consecutive hours (lag + hour-delta check), seasonal terms join on
    * h−24 existence — both rules identical in both engines.
    *
    * Scale shape: one partial-agg shuffle to the (type × hour) table;
    * one window (lag) and one self-join on the 720-row-per-type hourly
    * frame; a bounded final aggregate. Raw events scanned once.
    */
  def w38Mase(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("y"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val naive = hourly
      .withColumn("py", lag(col("y"), 1).over(w))
      .withColumn("ph", lag(col("h"), 1).over(w))
      .filter(col("py").isNotNull && col("h") - col("ph") === 1)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_naive"), sum(abs(col("y") - col("py"))).as("naive_abs_cents"))
    val seasonal = hourly.as("a").join(hourly.as("b"),
        col("a.event_type") === col("b.event_type") && col("b.h") === col("a.h") - 24)
      .select(col("a.event_type").as("event_type"),
        abs(col("a.y") - col("b.y")).as("e"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_seasonal"), sum(col("e")).as("seasonal_abs_cents"))
    naive.join(seasonal, "event_type")
      .withColumn("mase_ppm", expr(
        "CAST(CASE WHEN seasonal_abs_cents = 0 OR naive_abs_cents = 0 THEN 0 ELSE " +
          "(CAST(1000000 AS DECIMAL(38,0)) * seasonal_abs_cents * n_naive) div " +
          "(CAST(n_seasonal AS DECIMAL(38,0)) * naive_abs_cents) END AS BIGINT)"))
      .withColumn("seasonal_wins", col("mase_ppm") < 1000000L && col("mase_ppm") > 0L)
      .select(col("event_type"), col("n_naive"), col("naive_abs_cents"),
        col("n_seasonal"), col("seasonal_abs_cents"), col("mase_ppm"),
        col("seasonal_wins"))
      .orderBy(col("event_type"))
  }

  private val w38Sql =
    """WITH hr AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 h,
      |    CAST(SUM(CAST(round("value" * 100) AS BIGINT)) AS BIGINT) y
      |  FROM events WHERE "value" IS NOT NULL GROUP BY 1, 2),
      |nv AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) n_naive,
      |    CAST(SUM(ABS(y - py)) AS BIGINT) naive_abs_cents
      |  FROM (
      |    SELECT event_type, h, y,
      |      LAG(y) OVER (PARTITION BY event_type ORDER BY h) py,
      |      LAG(h) OVER (PARTITION BY event_type ORDER BY h) ph
      |    FROM hr)
      |  WHERE py IS NOT NULL AND h - ph = 1 GROUP BY 1),
      |sn AS (
      |  SELECT a.event_type, CAST(COUNT(*) AS BIGINT) n_seasonal,
      |    CAST(SUM(ABS(a.y - b.y)) AS BIGINT) seasonal_abs_cents
      |  FROM hr a JOIN hr b
      |    ON a.event_type = b.event_type AND b.h = a.h - 24
      |  GROUP BY 1)
      |SELECT nv.event_type, n_naive, naive_abs_cents, n_seasonal,
      |  seasonal_abs_cents,
      |  CAST(CASE WHEN seasonal_abs_cents = 0 OR naive_abs_cents = 0 THEN 0 ELSE
      |    (CAST(1000000 AS HUGEINT) * seasonal_abs_cents * n_naive)
      |      // (CAST(n_seasonal AS HUGEINT) * naive_abs_cents) END AS BIGINT) mase_ppm,
      |  CAST(CASE WHEN seasonal_abs_cents = 0 OR naive_abs_cents = 0 THEN 0 ELSE
      |    (CAST(1000000 AS HUGEINT) * seasonal_abs_cents * n_naive)
      |      // (CAST(n_seasonal AS HUGEINT) * naive_abs_cents) END AS BIGINT)
      |    BETWEEN 1 AND 999999 seasonal_wins
      |FROM nv JOIN sn ON nv.event_type = sn.event_type
      |ORDER BY nv.event_type""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("w38_mase",
      "MASE seasonal-naive backtest per type: exact abs-error components + floored ppm ratio vs the naive baseline",
      w38Mase, Some(w38Sql)),
    QueryDef("w37_kendall_tau",
      "Kendall tau concordance per type pair: exact C/D/tie pair counts over the aligned daily series",
      w37KendallTau, Some(w37Sql)),
    QueryDef("w36_cusum_alarm",
      "online CUSUM drift alarm per type (prefix-sum-minus-running-min identity) with a planted drift twin",
      w36CusumAlarm, Some(w36Sql)),
    QueryDef("w35_theil_sen",
      "Theil-Sen robust trend: exact rational median of the 435 daily pairwise slopes per type",
      w35TheilSen, Some(w35Sql)),
    QueryDef("w34_ljung_box",
      "Ljung-Box serial-correlation gate: exact lag-1..5 autocovariances + quantized portmanteau terms per type",
      w34LjungBox, Some(w34Sql)),
    QueryDef("w33_rescaled_range",
      "Hurst R/S components per type: exact per-block m*R and m^2*S^2 over block sizes 5/10/15",
      w33RescaledRange, Some(w33Sql)),
    QueryDef("w32_runs_test",
      "Wald-Wolfowitz runs test on daily up/down moves per type (exact integer gate)",
      w32RunsTest, Some(w32Sql)),
    QueryDef("w31_mann_kendall",
      "Mann-Kendall monotone-trend test per type: tie-corrected, integer z>=2 verdict",
      w31MannKendall, Some(w31Sql)),
    QueryDef("w30_trend_slope",
      "per-type OLS trend of the hourly series: exact integer components + verdict",
      w30TrendSlope, Some(w30Sql)),
    QueryDef("w29_topk_churn",
      "day-over-day top-5 leaderboard churn (rank stability canary)",
      w29TopkChurn(_, _), Some(w29Sql)),
    QueryDef("w28_rolling_corr",
      "trailing-24h signed quantized r^2 between two hourly value series",
      w28RollingCorr(_, _), Some(w28Sql)),
    QueryDef("w27_bollinger_breach",
      "trailing 20-row 2-sigma band breach rate, denominator-free int64 test",
      w27BollingerBreach, Some(w27Sql)),
    QueryDef("w26_max_drawdown",
      "max peak-to-trough drawdown of the cumulative value series per type",
      w26MaxDrawdown, Some(w26Sql)),
    QueryDef("w25_lag_autocorr",
      "lag-1 autocorrelation as signed quantized r^2 (exact integer formula)",
      w25LagAutocorr, Some(w25Sql)),
    QueryDef("w24_changepoint",
      "exact single changepoint per type: argmax between-segment contrast",
      w24Changepoint, Some(w24Sql)),
    QueryDef("w23_bounce_rate",
      "gap-sessionized bounce share per entry event type (one exchange)",
      w23BounceRate, Some(w23Sql)),
    QueryDef("w22_ewma",
      "dyadic-weight EWMA over 16 lags — exact integer smoothing",
      w22Ewma, Some(w22Sql)),
    QueryDef("w21_latency_percentiles",
      "exact nearest-rank P50/P90/P99 per event type (one exchange)",
      w21LatencyPercentiles, Some(w21Sql)),
    QueryDef("w20_concurrency",
      "sweep-line max-overlap per event type (no O(n^2) interval self-join)",
      w20Concurrency, Some(w20Sql)),
    QueryDef("w19_rolling_median",
      "rolling lower-median smoothing over a 5-row frame (exact cents)",
      w19RollingMedian, Some(w19Sql)),
    QueryDef("w18_interpolate_fill",
      "day-spine densification + exact integer linear interpolation per series",
      w18InterpolateFill, Some(w18Sql)),
    QueryDef("w17_decay_score", "integer power-of-two recency-decay score per user",
      w17DecayScore, Some(w17Sql)),
    QueryDef("w15_ohlc_bars", "OHLC bars per (event_type, hour) in one exchange",
      w15OhlcBars, Some(w15Sql)),
    QueryDef("w14_twap", "time-weighted average per user-day (step-function hold)",
      w14Twap, Some(w14Sql)),
    QueryDef("w01_topn_per_group", "row_number top-N per group", w01TopNPerGroup, Some(w01Sql)),
    QueryDef("w12_funnel_steps", "ordered view->click->purchase funnel (one exchange)",
      w12FunnelSteps, Some(w12Sql)),
    QueryDef("w13_longest_streak", "gaps-and-islands: longest consecutive-day streak",
      w13LongestStreak, Some(w13Sql)),
    QueryDef("w11_cohort_retention", "cohort-day retention matrix (one exchange anchor)",
      w11CohortRetention, Some(w11Sql)),
    QueryDef("w10_locf_fill", "LOCF gap fill via last_value IGNORE NULLS running frame",
      w10LocfFill, Some(w10Sql)),
    QueryDef("w07_cume_dist", "partitioned cume_dist + dense_rank", w07CumeDist, Some(w07Sql)),
    QueryDef("w06_topk_aggregate", "custom TypedImperativeAggregate top-k", w06TopKAggregate, Some(w06Sql)),
    QueryDef("w02_lag_delta", "lag/lead offsets per key", w02LagDelta, Some(w02Sql)),
    QueryDef("w03_rolling_avg", "5-row rolling average frame", w03RollingAvg, Some(w03Sql)),
    QueryDef("w04_running_share", "running total + share of partition", w04RunningShare, Some(w04Sql)),
    QueryDef("w05_distribution", "ntile decile + percent_rank", w05Distribution, Some(w05Sql)),
    QueryDef("w08_sessionize", "batch gap-based sessionization (lag + cumsum)",
      w08Sessionize, Some(w08Sql)),
    QueryDef("w09_range_frame", "trailing 2h RANGE frame (count + exact sum)",
      w09RangeFrame, Some(w09Sql))
  )
}
