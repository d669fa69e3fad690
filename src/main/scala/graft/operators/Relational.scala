package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QueryDef, Tables}
import graft.util.Exact._

/** Relational core — SURVEY.md §2.4 aggregation family (A1–A20), §2.2
  * projection/filter family (P1–P14) and §2.3 scalar functions (F3–F5,
  * F7–F10) re-expressed as declarative DataFrame plans over the synthetic
  * tables, each with a DuckDB oracle.
  *
  * Design rules applied throughout (see SURVEY §4):
  *  - group-sort-topk shapes stay fully declarative so Catalyst plans
  *    partial+final HashAggregate + TakeOrderedAndProject;
  *  - every SUM/AVG of a fixed-decimal column goes through [[graft.util.Exact]]
  *    so results are bit-identical under any partitioning (and any engine);
  *  - every query output carries a total order (unique trailing tie-break
  *    keys, or ORDER BY all columns for row-level outputs) so differential
  *    comparison is deterministic;
  *  - exact `percentile` (never `percentile_approx`) mirrors pandas
  *    interpolating quantiles (reference Health_Jim.py:338-350, 384-395).
  */
object Relational {

  /** A1/A13-shape — TPC-H-Q1-style pricing summary.
    * Reference: the universal "hash agg by key → sort → limit" query shape,
    * e.g. nb:cell2:1-5 / Health_Jim.py:439-447.
    */
  def a01PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        exactSum(col("l_quantity")).as("sum_qty"),
        exactSum(col("l_extendedprice")).as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount")))
          .cast(DoubleType).as("sum_disc_price"),
        exactAvg(col("l_quantity")).as("avg_qty"),
        exactAvg(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  private val a01Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** A2 — two-key group, mixed asc/desc sort, LIMIT 50 (nb:cell6:3-7). */
  def a02YearlyTrend(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity").isNotNull)
      .groupBy(year(col("l_shipdate")).cast(IntegerType).as("ship_year"),
               col("l_returnflag"))
      .agg(count(lit(1)).as("cases"),
           exactAvg(col("l_quantity")).as("avg_qty"))
      .orderBy(col("avg_qty").asc, col("cases").desc,
               col("ship_year").asc, col("l_returnflag").asc)
      .limit(50)
  }

  private val a02Sql =
    """SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS ship_year, l_returnflag,
      |  COUNT(*) AS cases,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty
      |FROM lineitem
      |WHERE l_quantity IS NOT NULL
      |GROUP BY 1, 2
      |ORDER BY avg_qty ASC, cases DESC, ship_year ASC, l_returnflag ASC
      |LIMIT 50""".stripMargin

  /** A3 — group + HAVING on an aggregate alias (nb:cell11:2-13). */
  def a03HavingSegment(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir)
      .groupBy(col("c_mktsegment"))
      .agg(exactAvg(col("c_acctbal")).as("avg_bal"),
           count(lit(1)).as("n_customers"))
      .filter(col("avg_bal").isNotNull)  // HAVING avg_bal IS NOT NULL
      .orderBy(col("avg_bal").desc, col("c_mktsegment").asc)
  }

  private val a03Sql =
    """SELECT c_mktsegment,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(c_acctbal) AS avg_bal,
      |  COUNT(*) AS n_customers
      |FROM customer
      |GROUP BY c_mktsegment
      |HAVING avg_bal IS NOT NULL
      |ORDER BY avg_bal DESC, c_mktsegment ASC""".stripMargin

  /** A4 — two-key group with pre-agg not-null filter (nb:cell14:1-10). */
  def a04StatusPriorityCost(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .filter(col("o_totalprice").isNotNull)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(exactAvg(col("o_totalprice")).as("avg_price"),
           count(lit(1)).as("n_orders"))
      .orderBy(col("avg_price").desc, col("o_orderstatus").asc,
               col("o_orderpriority").asc)
  }

  private val a04Sql =
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(o_totalprice) AS avg_price,
      |  COUNT(*) AS n_orders
      |FROM orders
      |WHERE o_totalprice IS NOT NULL
      |GROUP BY 1, 2
      |ORDER BY avg_price DESC, o_orderstatus ASC, o_orderpriority ASC""".stripMargin

  /** A5 — avg + two sums, top-10 (nb:cell18:1-13; the reference's dead
    * `WHERE "Mortality_Rate" IS NOT NULL` is reproduced as the always-true
    * predicate it evaluates to — SURVEY §2.7 Q1).
    */
  def a05SumsTopK(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(exactAvg(col("l_discount")).as("avg_disc"),
           exactSum(col("l_extendedprice")).as("sum_price"),
           exactSum(col("l_tax")).as("sum_tax"))
      .orderBy(col("avg_disc").desc, col("l_returnflag").asc)
      .limit(10)
  }

  private val a05Sql =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  CAST(SUM(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS sum_tax
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY avg_disc DESC, l_returnflag ASC
      |LIMIT 10""".stripMargin

  /** A7 — two-level re-aggregation: avg of per-(supplier,flag) averages,
    * each level-1 group weighted equally (nb:cell22:1-12).
    */
  def a06AvgOfAvgs(spark: SparkSession, dir: String): DataFrame = {
    val level1 = Tables.lineitem(spark, dir)
      .groupBy(col("l_suppkey"), col("l_returnflag"))
      .agg(exactAvg(col("l_quantity")).as("avg1"))
    level1
      .groupBy(col("l_returnflag"))
      .agg((sum(col("avg1").cast(DecimalType(18, 6))).cast(DoubleType) /
              count(lit(1))).as("avg_of_avg"),
           count(lit(1)).as("n_groups"))
      .orderBy(col("l_returnflag"))
  }

  private val a06Sql =
    """WITH l1 AS (
      |  SELECT l_suppkey, l_returnflag,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg1
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT l_returnflag,
      |  CAST(SUM(CAST(avg1 AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_of_avg,
      |  COUNT(*) AS n_groups
      |FROM l1
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** A10 — aggregate then melt/unpivot wide→long (Health_Jim.py:487-501). */
  def a07Unpivot(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(exactSum(col("l_extendedprice")).as("total_price"),
           exactSum(col("l_quantity")).as("total_qty"))
      .select(col("l_returnflag"),
        expr("stack(2, 'total_price', total_price, 'total_qty', total_qty) AS (measure, value)"))
      .orderBy(col("l_returnflag"), col("measure"))
  }

  private val a07Sql =
    """WITH g AS (
      |  SELECT l_returnflag,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, 'total_price' AS measure, total_price AS value FROM g
      |UNION ALL
      |SELECT l_returnflag, 'total_qty' AS measure, total_qty AS value FROM g
      |ORDER BY l_returnflag, measure""".stripMargin

  /** A13 — global overview: COUNT(*), exact COUNT(DISTINCT), avg
    * (nb:cell28:64-82). Exact distinct, not approx: cardinalities are tiny.
    */
  def a08Overview(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .agg(count(lit(1)).as("n_rows"),
           countDistinct(col("o_custkey")).as("n_customers"),
           countDistinct(col("o_orderpriority")).as("n_priorities"),
           exactAvg(col("o_totalprice")).as("avg_price"))
  }

  private val a08Sql =
    """SELECT COUNT(*) AS n_rows,
      |  COUNT(DISTINCT o_custkey) AS n_customers,
      |  COUNT(DISTINCT o_orderpriority) AS n_priorities,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(o_totalprice) AS avg_price
      |FROM orders""".stripMargin

  /** A14 — top-N value counts (nb:cell0:374-385). */
  def a09ValueCounts(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("o_orderpriority").asc)
      .limit(10)
  }

  private val a09Sql =
    """SELECT o_orderpriority, COUNT(*) AS cnt
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY cnt DESC, o_orderpriority ASC
      |LIMIT 10""".stripMargin

  /** A15 — per-column stats incl. exact interpolated median
    * (nb:cell0:386-403). `percentile`, never `percentile_approx`: pandas
    * median is exact/interpolating (SURVEY §4).
    */
  def a10ColumnStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // exact median via bounded-state radix selection (ScalableQuantile),
    // not `percentile` — identical value, no single-reducer value buffer
    val med = graft.util.ScalableQuantile
      .medians(li, Seq("l_quantity"))("l_quantity")
    li.agg(exactAvg(col("l_quantity")).as("mean_qty"),
           min(col("l_quantity")).as("min_qty"),
           max(col("l_quantity")).as("max_qty"),
           round(lit(med.orNull), 4).as("median_qty"),
           count(lit(1)).as("n"))
  }

  private val a10Sql =
    """SELECT
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS mean_qty,
      |  MIN(l_quantity) AS min_qty,
      |  MAX(l_quantity) AS max_qty,
      |  ROUND(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
      |  COUNT(*) AS n
      |FROM lineitem""".stripMargin

  /** A17 — grouped-median imputation: per-group exact median broadcast
    * back to every member row (Health_Jim.py:290-306, pandas
    * `groupby.transform('median')`). SURVEY §4 allows either the window
    * form or aggregate + join-back; this uses agg + broadcast join — the
    * scale-correct form: the per-key medians are a tiny aggregate (one
    * row per key) instead of a full per-window sort of the fact table,
    * and the join back is a broadcast. Same values either way.
    */
  def a11WindowMedian(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val meds = li.groupBy(col("l_suppkey").as("mk"))
      .agg(expr("percentile(l_quantity, 0.5)").as("med_raw"))
    li.join(broadcast(meds), col("l_suppkey") === col("mk"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
        round(col("med_raw"), 4).as("med_qty"),
        coalesce(col("l_quantity"), col("med_raw")).as("filled_qty"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
               col("med_qty"), col("filled_qty"))
  }

  private val a11Sql =
    """WITH m AS (
      |  SELECT l_suppkey, ROUND(quantile_cont(l_quantity, 0.5), 4) AS med_qty,
      |         quantile_cont(l_quantity, 0.5) AS med_raw
      |  FROM lineitem GROUP BY 1)
      |SELECT l.l_orderkey, l.l_linenumber, l.l_suppkey, m.med_qty,
      |       COALESCE(l.l_quantity, m.med_raw) AS filled_qty
      |FROM lineitem l JOIN m USING (l_suppkey)
      |ORDER BY l.l_orderkey, l.l_linenumber, l.l_suppkey, m.med_qty, filled_qty""".stripMargin

  /** A18 — global-quantile IQR capping. The quantiles come from the
    * bounded-state radix selection (graft.util.ScalableQuantile) — same
    * values as exact `percentile`, but no aggregation state that grows
    * with the number of distinct prices; the clip itself is then a pure
    * codegen'd projection over constant-folded bounds (no crossJoin, no
    * ObjectHashAggregate anywhere in the plan).
    */
  def a12IqrClip(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val qs = graft.util.ScalableQuantile
      .quantiles(li, Seq("l_extendedprice" -> Seq(0.25, 0.75)))
    // keep the rounding + bound arithmetic as Column ops so the doubles
    // go through exactly the arithmetic the oracle SQL describes
    val q1 = round(lit(qs(("l_extendedprice", 0.25)).get), 4)
    val q3 = round(lit(qs(("l_extendedprice", 0.75)).get), 4)
    val lo = q1 - (q3 - q1) * 3
    val hi = q3 + (q3 - q1) * 3
    li.select(col("l_orderkey"), col("l_linenumber"),
        round(clip(col("l_extendedprice"), lo, hi), 4).as("clipped_price"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("clipped_price"))
  }

  private val a12Sql =
    """WITH q AS (
      |  SELECT ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS q1,
      |         ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS q3
      |  FROM lineitem),
      |b AS (SELECT q1 - (q3 - q1) * 3 AS lo, q3 + (q3 - q1) * 3 AS hi FROM q)
      |SELECT l.l_orderkey, l.l_linenumber,
      |       ROUND(GREATEST(b.lo, LEAST(b.hi, l.l_extendedprice)), 4) AS clipped_price
      |FROM lineitem l CROSS JOIN b
      |ORDER BY l.l_orderkey, l.l_linenumber, clipped_price""".stripMargin

  /** A19/A20 — global-median numeric fill + constant categorical fill
    * (Health_Jim.py:384-395, 296-299).
    */
  def a13MedianFill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    // exact median via ScalableQuantile (see a12IqrClip) → the fill is a
    // pure projection with a constant-folded literal
    val med = graft.util.ScalableQuantile.medians(ev, Seq("value"))("value")
    val medValue = round(lit(med.orNull), 4)
    ev.select(col("event_id"),
        round(coalesce(col("value"), medValue), 4).as("filled_value"),
        coalesce(col("event_type"), lit("Unknown")).as("filled_type"))
      .orderBy(col("event_id"), col("filled_value"), col("filled_type"))
  }

  private val a13Sql =
    """WITH m AS (SELECT ROUND(quantile_cont(value, 0.5), 4) AS med_value FROM events)
      |SELECT e.event_id,
      |       ROUND(COALESCE(e.value, m.med_value), 4) AS filled_value,
      |       COALESCE(e.event_type, 'Unknown') AS filled_type
      |FROM events e CROSS JOIN m
      |ORDER BY e.event_id, filled_value, filled_type""".stripMargin

  /** A27 — exact global decile binning WITHOUT a global sort: the nine
    * boundaries come from the bounded-state radix selection
    * (graft.util.ScalableQuantile — same values as exact `percentile`),
    * and the bin assignment is then a pure codegen'd projection counting
    * boundaries ≤ x. The standard curriculum/quality-binning primitive
    * for training-data pipelines: `ntile()` over one global window would
    * funnel 100 TB through a single sort — this shape never sorts at all
    * (ties land deterministically: a value equal to a boundary goes up).
    */
  def a27QuantileBins(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    val probs = (1 to 9).map(_ / 10.0)
    val qs = graft.util.ScalableQuantile
      .quantiles(ord, Seq("o_totalprice" -> probs))
    // boundaries round to 4 dp as Column ops — the exact arithmetic the
    // oracle SQL describes (the a12 convention)
    val decile = probs.map { p =>
      when(col("o_totalprice") >= round(lit(qs(("o_totalprice", p)).get), 4), 1)
        .otherwise(0)
    }.reduce(_ + _)
    ord.select(col("o_orderkey"), col("o_totalprice"))
      .withColumn("decile", decile.cast(IntegerType))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_orders"),
           min(col("o_totalprice")).as("min_price"),
           max(col("o_totalprice")).as("max_price"),
           exactSum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("decile"))
  }

  private val a27Sql =
    """WITH q AS (
      |  SELECT ROUND(quantile_cont(o_totalprice, 0.1), 4) AS b1,
      |         ROUND(quantile_cont(o_totalprice, 0.2), 4) AS b2,
      |         ROUND(quantile_cont(o_totalprice, 0.3), 4) AS b3,
      |         ROUND(quantile_cont(o_totalprice, 0.4), 4) AS b4,
      |         ROUND(quantile_cont(o_totalprice, 0.5), 4) AS b5,
      |         ROUND(quantile_cont(o_totalprice, 0.6), 4) AS b6,
      |         ROUND(quantile_cont(o_totalprice, 0.7), 4) AS b7,
      |         ROUND(quantile_cont(o_totalprice, 0.8), 4) AS b8,
      |         ROUND(quantile_cont(o_totalprice, 0.9), 4) AS b9
      |  FROM orders),
      |d AS (
      |  SELECT o_orderkey, o_totalprice,
      |    CAST((CASE WHEN o_totalprice >= q.b1 THEN 1 ELSE 0 END)
      |       + (CASE WHEN o_totalprice >= q.b2 THEN 1 ELSE 0 END)
      |       + (CASE WHEN o_totalprice >= q.b3 THEN 1 ELSE 0 END)
      |       + (CASE WHEN o_totalprice >= q.b4 THEN 1 ELSE 0 END)
      |       + (CASE WHEN o_totalprice >= q.b5 THEN 1 ELSE 0 END)
      |       + (CASE WHEN o_totalprice >= q.b6 THEN 1 ELSE 0 END)
      |       + (CASE WHEN o_totalprice >= q.b7 THEN 1 ELSE 0 END)
      |       + (CASE WHEN o_totalprice >= q.b8 THEN 1 ELSE 0 END)
      |       + (CASE WHEN o_totalprice >= q.b9 THEN 1 ELSE 0 END) AS INTEGER) AS decile
      |  FROM orders CROSS JOIN q)
      |SELECT decile, COUNT(*) AS n_orders,
      |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM d GROUP BY decile ORDER BY decile""".stripMargin

  /** P8/A16 — exact deduplication: hash-group on content, keep min id,
    * count copies (Health_Jim.py:414, nb:cell1:1). The groupBy form (vs
    * dropDuplicates) also yields the duplicate count in the same shuffle.
    */
  def a14DedupExact(spark: SparkSession, dir: String): DataFrame = {
    // the natural table has no byte-identical texts, so plant exact
    // duplicates (doc_id+100000, same text) for the first 50 docs —
    // identically in the oracle — so the dedup actually deduplicates
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val dupes = docs.filter(col("doc_id") < 50)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    docs.unionByName(dupes)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))
  }

  private val a14Sql =
    """WITH al AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50)
      |SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM al
      |GROUP BY text
      |ORDER BY keep_id""".stripMargin

  /** P13 — global row-number id over a total sort (Health_Jim.py:424-426).
    * Single-partition window is acceptable at reference scale; the engine's
    * scale path for 100 TB is `zipWithIndex`-style partition-offset
    * assignment (see graft.operators.ScaleOps).
    */
  def a15RowNumber(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("c_mktsegment"), col("c_custkey"))
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
      .withColumn("record_id", row_number().over(w))
      .orderBy(col("record_id"))
  }

  private val a15Sql =
    """SELECT c_custkey, c_mktsegment,
      |       CAST(ROW_NUMBER() OVER (ORDER BY c_mktsegment, c_custkey) AS INTEGER) AS record_id
      |FROM customer
      |ORDER BY record_id""".stripMargin

  /** P9–P12/F6–F9 — derived columns: capped percentage, clipped ratio,
    * log-blend score (Health_Jim.py:310-329).
    */
  def a16DerivedCols(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        least(lit(100.0), round(lit(100.0) * col("l_quantity") / lit(50.0), 2))
          .as("coverage_pct"),
        // no rounding: the quotient is a rational with 4-decimal ties, where
        // HALF_UP-on-exact-decimal (Spark) and scaled-C-round (DuckDB)
        // disagree; IEEE division itself is bit-deterministic cross-engine
        clip(col("l_extendedprice") / (col("l_quantity") * lit(1000.0)),
             lit(0.1), lit(10.0)).as("price_ratio"),
        round(col("l_discount") * lit(70.0) +
              log(lit(1.0) + col("l_extendedprice")) * lit(0.3), 4)
          .as("severity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("coverage_pct"),
               col("price_ratio"), col("severity"))
  }

  private val a16Sql =
    """SELECT l_orderkey, l_linenumber,
      |  LEAST(100.0, ROUND(100.0 * l_quantity / 50.0, 2)) AS coverage_pct,
      |  GREATEST(0.1, LEAST(10.0, l_extendedprice / (l_quantity * 1000.0))) AS price_ratio,
      |  ROUND(l_discount * 70.0 + LN(1.0 + l_extendedprice) * 0.3, 4) AS severity
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, coverage_pct, price_ratio, severity""".stripMargin

  /** P1/P3/P4/P5/P6/P14 — projection + equality/range/not-null filters +
    * cast (Health_Jim.py:478-483, 886-892, 225).
    * Filters and the 4-column projection reach the parquet scan
    * (PushedFilters/ReadSchema — verified in RelationalSpec).
    */
  def p01ProjectFilter(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate").between(lit("1995-01-01").cast(TimestampType),
                                        lit("1997-12-31").cast(TimestampType))
        && col("l_returnflag").isNotNull
        && col("l_quantity") > 10)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast(IntegerType).as("qty_int"),
        col("l_returnflag"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("qty_int"),
               col("l_returnflag"))
  }

  private val p01Sql =
    """SELECT l_orderkey, l_linenumber,
      |       CAST(l_quantity AS INTEGER) AS qty_int, l_returnflag
      |FROM lineitem
      |WHERE l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1997-12-31'
      |  AND l_returnflag IS NOT NULL AND l_quantity > 10
      |ORDER BY l_orderkey, l_linenumber, qty_int, l_returnflag""".stripMargin

  /** F5/F10 — capitalize (first-upper rest-lower) + trim + whitespace
    * collapse (Health_Jim.py:262-264, 186-188).
    */
  def f01Capitalize(spark: SparkSession, dir: String): DataFrame = {
    val name = col("p_name")
    Tables.part(spark, dir)
      .select(col("p_partkey"),
        concat(upper(substring(name, 1, 1)), lower(expr("substring(p_name, 2)")))
          .as("capitalized"),
        regexp_replace(trim(name), "\\s+", " ").as("collapsed"))
      .orderBy(col("p_partkey"))
  }

  private val f01Sql =
    """SELECT p_partkey,
      |       UPPER(SUBSTRING(p_name, 1, 1)) || LOWER(SUBSTRING(p_name, 2)) AS capitalized,
      |       REGEXP_REPLACE(TRIM(p_name), '\s+', ' ', 'g') AS collapsed
      |FROM part
      |ORDER BY p_partkey""".stripMargin

  /** F1 (regex component) — strip disallowed chars, trim
    * (Health_Jim.py:167-194; the Python-casing tail is the custom
    * expression graft.functions.PyText, golden-tested separately).
    */
  def f02RegexClean(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir)
      .select(col("c_custkey"),
        trim(regexp_replace(col("c_name"), "[^a-zA-Z\\s\\-\\.']", ""))
          .as("cleaned_name"))
      .orderBy(col("c_custkey"))
  }

  private val f02Sql =
    """SELECT c_custkey,
      |       TRIM(REGEXP_REPLACE(c_name, '[^a-zA-Z\s\-\.'']', '', 'g')) AS cleaned_name
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  /** F3 — numeric cleaner: quote-prefixed dirty string → strip non-numeric
    * chars → null-safe parse (Health_Jim.py:240-258). Dirty input is
    * synthesized from l_quantity to exercise the full round trip.
    */
  def f03NumericClean(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        expr(s"try_cast(regexp_replace(concat(\"'\", cast(l_quantity as string)), '[^0-9\\\\.\\\\-]', '') as double)")
          .as("cleaned_qty"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("cleaned_qty"))
  }

  private val f03Sql =
    """SELECT l_orderkey, l_linenumber,
      |       TRY_CAST(REGEXP_REPLACE('''' || CAST(l_quantity AS VARCHAR), '[^0-9\.\-]', '', 'g') AS DOUBLE) AS cleaned_qty
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, cleaned_qty""".stripMargin

  /** F4 — categorical normalization: trim + known-value map + unknown→
    * default + null→Unknown (Health_Jim.py:266-286), then value_counts.
    */
  def f04CasewhenMap(spark: SparkSession, dir: String): DataFrame = {
    val t = trim(col("o_orderpriority"))
    val normalized = when(col("o_orderpriority").isNull, lit("Unknown"))
      .when(t === "1-URGENT", "Urgent")
      .when(t === "2-HIGH", "High")
      .when(t === "3-MEDIUM", "Medium")
      .when(t === "5-LOW", "Low")
      .otherwise("Medium") // unknown non-null → Medium (Health_Jim.py:284)
    Tables.orders(spark, dir)
      .groupBy(normalized.as("priority_norm"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("priority_norm").asc)
  }

  private val f04Sql =
    """SELECT CASE WHEN o_orderpriority IS NULL THEN 'Unknown'
      |            WHEN TRIM(o_orderpriority) = '1-URGENT' THEN 'Urgent'
      |            WHEN TRIM(o_orderpriority) = '2-HIGH' THEN 'High'
      |            WHEN TRIM(o_orderpriority) = '3-MEDIUM' THEN 'Medium'
      |            WHEN TRIM(o_orderpriority) = '5-LOW' THEN 'Low'
      |            ELSE 'Medium' END AS priority_norm,
      |       COUNT(*) AS cnt
      |FROM orders
      |GROUP BY 1
      |ORDER BY cnt DESC, priority_norm ASC""".stripMargin

  /** S1 (null-vocabulary normalization) — the reference's 11-token null
    * vocabulary applied post-read (Health_Jim.py:145), then grouped.
    */
  def f05NullVocab(spark: SparkSession, dir: String): DataFrame = {
    val tokens = Seq("", "NaN", "NA", "NULL", "None", "nan", "N/A", "n/a", "~none~", "?", "-")
    val cleaned = when(col("source").isNull ||
        trim(col("source")).isin(tokens.map(lit): _*), lit("Unknown"))
      .otherwise(col("source"))
    Tables.documents(spark, dir)
      .groupBy(cleaned.as("source_norm"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("source_norm").asc)
  }

  private val f05Sql =
    """SELECT CASE WHEN source IS NULL
      |              OR TRIM(source) IN ('', 'NaN', 'NA', 'NULL', 'None', 'nan', 'N/A', 'n/a', '~none~', '?', '-')
      |            THEN 'Unknown' ELSE source END AS source_norm,
      |       COUNT(*) AS cnt
      |FROM documents
      |GROUP BY 1
      |ORDER BY source_norm ASC""".stripMargin

  /** a23 — sketch-based approximate distinct counting, the cardinality
    * path for 100 TB-scale accounting where exact countDistinct's
    * per-group hash sets no longer fit: HLL++ (`approx_count_distinct`)
    * and a DataSketches HLL sketch (`hll_sketch_agg` — mergeable across
    * partitions/days, the industrial form) side by side with the exact
    * count so the error is visible in the result itself.
    *
    * No DuckDB oracle: DuckDB's approx_count_distinct is a different
    * sketch with different estimates — driver records the rows-only
    * check; ApproxSpec asserts the relative-error band vs exact.
    */
  def a23ApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    // The sketches and the exact count are SEPARATE aggregates joined on
    // the 3-row group key. Mixing countDistinct with sketch aggs in one
    // agg triggers Spark's distinct-rewrite: the partial aggregate keys
    // on (flag, orderkey) and maintains + merges a full HLL buffer PER
    // ORDERKEY — measured 17 s at sf0.1 vs ~1 s for this form.
    val li = Tables.lineitem(spark, dir)
    val sketches = li.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey"), 0.02).as("n_hllpp"),
           hll_sketch_estimate(hll_sketch_agg(col("l_orderkey"))).cast("long").as("n_sketch"))
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n_exact"))
    exact.join(broadcast(sketches), "l_returnflag")
      .select(col("l_returnflag"), col("n_exact"), col("n_hllpp"), col("n_sketch"))
      .orderBy(col("l_returnflag"))
  }

  /** a28 — cumulative distinct users per day (the growth/adoption curve):
    * a windowed `count(distinct)` over an ever-growing frame is
    * quadratic state; the scalable identity is that a user adds to the
    * cumulative count exactly ONCE, on their first-appearance hour. One
    * (user) aggregate → one tiny (hour) aggregate → a running sum over
    * the small hour table. At 100 TB nothing beyond the per-user min
    * ever shuffles, and the only window runs over hours, not events.
    */
  def a28RunningDistinct(spark: SparkSession, dir: String): DataFrame = {
    val firstDay = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(expr("min(unix_micros(ts) div 3600000000)").as("first_hour"))
    val wCum = Window.orderBy(col("first_hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firstDay.groupBy(col("first_hour"))
      .agg(count(lit(1)).as("n_new_users"))
      .withColumn("cum_users", sum(col("n_new_users")).over(wCum))
      .orderBy(col("first_hour"))
  }

  private val a28Sql =
    """WITH f AS (
      |  SELECT user_id, MIN(epoch_us(ts) // 3600000000) AS first_hour
      |  FROM events GROUP BY user_id),
      |d AS (SELECT first_hour, COUNT(*) AS n_new_users FROM f GROUP BY first_hour)
      |SELECT first_hour, n_new_users,
      |  CAST(SUM(n_new_users) OVER (ORDER BY first_hour
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
      |FROM d
      |ORDER BY first_hour""".stripMargin

  /** a29 — robust outlier accounting by Median Absolute Deviation: the
    * second member of the robust-statistics family next to a12's IQR
    * capping, and a composition test for the bounded-state quantile
    * machinery — the MAD needs TWO dependent radix selections (median
    * first, then the median of |x − median| over a derived column),
    * each a ≤6-pass map-side-combinable aggregate, never a global sort
    * or a value-buffering percentile. The outlier rule is the standard
    * |x − med| > 3 · 1.4826 · MAD (σ-consistent MAD).
    */
  def a29MadOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    val med = graft.util.ScalableQuantile
      .medians(ord, Seq("o_totalprice"))("o_totalprice").get
    val dev = ord.withColumn("dev", abs(col("o_totalprice") - round(lit(med), 4)))
    val mad = graft.util.ScalableQuantile.medians(dev, Seq("dev"))("dev").get
    // keep every double step as Column arithmetic in the same shape the
    // oracle SQL spells, so the fold is bit-identical
    val thr = lit(3.0) * lit(1.4826) * round(lit(mad), 4)
    dev.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
           count(when(col("dev") > thr, 1)).as("n_outliers"),
           max(round(lit(med), 4)).as("median_price"),
           max(round(lit(mad), 4)).as("mad"))
      .orderBy(col("o_orderstatus"))
  }

  private val a29Sql =
    """WITH m AS (SELECT ROUND(quantile_cont(o_totalprice, 0.5), 4) AS med FROM orders),
      |d AS (SELECT o_orderstatus, ABS(o_totalprice - m.med) AS dev FROM orders, m),
      |md AS (SELECT ROUND(quantile_cont(dev, 0.5), 4) AS mad FROM d)
      |SELECT o_orderstatus,
      |  COUNT(*) AS n_orders,
      |  CAST(COUNT(CASE WHEN dev > 3.0 * 1.4826 * md.mad THEN 1 END) AS BIGINT) AS n_outliers,
      |  MAX(m.med) AS median_price,
      |  MAX(md.mad) AS mad
      |FROM d, m, md
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** The ORACLE form of a23: the raw estimates can't cross engines
    * (DuckDB's sketch produces different numbers), but the error-band
    * CONTRACT can — each estimate collapses to an in-band boolean the
    * oracle states as TRUE alongside the exact counts it recomputes. A
    * sketch regression (>5% off) flips the boolean and fails the remote
    * hash compare, which a rows-only check never could. PipelineOpsSpec
    * keeps asserting the band on the raw numbers.
    */
  def a23Contract(spark: SparkSession, dir: String): DataFrame =
    a23ApproxDistinct(spark, dir)
      .select(col("l_returnflag"), col("n_exact"),
        (abs(col("n_hllpp") - col("n_exact")) <= col("n_exact") * 0.05).as("hllpp_ok"),
        (abs(col("n_sketch") - col("n_exact")) <= col("n_exact") * 0.05).as("sketch_ok"))
      .orderBy(col("l_returnflag"))

  private val a23Sql =
    """SELECT l_returnflag,
      |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_exact,
      |  TRUE AS hllpp_ok, TRUE AS sketch_ok
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** a32 — market-basket co-occurrence: which parts ship together in
    * the same order, ranked by pair count with exact integer lift
    * (lift > 1 ⟺ the pair co-occurs more than independence predicts —
    * the association-mining signal, in ppm so no float crosses the
    * engine boundary). The shape is THE canonical co-occurrence plan:
    * distinct (order, part) → self-join co-partitioned on the order key
    * (one shuffle; pair explosion is per-order-local, Σ|basket|²) →
    * pair count agg → two joins back to the per-part order counts.
    * Part frequencies are catalog-bounded, so those joins broadcast;
    * the basket self-join never does.
    */
  def a32MarketBasket(spark: SparkSession, dir: String): DataFrame = {
    val items = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val nOrders = items.select(col("ok")).distinct().agg(count(lit(1)).as("n_orders"))
    val partCounts = items.groupBy(col("pk")).agg(count(lit(1)).as("c"))
    val pairs = items.as("a")
      .join(items.as("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("pa"), col("b.pk").as("pb"))
      .agg(count(lit(1)).as("n_together"))
    pairs
      .join(broadcast(partCounts.select(col("pk").as("pa"), col("c").as("ca"))), Seq("pa"))
      .join(broadcast(partCounts.select(col("pk").as("pb"), col("c").as("cb"))), Seq("pb"))
      .crossJoin(broadcast(nOrders))
      .select(col("pa"), col("pb"), col("n_together"),
        expr("n_together * n_orders * 1000000 div (ca * cb)").as("lift_ppm"))
      .orderBy(col("n_together").desc, col("pa").asc, col("pb").asc)
      .limit(20)
  }

  private val a32Sql =
    """WITH items AS (SELECT DISTINCT l_orderkey ok, l_partkey pk FROM lineitem),
      |n AS (SELECT COUNT(DISTINCT ok) n_orders FROM items),
      |pc AS (SELECT pk, COUNT(*) c FROM items GROUP BY 1),
      |pairs AS (
      |  SELECT a.pk pa, b.pk pb, COUNT(*) n_together
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2)
      |SELECT pa, pb, n_together,
      |  CAST(n_together * n.n_orders * 1000000 // (ca.c * cb.c) AS BIGINT) lift_ppm
      |FROM pairs
      |JOIN pc ca ON pairs.pa = ca.pk
      |JOIN pc cb ON pairs.pb = cb.pk
      |CROSS JOIN n
      |ORDER BY n_together DESC, pa ASC, pb ASC
      |LIMIT 20""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("a32_market_basket",
      "co-ordered part pairs with exact integer lift (basket self-join)",
      a32MarketBasket, Some(a32Sql)),
    QueryDef("a01_pricing_summary", "A1/A13 hash agg, exact sums/avgs", a01PricingSummary, Some(a01Sql)),
    QueryDef("a02_yearly_trend", "A2 two-key group, mixed-direction sort, limit", a02YearlyTrend, Some(a02Sql)),
    QueryDef("a03_having_segment", "A3 HAVING on aggregate alias", a03HavingSegment, Some(a03Sql)),
    QueryDef("a04_status_priority_cost", "A4 two-key group + pre-agg filter", a04StatusPriorityCost, Some(a04Sql)),
    QueryDef("a05_sums_topk", "A5 avg + sums, top-k", a05SumsTopK, Some(a05Sql)),
    QueryDef("a06_avg_of_avgs", "A7 two-level reaggregation", a06AvgOfAvgs, Some(a06Sql)),
    QueryDef("a07_unpivot", "A10 agg + melt wide-to-long", a07Unpivot, Some(a07Sql)),
    QueryDef("a08_overview", "A13 count/exact-distinct/avg overview", a08Overview, Some(a08Sql)),
    QueryDef("a09_value_counts", "A14 top-N value counts", a09ValueCounts, Some(a09Sql)),
    QueryDef("a10_column_stats", "A15 mean/min/max/exact-median stats", a10ColumnStats, Some(a10Sql)),
    QueryDef("a11_window_median", "A17 grouped-median imputation (agg + broadcast join-back)", a11WindowMedian, Some(a11Sql)),
    QueryDef("a12_iqr_clip", "A18 global-quantile IQR capping", a12IqrClip, Some(a12Sql)),
    QueryDef("a27_quantile_bins", "exact global decile binning, no global sort",
      a27QuantileBins, Some(a27Sql)),
    QueryDef("a13_median_fill", "A19/A20 global-median + constant fill", a13MedianFill, Some(a13Sql)),
    QueryDef("a14_dedup_exact", "P8/A16 exact dedup w/ duplicate counts", a14DedupExact, Some(a14Sql)),
    QueryDef("a15_row_number", "P13 global row-number id", a15RowNumber, Some(a15Sql)),
    QueryDef("a16_derived_cols", "P9-P12 derived cols: pct cap, ratio clip, log blend", a16DerivedCols, Some(a16Sql)),
    QueryDef("p01_project_filter", "P1/P3/P4/P5/P14 projection + filters + cast", p01ProjectFilter, Some(p01Sql)),
    QueryDef("f01_capitalize", "F5/F10 capitalize + trim + whitespace collapse", f01Capitalize, Some(f01Sql)),
    QueryDef("f02_regex_clean", "F1 regex strip + trim", f02RegexClean, Some(f02Sql)),
    QueryDef("f03_numeric_clean", "F3 numeric cleaner round trip", f03NumericClean, Some(f03Sql)),
    QueryDef("f04_casewhen_map", "F4 categorical normalization map", f04CasewhenMap, Some(f04Sql)),
    QueryDef("f05_null_vocab", "S1 null-vocabulary normalization", f05NullVocab, Some(f05Sql)),
    QueryDef("a23_approx_distinct",
      "HLL++ + DataSketches HLL cardinality: exact counts + in-band booleans",
      a23Contract, Some(a23Sql)),
    QueryDef("a28_running_distinct",
      "cumulative distinct users via first-appearance days (no quadratic window)",
      a28RunningDistinct, Some(a28Sql)),
    QueryDef("a29_mad_outliers",
      "MAD robust outliers: two dependent bounded-state radix selections",
      a29MadOutliers, Some(a29Sql))
  )
}
