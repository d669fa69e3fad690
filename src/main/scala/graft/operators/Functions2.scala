package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QueryDef, Tables}
import graft.util.Exact._

/** Engine-completeness surface beyond the reference's own function set:
  * multi-dimensional aggregation (rollup/cube-style), pivot, datetime /
  * string / conditional function families, and ordered array collection.
  * A reference user extending their queries gets all of these without
  * leaving the engine; each is DuckDB-oracle-checked.
  */
object Functions2 {

  /** a18 — ROLLUP: subtotals + grand total in one pass (absent from the
    * reference, standard engine surface). GROUPING() disambiguates the
    * null-key subtotal rows.
    */
  def a18Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
           exactSum(col("o_totalprice")).as("total"),
           grouping(col("o_orderstatus")).cast(IntegerType).as("g_status"),
           grouping(col("o_orderpriority")).cast(IntegerType).as("g_priority"))
      .orderBy(col("g_status"), col("g_priority"),
               col("o_orderstatus").asc_nulls_last, col("o_orderpriority").asc_nulls_last)

  private val a18Sql =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
      |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority
      |FROM orders
      |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY g_status, g_priority, o_orderstatus ASC NULLS LAST, o_orderpriority ASC NULLS LAST""".stripMargin

  /** a22 — CUBE: every grouping combination (both one-dimension margins
    * plus the grand total — strictly more than a18's ROLLUP hierarchy)
    * in one pass; GROUPING() columns disambiguate margin rows from
    * real null keys.
    */
  def a22Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
           exactSum(col("o_totalprice")).as("total"),
           grouping(col("o_orderstatus")).cast(IntegerType).as("g_status"),
           grouping(col("o_orderpriority")).cast(IntegerType).as("g_priority"))
      .orderBy(col("g_status"), col("g_priority"),
               col("o_orderstatus").asc_nulls_last, col("o_orderpriority").asc_nulls_last)

  private val a22Sql =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
      |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY g_status, g_priority, o_orderstatus ASC NULLS LAST, o_orderpriority ASC NULLS LAST""".stripMargin

  /** a25 — explicit GROUPING SETS: the two 1-dim margins plus the grand
    * total, WITHOUT the (status, priority) cross cells a CUBE would also
    * compute — the shape reporting dashboards want, at strictly less
    * aggregate state than a22's cube (one expand-factor per requested
    * set, not 2^dims).
    */
  def a25GroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq.empty[org.apache.spark.sql.Column]),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
           exactSum(col("o_totalprice")).as("total"),
           grouping(col("o_orderstatus")).cast(IntegerType).as("g_status"),
           grouping(col("o_orderpriority")).cast(IntegerType).as("g_priority"))
      .orderBy(col("g_status"), col("g_priority"),
               col("o_orderstatus").asc_nulls_last, col("o_orderpriority").asc_nulls_last)

  private val a25Sql =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
      |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY g_status, g_priority, o_orderstatus ASC NULLS LAST, o_orderpriority ASC NULLS LAST""".stripMargin

  /** a26 — correlated subqueries through the SQL surface: a scalar
    * COUNT subquery and a correlated EXISTS, both correlated on the
    * outer customer key. Catalyst DECORRELATES them — the executed plan
    * is an aggregate + two joins, no per-row re-execution (the golden
    * plan pins that rewrite). This is the query shape SQL users write
    * and the optimizer behavior that makes it survive 100 TB.
    */
  def a26CorrelatedSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("a26_orders")
    Tables.customer(spark, dir).createOrReplaceTempView("a26_customer")
    spark.sql(
      """SELECT c_custkey,
        |  (SELECT COUNT(*) FROM a26_orders o
        |   WHERE o.o_custkey = c.c_custkey) AS n_orders
        |FROM a26_customer c
        |WHERE EXISTS (SELECT 1 FROM a26_orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin)
  }

  private val a26Sql =
    """SELECT c_custkey,
      |  (SELECT COUNT(*) FROM orders o
      |   WHERE o.o_custkey = c.c_custkey) AS n_orders
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  /** f10 — higher-order collection functions over grouped arrays:
    * collect each order's quantities once, then answer several
    * questions WITHOUT re-shuffling — filter (big items), aggregate
    * (exact sum), zip_with over shifted slices (max adjacent gap in the
    * sorted list). The point at scale: one groupBy materializes the
    * array, every subsequent HOF is a codegen'd per-row computation —
    * versus one shuffle per question if each stayed a separate
    * aggregate.
    */
  def f10Collections(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity").cast("long").as("q"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("q"))).as("qs"))
      .select(col("l_orderkey"),
        size(col("qs")).cast("long").as("n_items"),
        expr("CAST(size(filter(qs, x -> x >= 25)) AS BIGINT)").as("big_items"),
        expr("aggregate(qs, CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("qty_sum"),
        expr("CASE WHEN size(qs) >= 2 THEN array_max(zip_with(" +
          "slice(qs, 2, size(qs) - 1), slice(qs, 1, size(qs) - 1), (a, b) -> a - b))" +
          " ELSE CAST(0 AS BIGINT) END").as("max_gap"))
      .orderBy(col("l_orderkey"))

  private val f10Sql =
    """WITH g AS (
      |  SELECT l_orderkey, list_sort(list(CAST(l_quantity AS BIGINT))) qs
      |  FROM lineitem GROUP BY 1)
      |SELECT l_orderkey,
      |  CAST(len(qs) AS BIGINT) AS n_items,
      |  CAST(len(list_filter(qs, x -> x >= 25)) AS BIGINT) AS big_items,
      |  CAST(list_sum(qs) AS BIGINT) AS qty_sum,
      |  CAST(CASE WHEN len(qs) >= 2 THEN list_max(list_transform(range(2, len(qs) + 1),
      |         i -> qs[CAST(i AS INTEGER)] - qs[CAST(i AS INTEGER) - 1]))
      |       ELSE 0 END AS BIGINT) AS max_gap
      |FROM g ORDER BY l_orderkey""".stripMargin

  /** a19 — pivot with an explicit value list (the engine's long→wide
    * inverse of a07's unpivot); explicit values keep the plan one-pass
    * (no distinct-discovery job).
    */
  def a19Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .withColumnsRenamed(Map("F" -> "n_f", "O" -> "n_o", "P" -> "n_p"))
      .orderBy(col("o_orderpriority"))

  private val a19Sql =
    """SELECT o_orderpriority,
      |  COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
      |  COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,
      |  COUNT(*) FILTER (o_orderstatus = 'P') AS n_p
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** a20 — ordered array collection per group: deterministic because the
    * collected list is sorted (collect_list order is otherwise
    * partition-dependent).
    */
  def a20CollectList(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .filter(col("c_custkey") <= 50)
      .groupBy(col("c_nationkey"))
      .agg(sort_array(collect_list(col("c_custkey"))).as("custkeys"),
           count(lit(1)).as("n"))
      .select(col("c_nationkey"),
        concat_ws(",", col("custkeys")).as("custkeys_csv"), col("n"))
      .orderBy(col("c_nationkey"))

  private val a20Sql =
    """SELECT c_nationkey,
      |  array_to_string(list_sort(list(c_custkey)), ',') AS custkeys_csv,
      |  COUNT(*) AS n
      |FROM customer
      |WHERE c_custkey <= 50
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin

  /** f06 — datetime family: extract/trunc/diff arithmetic. */
  def f06Datetime(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast(LongType).as("y"),
        month(col("o_orderdate")).cast(LongType).as("m"),
        dayofmonth(col("o_orderdate")).cast(LongType).as("d"),
        unix_micros(date_trunc("month", col("o_orderdate"))).as("month_start_us"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast(DateType))
          .cast(LongType).as("days_since_epoch_start"))
      .orderBy(col("o_orderkey"))

  private val f06Sql =
    """SELECT o_orderkey,
      |  CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS y,
      |  CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS m,
      |  CAST(EXTRACT(DAY FROM o_orderdate) AS BIGINT) AS d,
      |  epoch_us(date_trunc('month', o_orderdate)) AS month_start_us,
      |  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_epoch_start
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  /** f07 — string family: pad/substr/locate/translate/levenshtein. */
  def f07Strings(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_partkey"),
        lpad(col("p_brand"), 12, "_").as("padded"),
        substring(col("p_name"), 3, 8).as("sub"),
        locate("a", col("p_name")).cast(LongType).as("first_a"),
        translate(col("p_type"), "aeiou", "AEIOU").as("translated"),
        levenshtein(col("p_brand"), lit("Brand#11")).cast(LongType).as("edit_dist"))
      .orderBy(col("p_partkey"))

  private val f07Sql =
    """SELECT p_partkey,
      |  lpad(p_brand, 12, '_') AS padded,
      |  substr(p_name, 3, 8) AS sub,
      |  CAST(strpos(p_name, 'a') AS BIGINT) AS first_a,
      |  translate(p_type, 'aeiou', 'AEIOU') AS translated,
      |  CAST(levenshtein(p_brand, 'Brand#11') AS BIGINT) AS edit_dist
      |FROM part
      |ORDER BY p_partkey""".stripMargin

  /** f08 — conditional family: nullif/coalesce/nvl2-style/least-greatest. */
  def f08Conditionals(spark: SparkSession, dir: String): DataFrame =
    Tables.supplier(spark, dir)
      .select(col("s_suppkey"),
        nullif(col("s_nationkey"), lit(0)).cast(LongType).as("nation_nz"),
        coalesce(nullif(col("s_nationkey"), lit(0)).cast(LongType), lit(-1L)).as("nation_or_default"),
        when(col("s_acctbal") > 0, "credit").otherwise("debit").as("balance_sign"),
        greatest(col("s_acctbal"), lit(0.0)).as("pos_part"),
        least(col("s_acctbal"), lit(0.0)).as("neg_part"))
      .orderBy(col("s_suppkey"))

  private val f08Sql =
    """SELECT s_suppkey,
      |  CAST(NULLIF(s_nationkey, 0) AS BIGINT) AS nation_nz,
      |  CAST(COALESCE(NULLIF(s_nationkey, 0), -1) AS BIGINT) AS nation_or_default,
      |  CASE WHEN s_acctbal > 0 THEN 'credit' ELSE 'debit' END AS balance_sign,
      |  GREATEST(s_acctbal, 0.0) AS pos_part,
      |  LEAST(s_acctbal, 0.0) AS neg_part
      |FROM supplier
      |ORDER BY s_suppkey""".stripMargin

  /** a21 — distinct aggregates within a group (SURVEY §2.4 lists them as
    * absent from the reference; standard engine surface): per-segment
    * distinct nation count + distinct-value sum alongside plain aggs.
    * Spark plans this as the expand + two-phase aggregate.
    */
  def a21DistinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy(col("c_mktsegment"))
      .agg(countDistinct(col("c_nationkey")).as("n_nations"),
           sum_distinct(col("c_nationkey")).as("sum_distinct_nations"),
           count(lit(1)).as("n_customers"),
           exactAvg(col("c_acctbal")).as("avg_bal"))
      .orderBy(col("c_mktsegment"))

  private val a21Sql =
    """SELECT c_mktsegment,
      |  COUNT(DISTINCT c_nationkey) AS n_nations,
      |  CAST(SUM(DISTINCT c_nationkey) AS BIGINT) AS sum_distinct_nations,
      |  COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(c_acctbal) AS avg_bal
      |FROM customer
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** f11 — the hashing trick: tokens land in a fixed 64-bucket feature
    * space via the t04 polynomial rolling hash (seed 7 so the family is
    * independent of t04's fingerprints), with a SIGN hash (bit 6 of the
    * same value) giving the signed-sum variant that makes hashed
    * features unbiased (Weinberger et al.'s feature hashing). Output is
    * the sparse COO form (doc, bucket, count, signed_sum) — exactly
    * what a trainer consumes — and every value is an int64, so the
    * contract is hash-green with no float anywhere.
    *
    * Scale shape: the hash is pure map-side per token (no vocabulary,
    * no dictionary broadcast, no second pass — THE point of the
    * hashing trick at 100 TB: feature extraction with zero global
    * state), followed by one partial-aggregated groupBy on
    * (doc_id, bucket) whose fan-out is capped at 64 rows per doc.
    */
  def f11FeatureHash(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .withColumn("h", expr(
        "aggregate(split(tok, ''), CAST(7 AS BIGINT), (acc, c) -> (acc * 31 + ascii(c)) % 1000000007)"))
      .groupBy(col("doc_id"), (col("h") % 64).as("bucket"))
      .agg(count(lit(1)).as("n"),
           sum(expr("IF((h div 64) % 2 = 0, CAST(1 AS BIGINT), CAST(-1 AS BIGINT))"))
             .as("signed_n"))
      .orderBy(col("doc_id"), col("bucket"))

  private val f11Sql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) tok
      |  FROM documents),
      |h AS (
      |  SELECT doc_id,
      |    list_reduce(list_prepend(CAST(7 AS BIGINT),
      |      list_transform(range(1, length(tok) + 1),
      |        i -> CAST(ascii(substr(tok, CAST(i AS INTEGER), 1)) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 1000000007) hh
      |  FROM toks)
      |SELECT doc_id, hh % 64 AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CASE WHEN (hh // 64) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS signed_n
      |FROM h GROUP BY doc_id, hh % 64
      |ORDER BY doc_id, bucket""".stripMargin

  /** f12 — Unicode confusable (homoglyph) audit: spam/spoofing feeds
    * substitute Cyrillic/Greek lookalikes ('а' U+0430, 'е' U+0435, 'о'
    * U+043E, …) for Latin letters to evade exact-match filters; a
    * curation pipeline skeleton-normalizes and flags before dedup,
    * since a spoofed copy defeats every exact fingerprint. The skeleton
    * is one `translate` over a fixed 12-char confusable map (pure
    * map-side, zero state — the f11 scale argument), and a doc is
    * spoofed iff it contains any mapped char. Like t07/t37, the
    * contract plants deterministic spoofed copies (Latin→Cyrillic
    * translate of a prefix, source 'spoof_probe') so the audit
    * demonstrably fires; the clean corpus reports zero.
    */
  def f12ConfusableAudit(spark: SparkSession, dir: String): DataFrame = {
    // Cyrillic a e o r s h u i dze je; Greek omicron alpha (Latin "aeopcxyisjoa")
    val from = "аеорсхуіѕјοα"
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"), col("source"))
    val planted = docs.filter(col("doc_id") < 25)
      .select((col("doc_id") + 300000).as("doc_id"),
        expr("concat(translate(substring(text, 1, 100), 'aeo', 'аео'), " +
          "substring(text, 101))").as("text"),
        lit("spoof_probe").as("source"))
    docs.unionByName(planted)
      .withColumn("n_confusable",
        (length(col("text")) - length(translate(col("text"), from, ""))).cast("long"))
      .withColumn("spoofed", (col("n_confusable") > 0).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("spoofed")).as("n_spoofed"),
        sum(col("n_confusable")).as("confusable_chars"))
      .withColumn("spoofed_ppm", expr("(1000000 * n_spoofed) div n_docs"))
      .orderBy(col("source"))
  }

  private val f12Sql =
    """WITH docs AS (
      |  SELECT doc_id, text, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 300000,
      |    concat(translate(substr(text, 1, 100), 'aeo', 'аео'), substr(text, 101)),
      |    'spoof_probe'
      |  FROM documents WHERE doc_id < 25),
      |m AS (
      |  SELECT source,
      |    CAST(length(text) - length(translate(text, 'аеорсхуіѕјοα', '')) AS BIGINT)
      |      AS n_confusable
      |  FROM docs)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN n_confusable > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_spoofed,
      |  CAST(SUM(n_confusable) AS BIGINT) AS confusable_chars,
      |  CAST((1000000 * SUM(CASE WHEN n_confusable > 0 THEN 1 ELSE 0 END))
      |       // COUNT(*) AS BIGINT) AS spoofed_ppm
      |FROM m GROUP BY source ORDER BY source""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("f12_confusable_audit",
      "homoglyph spoofing screen: skeleton translate + per-source spoof rate",
      f12ConfusableAudit, Some(f12Sql)),
    QueryDef("f11_feature_hash",
      "hashing-trick sparse features: 64 buckets + sign hash, zero global state",
      f11FeatureHash, Some(f11Sql)),
    QueryDef("a18_rollup", "ROLLUP subtotals + GROUPING()", a18Rollup, Some(a18Sql)),
    QueryDef("a22_cube", "CUBE margins + GROUPING()", a22Cube, Some(a22Sql)),
    QueryDef("a25_grouping_sets", "explicit GROUPING SETS (two 1-dim margins + total)",
      a25GroupingSets, Some(a25Sql)),
    QueryDef("a21_distinct_agg", "distinct aggregates within group", a21DistinctAgg, Some(a21Sql)),
    QueryDef("a19_pivot", "pivot long-to-wide w/ explicit values", a19Pivot, Some(a19Sql)),
    QueryDef("a20_collect_list", "ordered array collection per group", a20CollectList, Some(a20Sql)),
    QueryDef("f06_datetime", "datetime extract/trunc/diff family", f06Datetime, Some(f06Sql)),
    QueryDef("f07_strings", "string pad/substr/locate/translate/levenshtein", f07Strings, Some(f07Sql)),
    QueryDef("f08_conditionals", "nullif/coalesce/case/least/greatest", f08Conditionals, Some(f08Sql)),
    QueryDef("f10_collections", "higher-order array functions over grouped lists",
      f10Collections, Some(f10Sql)),
    QueryDef("a26_correlated_subquery", "scalar + EXISTS correlated subqueries, decorrelated",
      a26CorrelatedSubquery, Some(a26Sql))
  )
}
