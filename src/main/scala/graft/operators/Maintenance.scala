package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QueryDef, Tables}
import graft.util.Exact._

/** Pipeline-maintenance operators: the recurring jobs a 100 TB lake runs
  * every day AROUND its analytics — incremental aggregate refresh,
  * privacy-suppression audits, and seasonal anomaly gating on the ingest
  * stream. Reference scope: the reference app recomputes its dashboard
  * aggregates from the full table on every run (Health_Jim.py notebook
  * cells re-run `GROUP BY` over the whole SQLite table); these operators
  * are the forms that survive when "the whole table" is 100 TB.
  */
object Maintenance {

  /** a33 — incremental aggregate maintenance (materialized-view refresh).
    *
    * The algebraic-aggregate identity: COUNT/SUM/MIN/MAX are commutative
    * monoids, so a grouped aggregate over (history ∪ delta) equals the
    * merge of per-side PARTIAL STATES — never rescan history. The
    * snapshot partials are genuinely written to and read back from
    * parquet (the stored-state lifecycle, same convention as v05's
    * stored IVF index), then merged with the delta's partials: at 100 TB
    * the daily refresh touches only the delta and a key-bounded state
    * table. AVG is deliberately NOT a stored state — it is derived from
    * (decimal sum, count) at the end, the only re-aggregatable form.
    *
    * The oracle recomputes from scratch; equality IS the maintenance
    * contract.
    *
    * Decimal headroom: SUM over DECIMAL(18,2) widens to DECIMAL(28,2),
    * so the stored partial overflows only past 10²⁶ total quantity —
    * 10¹² rows × 10⁵ max l_quantity leaves 9 orders of magnitude of
    * slack, and ANSI mode would fail loudly, not wrap.
    */
  def a33IncrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = expr("timestamp'2000-01-01 00:00:00'")
    val li = Tables.lineitem(spark, dir)

    def partials(df: DataFrame): DataFrame =
      df.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
             count(col("l_quantity")).as("n_qty"),
             sum(dec(col("l_quantity"))).as("sum_qty_dec"),
             min(col("l_extendedprice")).as("min_price"),
             max(col("l_extendedprice")).as("max_price"))

    // Snapshot side: partial states persisted to storage, read back.
    val snapDir = graft.util.Scratch.dir("graft_a33_snapshot_")
    partials(li.filter(col("l_shipdate") < cutoff))
      .write.mode("overwrite").parquet(snapDir)
    val snapshot = spark.read.parquet(snapDir)

    // Delta side: today's arrivals only.
    val delta = partials(li.filter(col("l_shipdate") >= cutoff ||
                                   col("l_shipdate").isNull))

    snapshot.unionByName(delta)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("n_rows")).as("n_rows"),
           sum(col("n_qty")).as("n_qty"),
           sum(col("sum_qty_dec")).as("sum_qty_dec"),
           min(col("min_price")).as("min_price"),
           max(col("max_price")).as("max_price"))
      .select(col("l_returnflag"), col("l_linestatus"), col("n_rows"),
        col("sum_qty_dec").cast(DoubleType).as("sum_qty"),
        (col("sum_qty_dec").cast(DoubleType) / col("n_qty")).as("avg_qty"),
        col("min_price"), col("max_price"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  private val a33Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
      |  MIN(l_extendedprice) AS min_price,
      |  MAX(l_extendedprice) AS max_price
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** a34 — k-anonymity audit over quasi-identifiers (k = 10).
    *
    * Training-data releases carry re-identification risk through
    * quasi-identifier combinations (the (segment, nation) pair here):
    * any row whose QI group has fewer than k members must be suppressed
    * or generalized before release. This is the audit table that drives
    * that decision — group sizes with the suppression verdict. One hash
    * aggregate over the QI columns; the group table is bounded by the
    * QI domain product (|segments|×|nations|), so the row-level
    * application (MaintenanceSpec) joins it back BROADCAST — the 100 TB
    * fact side never shuffles.
    */
  def a34KAnonymity(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    Tables.customer(spark, dir)
      .groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("suppress", col("n_rows") < k)
      .orderBy(col("c_mktsegment"), col("c_nationkey"))
  }

  private val a34Sql =
    """SELECT c_mktsegment, c_nationkey,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  COUNT(*) < 10 AS suppress
      |FROM customer
      |GROUP BY c_mktsegment, c_nationkey
      |ORDER BY c_mktsegment, c_nationkey""".stripMargin

  /** w16 — seasonal anomaly gate: flag recent events whose value sits
    * more than 3 sample standard deviations from the hour-of-week
    * baseline of their event type — WITHOUT any float crossing the
    * engine boundary or a sqrt anywhere.
    *
    * (x − μ)² > 9σ²  with  μ = S/n,  σ² = (nQ − S²)/(n(n−1))  rewrites
    * to the integer form  (xn − S)²(n−1) > 9n(nQ − S²)  over cents;
    * every operand is an exact DECIMAL(38,0), so the boolean is
    * bit-identical across engines and partitionings (the usual
    * stddev_samp plan folds doubles in shuffle order). Hour-of-week is
    * pure integer epoch math (epoch-day mod 7 × hour), immune to the
    * Spark-vs-DuckDB dayofweek numbering mismatch.
    *
    * Decimal headroom at scale: the naive products square ABSOLUTE
    * magnitudes — (nQ − S²)·n·9 needs ~9n³C² < 10³⁸ (C = max |cents|),
    * which dies around n = 10⁷ per cell at C = 10⁸. Instead the
    * baseline is CENTERED on its integer mean first (m = S div n,
    * remainder r, Q′ = Σ(x−m)² derived algebraically from (n, S, Q) —
    * every derivation operand ≤ nC² ≈ 10²⁶). The test then runs on
    * deviations, with two sufficient-condition short-circuits whose
    * operands are spread-sized ((|a|±1)²(n−1) vs 9Q′, ≤ ~4nC²), so the
    * full-width exact product (na−r)²(n−1) vs 9n(nQ′−r²) is evaluated
    * only for values near the 3σ decision boundary — where operands
    * scale as 9n³σ², σ the CELL SPREAD, not the magnitude: n can reach
    * ~10⁹ even at σ = 10⁴ cents. Past that, ANSI mode fails LOUDLY
    * (SparkArithmeticException), never a silent false — verified by
    * MaintenanceSpec against a BigInteger recompute at planted
    * near-overflow magnitudes.
    *
    * Scale shape: the baseline is bounded by |event types| × 168 cells
    * — a dimension table, not data-scale — so Spark broadcasts the
    * join-back and the recent stream is flagged in one codegen'd
    * projection with NO shuffle of the fact side.
    */
  def w16SeasonalAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val cutoffUs = 1705881600000000L // 2024-01-22 00:00 UTC
    val D = DecimalType(38, 0)
    val e = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("d", expr("(us div 86400000000) % 7"))
      .withColumn("h", expr("(us div 3600000000) % 24"))

    val baseline = e.filter(col("us") < cutoffUs)
      .groupBy(col("event_type"), col("d"), col("h"))
      .agg(count(lit(1)).as("n"),
           sum(col("cents").cast(D)).as("s"),
           // lift to decimal BEFORE squaring: long×long overflows at
           // |cents| > ~3e9, far below the decimal operand bound
           sum(col("cents").cast(D) * col("cents")).as("q"))
      // center on the integer mean: m = S div n (truncated), r = S − nm
      // (|r| < n), Q′ = Q − 2mS + nm² = Σ(x−m)²; operands ≤ nC² ≈ 10²⁶
      .withColumn("m", expr("CAST(s div n AS BIGINT)"))
      .withColumn("r", expr("CAST(s - CAST(n AS DECIMAL(38,0)) * m AS BIGINT)"))
      .withColumn("qc", expr("q - 2 * CAST(m AS DECIMAL(38,0)) * s" +
                             " + CAST(n AS DECIMAL(38,0)) * m * m"))
      .select(col("event_type"), col("d"), col("h"),
              col("n"), col("m"), col("r"), col("qc"))

    val a = (col("cents") - col("m")).cast(D)        // deviation from mean
    val abs1 = abs(col("cents") - col("m"))
    val n1 = (col("n") - 1).cast(D)
    // sufficient TRUE:  (|a|−1)²(n−1) > 9Q′  ⇒  (na−r)²(n−1) > 9n(nQ′−r²)
    val suffTrue = abs1 >= 1 &&
      (abs1 - 1).cast(D) * (abs1 - 1).cast(D) * n1 > col("qc") * 9
    // sufficient FALSE: (|a|+1)²(n−1) ≤ 9(Q′−n) ⇒ ¬(…)   (since r² < n²)
    val suffFalse =
      (abs1 + 1).cast(D) * (abs1 + 1).cast(D) * n1 <=
        (col("qc") - col("n")) * 9
    // exact boundary test on centered operands: A = na − r
    val bigA = col("n").cast(D) * a - col("r").cast(D)
    val exact = bigA * bigA * n1 >
      (col("n").cast(D) * col("qc") - col("r").cast(D) * col("r")) * col("n") * 9

    e.filter(col("us") >= cutoffUs)
      .join(broadcast(baseline), Seq("event_type", "d", "h"), "left")
      .select(col("event_id"), col("event_type"), col("cents"),
        coalesce(col("n"), lit(0L)).as("baseline_n"),
        when(col("n").isNull || col("n") < 2, lit(false))
          .when(suffTrue, lit(true))
          .when(suffFalse, lit(false))
          .otherwise(exact).as("is_anomaly"))
      .orderBy(col("event_id"))
  }

  private val w16Sql =
    """WITH e AS (
      |  SELECT event_id, event_type, epoch_us(ts) us,
      |    CAST(round(value * 100) AS BIGINT) cents,
      |    (epoch_us(ts) // 86400000000) % 7 d,
      |    (epoch_us(ts) // 3600000000) % 24 h
      |  FROM events WHERE value IS NOT NULL),
      |b AS (
      |  SELECT event_type, d, h, COUNT(*) n,
      |    SUM(CAST(cents AS HUGEINT)) s,
      |    SUM(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) q
      |  FROM e WHERE us < 1705881600000000 GROUP BY 1, 2, 3)
      |SELECT r.event_id, r.event_type, r.cents,
      |  COALESCE(b.n, 0) AS baseline_n,
      |  COALESCE(b.n >= 2 AND
      |    (r.cents * b.n - b.s) * (r.cents * b.n - b.s) * (b.n - 1) >
      |    (b.n * b.q - b.s * b.s) * b.n * 9, FALSE) AS is_anomaly
      |FROM e r LEFT JOIN b ON r.event_type = b.event_type AND r.d = b.d AND r.h = b.h
      |WHERE r.us >= 1705881600000000
      |ORDER BY r.event_id""".stripMargin

  /** a35 — mergeable-sketch rollup: daily per-(event_type, day) HLL
    * sketches of the user population are PERSISTED to parquet (the
    * stored-state lifecycle, a33's convention), then higher-level
    * distinct-user estimates come from union-merging the stored
    * sketches — the raw event stream is never rescanned. This is the
    * property that makes sketches infrastructure rather than a trick:
    * HLL union is lossless over register maxima, so
    * union(sketch(day₁), …, sketch(dayₙ)) == sketch(day₁ ∪ … ∪ dayₙ)
    * EXACTLY (MaintenanceSpec asserts estimate equality against a
    * direct one-pass sketch), and at 100 TB the nightly rollup reads
    * |event_types|×|days| kilobyte-sized rows instead of the stream.
    *
    * Cross-engine contract (the a23 convention): raw estimates can't
    * cross engines, so the merged estimate collapses to an in-band
    * boolean next to exact counts the oracle recomputes; a >5% sketch
    * regression flips the boolean and fails the hash compare.
    */
  def a35SketchRollup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
    val snapDir = graft.util.Scratch.dir("graft_a35_sketches_")
    ev.groupBy(col("event_type"), col("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sketch"))
      .write.mode("overwrite").parquet(snapDir)
    val partials = spark.read.parquet(snapDir)
    val merged = partials.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_cells"),
           hll_sketch_estimate(hll_union_agg(col("sketch"))).cast("long").as("n_est"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    exact.join(broadcast(merged), "event_type")
      .select(col("event_type"), col("n_cells"), col("n_exact"),
        (abs(col("n_est") - col("n_exact")) <= col("n_exact") * 0.05).as("merged_ok"))
      .orderBy(col("event_type"))
  }

  private val a35Sql =
    """SELECT event_type,
      |  CAST(COUNT(DISTINCT epoch_us(ts) // 86400000000) AS BIGINT) AS n_cells,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
      |  TRUE AS merged_ok
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** a36 — Count-Min heavy-hitter audit with a FULLY cross-engine
    * sketch: the d×w counter matrix uses pure integer multiplicative
    * hashes h_i(x) = ((aᵢ·(x mod p) + bᵢ) mod p) mod w with
    * p = 2³¹−1, so every counter — and therefore every estimate — is
    * bit-identical between Spark and the DuckDB oracle. No "within 5%"
    * boolean (the a23/a35 convention); the sketch itself crosses the
    * engine boundary as exact values.
    *
    * Scale shape: CMS is LINEAR, so the sketch of a 100 TB stream is
    * the sum of per-partition sketches — here built from map-side
    * partially-aggregated per-key counts, collapsing to a d·w ≤ 256-row
    * table that BROADCASTS back to score candidates. The deterministic
    * CMS guarantee (est ≥ true count, always) is asserted row-by-row in
    * MaintenanceSpec; the emitted `overcount` column is the honest
    * price of 256 counters summarizing the whole stream.
    */
  def a36CmsHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val P = 2147483647L // 2^31 − 1: a·(x mod p)+b ≤ 43·2³¹ ≪ 2⁶³, no overflow
    val W = 64
    val hashes = Seq((0, 31L, 17L), (1, 37L, 19L), (2, 41L, 23L), (3, 43L, 29L))
    val counts = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
    val probes = counts.select(col("user_id"), col("cnt"),
      explode(array(hashes.map { case (i, a, b) =>
        struct(lit(i).as("i"),
          (((lit(a) * (col("user_id") % P) + b) % P) % W).as("bucket"))
      }: _*)).as("h"))
      .select(col("user_id"), col("cnt"), col("h.i").as("i"), col("h.bucket").as("bucket"))
    val cms = probes.groupBy(col("i"), col("bucket")).agg(sum(col("cnt")).as("v"))
    probes
      .join(broadcast(cms), Seq("i", "bucket"))
      .groupBy(col("user_id"), col("cnt"))
      .agg(min(col("v")).as("n_cms"))
      .select(col("user_id"), col("cnt").as("n_exact"), col("n_cms"),
        (col("n_cms") - col("cnt")).as("overcount"))
      .orderBy(col("n_exact").desc, col("user_id"))
      .limit(20)
  }

  private val a36Sql =
    """WITH c AS (SELECT user_id, COUNT(*) cnt FROM events GROUP BY 1),
      |h AS (SELECT user_id, cnt, i,
      |        ((a * (user_id % 2147483647) + b) % 2147483647) % 64 AS bucket
      |      FROM c, (VALUES (0,31,17),(1,37,19),(2,41,23),(3,43,29)) AS t(i,a,b)),
      |cms AS (SELECT i, bucket, SUM(cnt) v FROM h GROUP BY 1, 2),
      |est AS (SELECT h.user_id, h.cnt, MIN(cms.v) n_cms
      |        FROM h JOIN cms USING (i, bucket) GROUP BY 1, 2)
      |SELECT user_id, CAST(cnt AS BIGINT) AS n_exact,
      |       CAST(n_cms AS BIGINT) AS n_cms,
      |       CAST(n_cms - cnt AS BIGINT) AS overcount
      |FROM est ORDER BY n_exact DESC, user_id LIMIT 20""".stripMargin

  /** a37 — KMV (bottom-k / theta-sketch) distinct-count SET ALGEBRA
    * over per-event-type user populations: union estimates and Jaccard
    * between every type pair, computed entirely from k=16-value
    * sketches — with the exact answers alongside as the audit column.
    *
    * The sketch state is the existing mergeable [[graft.functions.TopKAgg]]
    * aggregate over NEGATED hashes (bottom-k = top-k of −h): partial
    * k-value states combine map-side, so the 100 TB stream reduces to
    * |event_types| rows of k longs without ever sorting per type — the
    * window-row_number formulation the oracle uses is exactly the shape
    * this aggregate replaces. Set algebra then runs on the sketches
    * alone (the KMV union theorem: bottomk(bottomk(A) ∪ bottomk(B)) =
    * bottomk(A ∪ B), asserted pairwise in MaintenanceSpec), a
    * cross-sketch intersect for the theta-style Jaccard, and the
    * (k−1)·p / θ estimator. The hash is the a36 multiplicative family
    * (injective affine map mod 2³¹−1), so every sketch value — and
    * therefore every estimate — is bit-identical in the DuckDB oracle:
    * no tolerance bands anywhere.
    */
  def a37KmvSetOps(spark: SparkSession, dir: String, k: Int = 16): DataFrame = {
    val P = 2147483647L
    val full = (k - 1).toLong * P
    val du = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id")).distinct()
      .select(col("event_type"), ((lit(48271L) * (col("user_id") % P)) % P).as("h"))
    // topk over −h (DESC) is h ascending after negation: the k smallest
    val sk = du.groupBy(col("event_type"))
      .agg(expr(s"transform(topk(CAST(-h AS DOUBLE), $k), x -> CAST(-x AS BIGINT))").as("mins"))
      .withColumn("est", expr(
        s"CASE WHEN size(mins) < $k THEN CAST(size(mins) AS BIGINT) " +
        s"ELSE ${full}L div element_at(mins, $k) END"))
    val pairs = sk.select(col("event_type").as("ta"), col("mins").as("ma"), col("est").as("est_a"))
      .crossJoin(sk.select(col("event_type").as("tb"), col("mins").as("mb"), col("est").as("est_b")))
      .filter(col("ta") < col("tb"))
      .withColumn("mg", expr(s"slice(array_sort(array_distinct(concat(ma, mb))), 1, $k)"))
      .withColumn("msize", size(col("mg")))
      .withColumn("est_union", expr(
        s"CASE WHEN msize < $k THEN CAST(msize AS BIGINT) " +
        s"ELSE ${full}L div element_at(mg, msize) END"))
      .withColumn("n_common",
        expr("CAST(size(array_intersect(array_intersect(mg, ma), mb)) AS BIGINT)"))
      .withColumn("jacc_ppm", expr("n_common * 1000000 div CAST(msize AS BIGINT)"))
    val exInter = du.as("x").join(du.as("y"), col("x.h") === col("y.h"))
      .filter(col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("ta"), col("y.event_type").as("tb"))
      .agg(count(lit(1)).as("n_inter"))
    val sizes = du.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    pairs
      .join(broadcast(exInter), Seq("ta", "tb"), "left")
      .join(broadcast(sizes.select(col("event_type").as("ta"), col("n").as("na"))), Seq("ta"))
      .join(broadcast(sizes.select(col("event_type").as("tb"), col("n").as("nb"))), Seq("tb"))
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .select(col("ta"), col("tb"), col("est_a"), col("est_b"), col("est_union"),
        col("n_common"), col("jacc_ppm"),
        expr("n_inter * 1000000 div (na + nb - n_inter)").as("exact_jacc_ppm"))
      .orderBy(col("ta"), col("tb"))
  }

  private val a37Sql =
    """WITH du AS (SELECT DISTINCT event_type t,
      |             (48271 * (user_id % 2147483647)) % 2147483647 h FROM events),
      |r AS (SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h) rn FROM du),
      |sk AS (SELECT t, h, rn FROM r WHERE rn <= 16),
      |sz AS (SELECT t, COUNT(*) n, MAX(h) hk FROM sk GROUP BY 1),
      |te AS (SELECT t, CASE WHEN n < 16 THEN n
      |                      ELSE (CAST(15 AS BIGINT) * 2147483647) // hk END est
      |       FROM sz),
      |pr AS (SELECT a.t ta, b.t tb FROM sz a JOIN sz b ON a.t < b.t),
      |mu AS (SELECT p.ta, p.tb, s.h FROM pr p JOIN sk s ON s.t = p.ta OR s.t = p.tb),
      |md AS (SELECT ta, tb, h, COUNT(*) nt FROM mu GROUP BY 1, 2, 3),
      |mr AS (SELECT ta, tb, h, nt,
      |              row_number() OVER (PARTITION BY ta, tb ORDER BY h) rn FROM md),
      |mk AS (SELECT ta, tb, h, nt FROM mr WHERE rn <= 16),
      |ag AS (SELECT ta, tb, COUNT(*) msize, MAX(h) theta,
      |              SUM(CASE WHEN nt = 2 THEN 1 ELSE 0 END) n_common
      |       FROM mk GROUP BY 1, 2),
      |ei AS (SELECT x.t ta, y.t tb, COUNT(*) n_inter
      |       FROM du x JOIN du y ON x.h = y.h AND x.t < y.t GROUP BY 1, 2),
      |en AS (SELECT t, COUNT(*) n FROM du GROUP BY 1)
      |SELECT g.ta, g.tb, ea.est AS est_a, eb.est AS est_b,
      |  CASE WHEN g.msize < 16 THEN g.msize
      |       ELSE (CAST(15 AS BIGINT) * 2147483647) // g.theta END AS est_union,
      |  CAST(g.n_common AS BIGINT) AS n_common,
      |  CAST(g.n_common AS BIGINT) * 1000000 // g.msize AS jacc_ppm,
      |  COALESCE(i.n_inter, 0) * 1000000
      |    // (na.n + nb.n - COALESCE(i.n_inter, 0)) AS exact_jacc_ppm
      |FROM ag g JOIN te ea ON ea.t = g.ta JOIN te eb ON eb.t = g.tb
      |LEFT JOIN ei i ON i.ta = g.ta AND i.tb = g.tb
      |JOIN en na ON na.t = g.ta JOIN en nb ON nb.t = g.tb
      |ORDER BY g.ta, g.tb""".stripMargin

  /** a38 — exact two-sample Kolmogorov–Smirnov drift statistic per
    * event type: the value distribution of the stream's FIRST half
    * (by the midpoint timestamp) against its SECOND half — the
    * train/serve drift check a feature pipeline runs before promoting
    * a snapshot. The KS statistic sup|F₁−F₂| is computed EXACTLY in
    * the cross-multiplied form max|cum₁·n₂ − cum₂·n₁| (no division
    * until the final ppm), evaluated at every distinct observed value
    * via one running-sum window per type over the merged per-value
    * counts — no float CDFs, no sorting of raw rows (the window runs
    * over DISTINCT (type, cents) cells).
    *
    * Headroom: cum·n ≤ n₁·n₂ needs n per side < 3·10⁹ before the long
    * product overflows (ANSI throws, not wraps); past that, drift-check
    * a stratified sample (s05) — the statistic is distribution-level
    * and sampling-stable by construction.
    */
  def a38KsDrift(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).filter(col("value").isNotNull)
      .select(col("event_type"), col("ts"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val mid = ev.groupBy(col("event_type"))
      .agg(expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2").as("mid_us"))
    val sided = ev.join(broadcast(mid), Seq("event_type"))
      .withColumn("side", when(expr("unix_micros(ts)") < col("mid_us"), 1).otherwise(2))
    val cells = sided.groupBy(col("event_type"), col("cents"))
      .agg(sum(when(col("side") === 1, 1L).otherwise(0L)).as("c1"),
           sum(when(col("side") === 2, 1L).otherwise(0L)).as("c2"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = sided.groupBy(col("event_type"))
      .agg(sum(when(col("side") === 1, 1L).otherwise(0L)).as("n1"),
           sum(when(col("side") === 2, 1L).otherwise(0L)).as("n2"))
    cells
      .withColumn("cum1", sum(col("c1")).over(w))
      .withColumn("cum2", sum(col("c2")).over(w))
      .join(broadcast(tot), Seq("event_type"))
      .groupBy(col("event_type"), col("n1"), col("n2"))
      .agg(max(abs(col("cum1") * col("n2") - col("cum2") * col("n1"))).as("dmax"))
      .select(col("event_type"), col("n1"), col("n2"),
        expr("(dmax * 1000000) div (n1 * n2)").as("ks_ppm"),
        (expr("(dmax * 1000000) div (n1 * n2)") > 100000).as("drifted"))
      .orderBy(col("event_type"))
  }

  private val a38Sql =
    """WITH ev AS (SELECT event_type, epoch_us(ts) us,
      |              CAST(round(value * 100) AS BIGINT) cents
      |            FROM events WHERE value IS NOT NULL),
      |mid AS (SELECT event_type, (MIN(us) + MAX(us)) // 2 mid_us
      |        FROM ev GROUP BY 1),
      |sided AS (SELECT ev.event_type, cents,
      |            CASE WHEN us < mid_us THEN 1 ELSE 2 END side
      |          FROM ev JOIN mid USING (event_type)),
      |cells AS (SELECT event_type, cents,
      |            SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) c1,
      |            SUM(CASE WHEN side = 2 THEN 1 ELSE 0 END) c2
      |          FROM sided GROUP BY 1, 2),
      |tot AS (SELECT event_type,
      |          SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) n1,
      |          SUM(CASE WHEN side = 2 THEN 1 ELSE 0 END) n2
      |        FROM sided GROUP BY 1),
      |cum AS (SELECT event_type, cents,
      |          SUM(c1) OVER (PARTITION BY event_type ORDER BY cents
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum1,
      |          SUM(c2) OVER (PARTITION BY event_type ORDER BY cents
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum2
      |        FROM cells),
      |d AS (SELECT c.event_type, t.n1, t.n2,
      |        MAX(abs(cum1 * t.n2 - cum2 * t.n1)) dmax
      |      FROM cum c JOIN tot t USING (event_type)
      |      GROUP BY 1, 2, 3)
      |SELECT event_type, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  CAST((dmax * 1000000) // (n1 * n2) AS BIGINT) AS ks_ppm,
      |  (dmax * 1000000) // (n1 * n2) > 100000 AS drifted
      |FROM d ORDER BY event_type""".stripMargin

  /** a39 — Benford first-significant-digit audit per event type: the
    * classic fraud/synthetic-data screen (naturally-occurring positive
    * amounts follow P(d) = log10(1 + 1/d); fabricated or clipped data
    * doesn't). The first digit comes from the INTEGER cents value's
    * decimal string — never from float log10, whose drift near powers
    * of ten would flip digits differently per engine — so observed
    * shares are exact integer ppm, the expected shares are pinned
    * literal constants (⌊1e6·log10(1+1/d)⌋), and the per-digit
    * deviation is plain int subtraction: hash-green across engines.
    *
    * Scale shape: one map-side projection (cents → leading char) into
    * one partial-aggregated groupBy on (event_type, digit) — a ≤9-row
    * fan-out per type; the per-type totals rejoin via a window over the
    * tiny aggregate, so the fact table is scanned once with no second
    * shuffle.
    */
  def a39Benford(spark: SparkSession, dir: String): DataFrame = {
    val expected = "array(301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757)"
    val counts = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .filter(col("cents") > 0)
      .select(col("event_type"),
        expr("CAST(substring(CAST(cents AS STRING), 1, 1) AS INT)").as("digit"))
      .groupBy(col("event_type"), col("digit")).agg(count(lit(1)).as("n"))
    counts
      .withColumn("n_total",
        sum(col("n")).over(Window.partitionBy(col("event_type"))))
      .withColumn("obs_ppm", expr("(1000000 * n) div n_total"))
      .withColumn("exp_ppm", expr(s"CAST(element_at($expected, digit) AS BIGINT)"))
      .select(col("event_type"), col("digit"), col("n"), col("n_total"),
        col("obs_ppm"), col("exp_ppm"),
        expr("abs(obs_ppm - exp_ppm)").as("dev_ppm"))
      .orderBy(col("event_type"), col("digit"))
  }

  private val a39Sql =
    """WITH c AS (
      |  SELECT event_type,
      |    CAST(substring(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) digit
      |  FROM events
      |  WHERE value IS NOT NULL AND CAST(round(value * 100) AS BIGINT) > 0),
      |g AS (SELECT event_type, digit, CAST(COUNT(*) AS BIGINT) n
      |      FROM c GROUP BY 1, 2),
      |t AS (SELECT event_type, digit, n,
      |        CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) n_total
      |      FROM g)
      |SELECT event_type, digit, n, n_total,
      |  (1000000 * n) // n_total AS obs_ppm,
      |  CAST([301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757][digit] AS BIGINT) AS exp_ppm,
      |  abs((1000000 * n) // n_total
      |      - [301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757][digit]) AS dev_ppm
      |FROM t ORDER BY event_type, digit""".stripMargin

  /** a40 — Gini concentration of value per event type: the inequality
    * summary every quota/abuse dashboard wants ("do 1% of events carry
    * 90% of the spend?"). Uses the exact rank formula over ascending
    * cents, G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx), evaluated ENTIRELY in
    * DECIMAL(38,0) (the w16 convention — lift before multiplying) and
    * floored to ppm, so both engines produce the identical integer.
    * Headroom: the widest product is 1e6·2·Σ(i·x) — safe while
    * n·Σcents < ~5·10³¹, i.e. far past any real per-type cohort; ANSI
    * mode fails LOUDLY on overflow, never silently.
    *
    * Scale shape: one window exchange on event_type gives the ranks,
    * the same partitioning feeds the aggregate (no second shuffle).
    * Ranks tie-break on event_id; equal cents values permute Σ i·xᵢ
    * only among equal x, leaving the sum — and the Gini — unchanged,
    * so the statistic itself is order-robust.
    */
  def a40Gini(spark: SparkSession, dir: String): DataFrame = {
    val D = DecimalType(38, 0)
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("cents"), col("event_id"))
    Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .filter(col("cents") >= 0)
      .withColumn("i", row_number().over(w))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast(D).as("n"),
           sum(col("cents").cast(D)).as("s"),
           sum(col("i").cast(D) * col("cents").cast(D)).as("ixs"))
      .select(col("event_type"), col("n").cast(LongType).as("n"),
        col("s").cast(LongType).as("sum_cents"),
        expr("CAST((1000000 * (2 * ixs - (n + 1) * s)) div (n * s) AS BIGINT)")
          .as("gini_ppm"))
      .orderBy(col("event_type"))
  }

  private val a40Sql =
    """WITH e AS (
      |  SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) cents
      |  FROM events WHERE value IS NOT NULL
      |    AND CAST(round(value * 100) AS BIGINT) >= 0),
      |r AS (
      |  SELECT event_type, cents,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS HUGEINT) i
      |  FROM e),
      |g AS (
      |  SELECT event_type, CAST(COUNT(*) AS HUGEINT) n,
      |    CAST(SUM(cents) AS HUGEINT) s, SUM(i * CAST(cents AS HUGEINT)) ixs
      |  FROM r GROUP BY event_type)
      |SELECT event_type, CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS sum_cents,
      |  CAST((1000000 * (2 * ixs - (n + 1) * s)) // (n * s) AS BIGINT) AS gini_ppm
      |FROM g ORDER BY event_type""".stripMargin

  /** a41 — Mann-Whitney U between two event types' value
    * distributions, computed EXACTLY: with ranks held at 2× (so tied
    * mid-ranks stay integers — a tie block occupying ranks
    * [r₀, r₀+k−1] has doubled mid-rank 2r₀+k−1), U and the
    * rank-biserial effect size are pure integer arithmetic end to end.
    * The nonparametric two-sample location test is the drift check to
    * reach for when a38's KS says "something moved" and you want
    * direction + magnitude without assuming a distribution. Sign-aware
    * ppm floor (the g09 rule: Spark div truncates, DuckDB // floors).
    *
    * Scale shape: ranking runs over the DISTINCT-VALUE count table,
    * not the rows — per-value (k, k1) from one partial-aggregated
    * groupBy, then [[ScaleOps.prefixSum]] (range repartition +
    * per-partition offsets) supplies below-counts with NO
    * single-partition window; the finale is a 1-row aggregate.
    */
  def a41MannWhitney(spark: SparkSession, dir: String,
                     typeA: String = "click", typeB: String = "error"): DataFrame = {
    val vc = Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("event_type").isin(typeA, typeB))
      .select(col("event_type"), expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("cents"))
      .agg(count(lit(1)).as("k"),
           sum(when(col("event_type") === typeA, 1L).otherwise(0L)).as("k1"))
    ScaleOps.prefixSum(vc, Seq("cents"), "k", "cum")
      .withColumn("below", col("cum") - col("k"))
      .agg(sum(col("k1")).as("n1"),
           sum(col("k") - col("k1")).as("n2"),
           sum(col("k1") * (lit(2) * (col("below") + 1) + col("k") - 1)).as("r1_2"))
      .select(col("n1"), col("n2"),
        (col("r1_2") - col("n1") * (col("n1") + 1)).as("u2"))
      .select(col("n1"), col("n2"), col("u2"),
        expr("CASE WHEN u2 - n1 * n2 >= 0 " +
             "THEN (1000000 * (u2 - n1 * n2)) div (n1 * n2) " +
             "ELSE -((1000000 * (n1 * n2 - u2)) div (n1 * n2)) END")
          .as("rank_biserial_ppm"))
  }

  private val a41Sql =
    """WITH e AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) cents
      |  FROM events WHERE value IS NOT NULL AND event_type IN ('click', 'error')),
      |vc AS (
      |  SELECT cents, CAST(COUNT(*) AS BIGINT) k,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) k1
      |  FROM e GROUP BY cents),
      |pre AS (
      |  SELECT cents, k, k1,
      |    CAST(COALESCE(SUM(k) OVER (ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) below
      |  FROM vc),
      |tot AS (
      |  SELECT CAST(SUM(k1) AS BIGINT) n1, CAST(SUM(k - k1) AS BIGINT) n2,
      |    CAST(SUM(k1 * (2 * (below + 1) + (k - 1))) AS BIGINT) r1_2
      |  FROM pre)
      |SELECT n1, n2, r1_2 - n1 * (n1 + 1) AS u2,
      |  CASE WHEN r1_2 - n1 * (n1 + 1) - n1 * n2 >= 0
      |    THEN (1000000 * (r1_2 - n1 * (n1 + 1) - n1 * n2)) // (n1 * n2)
      |    ELSE -((1000000 * (n1 * n2 - (r1_2 - n1 * (n1 + 1)))) // (n1 * n2))
      |  END AS rank_biserial_ppm
      |FROM tot""".stripMargin

  /** a42 — mutual information between event type and hour-of-day: the
    * dependence audit ("is traffic shape type-specific?") in the t14
    * micro-nat convention — each cell's pointwise MI is quantized to an
    * int64 ONCE (round(ln((n_xy·N)/(n_x·n_y))·1e6); the ratio is one
    * exact-int64-over-exact-int64 double division, so the ln input is
    * bit-identical across engines) and then weighted and summed in
    * exact integer arithmetic. Checked margins: every cell's ln value
    * sits ≥ 7e-4 micro-units from a rounding boundary at both test
    * sfs, ~2000× the worst observed cross-libm drift (the t12
    * precedent). Per-type contribution rows let the reader see WHICH
    * type carries the dependence; Σ contrib / N is the corpus MI.
    *
    * Scale shape: one groupBy to the |types|×24 cell table, margins
    * rejoin as broadcasts, and the weighted sum partial-aggregates —
    * nothing row-scale after the first pass. (The int64 n_xy·N
    * product bounds this form at n ≲ 3e9 rows per margin; past that,
    * lift to DECIMAL(38,0) — the w16 rule.)
    */
  def a42MutualInfo(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), expr("CAST(hour(ts) AS INT)").as("h"))
    val xy = e.groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("nxy"))
    val nx = xy.groupBy(col("event_type")).agg(sum(col("nxy")).as("nx"))
    val ny = xy.groupBy(col("h")).agg(sum(col("nxy")).as("ny"))
    val tot = xy.agg(sum(col("nxy")).as("nn"))
    xy.join(broadcast(nx), Seq("event_type")).join(broadcast(ny), Seq("h"))
      .crossJoin(broadcast(tot))
      .withColumn("pmi_micro", expr(
        "CAST(round(ln(CAST(nxy * nn AS DOUBLE) / CAST(nx * ny AS DOUBLE)) * 1000000) AS BIGINT)"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_cells"),
           max(col("nx")).as("n_rows"),
           sum(col("nxy") * col("pmi_micro")).as("mi_contrib_weighted"))
      .orderBy(col("event_type"))
  }

  private val a42Sql =
    """WITH e AS (
      |  SELECT event_type, CAST(hour(ts) AS INTEGER) h
      |  FROM events WHERE value IS NOT NULL),
      |xy AS (SELECT event_type, h, CAST(COUNT(*) AS BIGINT) nxy
      |       FROM e GROUP BY 1, 2),
      |nx AS (SELECT event_type, CAST(SUM(nxy) AS BIGINT) nx FROM xy GROUP BY 1),
      |ny AS (SELECT h, CAST(SUM(nxy) AS BIGINT) ny FROM xy GROUP BY 1),
      |tot AS (SELECT CAST(SUM(nxy) AS BIGINT) nn FROM xy),
      |p AS (
      |  SELECT xy.event_type, xy.nxy, nx.nx,
      |    CAST(round(ln(CAST(xy.nxy * tot.nn AS DOUBLE)
      |      / CAST(nx.nx * ny.ny AS DOUBLE)) * 1000000) AS BIGINT) pmi_micro
      |  FROM xy JOIN nx USING (event_type) JOIN ny USING (h) CROSS JOIN tot)
      |SELECT event_type, COUNT(*) AS n_cells,
      |  CAST(MAX(nx) AS BIGINT) AS n_rows,
      |  CAST(SUM(nxy * pmi_micro) AS BIGINT) AS mi_contrib_weighted
      |FROM p GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** a43 — Spearman rank correlation between a document's token count
    * and its embedding's squared norm: the length-leakage check for an
    * encoder (embeddings that grow with input length flatten cosine
    * ranking toward length ranking). With unique (value, doc_id) sort
    * keys the ranks are a total order, so ρ = 1 − 6Σd²/(n(n²−1)) is an
    * EXACT rational — evaluated in DECIMAL(38,0) with the sign-aware
    * ppm floor (the g09 rule). This is the deterministic no-tie-rank
    * variant (ties break by doc_id), documented as the contract.
    *
    * Scale shape: both rank assignments go through
    * [[ScaleOps.denseIds]] — range repartition + per-partition offsets,
    * identical to row_number over the total order but with NO
    * single-partition window — then one join on doc_id and a 1-row
    * aggregate.
    */
  def a43Spearman(spark: SparkSession, dir: String): DataFrame = {
    val D = DecimalType(38, 0)
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(lower(trim(col("text"))), "\\s+")).cast(LongType).as("x"))
    val nrm = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("doc_id"),
        expr("aggregate(transform(embedding, " +
          "v -> CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT)), " +
          "CAST(0 AS BIGINT), (acc, q) -> acc + q * q)").as("y"))
    val rx = ScaleOps.denseIds(toks, Seq("x", "doc_id"), "rx")
      .select(col("doc_id"), col("rx"))
    val ry = ScaleOps.denseIds(nrm, Seq("y", "doc_id"), "ry")
      .select(col("doc_id"), col("ry"))
    rx.join(ry, Seq("doc_id"))
      .agg(count(lit(1)).cast(D).as("n"),
           sum((col("rx") - col("ry")).cast(D) * (col("rx") - col("ry")).cast(D))
             .as("sd2"))
      .select(col("n").cast(LongType).as("n"),
        col("sd2").cast(LongType).as("sum_d2"),
        expr("CASE WHEN n * (n * n - 1) - 6 * sd2 >= 0 " +
             "THEN CAST((1000000 * (n * (n * n - 1) - 6 * sd2)) div (n * (n * n - 1)) AS BIGINT) " +
             "ELSE -CAST((1000000 * (6 * sd2 - n * (n * n - 1))) div (n * (n * n - 1)) AS BIGINT) END")
          .as("spearman_ppm"))
  }

  private val a43Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) x
      |  FROM documents),
      |e AS (
      |  SELECT vec_id doc_id,
      |    CAST(list_sum(list_transform(
      |      list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT)),
      |      q -> q * q)) AS BIGINT) y
      |  FROM embeddings),
      |rx AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY x, doc_id) AS HUGEINT) rx FROM t),
      |ry AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY y, doc_id) AS HUGEINT) ry FROM e),
      |s AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) n,
      |    SUM((rx - ry) * (rx - ry)) sd2
      |  FROM rx JOIN ry USING (doc_id))
      |SELECT CAST(n AS BIGINT) AS n, CAST(sd2 AS BIGINT) AS sum_d2,
      |  CASE WHEN n * (n * n - 1) - 6 * sd2 >= 0
      |    THEN CAST((1000000 * (n * (n * n - 1) - 6 * sd2)) // (n * (n * n - 1)) AS BIGINT)
      |    ELSE -CAST((1000000 * (6 * sd2 - n * (n * n - 1))) // (n * (n * n - 1)) AS BIGINT)
      |  END AS spearman_ppm
      |FROM s""".stripMargin

  /** a44 — decile drift (the binned-L1 companion to a38's KS): take the
    * baseline period's exact nearest-rank decile boundaries per event
    * type (rank ⌈i·n/10⌉, the w21 machinery), bin the recent period
    * against them (bin = 1 + #boundaries strictly below the value —
    * the deterministic tie rule), and report each bin's occupancy
    * against the uniform expectation as the integer deviation
    * |10·n_b − n_total| (×10 keeps the rational expectation exact).
    * Where KS sees the worst single gap, the decile profile shows
    * WHERE mass moved — the PSI shape without PSI's logarithm (and so
    * none of its libm-boundary risk). Bins no recent row hits are
    * absent, identically in both engines.
    *
    * Scale shape: boundary extraction is one window exchange per the
    * w21 contract; the 9-boundary table broadcasts; binning is a
    * map-side count of boundaries below each row; the occupancy
    * aggregate + expectation window share one exchange.
    */
  def a44DecileDrift(spark: SparkSession, dir: String): DataFrame = {
    val cutoffUs = 1705881600000000L // 2024-01-22, the w16 split
    val e = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"), unix_micros(col("ts")).as("us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val wR = Window.partitionBy(col("event_type")).orderBy(col("cents"), col("event_id"))
    val wA = Window.partitionBy(col("event_type"))
    val bounds = e.filter(col("us") < cutoffUs)
      .withColumn("rn", row_number().over(wR))
      .withColumn("n", count(lit(1)).over(wA))
      .select(col("event_type"), col("cents"), col("rn"), col("n"),
        explode(expr("sequence(1, 9)")).as("i"))
      .filter(col("rn") === expr("(i * n + 9) div 10"))
      .select(col("event_type"), col("cents").as("boundary"))
    e.filter(col("us") >= cutoffUs)
      .join(broadcast(bounds), Seq("event_type"))
      .groupBy(col("event_type"), col("event_id"), col("cents"))
      .agg(sum(when(col("boundary") < col("cents"), 1L).otherwise(0L)).as("bin0"))
      .groupBy(col("event_type"), (col("bin0") + 1).as("bin"))
      .agg(count(lit(1)).as("n_b"))
      .withColumn("n_total", sum(col("n_b")).over(wA))
      .withColumn("dev_x10", expr("abs(10 * n_b - n_total)"))
      .select(col("event_type"), col("bin"), col("n_b"), col("n_total"),
        col("dev_x10"))
      .orderBy(col("event_type"), col("bin"))
  }

  private val a44Sql =
    """WITH e AS (
      |  SELECT event_type, event_id, epoch_us(ts) us,
      |    CAST(round(value * 100) AS BIGINT) cents
      |  FROM events WHERE value IS NOT NULL),
      |a AS (SELECT * FROM e WHERE us < 1705881600000000),
      |r AS (
      |  SELECT event_type, cents,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents, event_id) rn,
      |    COUNT(*) OVER (PARTITION BY event_type) n
      |  FROM a),
      |bounds AS (
      |  SELECT event_type, cents boundary
      |  FROM (SELECT r.*, unnest(range(1, 10)) i FROM r)
      |  WHERE rn = (i * n + 9) // 10),
      |b AS (SELECT * FROM e WHERE us >= 1705881600000000),
      |binned AS (
      |  SELECT b.event_type, b.event_id,
      |    1 + CAST(SUM(CASE WHEN bounds.boundary < b.cents THEN 1 ELSE 0 END) AS BIGINT) bin
      |  FROM b JOIN bounds ON b.event_type = bounds.event_type
      |  GROUP BY b.event_type, b.event_id),
      |occ AS (
      |  SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) n_b
      |  FROM binned GROUP BY event_type, bin)
      |SELECT event_type, bin, n_b,
      |  CAST(SUM(n_b) OVER (PARTITION BY event_type) AS BIGINT) AS n_total,
      |  abs(10 * n_b - CAST(SUM(n_b) OVER (PARTITION BY event_type) AS BIGINT)) AS dev_x10
      |FROM occ
      |ORDER BY event_type, bin""".stripMargin

  /** a45 — categorical-entropy profile across the lake's label-like
    * columns: Shannon entropy is THE one-number summary a data-quality
    * dashboard tracks per column (a collapsed distribution — encoder
    * bug, upstream filter gone wrong — shows as an entropy cliff long
    * before row counts move). Six columns across four tables in one
    * output frame, each row (column, n_rows, n_distinct,
    * ent_weighted_micro) with ent_weighted_micro = −Σ nᵢ·round(ln(nᵢ/N)
    * ·1e6) — the a42 micro-nat convention: the ln input is an exact-
    * int-over-exact-int double division, quantized ONCE, then pure
    * integer arithmetic, so the profile hash-matches across engines.
    * (N·H in micro-nats; divide by N·1e6 for bits·ln2.)
    *
    * Scale shape: one partial+final count aggregate per column — the
    * value tables are tens of rows, the unpartitioned window over them
    * is trivial — and the six frames union into one result. NULL is
    * deliberately a category (a null-share collapse is exactly the
    * kind of regression this audit exists to catch).
    */
  def a45EntropyProfile(spark: SparkSession, dir: String): DataFrame = {
    def ent(df: org.apache.spark.sql.DataFrame, table: String, c: String) = {
      val wAll = Window.partitionBy()
      df.groupBy(col(c)).agg(count(lit(1)).as("ni"))
        .withColumn("nn", sum(col("ni")).over(wAll))
        .withColumn("term", expr(
          "ni * CAST(round(ln(CAST(ni AS DOUBLE) / CAST(nn AS DOUBLE)) * 1000000) AS BIGINT)"))
        .agg(max(col("nn")).as("n_rows"),
          count(lit(1)).cast(org.apache.spark.sql.types.LongType).as("n_distinct"),
          (-sum(col("term"))).as("ent_weighted_micro"))
        .select(lit(s"$table.$c").as("column_name"),
          col("n_rows"), col("n_distinct"), col("ent_weighted_micro"))
    }
    Seq(
      ent(Tables.events(spark, dir), "events", "event_type"),
      ent(Tables.orders(spark, dir), "orders", "o_orderstatus"),
      ent(Tables.orders(spark, dir), "orders", "o_orderpriority"),
      ent(Tables.customer(spark, dir), "customer", "c_mktsegment"),
      ent(Tables.documents(spark, dir), "documents", "lang"),
      ent(Tables.documents(spark, dir), "documents", "source"))
      .reduce(_ unionByName _)
      .orderBy(col("column_name"))
  }

  private val a45Sql = {
    def block(table: String, c: String): String =
      s"""SELECT '$table.$c' AS column_name,
         |  CAST(MAX(nn) AS BIGINT) AS n_rows,
         |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
         |  CAST(-SUM(ni * CAST(round(ln(CAST(ni AS DOUBLE) / CAST(nn AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT) AS ent_weighted_micro
         |FROM (SELECT ni, SUM(ni) OVER () nn
         |      FROM (SELECT $c AS v, CAST(COUNT(*) AS BIGINT) ni FROM $table GROUP BY 1))""".stripMargin
    Seq(
      block("events", "event_type"), block("orders", "o_orderstatus"),
      block("orders", "o_orderpriority"), block("customer", "c_mktsegment"),
      block("documents", "lang"), block("documents", "source"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  /** a46 — exact chi-square independence test for event_type × hour-of-day.
    * The categorical drift / dependence gate next to a42's mutual
    * information: MI measures the strength in nats, chi-square is the
    * classical test statistic reviewers expect. EVERY grid cell
    * contributes — including empty ones, whose (0−e)²/e = e term the
    * observed-cells-only shortcut silently drops — so the full R×C grid
    * is built from the two marginal aggregates (R,C are category counts:
    * tiny, broadcast) and left-joined to the observed cells. Per-cell
    * contribution in micro-units is the exact rational
    * ((N·n_ij − r_i·c_j)² · 10⁶) div (r_i·c_j·N) evaluated in
    * DECIMAL(38,0) — headroom to N ≈ 5·10⁸ events; beyond that shard the
    * test per time-slice and sum. One shuffle on (type, hour); everything
    * after is broadcast arithmetic.
    */
  def a46ChiSquare(spark: SparkSession, dir: String): DataFrame = {
    val D = DecimalType(38, 0)
    val e = Tables.events(spark, dir)
      .select(col("event_type"), expr("CAST(hour(ts) AS INT)").as("h"))
    val xy = e.groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("nxy"))
    val nx = xy.groupBy(col("event_type")).agg(sum(col("nxy")).as("nx"))
    val ny = xy.groupBy(col("h")).agg(sum(col("nxy")).as("ny"))
    val tot = xy.agg(sum(col("nxy")).as("nn"))
    nx.crossJoin(broadcast(ny))
      .join(xy, Seq("event_type", "h"), "left")
      .withColumn("nxy", coalesce(col("nxy"), lit(0L)))
      .crossJoin(broadcast(tot))
      .select(col("event_type"), col("h"),
        col("nx").cast(D).as("nx"), col("ny").cast(D).as("ny"),
        col("nxy").cast(D).as("nxy"), col("nn").cast(D).as("nn"))
      .agg(max(col("nn")).cast(LongType).as("n_events"),
           countDistinct(col("event_type")).as("r_cats"),
           countDistinct(col("h")).as("c_cats"),
           sum(expr(
             "((nn * nxy - nx * ny) * (nn * nxy - nx * ny) * 1000000) div (nx * ny * nn)"))
             .cast(LongType).as("chi2_micro"))
      .select(col("n_events"), col("r_cats"), col("c_cats"),
        expr("(r_cats - 1) * (c_cats - 1)").as("dof"), col("chi2_micro"))
  }

  private val a46Sql =
    """WITH e AS (
      |  SELECT event_type, CAST(hour(ts) AS INTEGER) h FROM events),
      |xy AS (SELECT event_type, h, CAST(COUNT(*) AS HUGEINT) nxy
      |       FROM e GROUP BY 1, 2),
      |nx AS (SELECT event_type, CAST(SUM(nxy) AS HUGEINT) nx FROM xy GROUP BY 1),
      |ny AS (SELECT h, CAST(SUM(nxy) AS HUGEINT) ny FROM xy GROUP BY 1),
      |tot AS (SELECT CAST(SUM(nxy) AS HUGEINT) nn FROM xy),
      |cells AS (
      |  SELECT nx.event_type, ny.h, nx.nx, ny.ny,
      |    COALESCE(xy.nxy, 0) nxy, tot.nn
      |  FROM nx CROSS JOIN ny CROSS JOIN tot
      |  LEFT JOIN xy ON nx.event_type = xy.event_type AND ny.h = xy.h)
      |SELECT CAST(MAX(nn) AS BIGINT) AS n_events,
      |  CAST(COUNT(DISTINCT event_type) AS BIGINT) AS r_cats,
      |  CAST(COUNT(DISTINCT h) AS BIGINT) AS c_cats,
      |  CAST((COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT h) - 1) AS BIGINT) AS dof,
      |  CAST(SUM(((nn * nxy - nx * ny) * (nn * nxy - nx * ny) * 1000000)
      |           // (nx * ny * nn)) AS BIGINT) AS chi2_micro
      |FROM cells""".stripMargin

  /** a47 — Welch's unequal-variance t-test between two event types'
    * value distributions: the parametric companion to [[a41MannWhitney]]
    * (direction + magnitude under a location-shift model) and the
    * mean-drift gate next to a46's categorical chi-square. Everything
    * is integer arithmetic on DEFINED quantization points, so both
    * engines produce bit-identical rows: cents in, then
    * mean-difference/variance/standard-error/t²/Welch–Satterthwaite dof
    * each floor-quantized (micro or milli) at the moment they are
    * derived. The variance numerators n·Σx²−(Σx)² are computed in
    * DECIMAL(38,0) — BIGINT overflows them past ~10⁸ rows per group —
    * and every division has a non-negative numerator except the mean
    * difference, which uses the g09 sign-aware floor (Spark `div`
    * truncates, DuckDB `//` floors; they only agree on non-negatives).
    *
    * Scale shape: ONE partial-aggregated pass over the filtered events
    * produces the six sufficient statistics (n, Σx, Σx² per side); the
    * test itself is arithmetic on a single row. The same shape at
    * 100 TB — sufficient statistics are what you ship, not rows.
    */
  def a47WelchTtest(spark: SparkSession, dir: String,
                    typeA: String = "click", typeB: String = "error"): DataFrame = {
    val D = DecimalType(38, 0)
    Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("event_type").isin(typeA, typeB))
      .select(when(col("event_type") === typeA, 1L).otherwise(0L).as("isa"),
        expr("CAST(round(value * 100) AS BIGINT)").as("x"))
      .agg(
        sum(col("isa")).as("n1"),
        sum(lit(1L) - col("isa")).as("n2"),
        sum(when(col("isa") === 1L, col("x")).otherwise(0L).cast(D)).as("s1"),
        sum(when(col("isa") === 0L, col("x")).otherwise(0L).cast(D)).as("s2"),
        sum(when(col("isa") === 1L, col("x") * col("x")).otherwise(0L).cast(D)).as("q1"),
        sum(when(col("isa") === 0L, col("x") * col("x")).otherwise(0L).cast(D)).as("q2"))
      // micro-quantized moments; every later step works on these longs
      .select(col("n1"), col("n2"),
        expr("CASE WHEN s1 * n2 - s2 * n1 >= 0 " +
             "THEN (1000000 * (s1 * n2 - s2 * n1)) div (n1 * n2) " +
             "ELSE -((1000000 * (s2 * n1 - s1 * n2)) div (n1 * n2)) END")
          .as("mean_diff_micro"),
        expr("(1000000 * (n1 * q1 - s1 * s1)) div (n1 * n1 * (n1 - 1))").as("v1"),
        expr("(1000000 * (n2 * q2 - s2 * s2)) div (n2 * n2 * (n2 - 1))").as("v2"))
      .select(col("n1"), col("n2"), col("mean_diff_micro"),
        expr("v1 div n1").as("a"), expr("v2 div n2").as("b"))
      .select(col("n1"), col("n2"), col("mean_diff_micro"),
        (col("a") + col("b")).as("se2_micro"),
        expr("(CAST(mean_diff_micro AS DECIMAL(38,0)) * mean_diff_micro) " +
             "div greatest(a + b, 1)").as("t2_micro"),
        expr("(1000 * (CAST(a AS DECIMAL(38,0)) + b) * (a + b)) div " +
             "greatest(CAST(a AS DECIMAL(38,0)) * a div (n1 - 1) + " +
                      "CAST(b AS DECIMAL(38,0)) * b div (n2 - 1), 1)")
          .as("dof_milli"))
  }

  private val a47Sql =
    """WITH e AS (
      |  SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END isa,
      |    CAST(round("value" * 100) AS BIGINT) x
      |  FROM events
      |  WHERE "value" IS NOT NULL AND event_type IN ('click', 'error')),
      |m AS (
      |  SELECT CAST(SUM(isa) AS HUGEINT) n1, CAST(SUM(1 - isa) AS HUGEINT) n2,
      |    CAST(SUM(CASE WHEN isa = 1 THEN x ELSE 0 END) AS HUGEINT) s1,
      |    CAST(SUM(CASE WHEN isa = 0 THEN x ELSE 0 END) AS HUGEINT) s2,
      |    CAST(SUM(CASE WHEN isa = 1 THEN x * x ELSE 0 END) AS HUGEINT) q1,
      |    CAST(SUM(CASE WHEN isa = 0 THEN x * x ELSE 0 END) AS HUGEINT) q2
      |  FROM e),
      |mm AS (
      |  SELECT n1, n2,
      |    CASE WHEN s1 * n2 - s2 * n1 >= 0
      |      THEN (1000000 * (s1 * n2 - s2 * n1)) // (n1 * n2)
      |      ELSE -((1000000 * (s2 * n1 - s1 * n2)) // (n1 * n2))
      |    END mean_diff_micro,
      |    (1000000 * (n1 * q1 - s1 * s1)) // (n1 * n1 * (n1 - 1)) v1,
      |    (1000000 * (n2 * q2 - s2 * s2)) // (n2 * n2 * (n2 - 1)) v2
      |  FROM m),
      |ab AS (SELECT n1, n2, mean_diff_micro, v1 // n1 a, v2 // n2 b FROM mm)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  CAST(mean_diff_micro AS BIGINT) AS mean_diff_micro,
      |  CAST(a + b AS BIGINT) AS se2_micro,
      |  CAST((mean_diff_micro * mean_diff_micro) // greatest(a + b, 1) AS BIGINT)
      |    AS t2_micro,
      |  CAST((1000 * (a + b) * (a + b)) //
      |       greatest(a * a // (n1 - 1) + b * b // (n2 - 1), 1) AS BIGINT)
      |    AS dof_milli
      |FROM ab""".stripMargin

  /** a48 — SECOND-ORDER Benford audit (first TWO significant digits,
    * 10–99) over order totals: the finer forensic screen practitioners
    * run after [[a39Benford]]'s 9-bucket first-digit test passes —
    * rounding, invented numbers, and psychological price points ($x.99)
    * that survive the coarse test show up in the 90-bucket two-digit
    * distribution (Nigrini's standard escalation). Per digit pair d:
    * observed count/ppm, expected ppm ⌊10⁶·log₁₀(1+1/d)⌋, signed
    * deviation, and the χ²-style contribution dev²/exp (plain integer
    * div — numerator and denominator non-negative). The 90 expected
    * constants are folded at PLAN AUTHORING time from one shared Scala
    * computation into both engines' literals (the d10 seeded-coefficient
    * convention) — no runtime float/log anywhere.
    *
    * Scale shape: one map-side-combined groupBy over the scan (≤90
    * groups) plus a 1-row total broadcast — a31's extent-broadcast
    * shape; nothing about it changes at 100 TB.
    */
  private val benford2Ppm: IndexedSeq[Long] =
    (10 to 99).map(d => math.floor(1e6 * math.log10(1.0 + 1.0 / d)).toLong)

  def a48BenfordAudit(spark: SparkSession, dir: String): DataFrame = {
    val expArr = benford2Ppm.mkString("array(", ", ", ")")
    val byDigit = Tables.orders(spark, dir)
      .select(expr(
        "CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING), 1, 2) AS BIGINT)")
        .as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n_orders"))
    val total = byDigit.agg(sum(col("n_orders")).as("n_total"))
    byDigit.crossJoin(broadcast(total))
      .withColumn("obs_ppm", expr("(1000000 * n_orders) div n_total"))
      .withColumn("exp_ppm",
        expr(s"CAST(element_at($expArr, CAST(digit - 9 AS INT)) AS BIGINT)"))
      .withColumn("dev_ppm", col("obs_ppm") - col("exp_ppm"))
      .withColumn("chi2_contrib_micro",
        expr("(dev_ppm * dev_ppm) div exp_ppm"))
      .select(col("digit"), col("n_orders"), col("obs_ppm"), col("exp_ppm"),
        col("dev_ppm"), col("chi2_contrib_micro"))
      .orderBy(col("digit"))
  }

  private val a48Sql = {
    val expList = benford2Ppm.mkString("[", ", ", "]")
    s"""WITH d AS (
       |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 2) AS BIGINT) AS digit
       |  FROM orders),
       |g AS (SELECT digit, COUNT(*) AS n_orders FROM d GROUP BY digit),
       |t AS (SELECT SUM(n_orders) AS n_total FROM g),
       |j AS (
       |  SELECT digit, n_orders,
       |    (1000000 * n_orders) // n_total AS obs_ppm,
       |    CAST($expList[CAST(digit - 9 AS INTEGER)] AS BIGINT) AS exp_ppm
       |  FROM g, t)
       |SELECT digit, n_orders, CAST(obs_ppm AS BIGINT) AS obs_ppm,
       |  CAST(exp_ppm AS BIGINT) AS exp_ppm,
       |  CAST(obs_ppm - exp_ppm AS BIGINT) AS dev_ppm,
       |  CAST(((obs_ppm - exp_ppm) * (obs_ppm - exp_ppm)) // exp_ppm AS BIGINT)
       |    AS chi2_contrib_micro
       |FROM j ORDER BY digit""".stripMargin
  }

  /** a49 — Gini of CUSTOMER REVENUE concentration, computed with NO
    * window at all: [[a40Gini]] ranks inside each event_type with a
    * per-type window (fine when every partition key bounds its cohort);
    * this is the GLOBAL-cohort dual for when there is no partitioning
    * key — the a15/a17 row-number pairing applied to a statistic. The
    * rank term is eliminated via the cumulative-sum identity
    * Σ rank·x = (n+1)·T − Σ cum, so the plan is [[ScaleOps.prefixSum]]
    * (range partitions + per-partition offsets) and never sorts through
    * one partition. Deterministic (revenue, custkey) tiebreak; final
    * arithmetic in DECIMAL(38,0) (Σ cum is O(n·T)); the numerator
    * (n+1)T − 2C is non-negative by construction (ascending order), so
    * plain div is floor on both engines.
    */
  def a49GiniConcentration(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT))").as("cents"))
    ScaleOps.prefixSum(rev, Seq("cents", "o_custkey"), "cents", "cum")
      // Σcents and Σcum in DECIMAL(38,0): Σcum is O(n·T) and int64 drowns
      // long before the scan does
      .agg(count(lit(1)).as("n_customers"),
        sum(col("cents").cast(DecimalType(38, 0))).as("t"),
        sum(col("cum").cast(DecimalType(38, 0))).as("c"))
      .select(col("n_customers"),
        col("t").cast(LongType).as("total_cents"),
        expr("(1000000 * ((n_customers + 1) * t - 2 * c)) div (n_customers * t)")
          .cast(LongType).as("gini_ppm"))
  }

  private val a49Sql =
    """WITH r AS (
      |  SELECT o_custkey, SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      |  FROM orders GROUP BY o_custkey),
      |c AS (
      |  SELECT cents,
      |    SUM(cents) OVER (ORDER BY cents, o_custkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM r)
      |SELECT COUNT(*) AS n_customers,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents,
      |  CAST((1000000 * ((COUNT(*) + 1) * SUM(cents) - 2 * SUM(cum)))
      |       // (COUNT(*) * SUM(cents)) AS BIGINT) AS gini_ppm
      |FROM c""".stripMargin

  /** a50 — Cramér–von-Mises-style INTEGRAL drift statistic between the
    * l_quantity distributions of returned (R) vs non-returned (N)
    * lineitems: Σ over the merged support of (combined mass at v) ·
    * (ECDF gap at v)², normalized by total mass. The
    * whole-distribution complement of [[a38KsDrift]]'s max-gap KS —
    * CvM integrates EVERY gap, so many small distributed distortions
    * (which KS's single supremum under-weights) and one large local
    * one score differently; a pipeline runs both before promoting a
    * snapshot. Also complements [[a44DecileDrift]] (fixed decile bins)
    * and [[a47WelchTtest]] (mean-only).
    *
    * Exact at DEFINED quantization points (the a47/a51 convention):
    * each side's ECDF is floored to ppm FIRST — d(v) = ⌊10⁶·cumR/nR⌋ −
    * ⌊10⁶·cumN/nN⌋, |d| ≤ 10⁶ — then S = Σ (cR+cN)·d² is pure integer
    * arithmetic in DECIMAL(38,0) (good to ~10²⁵ rows, where a raw
    * int64 Σ drowns at ~10⁷; the cross-multiplied KS form caps at
    * ~3·10⁹ per side — this quantized form is the one that survives
    * 100 TB). `cvm_ppm2` = ⌊S / N⌋ is the mass-weighted mean squared
    * ECDF gap in ppm²; `peak_qty` (lowest value with the largest
    * single contribution) localizes the dominant distortion.
    *
    * Scale shape: one partial-aggregated groupBy collapses the fact
    * table to the ≤ 50-row quantity histogram; the cumulative window
    * runs over that BOUNDED aggregated frame (the g12 degree-histogram
    * convention — never a window over the fact table), and totals
    * arrive as a 1-row broadcast.
    */
  def a50CvmDrift(spark: SparkSession, dir: String): DataFrame = {
    val hist = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag").isin("R", "N"))
      .groupBy(expr("CAST(l_quantity AS BIGINT)").as("qty"))
      .agg(sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("ca"),
           sum(when(col("l_returnflag") === "N", 1L).otherwise(0L)).as("cb"))
    val w = Window.orderBy(col("qty"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = hist.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val scored = hist
      .select(col("qty"), col("ca"), col("cb"),
        sum(col("ca")).over(w).as("cuma"), sum(col("cb")).over(w).as("cumb"))
      .crossJoin(broadcast(tot))
      .withColumn("d",
        expr("(1000000 * CAST(cuma AS DECIMAL(38,0))) div na" +
          " - (1000000 * CAST(cumb AS DECIMAL(38,0))) div nb"))
      .withColumn("contrib",
        expr("CAST(ca + cb AS DECIMAL(38,0)) * (d * d)"))
    val peak = scored
      .crossJoin(broadcast(scored.agg(max(col("contrib")).as("mx"))))
      .filter(col("contrib") === col("mx"))
      .agg(min(col("qty")).as("peak_qty"))
    scored
      .agg(max(col("na")).as("n_r"), max(col("nb")).as("n_n"),
           sum(col("contrib")).as("s"))
      .crossJoin(broadcast(peak))
      .select(col("n_r"), col("n_n"),
        expr("s div (CAST(n_r AS DECIMAL(38,0)) + n_n)")
          .cast(LongType).as("cvm_ppm2"),
        col("peak_qty"))
  }

  private val a50Sql =
    """WITH h AS (
      |  SELECT CAST(l_quantity AS BIGINT) qty,
      |    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) ca,
      |    SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) cb
      |  FROM lineitem WHERE l_returnflag IN ('R', 'N') GROUP BY 1),
      |c AS (
      |  SELECT qty, ca, cb,
      |    SUM(ca) OVER (ORDER BY qty ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cuma,
      |    SUM(cb) OVER (ORDER BY qty ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cumb
      |  FROM h),
      |t AS (SELECT SUM(ca) na, SUM(cb) nb FROM h),
      |s AS (SELECT qty, na, nb,
      |        CAST(ca + cb AS HUGEINT)
      |          * (((1000000 * CAST(cuma AS HUGEINT)) // na
      |                - (1000000 * CAST(cumb AS HUGEINT)) // nb)
      |             * ((1000000 * CAST(cuma AS HUGEINT)) // na
      |                - (1000000 * CAST(cumb AS HUGEINT)) // nb)) contrib
      |      FROM c, t),
      |m AS (SELECT MAX(contrib) mx FROM s),
      |p AS (SELECT MIN(qty) peak_qty FROM s, m WHERE contrib = mx)
      |SELECT CAST(MAX(na) AS BIGINT) AS n_r, CAST(MAX(nb) AS BIGINT) AS n_n,
      |  CAST(SUM(contrib) // (CAST(MAX(na) AS HUGEINT) + MAX(nb)) AS BIGINT) AS cvm_ppm2,
      |  (SELECT peak_qty FROM p) AS peak_qty
      |FROM s""".stripMargin

  /** a51 — seasonality strength per event type: how much of the value
    * signal's variance the hour-of-week profile explains — the ANOVA R²
    * (SSB/SST over the 168 hour-of-week groups) that decides whether
    * [[w16SeasonalAnomaly]]'s seasonal baseline is even the right model
    * (strength near 0 ⇒ the hour-of-week gate is noise; near 1 ⇒ the
    * residual threshold is trustworthy). Exact integers at DEFINED
    * quantization points (the a47 convention): group and global means
    * floor to whole cents first, then SSB = Σ n_g·(m_g−m)² and
    * SST = Q − 2mS + n·m² are pure int64/DECIMAL arithmetic —
    * strength_ppm = ⌊10⁶·SSB / SST⌋ is engine-exact.
    *
    * Scale shape: one partial-aggregated (type, how) pass — 168 groups
    * per type — then a per-type rollup; hour-of-week from epoch integer
    * math (immune to dayofweek numbering differences).
    */
  def a51SeasonalityStrength(spark: SparkSession, dir: String): DataFrame = {
    val D = DecimalType(38, 0)
    val base = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        expr("(unix_micros(ts) div 3600000000) % 168").as("how"),
        expr("CAST(round(value * 100) AS BIGINT)").as("x"))
    val groups = base.groupBy(col("event_type"), col("how"))
      .agg(count(lit(1)).as("ng"), sum(col("x")).as("sg"),
        sum((col("x") * col("x")).cast(D)).as("qg"))
      // FLOOR division (event values can be negative; Spark `div`
      // truncates, DuckDB `//` floors): (n − pmod(n,d)) is divisible by
      // d, so the truncating div of it IS the floor — exact on any sign
      .withColumn("mg", expr("(sg - pmod(sg, ng)) div ng"))
    groups.groupBy(col("event_type"))
      .agg(sum(col("ng")).as("n"), sum(col("sg")).as("s"),
        sum(col("qg")).as("q"),
        count(lit(1)).as("n_cells"),
        sum(col("ng").cast(D) * col("mg") * col("mg")).as("nm2"),
        sum(col("ng").cast(D) * col("mg")).as("nm1"))
      .withColumn("m", expr("(s - pmod(s, n)) div n"))
      // SSB* = Σ ng·mg² − 2m·Σ ng·mg + n·m²; SST* = Q − 2mS + n·m²
      // (both over the FLOORED means — the defined quantization points)
      .withColumn("ssb", expr(
        "nm2 - 2 * CAST(m AS DECIMAL(38,0)) * nm1 + CAST(n AS DECIMAL(38,0)) * m * m"))
      .withColumn("sst", expr(
        "q - 2 * CAST(m AS DECIMAL(38,0)) * s + CAST(n AS DECIMAL(38,0)) * m * m"))
      .select(col("event_type"), col("n"), col("n_cells"),
        expr("(1000000 * ssb) div greatest(sst, 1)").cast(LongType)
          .as("strength_ppm"))
      .orderBy(col("event_type"))
  }

  private val a51Sql =
    """WITH e AS (
      |  SELECT event_type, (epoch_us(ts) // 3600000000) % 168 how,
      |    CAST(round("value" * 100) AS BIGINT) x
      |  FROM events WHERE "value" IS NOT NULL),
      |g AS (
      |  SELECT event_type, how, CAST(COUNT(*) AS HUGEINT) ng,
      |    CAST(SUM(x) AS HUGEINT) sg, CAST(SUM(x * x) AS HUGEINT) qg
      |  FROM e GROUP BY 1, 2),
      |gm AS (SELECT *, sg // ng mg FROM g),
      |t AS (
      |  SELECT event_type, SUM(ng) n, SUM(sg) s, SUM(qg) q,
      |    CAST(COUNT(*) AS BIGINT) n_cells,
      |    SUM(ng * mg * mg) nm2, SUM(ng * mg) nm1
      |  FROM gm GROUP BY 1),
      |f AS (
      |  SELECT event_type, n, n_cells, s // n m, nm2, nm1, q, s
      |  FROM t)
      |SELECT event_type, CAST(n AS BIGINT) AS n, n_cells,
      |  CAST((1000000 * (nm2 - 2 * m * nm1 + n * m * m))
      |       // greatest(q - 2 * m * s + n * m * m, 1) AS BIGINT) AS strength_ppm
      |FROM f ORDER BY event_type""".stripMargin

  /** a52 — Kruskal–Wallis rank components across ALL event types: the
    * k-group omnibus completion of the rank-test family. [[a41MannWhitney]]
    * owns the TWO-sample U + rank-biserial effect; [[a51SeasonalityStrength]]
    * owns the PARAMETRIC (means-based) ANOVA R²; a52 is the k-group
    * RANK-based location screen — "do the k types draw values from one
    * distribution at all?" — the test run before any pairwise a41 drill-down.
    *
    * Exactness: ranks held at 2× so tied mid-ranks stay integers (a tie
    * block at ranks [b+1, b+k] has doubled mid-rank 2(b+1)+k−1 — the a41
    * convention). Per type g the output is n_g, t2r_g = Σ doubled
    * mid-ranks, and dev2r_g = t2r_g − n_g·(N+1) (a doubled rank's
    * expectation is N+1, so dev2r is the exact integer deviation from
    * the null and Σ_g dev2r = 0 — asserted in the suite). H itself is
    * 3·Σ dev2r_g²/n_g / (N(N+1)): dev2r² exceeds int64 in the worst
    * case, so the division is left to the consumer — the exact-integer-
    * COMPONENTS contract the w25 DECIMAL-div lesson mandates. (int64
    * bounds t2r at n ≲ 2·10⁹ rows; past that, lift to DECIMAL(38,0) —
    * the w16 rule.)
    *
    * Scale shape: ranking runs over the DISTINCT-VALUE count table
    * (one partial-aggregated groupBy), below-counts via
    * [[ScaleOps.prefixSum]] (range repartition + offsets — no
    * single-partition window), per-(type, value) counts join that
    * value-sized frame, and the finale is a |types|-row aggregate.
    */
  def a52KruskalWallis(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val vc = e.groupBy(col("cents")).agg(count(lit(1)).as("k"))
    val pre = ScaleOps.prefixSum(vc, Seq("cents"), "k", "cum")
      .withColumn("below", col("cum") - col("k"))
      .select(col("cents"), col("k"), col("below"))
    val byType = e.groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("kg"))
    val tot = e.agg(count(lit(1)).as("n_total"))
    byType.join(pre, Seq("cents"))
      .groupBy(col("event_type"))
      .agg(sum(col("kg")).as("n"),
           sum(col("kg") * (lit(2) * (col("below") + 1) + col("k") - 1)).as("t2r"))
      .crossJoin(broadcast(tot))
      .select(col("event_type"), col("n"), col("t2r"),
        (col("t2r") - col("n") * (col("n_total") + 1)).as("dev2r"))
      .orderBy(col("event_type"))
  }

  private val a52Sql =
    """WITH e AS (
      |  SELECT event_type, CAST(round("value" * 100) AS BIGINT) cents
      |  FROM events WHERE "value" IS NOT NULL),
      |vc AS (SELECT cents, CAST(COUNT(*) AS BIGINT) k FROM e GROUP BY 1),
      |pre AS (
      |  SELECT cents, k,
      |    CAST(COALESCE(SUM(k) OVER (ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) below
      |  FROM vc),
      |bt AS (
      |  SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) kg
      |  FROM e GROUP BY 1, 2),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) n_total FROM e),
      |g AS (
      |  SELECT event_type, SUM(kg) n,
      |    SUM(kg * (2 * (below + 1) + k - 1)) t2r
      |  FROM bt JOIN pre USING (cents) GROUP BY 1)
      |SELECT event_type, CAST(n AS BIGINT) AS n, CAST(t2r AS BIGINT) AS t2r,
      |  CAST(t2r - n * (n_total + 1) AS BIGINT) AS dev2r
      |FROM g, tot ORDER BY event_type""".stripMargin

  /** a53 — declarative data-contract audit over the fact tables: the
    * Deequ-shaped validation pass every production lake runs at ingest
    * (uniqueness, referential integrity, completeness, ranges, value
    * domains, cross-table temporal ordering), emitted as one row per
    * constraint with exact checked/violation counts and a pass verdict.
    * The synthetic lineitem genuinely carries duplicate
    * (l_orderkey, l_linenumber) keys, so the pk check FIRES on real
    * data — the audit is a detector, not a tautology.
    *
    * Scale shape: the three per-table check families fold into ONE
    * conditional-aggregation pass over each table (no per-constraint
    * rescans); pk uniqueness is one partial-aggregated groupBy on the
    * composite key; referential integrity + ship-after-order share a
    * single left join on the fk (at cluster scale, co-partition both
    * facts on the order key and the join is exchange-free). Output is
    * eight rows regardless of corpus size.
    */
  private[graft] def contractChecks(li: DataFrame, ord: DataFrame): DataFrame = {
    val liChecks = li.agg(
      count(lit(1)).as("n"),
      sum(when(col("l_quantity").isNull ||
               col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
        .otherwise(0L)).as("qty"),
      sum(when(col("l_discount").isNull ||
               col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
        .otherwise(0L)).as("disc"),
      sum(when(col("l_returnflag").isNull ||
               !col("l_returnflag").isin("A", "N", "R"), 1L)
        .otherwise(0L)).as("flag"))
      .select(explode(array(
        struct(lit("li_qty_range").as("check_name"),
               col("n").as("n_checked"), col("qty").as("n_violations")),
        struct(lit("li_discount_range").as("check_name"),
               col("n").as("n_checked"), col("disc").as("n_violations")),
        struct(lit("li_returnflag_domain").as("check_name"),
               col("n").as("n_checked"), col("flag").as("n_violations")))).as("c"))
      .select(col("c.*"))
    val pk = li.groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("n"), sum(col("c") - 1).as("v"))
      .select(lit("li_pk_unique").as("check_name"),
              col("n").as("n_checked"), col("v").as("n_violations"))
    val j = li.select(col("l_orderkey"), col("l_shipdate"))
      .join(ord.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"), "left")
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("fk"),
        sum(when(col("o_orderkey").isNotNull, 1L).otherwise(0L)).as("nm"),
        sum(when(col("o_orderkey").isNotNull &&
                 col("l_shipdate") < col("o_orderdate"), 1L)
          .otherwise(0L)).as("tmp"))
      .select(explode(array(
        struct(lit("li_fk_orders").as("check_name"),
               col("n").as("n_checked"), col("fk").as("n_violations")),
        struct(lit("li_ship_after_order").as("check_name"),
               col("nm").as("n_checked"), col("tmp").as("n_violations")))).as("c"))
      .select(col("c.*"))
    val oChecks = ord.agg(
      count(lit(1)).as("n"),
      sum(when(col("o_orderstatus").isNull ||
               !col("o_orderstatus").isin("O", "F", "P"), 1L)
        .otherwise(0L)).as("st"),
      sum(when(col("o_totalprice").isNull || col("o_totalprice") <= 0, 1L)
        .otherwise(0L)).as("pr"))
      .select(explode(array(
        struct(lit("ord_status_domain").as("check_name"),
               col("n").as("n_checked"), col("st").as("n_violations")),
        struct(lit("ord_price_positive").as("check_name"),
               col("n").as("n_checked"), col("pr").as("n_violations")))).as("c"))
      .select(col("c.*"))
    liChecks.unionAll(pk).unionAll(j).unionAll(oChecks)
      .withColumn("pass", col("n_violations") === 0L)
      .orderBy(col("check_name"))
  }

  def a53ContractAudit(spark: SparkSession, dir: String): DataFrame =
    contractChecks(Tables.lineitem(spark, dir), Tables.orders(spark, dir))

  private val a53Sql =
    """WITH li AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) n,
      |    CAST(SUM(CASE WHEN l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50
      |             THEN 1 ELSE 0 END) AS BIGINT) qty,
      |    CAST(SUM(CASE WHEN l_discount IS NULL OR l_discount < 0 OR l_discount > 0.1
      |             THEN 1 ELSE 0 END) AS BIGINT) disc,
      |    CAST(SUM(CASE WHEN l_returnflag IS NULL OR l_returnflag NOT IN ('A','N','R')
      |             THEN 1 ELSE 0 END) AS BIGINT) flag
      |  FROM lineitem),
      |pk AS (
      |  SELECT CAST(SUM(c) AS BIGINT) n, CAST(SUM(c - 1) AS BIGINT) v
      |  FROM (SELECT COUNT(*) c FROM lineitem GROUP BY l_orderkey, l_linenumber)),
      |j AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) n,
      |    CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) fk,
      |    CAST(SUM(CASE WHEN o.o_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) nm,
      |    CAST(SUM(CASE WHEN o.o_orderkey IS NOT NULL AND l.l_shipdate < o.o_orderdate
      |             THEN 1 ELSE 0 END) AS BIGINT) tmp
      |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |od AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) n,
      |    CAST(SUM(CASE WHEN o_orderstatus IS NULL OR o_orderstatus NOT IN ('O','F','P')
      |             THEN 1 ELSE 0 END) AS BIGINT) st,
      |    CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
      |             THEN 1 ELSE 0 END) AS BIGINT) pr
      |  FROM orders),
      |u AS (
      |  SELECT 'li_qty_range' check_name, n n_checked, qty n_violations FROM li
      |  UNION ALL SELECT 'li_discount_range', n, disc FROM li
      |  UNION ALL SELECT 'li_returnflag_domain', n, flag FROM li
      |  UNION ALL SELECT 'li_pk_unique', n, v FROM pk
      |  UNION ALL SELECT 'li_fk_orders', n, fk FROM j
      |  UNION ALL SELECT 'li_ship_after_order', nm, tmp FROM j
      |  UNION ALL SELECT 'ord_status_domain', n, st FROM od
      |  UNION ALL SELECT 'ord_price_positive', n, pr FROM od)
      |SELECT check_name, n_checked, n_violations,
      |  n_violations = 0 AS pass
      |FROM u ORDER BY check_name""".stripMargin

  /** a54 — exact 5%-trimmed mean of event value per type: the robust
    * location estimate between the plain mean (skew-fragile) and the
    * median (throws away 98% of the data). Exactly floor(n/20) rows are
    * trimmed from EACH end by rank; a distinct value straddling the cut
    * contributes its partial count (t − below rows), so the trimmed sum
    * is exact integer cents with no tie ambiguity — trimming is defined
    * on row counts, never on which equal-valued row "came first".
    *
    * Mechanism: the a27/a49/a52 rank-free family — per-(type, value)
    * counts, cumulative counts via [[ScaleOps.prefixSum]] over the
    * GLOBAL (type, value) order, and per-type rebase by subtracting the
    * type's starting offset (a window over the |types|-row total frame,
    * the g12 bounded-frame convention). No per-row window, no global
    * sort, no single-partition exchange; the value table is
    * cardinality-bounded, not row-bounded.
    *
    * The mean itself is one int64/int64 IEEE division (identical in
    * both engines) rounded to 6dp; the exact components (tsum_cents,
    * n_kept) ride alongside per the w25/w30 components convention.
    */
  def a54TrimmedMean(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val vc = e.groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("k"))
    val pre = ScaleOps.prefixSum(vc, Seq("event_type", "cents"), "k", "cum")
    val wTypes = Window.orderBy(col("event_type"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = vc.groupBy(col("event_type")).agg(sum(col("k")).as("n"))
      .withColumn("offset", coalesce(sum(col("n")).over(wTypes), lit(0L)))
    pre.join(broadcast(offsets), Seq("event_type"))
      .withColumn("below", col("cum") - col("k") - col("offset"))
      .withColumn("t", expr("n div 20"))
      .withColumn("above", col("n") - col("below") - col("k"))
      .withColumn("lowc", greatest(least(col("k"), col("t") - col("below")), lit(0L)))
      .withColumn("highc", greatest(least(col("k"), col("t") - col("above")), lit(0L)))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"), max(col("t")).as("trim_each"),
        sum((col("k") - col("lowc") - col("highc")) * col("cents")).as("tsum_cents"))
      .withColumn("n_kept", col("n") - lit(2) * col("trim_each"))
      .withColumn("trimmed_mean_cents",
        round(col("tsum_cents").cast("double") / col("n_kept"), 6))
      .select(col("event_type"), col("n"), col("trim_each"), col("n_kept"),
              col("tsum_cents"), col("trimmed_mean_cents"))
      .orderBy(col("event_type"))
  }

  private val a54Sql =
    """WITH e AS (
      |  SELECT event_type, CAST(round("value" * 100) AS BIGINT) cents
      |  FROM events WHERE "value" IS NOT NULL),
      |vc AS (SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) k
      |       FROM e GROUP BY 1, 2),
      |pre AS (
      |  SELECT event_type, cents, k,
      |    CAST(COALESCE(SUM(k) OVER (PARTITION BY event_type ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) below,
      |    CAST(SUM(k) OVER (PARTITION BY event_type) AS BIGINT) n
      |  FROM vc),
      |c AS (
      |  SELECT event_type, cents, k, below, n, n // 20 t,
      |    n - below - k above
      |  FROM pre),
      |g AS (
      |  SELECT event_type, CAST(MAX(n) AS BIGINT) n,
      |    CAST(MAX(t) AS BIGINT) trim_each,
      |    CAST(SUM((k - GREATEST(LEAST(k, t - below), 0)
      |              - GREATEST(LEAST(k, t - above), 0)) * cents) AS BIGINT) tsum_cents
      |  FROM c GROUP BY 1)
      |SELECT event_type, n, trim_each, n - 2 * trim_each AS n_kept, tsum_cents,
      |  ROUND(CAST(tsum_cents AS DOUBLE) / (n - 2 * trim_each), 6) AS trimmed_mean_cents
      |FROM g ORDER BY event_type""".stripMargin

  /** a55 — l-diversity audit: the companion check to [[a34KAnonymity]].
    * k-anonymity counts CLASS SIZE (how many rows share a
    * quasi-identifier tuple); a class can be large yet still leak if
    * every member shares the same SENSITIVE value — l-diversity counts
    * the distinct sensitive values per class (here the account-balance
    * kilo-band over the (mktsegment, nationkey) quasi-identifiers) and
    * flags classes below l = 3. Suppression decisions need BOTH audits;
    * publishing a 500-row class whose members all sit in one balance
    * band re-identifies the attribute, not the person.
    *
    * The band is computed sign-safely: cents are first snapped DOWN to
    * the band multiple via pmod (Spark's `div` truncates while DuckDB's
    * `//` floors — they agree only when the remainder is zero, so make
    * it zero; the g09 negative-floor-div rule).
    *
    * Scale shape: one exact-distinct aggregate — partial-aggregated
    * (class, band) distinct then a class-level count, two shuffles on
    * bounded keys; output is |segments|×|nations| rows regardless of
    * corpus size.
    */
  def a55LDiversity(spark: SparkSession, dir: String, l: Int = 3): DataFrame = {
    val banded = Tables.customer(spark, dir)
      .select(col("c_mktsegment"), col("c_nationkey"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
      .withColumn("band",
        expr("(cents - pmod(cents, 100000)) div 100000"))
    banded.groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1)).as("n_rows"),
           countDistinct(col("band")).as("l_distinct"))
      .withColumn("risky", col("l_distinct") < l)
      .orderBy(col("c_mktsegment"), col("c_nationkey"))
  }

  private val a55Sql =
    """WITH b AS (
      |  SELECT c_mktsegment, c_nationkey,
      |    CAST(round(c_acctbal * 100) AS BIGINT) cents
      |  FROM customer),
      |bb AS (
      |  SELECT c_mktsegment, c_nationkey,
      |    (cents - ((cents % 100000 + 100000) % 100000)) // 100000 band
      |  FROM b)
      |SELECT c_mktsegment, c_nationkey,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(COUNT(DISTINCT band) AS BIGINT) AS l_distinct,
      |  COUNT(DISTINCT band) < 3 AS risky
      |FROM bb GROUP BY 1, 2
      |ORDER BY c_mktsegment, c_nationkey""".stripMargin

  /** a56 — effective sample size of the value-weighted event stream per
    * type: ESS = (Σw)² / Σw², the importance-sampling health metric the
    * s09/s12 weighted-sampling family needs before anyone trusts a
    * weighted estimate — ESS ≈ n means the weights are benign, ESS ≪ n
    * means a few heavy rows dominate and the weighted mean's variance
    * is that of a tiny sample. Σw stays int64; Σw² is held in
    * DECIMAL(38,0) (the a40/a50 exact-aggregation convention — cents²
    * crosses int64 around 10⁹ rows/type). The ESS itself is one
    * deterministic IEEE expression over exact inputs (sw < 2⁵³ is
    * double-exact; both engines' DECIMAL→DOUBLE casts are correctly
    * rounded), rounded to 3dp; the exact components ride alongside.
    *
    * Scale shape: one partial-aggregated groupBy, |types| output rows.
    */
  def a56EffectiveSampleSize(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("w"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("w")).as("sum_w"),
        sum(col("w").cast(DecimalType(38, 0)) * col("w")).as("sum_w2"))
      .withColumn("ess",
        round(col("sum_w").cast("double") * col("sum_w").cast("double")
          / col("sum_w2").cast("double"), 3))
      .withColumn("ess_share_ppm",
        expr("CAST(round(1000000 * ess / n) AS BIGINT)"))
      .select(col("event_type"), col("n"), col("sum_w"),
              // emitted as STRING: >int64 headroom IS the contract here
              // (cents² crosses int64 near 10⁹ rows/type), and a decimal
              // output column round-trips differently through the two
              // engines' client layers (Decimal vs float64) — the r8
              // hash-mismatch class. String carries the exact integer.
              col("sum_w2").cast("string").as("sum_w2"),
              col("ess"), col("ess_share_ppm"))
      .orderBy(col("event_type"))

  private val a56Sql =
    """WITH e AS (
      |  SELECT event_type, CAST(round("value" * 100) AS BIGINT) w
      |  FROM events WHERE "value" IS NOT NULL),
      |g AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) n,
      |    CAST(SUM(w) AS BIGINT) sum_w,
      |    CAST(SUM(CAST(w AS DECIMAL(38,0)) * w) AS DECIMAL(38,0)) sum_w2
      |  FROM e GROUP BY 1)
      |SELECT event_type, n, sum_w, CAST(sum_w2 AS VARCHAR) AS sum_w2,
      |  ROUND(CAST(sum_w AS DOUBLE) * CAST(sum_w AS DOUBLE)
      |    / CAST(sum_w2 AS DOUBLE), 3) AS ess,
      |  CAST(round(1000000 * ROUND(CAST(sum_w AS DOUBLE) * CAST(sum_w AS DOUBLE)
      |    / CAST(sum_w2 AS DOUBLE), 3) / n) AS BIGINT) AS ess_share_ppm
      |FROM g ORDER BY event_type""".stripMargin

  /** a57 — t-closeness audit: the third leg of the release-privacy
    * trio. [[a34KAnonymity]] checks class SIZE, [[a55LDiversity]]
    * checks the class has several sensitive values; t-closeness checks
    * the class's sensitive DISTRIBUTION is close to the table-wide one
    * — a class can be large and diverse yet still leak if, say, 90% of
    * its members sit in the top balance band while the population puts
    * 10% there. Distance is the ordered-attribute Earth-Mover's
    * Distance over a55's kilo-bands: EMD = (1/(m−1))·Σᵢ|Σ_{j≤i}(pⱼ−qⱼ)|
    * (Li et al., ICDE'07). The whole computation is exact-rational:
    * cross-multiplying the class (n_g) and table (n) denominators turns
    * each prefix term into |cum_c·n − cum_C·n_g| — DECIMAL(38,0)
    * integers, bit-identical across engines — and the emitted breach
    * bit compares EMD > t = 0.2 as 5·num > den with den = n_g·n·(m−1).
    * (The i = m prefix term is always n_g·n − n·n_g = 0, so summing
    * over ALL bands needs no m−1 cutoff.)
    *
    * Scale shape: one fact-table aggregate to the (class × band) cell
    * table, everything after runs on the bounded grid (|QI domain| × m
    * rows) — the per-class prefix windows never see the fact table
    * (the a50/g12 bounded-frame rule), and the global totals ride along
    * as a 1-row broadcast.
    */
  def a57TCloseness(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cum = Window.partitionBy(col("c_mktsegment"), col("c_nationkey"))
      .orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cell = Tables.customer(spark, dir)
      .select(col("c_mktsegment"), col("c_nationkey"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
      .withColumn("band", expr("(cents - pmod(cents, 100000)) div 100000"))
      .groupBy(col("c_mktsegment"), col("c_nationkey"), col("band"))
      .agg(count(lit(1)).as("c"))
    val cls = cell.groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(sum(col("c")).as("n_rows"))
    // global per-band prefix counts: a window over the m-row band
    // histogram, never the fact table
    val bands = cell.groupBy(col("band")).agg(sum(col("c")).as("cg"))
      .withColumn("cum_g", sum(col("cg")).over(
        Window.orderBy(col("band"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("band"), col("cum_g"))
    val tot = cell.agg(sum(col("c")).as("n_total"),
      countDistinct(col("band")).as("m"))
    cls.crossJoin(bands)
      .join(cell, Seq("c_mktsegment", "c_nationkey", "band"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("cum_c", sum(col("c")).over(cum))
      .crossJoin(broadcast(tot))
      .withColumn("term", abs(
        col("cum_c").cast(DecimalType(38, 0)) * col("n_total") -
          col("cum_g").cast(DecimalType(38, 0)) * col("n_rows")))
      .groupBy(col("c_mktsegment"), col("c_nationkey"),
        col("n_rows"), col("n_total"), col("m"))
      .agg(sum(col("term")).as("emd_num"))
      .withColumn("emd_den",
        col("n_rows").cast(DecimalType(38, 0)) * col("n_total") * (col("m") - 1))
      .select(col("c_mktsegment"), col("c_nationkey"), col("n_rows"),
        // STRING output: the cross-multiplied prefix terms exceed int64
        // by construction (cum·n products), and decimal output columns
        // hash-diverge across the two engines' client layers (the r8
        // lesson). The breach bit is still compared in exact decimal.
        col("emd_num").cast("string").as("emd_num"),
        col("emd_den").cast("string").as("emd_den"),
        (col("emd_num") * 5 > col("emd_den")).as("breach"))
      .orderBy(col("c_mktsegment"), col("c_nationkey"))
  }

  private val a57Sql =
    """WITH b AS (SELECT c_mktsegment seg, c_nationkey nat,
      |    CAST(round(c_acctbal*100) AS BIGINT) cents FROM customer),
      |bb AS (SELECT seg, nat,
      |  (cents - ((cents % 100000 + 100000) % 100000)) // 100000 band FROM b),
      |cell AS (SELECT seg, nat, band, CAST(COUNT(*) AS BIGINT) c
      |  FROM bb GROUP BY 1,2,3),
      |cls AS (SELECT seg, nat, CAST(SUM(c) AS BIGINT) n_rows FROM cell GROUP BY 1,2),
      |bd AS (SELECT band, SUM(c) cg FROM cell GROUP BY 1),
      |bdc AS (SELECT band, CAST(SUM(cg) OVER (ORDER BY band
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) cum_g FROM bd),
      |tot AS (SELECT CAST(SUM(c) AS BIGINT) n_total,
      |  CAST(COUNT(DISTINCT band) AS BIGINT) m FROM cell),
      |grid AS (SELECT cls.seg, cls.nat, cls.n_rows, bdc.band, bdc.cum_g,
      |    COALESCE(cell.c, 0) c
      |  FROM cls CROSS JOIN bdc LEFT JOIN cell
      |    ON cell.seg = cls.seg AND cell.nat = cls.nat AND cell.band = bdc.band),
      |cum AS (SELECT seg, nat, n_rows, band, cum_g,
      |  CAST(SUM(c) OVER (PARTITION BY seg, nat ORDER BY band
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) cum_c FROM grid),
      |t AS (SELECT seg, nat, n_rows,
      |  SUM(CAST(abs(CAST(cum_c AS DECIMAL(38,0)) * (SELECT n_total FROM tot)
      |    - CAST(cum_g AS DECIMAL(38,0)) * n_rows) AS DECIMAL(38,0))) emd_num
      |  FROM cum GROUP BY 1,2,3)
      |SELECT seg AS c_mktsegment, nat AS c_nationkey, n_rows,
      |  CAST(CAST(emd_num AS DECIMAL(38,0)) AS VARCHAR) AS emd_num,
      |  CAST(CAST(CAST(n_rows AS DECIMAL(38,0)) * (SELECT n_total FROM tot)
      |    * ((SELECT m FROM tot) - 1) AS DECIMAL(38,0)) AS VARCHAR) AS emd_den,
      |  emd_num * 5 > CAST(n_rows AS DECIMAL(38,0)) * (SELECT n_total FROM tot)
      |    * ((SELECT m FROM tot) - 1) AS breach
      |FROM t ORDER BY c_mktsegment, c_nationkey""".stripMargin

  /** a58 — ANALYZE-style one-pass table statistics: the per-column
    * (count, nulls, NDV, min/max) catalog rows a cost-based optimizer
    * prices joins and filters from — the stats that decide broadcast
    * vs shuffle and drive [[a34KAnonymity]]-style domain bounds. Two
    * passes, both linear, neither per-column jobs:
    *
    *  - envelope pass: ONE wide partial+final aggregate computes every
    *    column's non-null count and min/max in a single scan (the
    *    1-row result is reshaped to catalog rows by a `stack` over the
    *    already-aggregated row — bounded, no generator on the fact
    *    table);
    *  - NDV pass: the fact table unpivots to (column, value-image)
    *    pairs and one two-level distinct aggregate counts per-column
    *    NDVs — the shuffle carries only the DISTINCT pairs after
    *    map-side partial dedup, not the ×6 row blowup. Exact NDV here;
    *    the sketched alternative is a23/a37's territory.
    *
    * Numeric envelopes cross engines as DOUBLE (min/max are order
    * statistics — an existing value is picked, no arithmetic, so the
    * bits match); string envelopes as UTF-8 binary min/max. NDV counts
    * value IMAGES (casts to string), which is injective for every
    * column here, so the count equals the native-value NDV.
    */
  def a58TableStats(spark: SparkSession, dir: String): DataFrame = {
    val numeric = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    val stringy = Seq("l_returnflag", "l_linestatus")
    val li = Tables.lineitem(spark, dir)
    val aggs = count(lit(1)).as("n") +:
      (numeric ++ stringy).flatMap(c => Seq(
        count(col(c)).as(s"nn_$c"), min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c")))
    val stackRows =
      numeric.map(c => s"'$c', nn_$c, CAST(mn_$c AS DOUBLE), CAST(mx_$c AS DOUBLE), " +
          s"CAST(NULL AS STRING), CAST(NULL AS STRING)") ++
        stringy.map(c => s"'$c', nn_$c, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), " +
          s"mn_$c, mx_$c")
    val envelope = li.agg(aggs.head, aggs.tail: _*)
      .selectExpr("n", s"stack(${stackRows.size}, ${stackRows.mkString(", ")}) " +
        "AS (col_name, n_nonnull, min_num, max_num, min_str, max_str)")
    val pairs = li.selectExpr("stack(6, " +
      numeric.map(c => s"'$c', CAST($c AS STRING)").mkString(", ") + ", " +
      stringy.map(c => s"'$c', $c").mkString(", ") + ") AS (col_name, sval)")
    val ndv = pairs.groupBy(col("col_name"))
      .agg(countDistinct(col("sval")).as("ndv"))
    envelope.join(broadcast(ndv), Seq("col_name"))
      .select(col("col_name"), col("n"),
        (col("n") - col("n_nonnull")).as("n_null"), col("ndv"),
        col("min_num"), col("max_num"), col("min_str"), col("max_str"))
      .orderBy(col("col_name"))
  }

  private val a58Sql = {
    def num(c: String) =
      s"""SELECT '$c' col_name, COUNT(*) n, COUNT(*) - COUNT($c) n_null,
         |  COUNT(DISTINCT $c) ndv, CAST(MIN($c) AS DOUBLE) min_num,
         |  CAST(MAX($c) AS DOUBLE) max_num, CAST(NULL AS VARCHAR) min_str,
         |  CAST(NULL AS VARCHAR) max_str FROM lineitem""".stripMargin
    def str(c: String) =
      s"""SELECT '$c', COUNT(*), COUNT(*) - COUNT($c), COUNT(DISTINCT $c),
         |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), MIN($c), MAX($c)
         |  FROM lineitem""".stripMargin
    val branches =
      Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice").map(num) ++
        Seq("l_returnflag", "l_linestatus").map(str)
    s"""WITH s AS (
       |${branches.mkString("\nUNION ALL\n")})
       |SELECT col_name, CAST(n AS BIGINT) n, CAST(n_null AS BIGINT) n_null,
       |  CAST(ndv AS BIGINT) ndv, min_num, max_num, min_str, max_str
       |FROM s ORDER BY col_name""".stripMargin
  }

  /** a59 — AMS (Alon–Matias–Szegedy) sign-sketch second-moment estimate
    * audited against the exact F2. F2 = Σ_u c_u² (c_u = events per user)
    * is the self-join size / skew statistic a planner prices shuffle
    * joins with; the AMS sketch estimates it from 16 signed counters
    * X_j = Σ_u s_j(u)·c_u with 16 independent ±1 hash families —
    * E[X²] = F2 — so the whole sketch is 16 int64s per group no matter
    * how many users exist. This completes the sketch quartet: HLL
    * cardinality (a35), CMS point frequency (a36), KMV set algebra
    * (a37), AMS second moment (a59).
    *
    * Cross-engine exactness: the sign hash is the shared md5-int64
    * image (parity bit of the 60-bit image of "user:j"), so both
    * engines build bit-identical sketches; every aggregate is integer;
    * squares go through DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) so the
    * arithmetic is exact at any scale (X² overflows int64 once
    * Σc_u > ~3·10⁹). The estimator explodes ×16 over the ALREADY
    * AGGREGATED (type, user) frame — at 100 TB the raw event scan feeds
    * one partial-agg shuffle and the blowup touches only distinct keys.
    */
  def a59AmsF2(spark: SparkSession, dir: String): DataFrame = {
    val cu = Tables.events(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
    val exact = cu.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"),
        sum(expr("CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))"))
          .cast(DecimalType(38, 0)).as("f2x"))
    val est = cu
      .withColumn("j", explode(expr("sequence(0, 15)")))
      .withColumn("sgn", expr("1 - 2 * CAST(pmod(CAST(conv(substring(md5(" +
        "concat(CAST(user_id AS STRING), ':', CAST(j AS STRING))" +
        "), 1, 15), 16, 10) AS BIGINT), 2) AS INT)"))
      .groupBy(col("event_type"), col("j"))
      .agg(sum(col("sgn") * col("c")).as("x"))
      .groupBy(col("event_type"))
      .agg(sum(expr("CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))"))
        .cast(DecimalType(38, 0)).as("xx"))
      .withColumn("f2e", expr("xx div 16"))
    exact.join(est, Seq("event_type"))
      .select(col("event_type"), col("n_users"),
        col("f2x").cast("long").as("f2_exact"),
        col("f2e").cast("long").as("f2_est"),
        expr("CAST(abs(f2e - f2x) * 1000000 div f2x AS BIGINT)").as("err_ppm"))
      .orderBy(col("event_type"))
  }

  private val a59Sql =
    """WITH cu AS (
      |  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) c
      |  FROM events GROUP BY 1, 2),
      |exact AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) n_users,
      |    SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) f2x
      |  FROM cu GROUP BY 1),
      |sg AS (
      |  SELECT event_type, j, c,
      |    1 - 2 * CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, 16),
      |        i -> CAST(strpos('0123456789abcdef', substr(md5(
      |               CAST(user_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)
      |             ), CAST(i AS INTEGER), 1)) - 1 AS BIGINT))),
      |      (a, b) -> a * 16 + b) % 2 AS BIGINT) sgn
      |  FROM cu CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j)),
      |xs AS (
      |  SELECT event_type, j, CAST(SUM(sgn * c) AS BIGINT) x
      |  FROM sg GROUP BY 1, 2),
      |est AS (
      |  SELECT event_type,
      |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) // 16 f2e
      |  FROM xs GROUP BY 1)
      |SELECT exact.event_type, n_users, CAST(f2x AS BIGINT) f2_exact,
      |  CAST(f2e AS BIGINT) f2_est,
      |  CAST(abs(f2e - f2x) * 1000000 // f2x AS BIGINT) err_ppm
      |FROM exact JOIN est ON exact.event_type = est.event_type
      |ORDER BY exact.event_type""".stripMargin

  /** a60 — A/B two-proportion z-test readout: the experiment gate every
    * product analytics stack runs, and a statistic none of the a-family
    * tests owns (a41/a52 rank, a47 means, a38/a50 distributions — this
    * is pooled-variance PROPORTIONS). Users are split into cohorts by
    * the shared md5 image (parity of 'ab:user'), a converter is a user
    * whose total purchase cents exceed 65000 (the corpus's stable
    * per-user median across scales, so both verdict branches stay
    * reachable), and the |p_a − p_b| ≥ 2σ gate is cross-multiplied into
    * one exact integer inequality:
    * (x_a·n_b − x_b·n_a)²·N ≥ 4·x·(N−x)·n_a·n_b, computed in
    * DECIMAL(38,0)/HUGEINT. Headroom: the verdict is exact to
    * ~3·10⁷ users per cohort (the a33 convention); the four raw
    * integers are always emitted so consumers can rerun the test in
    * wider arithmetic past that.
    *
    * Scale shape: one partial-agg shuffle to the per-user conversion
    * frame, then a single global aggregate — the cohort split is a
    * stateless hash projection, never a join.
    */
  def a60AbProportion(spark: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase" && col("value").isNotNull,
        expr("CAST(round(value * 100) AS BIGINT)")).otherwise(0L)).as("pc"))
      .withColumn("is_conv", when(col("pc") > 65000L, 1L).otherwise(0L))
      .withColumn("cohort", expr(
        "pmod(CAST(conv(substring(md5(concat('ab:', CAST(user_id AS STRING)))," +
          " 1, 15), 16, 10) AS BIGINT), 2)"))
    users.agg(
        sum(when(col("cohort") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("cohort") === 0, col("is_conv")).otherwise(0L)).as("x_a"),
        sum(when(col("cohort") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("cohort") === 1, col("is_conv")).otherwise(0L)).as("x_b"))
      .withColumn("lhs", expr(
        "CAST(x_a * n_b - x_b * n_a AS DECIMAL(38,0)) * (x_a * n_b - x_b * n_a)" +
          " * (n_a + n_b)").cast(DecimalType(38, 0)))
      .withColumn("rhs", expr(
        "CAST(4 AS DECIMAL(38,0)) * (x_a + x_b) * (n_a + n_b - x_a - x_b)" +
          " * n_a * n_b").cast(DecimalType(38, 0)))
      .withColumn("significant", expr(
        "x_a + x_b > 0 AND x_a + x_b < n_a + n_b AND lhs >= rhs"))
      // lhs/rhs emitted as STRING: past ~3·10⁷ users/cohort these
      // products exceed int64 — the whole reason they're carried in
      // DECIMAL(38,0) — and decimal output columns hash-diverge across
      // the engines' client layers (the r8 class). The verdict still
      // compares the exact decimals.
      .select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
        col("lhs").cast("string").as("lhs"),
        col("rhs").cast("string").as("rhs"), col("significant"))
  }

  private val a60Sql =
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' AND "value" IS NOT NULL
      |      THEN CAST(round("value" * 100) AS BIGINT) ELSE 0 END) AS BIGINT) pc
      |  FROM events GROUP BY 1),
      |c AS (
      |  SELECT CASE WHEN pc > 65000 THEN 1 ELSE 0 END is_conv,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, 16),
      |        i -> CAST(strpos('0123456789abcdef', substr(md5(
      |               concat('ab:', CAST(user_id AS VARCHAR))
      |             ), CAST(i AS INTEGER), 1)) - 1 AS BIGINT))),
      |      (a, b) -> a * 16 + b) % 2 cohort
      |  FROM u),
      |g AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) n_a,
      |    CAST(SUM(CASE WHEN cohort = 0 THEN is_conv ELSE 0 END) AS BIGINT) x_a,
      |    CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) n_b,
      |    CAST(SUM(CASE WHEN cohort = 1 THEN is_conv ELSE 0 END) AS BIGINT) x_b
      |  FROM c)
      |SELECT n_a, x_a, n_b, x_b,
      |  CAST(CAST(x_a * n_b - x_b * n_a AS HUGEINT) * (x_a * n_b - x_b * n_a)
      |    * (n_a + n_b) AS VARCHAR) lhs,
      |  CAST(CAST(4 AS HUGEINT) * (x_a + x_b) * (n_a + n_b - x_a - x_b)
      |    * n_a * n_b AS VARCHAR) rhs,
      |  x_a + x_b > 0 AND x_a + x_b < n_a + n_b AND
      |    CAST(x_a * n_b - x_b * n_a AS HUGEINT) * (x_a * n_b - x_b * n_a)
      |      * (n_a + n_b)
      |    >= CAST(4 AS HUGEINT) * (x_a + x_b) * (n_a + n_b - x_a - x_b)
      |      * n_a * n_b AS significant
      |FROM g""".stripMargin

  /** a61 — categorical column-correlation audit: the χ² INDEPENDENCE
    * test over the (o_orderstatus × o_orderpriority) contingency table,
    * the statistic a cost-based optimizer consults before trusting the
    * independence assumption in selectivity estimates (the cross-column
    * companion to [[a58TableStats]]'s per-column catalog; distinct from
    * t38's goodness-of-fit χ² against an external blend — here the
    * expected counts are the table's OWN margins). Each cell emits its
    * exact components (observed, row/col totals, n) plus
    * term_ppm = ⌊10⁶·(n·o − rt·ct)² / (n·rt·ct)⌋ — per-cell floored in
    * DECIMAL(38,0)/HUGEINT on both engines, so the quantization is the
    * deterministic contract (the a40/g09 pattern: products < 10³⁸,
    * quotient < int64; exact to ~10⁸ rows, raw components always
    * emitted for wider recomputation). Σ term_ppm / 10⁶ = χ², and
    * V² = χ²/(n·min(r−1, c−1)) is the consumer's one division.
    *
    * Scale shape: one partial-agg shuffle to the (r×c)-bounded cell
    * table; margins and n are broadcast-sized re-aggregates of the
    * cells — the fact table is scanned exactly once.
    */
  def a61ColumnCorrelation(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus").as("status"),
        col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("observed"))
    val rt = cells.groupBy(col("status")).agg(sum(col("observed")).as("row_total"))
    val ct = cells.groupBy(col("priority")).agg(sum(col("observed")).as("col_total"))
    val n = cells.agg(sum(col("observed")).as("n"))
    cells.join(broadcast(rt), Seq("status"))
      .join(broadcast(ct), Seq("priority"))
      .crossJoin(broadcast(n))
      .withColumn("term_ppm", expr(
        "CAST(CAST(1000000 AS DECIMAL(38,0)) * " +
          "(CAST(n AS DECIMAL(38,0)) * observed - CAST(row_total AS DECIMAL(38,0)) * col_total) * " +
          "(CAST(n AS DECIMAL(38,0)) * observed - CAST(row_total AS DECIMAL(38,0)) * col_total) " +
          "div (CAST(n AS DECIMAL(38,0)) * row_total * col_total) AS BIGINT)"))
      .select(col("status"), col("priority"), col("observed"),
        col("row_total"), col("col_total"), col("n"), col("term_ppm"))
      .orderBy(col("status"), col("priority"))
  }

  private val a61Sql =
    """WITH cells AS (
      |  SELECT o_orderstatus status, o_orderpriority priority,
      |    CAST(COUNT(*) AS BIGINT) observed
      |  FROM orders GROUP BY 1, 2),
      |rt AS (SELECT status, CAST(SUM(observed) AS BIGINT) row_total
      |       FROM cells GROUP BY 1),
      |ct AS (SELECT priority, CAST(SUM(observed) AS BIGINT) col_total
      |       FROM cells GROUP BY 1),
      |t AS (SELECT CAST(SUM(observed) AS BIGINT) n FROM cells)
      |SELECT status, priority, observed, row_total, col_total, n,
      |  CAST(CAST(1000000 AS HUGEINT)
      |    * (CAST(n AS HUGEINT) * observed - CAST(row_total AS HUGEINT) * col_total)
      |    * (CAST(n AS HUGEINT) * observed - CAST(row_total AS HUGEINT) * col_total)
      |    // (CAST(n AS HUGEINT) * row_total * col_total) AS BIGINT) term_ppm
      |FROM cells JOIN rt USING (status) JOIN ct USING (priority), t
      |ORDER BY status, priority""".stripMargin

  /** a62 — one-pass deterministic Poisson bootstrap: the RESAMPLING
    * machinery none of the a-family hypothesis tests own (a38/a41/a47/
    * a50/a52 test fixed nulls; a56 audits weights) — "what is the
    * sampling variability of this mean?" answered without any null
    * model, the way every large-scale metrics platform ships CIs. The
    * classic bootstrap resamples rows WITH replacement B times — a
    * non-starter at 100 TB (B shuffles of the full table, plus a global
    * row count to draw indexes). The Poisson bootstrap (Chamandy et al.,
    * Google) replaces the multinomial with per-row INDEPENDENT
    * Poisson(1) replica counts: one linear scan computes all B
    * resamples simultaneously, no coordination, exactly the shape that
    * survives a 1000-executor cluster.
    *
    * Determinism contract: replica counts come from the shared md5
    * image u = md5('bs:'+b+':'+key) mod 10⁶ against the PINNED
    * cumulative thresholds 367879 / 735759 / 919699 (Poisson(1) pmf at
    * 10⁻⁶ grain, tail truncated at 3 — a documented approximation of
    * the pmf, identical in both engines, NOT sampled noise). Per
    * resample b: n_b = Σw, sum_cents_b = Σ w·cents, and the signed
    * deviation of the resample mean from the full mean in ppm —
    * magnitude-floored, sign reapplied (the g09 rule). Headroom:
    * w ≤ 3, so sum_cents_b wraps int64 only past ~5·10¹⁰ rows at
    * max-price cents; the ppm numerator is held in DECIMAL(38,0).
    *
    * Scale shape: one scan exploded ×16 into the partial aggregate
    * (map-side combine reduces to 16 rows per partition before the
    * shuffle); the totals ride along as a 1-row broadcast.
    */
  def a62PoissonBootstrap(spark: SparkSession, dir: String): DataFrame = {
    val D = DecimalType(38, 0)
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val tot = base.agg(count(lit(1)).as("n_total"),
      sum(col("cents")).as("sum_cents_total"))
    // fanOut (r14): the ×16 explode + md5-per-(row,b) partial agg ran
    // in the 2.7 MB orders file's single scan task; see
    // plans/r14/a62_poisson_bootstrap_*.
    val res = Tables.fanOut(base, spark, dir, "orders")
      .select(col("o_orderkey"), col("cents"),
        explode(expr("sequence(0, 15)")).as("b"))
      .withColumn("u", expr(
        "pmod(CAST(conv(substring(md5(concat('bs:', CAST(b AS STRING), ':', " +
          "CAST(o_orderkey AS STRING))), 1, 15), 16, 10) AS BIGINT), 1000000)"))
      .withColumn("w", expr(
        "CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1 " +
          "WHEN u < 919699 THEN 2 ELSE 3 END"))
      .groupBy(col("b"))
      .agg(sum(col("w")).as("n_b"), sum(col("w") * col("cents")).as("sum_cents_b"))
    res.crossJoin(broadcast(tot))
      .withColumn("dnum",
        (col("sum_cents_b").cast(D) * col("n_total") -
          col("sum_cents_total").cast(D) * col("n_b")).cast(D))
      .withColumn("dden", (col("sum_cents_total").cast(D) * col("n_b")).cast(D))
      .withColumn("dev_ppm", expr(
        "CASE WHEN dden = 0 THEN CAST(0 AS BIGINT) " +
          "WHEN dnum >= 0 THEN CAST((1000000 * dnum) div dden AS BIGINT) " +
          "ELSE -CAST((1000000 * (-dnum)) div dden AS BIGINT) END"))
      .select(col("b").cast("int").as("b"), col("n_b"), col("sum_cents_b"),
        col("n_total"), col("sum_cents_total"), col("dev_ppm"))
      .orderBy(col("b"))
  }

  private val a62Sql = {
    val img =
      """list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 16),
        |        i -> CAST(strpos('0123456789abcdef', substr(md5(
        |               concat('bs:', CAST(b AS VARCHAR), ':', CAST(o_orderkey AS VARCHAR))
        |             ), CAST(i AS INTEGER), 1)) - 1 AS BIGINT))),
        |      (a, h) -> a * 16 + h) % 1000000""".stripMargin
    s"""WITH o AS (
      |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) cents
      |  FROM orders),
      |t AS (SELECT CAST(COUNT(*) AS BIGINT) n_total,
      |        CAST(SUM(cents) AS BIGINT) sum_cents_total FROM o),
      |e AS (
      |  SELECT b, cents, $img u
      |  FROM o, (SELECT unnest(range(0, 16)) AS b)),
      |w AS (
      |  SELECT b, cents,
      |    CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
      |         WHEN u < 919699 THEN 2 ELSE 3 END w
      |  FROM e),
      |g AS (
      |  SELECT b, CAST(SUM(w) AS BIGINT) n_b,
      |    CAST(SUM(w * cents) AS BIGINT) sum_cents_b
      |  FROM w GROUP BY 1)
      |SELECT CAST(b AS INTEGER) b, n_b, sum_cents_b, n_total, sum_cents_total,
      |  CASE WHEN CAST(sum_cents_total AS HUGEINT) * n_b = 0 THEN CAST(0 AS BIGINT)
      |    WHEN CAST(sum_cents_b AS HUGEINT) * n_total
      |         - CAST(sum_cents_total AS HUGEINT) * n_b >= 0
      |    THEN CAST((1000000 * (CAST(sum_cents_b AS HUGEINT) * n_total
      |         - CAST(sum_cents_total AS HUGEINT) * n_b))
      |      // (CAST(sum_cents_total AS HUGEINT) * n_b) AS BIGINT)
      |    ELSE -CAST((1000000 * (CAST(sum_cents_total AS HUGEINT) * n_b
      |         - CAST(sum_cents_b AS HUGEINT) * n_total))
      |      // (CAST(sum_cents_total AS HUGEINT) * n_b) AS BIGINT) END dev_ppm
      |FROM g, t ORDER BY b""".stripMargin
  }

  /** a63 — survival lifetable (the Kaplan–Meier sufficient statistics):
    * time-to-conversion with RIGHT CENSORING — the analysis none of the
    * a-family owns (a60 compares endpoint proportions; w11 retention
    * conditions on survival implicitly; neither handles users whose
    * window simply hasn't elapsed, the bias censoring exists to fix).
    * Cohort = signup users; event = first purchase on/after the signup
    * day; users without one are censored at the corpus horizon. Per
    * observed day t the lifetable emits the at-risk count n_t (everyone
    * whose event/censor time ≥ t — the suffix sum over the bounded day
    * table), events d_t, censored c_t, and the exact discrete hazard
    * ⌊10⁶·d_t/n_t⌋. The KM curve is Π(1 − d/n) over these rows — a
    * product the consumer forms (the w25 division rule: the contract
    * carries the exact integer components, never the float fold).
    *
    * Scale shape: one signup aggregate, one purchase aggregate joined
    * on user (both partial-aggregated), a 1-row horizon broadcast, and
    * windows over the calendar-bounded lifetable — the fact table is
    * scanned twice and never windowed.
    */
  def a63SurvivalLifetable(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("day")).as("s_day"))
    val pu = ev.filter(col("event_type") === "purchase")
      .join(su, "user_id")
      .filter(col("day") >= col("s_day"))
      .groupBy(col("user_id")).agg(min(col("day")).as("p_day"))
    val horizon = ev.agg(max(col("day")).as("h_day"))
    val obs = su.join(pu, Seq("user_id"), "left")
      .crossJoin(broadcast(horizon))
      .withColumn("t_obs",
        coalesce(col("p_day") - col("s_day"), col("h_day") - col("s_day")))
      .withColumn("is_event", col("p_day").isNotNull)
    val table = obs.groupBy(col("t_obs").as("t"))
      .agg(sum(when(col("is_event"), 1L).otherwise(0L)).as("d_events"),
        sum(when(col("is_event"), 0L).otherwise(1L)).as("c_censored"))
    val wSuffix = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    table
      .withColumn("n_risk",
        sum(col("d_events") + col("c_censored")).over(wSuffix))
      .withColumn("hazard_ppm",
        expr("CAST((1000000 * d_events) div n_risk AS BIGINT)"))
      .select(col("t"), col("n_risk"), col("d_events"), col("c_censored"),
        col("hazard_ppm"))
      .orderBy(col("t"))
  }

  private val a63Sql =
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_us(ts) // 86400000000 "day"
      |  FROM events),
      |su AS (SELECT user_id, CAST(MIN("day") AS BIGINT) s_day
      |       FROM ev WHERE event_type = 'signup' GROUP BY 1),
      |pu AS (SELECT ev.user_id, CAST(MIN(ev."day") AS BIGINT) p_day
      |       FROM ev JOIN su ON ev.user_id = su.user_id
      |       WHERE ev.event_type = 'purchase' AND ev."day" >= su.s_day
      |       GROUP BY 1),
      |h AS (SELECT CAST(MAX("day") AS BIGINT) h_day FROM ev),
      |obs AS (
      |  SELECT su.user_id,
      |    COALESCE(pu.p_day - su.s_day, h.h_day - su.s_day) t_obs,
      |    pu.p_day IS NOT NULL is_event
      |  FROM su LEFT JOIN pu ON su.user_id = pu.user_id, h),
      |lt AS (
      |  SELECT t_obs t,
      |    CAST(SUM(CASE WHEN is_event THEN 1 ELSE 0 END) AS BIGINT) d_events,
      |    CAST(SUM(CASE WHEN is_event THEN 0 ELSE 1 END) AS BIGINT) c_censored
      |  FROM obs GROUP BY 1)
      |SELECT t,
      |  CAST(SUM(d_events + c_censored) OVER (ORDER BY t DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) n_risk,
      |  d_events, c_censored,
      |  CAST((1000000 * d_events) //
      |    SUM(d_events + c_censored) OVER (ORDER BY t DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) hazard_ppm
      |FROM lt ORDER BY t""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("a63_survival_lifetable",
      "Kaplan-Meier lifetable: signup-to-conversion with right censoring at the horizon, exact at-risk/event/hazard components",
      a63SurvivalLifetable, Some(a63Sql)),
    QueryDef("a62_poisson_bootstrap",
      "one-pass deterministic Poisson bootstrap: 16 resample means from per-row md5 Poisson(1) counts",
      a62PoissonBootstrap, Some(a62Sql)),
    QueryDef("a61_column_correlation",
      "chi-square independence over the status x priority contingency table: exact per-cell ppm terms",
      a61ColumnCorrelation, Some(a61Sql)),
    QueryDef("a60_ab_proportion",
      "A/B two-proportion z-test: pooled-variance 2-sigma gate as one exact integer inequality",
      a60AbProportion, Some(a60Sql)),
    QueryDef("a59_ams_f2",
      "AMS sign-sketch F2 estimate vs exact second moment (16 estimators, shared md5 signs)",
      a59AmsF2, Some(a59Sql)),
    QueryDef("a58_table_stats",
      "one-pass ANALYZE: per-column n/null/NDV/min/max catalog rows for the CBO",
      a58TableStats, Some(a58Sql)),
    QueryDef("a57_t_closeness",
      "t-closeness EMD audit of acctbal bands per QI class -- the a34/a55 trio's third leg",
      a57TCloseness, Some(a57Sql)),
    QueryDef("a56_effective_sample_size",
      "ESS = (Sum w)^2 / Sum w^2 per type -- the weighted-sampling health metric",
      a56EffectiveSampleSize, Some(a56Sql)),
    QueryDef("a55_l_diversity",
      "l-diversity of acctbal bands per (segment, nation) class -- a34's companion audit",
      a55LDiversity(_, _), Some(a55Sql)),
    QueryDef("a54_trimmed_mean",
      "exact 5%-trimmed mean per type via rank-free prefix-sum cuts",
      a54TrimmedMean, Some(a54Sql)),
    QueryDef("a53_contract_audit",
      "Deequ-shaped data-contract audit: pk/fk/range/domain/temporal checks, exact counts",
      a53ContractAudit, Some(a53Sql)),
    QueryDef("a52_kruskal_wallis",
      "k-group Kruskal-Wallis rank components (2x mid-ranks; a41's omnibus dual)",
      a52KruskalWallis, Some(a52Sql)),
    QueryDef("a51_seasonality_strength",
      "ANOVA R^2 of the hour-of-week profile per type (is w16's baseline real?)",
      a51SeasonalityStrength, Some(a51Sql)),
    QueryDef("a50_cvm_drift",
      "Cramer-von-Mises integral drift (whole-distribution dual of a38's max-gap KS)",
      a50CvmDrift, Some(a50Sql)),
    QueryDef("a48_benford_audit",
      "second-order two-digit Benford screen: obs/exp ppm + chi2 contribution",
      a48BenfordAudit, Some(a48Sql)),
    QueryDef("a49_gini_concentration",
      "exact Gini of customer revenue via distributed prefix-sum ranks",
      a49GiniConcentration, Some(a49Sql)),
    QueryDef("a47_welch_ttest",
      "exact quantized Welch t-test: mean drift with direction + dof",
      a47WelchTtest(_, _), Some(a47Sql)),
    QueryDef("a46_chi_square",
      "exact chi-square independence test (type x hour), micro-quantized",
      a46ChiSquare, Some(a46Sql)),
    QueryDef("a45_entropy_profile",
      "per-column categorical Shannon entropy, micro-nat quantized",
      a45EntropyProfile, Some(a45Sql)),
    QueryDef("a44_decile_drift",
      "binned L1 drift vs baseline deciles (PSI shape, no logarithm)",
      a44DecileDrift, Some(a44Sql)),
    QueryDef("a43_spearman",
      "exact Spearman ppm: token count vs embedding norm (length leakage)",
      a43Spearman, Some(a43Sql)),
    QueryDef("a42_mutual_info",
      "type x hour mutual information, micro-nat quantized (t14 convention)",
      a42MutualInfo, Some(a42Sql)),
    QueryDef("a41_mann_whitney",
      "exact Mann-Whitney U + rank-biserial ppm (2x mid-ranks, no floats)",
      a41MannWhitney(_, _), Some(a41Sql)),
    QueryDef("a40_gini",
      "exact integer Gini ppm of value concentration per event type",
      a40Gini, Some(a40Sql)),
    QueryDef("a39_benford",
      "Benford first-digit audit: exact ppm shares vs pinned log10 constants",
      a39Benford, Some(a39Sql)),
    QueryDef("a38_ks_drift",
      "exact integer two-sample KS drift statistic per event type",
      a38KsDrift, Some(a38Sql)),
    QueryDef("a37_kmv_set_ops",
      "KMV bottom-k sketch union/Jaccard set algebra, bit-identical across engines",
      a37KmvSetOps(_, _), Some(a37Sql)),
    QueryDef("a36_cms_heavy_hitters",
      "count-min heavy hitters: integer-hash sketch bit-identical across engines",
      a36CmsHeavyHitters, Some(a36Sql)),
    QueryDef("a35_sketch_rollup",
      "stored daily HLL partials union-merged to level-2 estimates (no rescan)",
      a35SketchRollup, Some(a35Sql)),
    QueryDef("a33_incremental_agg",
      "materialized-view refresh: stored partial states merged with a delta == full recompute",
      a33IncrementalAgg, Some(a33Sql)),
    QueryDef("a34_k_anonymity",
      "k-anonymity QI group audit with broadcastable suppression verdicts",
      a34KAnonymity(_, _), Some(a34Sql)),
    QueryDef("w16_seasonal_anomaly",
      "hour-of-week baseline anomaly gate, exact integer variance (no float, no sqrt)",
      w16SeasonalAnomaly, Some(w16Sql))
  )
}
