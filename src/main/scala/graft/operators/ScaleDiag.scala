package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{QueryDef, Tables}
import graft.util.{Lake, Overlap}

/** Physical-layout and skew tooling — the queries an operator of a
  * 100 TB lake runs to DECIDE how to lay data out and when to salt,
  * expressed as exact-integer plans so the oracle can check them.
  */
object ScaleDiag {

  /** l01 — Z-order (Morton) layout audit: interleave the low 8 bits of
    * two query dimensions (customer key, order epoch-day) into a 16-bit
    * Morton code, tile the space by `z >> 8` (each tile = a 16×16
    * rectangle in (a, b)), and report per-tile row counts and per-dim
    * min/max envelopes.
    *
    * Why it matters at scale: writing the table SORTED by z makes every
    * parquet row group's min/max stats tight in BOTH dimensions at once
    * (the per-tile envelopes this query reports are exactly those
    * stats), so a two-predicate scan prunes row groups multiplicatively
    * — the effect Delta/Iceberg `OPTIMIZE ZORDER BY` exists for. A sort
    * by (a, b) instead leaves b's envelope as wide as the table.
    * ScaleDiagSpec asserts the guarantee: every 16×16 tile envelope has
    * side <= 15.
    *
    * The bit math is `aggregate` over a constant 8-element sequence —
    * plain codegen'd int64 ops, no UDF; the whole query is one scan +
    * one partial/final hash aggregate.
    */
  def l01Zorder(spark: SparkSession, dir: String): DataFrame = {
    val interleave =
      "aggregate(sequence(0, 7), CAST(0 AS BIGINT), (acc, i) -> acc" +
        " + shiftleft(shiftright(za, i) & 1, 2 * i)" +
        " + shiftleft(shiftright(zb, i) & 1, 2 * i + 1))"
    Tables.orders(spark, dir)
      // pmod, not % — orderdate spans 1992-1998 so the day delta is
      // signed, and a negative operand would poison the bit interleave
      .select(pmod(col("o_custkey"), lit(256)).cast("long").as("za"),
        pmod(datediff(col("o_orderdate"), to_date(lit("1995-01-01"))), lit(256))
          .cast("long").as("zb"))
      .withColumn("z", expr(interleave))
      .groupBy(expr("z div 256").as("tile"))
      .agg(count(lit(1)).as("n"),
        min(col("za")).as("min_a"), max(col("za")).as("max_a"),
        min(col("zb")).as("min_b"), max(col("zb")).as("max_b"))
      .orderBy(col("tile"))
  }

  private val l01Sql =
    """WITH d AS (
      |  SELECT ((o_custkey % 256) + 256) % 256 AS za,
      |    ((CAST(o_orderdate AS DATE) - DATE '1995-01-01') % 256 + 256) % 256 AS zb
      |  FROM orders),
      |z AS (
      |  SELECT za, zb,
      |    CAST(list_sum(list_transform(range(0, 8),
      |      i -> ((za >> CAST(i AS INTEGER)) & 1) * (1 << CAST(2 * i AS INTEGER))
      |         + ((zb >> CAST(i AS INTEGER)) & 1) * (1 << CAST(2 * i + 1 AS INTEGER))))
      |      AS BIGINT) AS zv
      |  FROM d)
      |SELECT zv // 256 AS tile, COUNT(*) AS n,
      |  MIN(za) AS min_a, MAX(za) AS max_a,
      |  MIN(zb) AS min_b, MAX(zb) AS max_b
      |FROM z GROUP BY 1 ORDER BY tile""".stripMargin

  /** a24 — key-skew diagnostic over the order fact's customer key: the
    * numbers that decide whether a join/agg on this key needs salting
    * (j09/j10) or AQE skew handling. Everything exact-integer: the skew
    * ratio is reported ×1000 under integer division, heavy-hitter ties
    * break by key. Shape: one partial/final count aggregate (the only
    * pass over data), then top-5 + scalar stats over the SMALL key-count
    * table (a second, key-cardinality-sized aggregate — never row-scale).
    */
  def a24SkewStats(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(spark, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
      max(col("cnt")).as("max_cnt"))
    // top-5 via sort+limit = distributed TakeOrdered, NOT a row_number
    // window (which would single-partition the whole key-count table);
    // the rank window then runs over exactly 5 rows
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("o_custkey").asc)
    counts.orderBy(col("cnt").desc, col("o_custkey").asc).limit(5)
      .withColumn("rank", row_number().over(w))
      .crossJoin(broadcast(totals))
      .select(col("rank").cast("long").as("rank"),
        col("o_custkey").as("key"), col("cnt"),
        col("n_keys"), col("n_rows"),
        expr("1000 * max_cnt * n_keys div n_rows").as("skew_x1000"))
      .orderBy(col("rank"))
  }

  private val a24Sql =
    """WITH c AS (SELECT o_custkey, COUNT(*) cnt FROM orders GROUP BY 1),
      |t AS (SELECT CAST(COUNT(*) AS BIGINT) n_keys, CAST(SUM(cnt) AS BIGINT) n_rows,
      |             CAST(MAX(cnt) AS BIGINT) max_cnt FROM c),
      |r AS (SELECT o_custkey, cnt,
      |        ROW_NUMBER() OVER (ORDER BY cnt DESC, o_custkey ASC) rank
      |      FROM c)
      |SELECT CAST(rank AS BIGINT) rank, o_custkey AS key, CAST(cnt AS BIGINT) cnt,
      |  n_keys, n_rows, 1000 * max_cnt * n_keys // n_rows AS skew_x1000
      |FROM r CROSS JOIN t WHERE rank <= 5
      |ORDER BY rank""".stripMargin

  /** l02 — small-file compaction plan (lakehouse OPTIMIZE): roll the
    * partition inventory (here: per (returnflag, linestatus, ship-month)
    * "files", bytes proxied at 128 B/row) into target-size output
    * groups. A file joins the bin where its FIRST byte lands —
    * contiguous packing, the deterministic fully-parallel variant of
    * first-fit (bins can overflow by at most one file, never reorder;
    * ScaleDiagSpec asserts the bound). The cumulative byte count comes
    * from [[ScaleOps.prefixSum]] — range repartition + per-partition
    * offsets, no single-partition window — so planning compaction for a
    * million-file inventory is itself a parallel job.
    */
  def l02CompactionPlan(spark: SparkSession, dir: String,
                        targetBytes: Long = 131072L): DataFrame = {
    val files = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
        expr("CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT)").as("ym"))
      .agg((count(lit(1)) * 128L).as("bytes"))
    ScaleOps.prefixSum(files, Seq("rf", "ls", "ym"), "bytes", "cum")
      .withColumn("bin", expr(s"(cum - bytes) div $targetBytes"))
      .select(col("rf"), col("ls"), col("ym"), col("bytes"), col("bin"))
      .orderBy(col("rf"), col("ls"), col("ym"))
  }

  private val l02Sql =
    """WITH f AS (
      |  SELECT l_returnflag rf, l_linestatus ls,
      |    CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) ym,
      |    CAST(COUNT(*) * 128 AS BIGINT) bytes
      |  FROM lineitem GROUP BY 1, 2, 3),
      |c AS (
      |  SELECT *, SUM(bytes) OVER (ORDER BY rf, ls, ym ROWS UNBOUNDED PRECEDING) cum
      |  FROM f)
      |SELECT rf, ls, ym, bytes, CAST((cum - bytes) // 131072 AS BIGINT) AS bin
      |FROM c ORDER BY rf, ls, ym""".stripMargin

  /** a31 — equi-width histogram profile of a numeric column: 20 exact
    * integer bucket counts between the global min and max, with each
    * bucket's closed-open [lo, hi) bounds. The data-profiling primitive
    * behind every "distribution looks wrong" check; an approximate
    * engine sketches this, a warehouse computes it exactly — one scan
    * for the extent (a 1-row aggregate broadcast back via crossJoin,
    * never a driver collect), one scan for the counts.
    *
    * The max value clamps into the last bucket (the standard closed
    * final interval); empty buckets are emitted with n=0 via a
    * sequence-generated bucket spine so the histogram is always
    * 20 rows. All bound arithmetic (`min + b·width`) is written
    * identically in both engines, so the doubles hash-match.
    */
  def a31Histogram(spark: SparkSession, dir: String, nBuckets: Int = 20): DataFrame = {
    val vals = Tables.lineitem(spark, dir)
      .select(col("l_extendedprice").as("v")).filter(col("v").isNotNull)
    val extent = vals.agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .withColumn("width", (col("mx") - col("mn")) / nBuckets)
    val counted = vals.crossJoin(broadcast(extent))
      .select(least(floor((col("v") - col("mn")) / col("width")).cast("long"),
                    lit(nBuckets - 1L)).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    val spine = extent
      .select(explode(expr(s"sequence(0, ${nBuckets - 1})")).as("b"),
              col("mn"), col("width"))
      .select(col("b").cast("long").as("bucket"), col("mn"), col("width"))
    spine.join(counted, Seq("bucket"), "left")
      .select(col("bucket"),
        (col("mn") + col("bucket").cast("double") * col("width")).as("lo"),
        (col("mn") + (col("bucket") + 1).cast("double") * col("width")).as("hi"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy(col("bucket"))
  }

  private val a31Sql =
    """WITH vals AS (SELECT l_extendedprice v FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |ext AS (SELECT MIN(v) mn, MAX(v) mx, (MAX(v) - MIN(v)) / 20 width FROM vals),
      |counted AS (
      |  SELECT LEAST(CAST(FLOOR((v - mn) / width) AS BIGINT), 19) bucket, COUNT(*) n
      |  FROM vals, ext GROUP BY 1),
      |spine AS (SELECT CAST(u.b AS BIGINT) bucket, mn, width
      |          FROM ext, LATERAL unnest(range(0, 20)) u(b))
      |SELECT s.bucket,
      |  s.mn + CAST(s.bucket AS DOUBLE) * s.width AS lo,
      |  s.mn + CAST(s.bucket + 1 AS DOUBLE) * s.width AS hi,
      |  COALESCE(c.n, 0) AS n
      |FROM spine s LEFT JOIN counted c ON s.bucket = c.bucket
      |ORDER BY s.bucket""".stripMargin

  /** l03 — data-skipping effectiveness audit: simulate the same fact
    * table laid out two ways — RANGE-CLUSTERED on ship-day (64
    * equal-width day bins from the global extent, the a31 1-row
    * broadcast pattern — NO global sort anywhere) vs ARRIVAL (a
    * deterministic hash of the row key, the "we never clustered"
    * layout) — compute each simulated file's min/max ship-day envelope,
    * and replay 12 point probes across the date range counting how many
    * files each probe must open. This is the number a lakehouse table
    * service reports to justify clustering: tight envelopes → ~1 file
    * per probe; arrival layout → every file, every probe.
    *
    * Scale shape: one groupBy per layout (fused into one via a 2-way
    * map-side explode), envelope table is `2 × files` rows — broadcast
    * against the 12-row probe list; the fact table is scanned ONCE.
    */
  def l03SkippingAudit(spark: SparkSession, dir: String, files: Int = 64): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        datediff(col("l_shipdate").cast("date"), to_date(lit("1992-01-01")))
          .cast(LongType).as("d"))
    val ext = li.agg(min(col("d")).as("dmin"), max(col("d")).as("dmax"))
    val stats = li.crossJoin(broadcast(ext))
      .select(col("d"), explode(expr(
        s"""array(
           |  named_struct('layout', 'clustered', 'f',
           |    least(CAST(${files - 1} AS BIGINT), ($files * (d - dmin)) div (dmax - dmin + 1))),
           |  named_struct('layout', 'arrival', 'f',
           |    (l_orderkey * 31 + l_linenumber) % $files))""".stripMargin)).as("x"))
      .select(col("x.layout").as("layout"), col("x.f").as("f"), col("d"))
      .groupBy(col("layout"), col("f"))
      .agg(min(col("d")).as("fmin"), max(col("d")).as("fmax"))
    val probes = ext.select(explode(expr(
      "transform(sequence(0, 11), k -> dmin + ((dmax - dmin) * k) div 11)")).as("probe"))
    stats.crossJoin(broadcast(probes))
      .groupBy(col("layout"), col("probe"))
      .agg(sum(when(col("fmin") <= col("probe") && col("probe") <= col("fmax"), 1L)
             .otherwise(0L)).as("files_hit"),
           count(lit(1)).as("n_files"))
      .orderBy(col("layout"), col("probe"))
  }

  private val l03Sql =
    """WITH li AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CAST(CAST(l_shipdate AS DATE) - DATE '1992-01-01' AS BIGINT) d
      |  FROM lineitem),
      |ext AS (SELECT MIN(d) dmin, MAX(d) dmax FROM li),
      |assigned AS (
      |  SELECT layout, f, d FROM (
      |    SELECT d,
      |      unnest([
      |        {'layout': 'clustered',
      |         'f': least(CAST(63 AS BIGINT), (64 * (d - dmin)) // (dmax - dmin + 1))},
      |        {'layout': 'arrival',
      |         'f': (l_orderkey * 31 + l_linenumber) % 64}]) x
      |    FROM li CROSS JOIN ext) t,
      |    LATERAL (SELECT t.x.layout AS layout, t.x.f AS f)),
      |stats AS (
      |  SELECT layout, f, MIN(d) fmin, MAX(d) fmax
      |  FROM assigned GROUP BY layout, f),
      |probes AS (
      |  SELECT dmin + ((dmax - dmin) * k) // 11 probe
      |  FROM ext, (SELECT unnest(range(0, 12)) k))
      |SELECT layout, probe,
      |  CAST(SUM(CASE WHEN fmin <= probe AND probe <= fmax THEN 1 ELSE 0 END) AS BIGINT) AS files_hit,
      |  COUNT(*) AS n_files
      |FROM stats CROSS JOIN probes
      |GROUP BY layout, probe
      |ORDER BY layout, probe""".stripMargin

  /** l04 — compaction EXECUTED (the lifecycle counterpart of l02's
    * plan, the j14/d12/v05 write-then-serve pattern): write a
    * deliberately fragmented copy of `orders` (64-way round-robin
    * repartition → 64 part files — the small-file debris a streaming
    * ingest leaves), rewrite it compacted to exactly 4 files, and read
    * the compacted copy back for the output aggregate. The emitted row
    * is the invariant OPTIMIZE must preserve — per-status counts and
    * key checksums unchanged by layout — plus the file inventories, so
    * the oracle checks data conservation AND the layout arithmetic.
    * The compacted write uses `repartition(4)` (round-robin shuffle),
    * not `coalesce(4)`: coalesce is narrow and cheaper, but its output
    * count is hostage to READ-side split packing (if
    * maxPartitionBytes packs the 64 fragments into <4 input splits,
    * coalesce cannot raise the count and the contract's files_after=4
    * goes red with no code change). repartition makes the target count
    * deterministic regardless of how the scan splits — at 100 TB a
    * compactor pays the same conscious trade: narrow coalesce when
    * splits permit, shuffle when the target layout must be exact.
    * Production targets `maxRecordsPerFile`/target-bytes instead of a
    * fixed 4; the lifecycle shape is identical.
    */
  def l04CompactionExec(spark: SparkSession, dir: String): DataFrame = {
    val scratch = graft.util.Scratch.dir("l04_compact_")
    val frag = s"$scratch/frag"
    val comp = s"$scratch/compact"
    Tables.orders(spark, dir).repartition(64)
      .write.mode("overwrite").parquet(frag)
    spark.read.parquet(frag).repartition(4)
      .write.mode("overwrite").parquet(comp)
    val (before, after) = (Lake.files(frag).size.toLong, Lake.files(comp).size.toLong)
    spark.read.parquet(comp)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"), sum(col("o_orderkey")).as("key_sum"))
      .withColumn("files_before", lit(before))
      .withColumn("files_after", lit(after))
      .orderBy(col("o_orderstatus"))
  }

  private val l04Sql =
    """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
      |  CAST(64 AS BIGINT) AS files_before, CAST(4 AS BIGINT) AS files_after
      |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin

  /** l05 — manifest-based retention vacuum: the snapshot/orphan
    * lifecycle every table format (Iceberg/Delta-style) runs. Under the
    * [[graft.util.Lake]] protocol a rewrite appends and flips the
    * manifest, never deleting in place, so the directory accumulates
    * orphans that only an explicit vacuum reclaims. Here: gen-1 writes
    * 8 files (manifest v1), a compaction rewrite appends 2 files holding
    * the full data (manifest v2 = those 2 only), vacuum = listing MINUS
    * manifest v2 → delete; the
    * contract emits the file arithmetic (10 listed, 8 orphans, 2 after)
    * AND the post-vacuum data aggregate read through manifest v2, so
    * the oracle proves reclamation lost nothing.
    *
    * Scale shape: listing−manifest is an anti-join on file path (here
    * over a handful of paths; at 100 TB it is the same anti-join over
    * file-metadata tables); data files are never read during vacuum.
    */
  def l05RetentionVacuum(spark: SparkSession, dir: String): DataFrame = {
    val table = graft.util.Scratch.dir("l05_vacuum_")
    def listing(): Seq[String] = Lake.files(s"$table/data").map(f => s"data/$f")
    Lake.publish(table, 1, Lake.append(Tables.orders(spark, dir).repartition(8), table, "data"))
    Lake.publish(table, 2, // the rewrite's own files
      Lake.append(spark.read.parquet(s"$table/data").repartition(2), table, "data"))
    val live = Lake.read(table, 2)
    val before = listing()
    val orphans = before.filterNot(live.toSet)
    orphans.foreach(p => new java.io.File(s"$table/$p").delete())
    val after = listing()
    require(after == live, "vacuum must leave exactly the live snapshot")
    spark.read.parquet(Lake.paths(table, live): _*)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"), sum(col("o_orderkey")).as("key_sum"))
      .withColumn("files_listed", lit(before.size.toLong))
      .withColumn("n_orphans", lit(orphans.size.toLong))
      .withColumn("files_after", lit(after.size.toLong))
      .orderBy(col("o_orderstatus"))
  }

  private val l05Sql =
    """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
      |  CAST(10 AS BIGINT) AS files_listed, CAST(8 AS BIGINT) AS n_orphans,
      |  CAST(2 AS BIGINT) AS files_after
      |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin

  /** l07 — snapshot time travel: the manifest-versioned read path every
    * modern table format (Iceberg snapshot / Delta version) builds on,
    * and the one lake primitive the l01–l06 family hadn't exercised.
    * Writers append and publish through [[graft.util.Lake]] —
    * v1 = the day-one load (8 files, keys ≢ 0 mod 3), v2 = v1 plus an
    * appended delta (4 files, the ≡ 0 keys), v3 = a compaction REWRITE
    * (2 files holding exactly v2's rows — a new manifest, zero new
    * data). Every version is then read back AS OF its manifest — file
    * list from the committed manifest text, never a directory listing —
    * AFTER all three exist, so the emitted per-version aggregates prove
    * snapshot isolation: later writes are invisible to an older pin
    * (v1 keeps its filtered sums), and compaction changes the file
    * count but not one row (v3 ≡ v2).
    *
    * Scale shape: time travel is metadata-only — each read plans from
    * its manifest's file list (at 100 TB, a file-metadata table driving
    * the scan), data files are shared across snapshots and never
    * copied; the aggregates are ordinary partial+final sums.
    */
  def l07TimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val table = graft.util.Scratch.dir("l07_travel_")
    val orders = Tables.orders(spark, dir)
    Lake.publish(table, 1,
      Lake.append(orders.filter(col("o_orderkey") % 3 =!= 0).repartition(8), table, "data"))
    Lake.publish(table, 2, Lake.read(table, 1) ++
      Lake.append(orders.filter(col("o_orderkey") % 3 === 0).repartition(4), table, "data"))
    Lake.publish(table, 3, Lake.append(
      spark.read.parquet(Lake.paths(table, Lake.read(table, 2)): _*).repartition(2),
      table, "data"))
    (1 to 3).map { v =>
      val files = Lake.paths(table, Lake.read(table, v))
      spark.read.parquet(files: _*)
        .agg(count(lit(1)).as("n_rows"), sum(col("o_orderkey")).as("key_sum"))
        .select(lit(v).as("version"), lit(files.size.toLong).as("n_files"),
          col("n_rows"), col("key_sum"))
    }.reduce(_ unionByName _).orderBy(col("version"))
  }

  private val l07Sql =
    """WITH f AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 3 <> 0),
      |a AS (
      |  SELECT CAST(1 AS INTEGER) AS "version", CAST(8 AS BIGINT) n_files,
      |    CAST(COUNT(*) AS BIGINT) n_rows, CAST(SUM(o_orderkey) AS BIGINT) key_sum
      |  FROM f
      |  UNION ALL
      |  SELECT 2, 12, COUNT(*), CAST(SUM(o_orderkey) AS BIGINT) FROM orders
      |  UNION ALL
      |  SELECT 3, 2, COUNT(*), CAST(SUM(o_orderkey) AS BIGINT) FROM orders)
      |SELECT "version", n_files, n_rows, key_sum FROM a ORDER BY "version"""".stripMargin

  /** l08 — write-audit-publish (WAP): the staged-commit protocol a
    * production lake uses so bad data NEVER becomes readable. Each batch
    * is (1) STAGED as ordinary parquet files, (2) AUDITED by reading the
    * staged files back — a data-contract pass in the
    * [[Maintenance.a53ContractAudit]] spirit: positive price cents and
    * primary-key uniqueness against the already-published snapshot —
    * and (3) PUBLISHED: batch b publishes version b of the table
    * ([[graft.util.Lake]]), the previous version plus the staged files
    * ONLY if the audit is clean. A failing batch's files stay on disk as
    * unreferenced orphans ([[l05RetentionVacuum]]'s domain), and the
    * table read back through its version b is provably unchanged.
    *
    * Four deterministic batches exercise both rules and both verdicts:
    * b1 (keys ≡ 1 mod 3) is clean and publishes; b2 (≡ 2 mod 3) plants
    * negated cents on even keys and is rejected by the price rule; b3
    * re-stages the ≡ 10 mod 15 slice of b1 — every staged key collides
    * with the published snapshot — and is rejected by the pk rule; b4
    * (≡ 0 mod 3) is clean and publishes. Each emitted row carries the
    * staged/violation counts, the verdict, and the post-attempt table
    * aggregate: b2's and b3's table columns equal b1's, which IS the
    * isolation proof.
    *
    * Scale shape: the audit reads only the STAGED batch (plus a
    * pk semi-join against the published snapshot — at 100 TB a
    * bloom/bucketed anti-join on the key); publish is a metadata-only
    * manifest flip, data files are never rewritten or copied.
    */
  def l08WriteAuditPublish(spark: SparkSession, dir: String): DataFrame = {
    val table = graft.util.Scratch.dir("l08_wap_")
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("k"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val batches = Seq(
      orders.filter(col("k") % 3 === 1),
      orders.filter(col("k") % 3 === 2)
        .withColumn("cents", when(col("k") % 2 === 0, -col("cents"))
          .otherwise(col("cents"))),
      orders.filter(col("k") % 15 === 10),
      orders.filter(col("k") % 3 === 0))
    def snapshot(lines: Seq[String]): DataFrame =
      if (lines.isEmpty) spark.range(0).select(col("id").as("k"), col("id").as("cents"))
      else spark.read.parquet(Lake.paths(table, lines): _*)
    val out = batches.zipWithIndex.map { case (b, i) =>
      val v = i + 1
      val published = Lake.prior(table, v)
      val stagedFiles = Lake.append(b.repartition(2), table, "data")
      val staged = spark.read.parquet(Lake.paths(table, stagedFiles): _*)
      // r15 (guide §2.4): the row/price audit and the duplicate-pk
      // probe are both 1-row aggregates over the staged files — cross
      // joined they evaluate in ONE driver job instead of two per batch
      val audit = staged.agg(count(lit(1)).as("staged_rows"),
        coalesce(sum(when(col("cents") <= 0, 1L).otherwise(0L)), lit(0L))
          .as("bad_price"))
        .crossJoin(staged.join(snapshot(published).select(col("k")), Seq("k"), "left_semi")
          .agg(count(lit(1)).as("dup_pk")))
        .head()
      val (stagedRows, badPrice, dupPk) =
        (audit.getLong(0), audit.getLong(1), audit.getLong(2))
      val publish = badPrice == 0 && dupPk == 0
      Lake.publish(table, v, if (publish) published ++ stagedFiles else published)
      val t = snapshot(Lake.read(table, v))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("s")).head()
      (v, stagedRows, badPrice, dupPk, publish, t.getLong(0), t.getLong(1))
    }
    import spark.implicits._
    out.toDF("batch", "staged_rows", "bad_price", "dup_pk", "published",
      "table_rows", "table_key_sum").orderBy(col("batch"))
  }

  private val l08Sql =
    """WITH o AS (SELECT o_orderkey k FROM orders),
      |b1 AS (SELECT CAST(COUNT(*) AS BIGINT) n, CAST(SUM(k) AS BIGINT) s
      |       FROM o WHERE k % 3 = 1),
      |b2 AS (SELECT CAST(COUNT(*) AS BIGINT) n,
      |              CAST(SUM(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) v
      |       FROM o WHERE k % 3 = 2),
      |b3 AS (SELECT CAST(COUNT(*) AS BIGINT) n FROM o WHERE k % 15 = 10),
      |b4 AS (SELECT CAST(COUNT(*) AS BIGINT) n, CAST(SUM(k) AS BIGINT) s
      |       FROM o WHERE k % 3 = 0)
      |SELECT 1 batch, b1.n staged_rows, CAST(0 AS BIGINT) bad_price,
      |  CAST(0 AS BIGINT) dup_pk, TRUE published,
      |  b1.n table_rows, b1.s table_key_sum FROM b1
      |UNION ALL
      |SELECT 2, b2.n, b2.v, 0, b2.v = 0, b1.n, b1.s FROM b1, b2
      |UNION ALL
      |SELECT 3, b3.n, 0, b3.n, b3.n = 0, b1.n, b1.s FROM b1, b3
      |UNION ALL
      |SELECT 4, b4.n, 0, 0, TRUE, b1.n + b4.n, b1.s + b4.s FROM b1, b4
      |ORDER BY batch""".stripMargin

  /** l09 — partition-spec EVOLUTION: the Iceberg capability hive layouts
    * lack — change the table's partition key WITHOUT rewriting history.
    * Generation 1 (orders with odd keys) is laid out by order-month;
    * the spec then evolves and generation 2 (even keys) lands
    * partitioned by order-priority. The manifest records each file's
    * spec and partition value, and a query with predicates on BOTH
    * dimensions (March orders, '1-URGENT') prunes each generation under
    * ITS OWN spec — month dirs for gen-1, priority dirs for gen-2 — and
    * applies the other predicate as a residual row filter. Emitted per
    * spec: live vs scanned file counts (the pruning win), matched rows
    * and exact cents (the correctness anchor); a final row totals the
    * spec-aware plan against the whole table.
    *
    * At 100 TB this is the difference between re-partitioning a
    * petabyte of history when access patterns change and flipping a
    * metadata default for NEW data only — reads stay correct because
    * pruning is per-file-group metadata, not a global layout property.
    */
  def l09PartitionEvolution(spark: SparkSession, dir: String): DataFrame = {
    val scratch = graft.util.Scratch.dir("l09_specevo_")
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr("month(o_orderdate)").as("mth"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    // gen-1 under spec A (by month): hive dirs mth=1..12
    orders.filter(col("o_orderkey") % 2 === 1)
      .write.partitionBy("mth").mode("overwrite").parquet(s"$scratch/gen1")
    // spec evolves; gen-2 under spec B (by priority)
    orders.filter(col("o_orderkey") % 2 === 0)
      .write.partitionBy("o_orderpriority").mode("overwrite")
      .parquet(s"$scratch/gen2")
    def dirs(base: String): Seq[String] =
      Option(new java.io.File(base).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && !f.getName.startsWith("_"))
        .map(_.getName).sorted.toSeq
    val spec1All = dirs(s"$scratch/gen1")
    val spec2All = dirs(s"$scratch/gen2")
    // prune per spec: gen-1 by month=3, gen-2 by priority='1-URGENT';
    // the OTHER predicate runs as a residual filter inside the scan
    val spec1Kept = spec1All.filter(_ == "mth=3")
    val spec2Kept = spec2All.filter(_ == "o_orderpriority=1-URGENT")
    val g1 = spark.read.parquet(spec1Kept.map(d => s"$scratch/gen1/$d"): _*)
      .filter(col("o_orderpriority") === "1-URGENT")
      .agg(count(lit(1)).as("n"), coalesce(sum(col("cents")), lit(0L)).as("s"))
      .head()
    val g2 = spark.read.parquet(spec2Kept.map(d => s"$scratch/gen2/$d"): _*)
      .filter(col("mth") === 3)
      .agg(count(lit(1)).as("n"), coalesce(sum(col("cents")), lit(0L)).as("s"))
      .head()
    import spark.implicits._
    Seq(
      ("spec1_by_month", spec1All.size.toLong, spec1Kept.size.toLong,
        g1.getLong(0), g1.getLong(1)),
      ("spec2_by_priority", spec2All.size.toLong, spec2Kept.size.toLong,
        g2.getLong(0), g2.getLong(1)),
      ("total", (spec1All.size + spec2All.size).toLong,
        (spec1Kept.size + spec2Kept.size).toLong,
        g1.getLong(0) + g2.getLong(0), g1.getLong(1) + g2.getLong(1)))
      .toDF("spec", "live_groups", "scanned_groups", "n_rows", "cents_sum")
      .orderBy(col("spec"))
  }

  private val l09Sql =
    """WITH o AS (
      |  SELECT o_orderkey k, o_orderpriority pri, month(o_orderdate) mth,
      |    CAST(round(o_totalprice * 100) AS BIGINT) cents
      |  FROM orders),
      |g1 AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) n,
      |    CAST(COALESCE(SUM(cents), 0) AS BIGINT) s
      |  FROM o WHERE k % 2 = 1 AND mth = 3 AND pri = '1-URGENT'),
      |g2 AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) n,
      |    CAST(COALESCE(SUM(cents), 0) AS BIGINT) s
      |  FROM o WHERE k % 2 = 0 AND pri = '1-URGENT' AND mth = 3),
      |d1 AS (SELECT CAST(COUNT(DISTINCT mth) AS BIGINT) g FROM o WHERE k % 2 = 1),
      |d2 AS (SELECT CAST(COUNT(DISTINCT pri) AS BIGINT) g FROM o WHERE k % 2 = 0)
      |SELECT 'spec1_by_month' spec, d1.g live_groups, CAST(1 AS BIGINT) scanned_groups,
      |  g1.n n_rows, g1.s cents_sum FROM d1, g1
      |UNION ALL
      |SELECT 'spec2_by_priority', d2.g, 1, g2.n, g2.s FROM d2, g2
      |UNION ALL
      |SELECT 'total', d1.g + d2.g, 2, g1.n + g2.n, g1.s + g2.s
      |FROM d1, d2, g1, g2
      |ORDER BY spec""".stripMargin

  /** l10 — DELETION VECTORS (merge-on-read position deletes): the
    * Delta/Iceberg-v2 mechanism that makes row-level deletes cheap at
    * 100 TB — instead of rewriting a 1 GB file to drop 100 rows, a
    * commit appends a tiny (file_id, pos) delete-vector table and every
    * reader anti-joins it; data files are IMMUTABLE until a compaction
    * chooses to apply the vectors. Staged here deterministically:
    * orders land as 4 position-stamped file groups (file_id = key mod
    * 4, pos = rank within group), a delete commit targets keys ≡ 0
    * (mod 7) as pure (file_id, pos) pairs — the emitted `files_changed`
    * row proves ZERO data files were touched — and a partial compaction
    * then applies group 0's vectors (rewriting exactly that group,
    * dropping its DV entries) with the merge-on-read read-back
    * identical before and after: apply is a physical-layout decision,
    * never a semantic one.
    *
    * Scale shape: the DV anti-join is (file_id, pos)-keyed — at cluster
    * scale the DV side is bloom/broadcast-sized per file group and the
    * scan pays one hash probe per row; compaction is per-file-group and
    * embarrassingly parallel.
    */
  def l10DeletionVectors(spark: SparkSession, dir: String): DataFrame = {
    val scratch = graft.util.Scratch.dir("l10_dv_")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("file_id")).orderBy(col("k"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey").as("k"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .withColumn("file_id", pmod(col("k"), lit(4)).cast("int"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .write.partitionBy("file_id").mode("overwrite").parquet(s"$scratch/data")
    def files(): Map[String, Set[String]] =
      (0 to 3).map(g => s"file_id=$g" -> Lake.files(s"$scratch/data/file_id=$g").toSet).toMap
    val base = spark.read.parquet(s"$scratch/data")
    val before = files()
    // DELETE COMMIT: keys ≡ 0 (mod 7) become (file_id, pos) pairs only
    base.filter(col("k") % 7 === 0).select(col("file_id"), col("pos"))
      .write.mode("overwrite").parquet(s"$scratch/dv")
    val afterDelete = files()
    def live(dataPath: String, dvLive: DataFrame): DataFrame =
      spark.read.parquet(dataPath)
        .join(dvLive, Seq("file_id", "pos"), "left_anti")
    val dv = spark.read.parquet(s"$scratch/dv")
    val mor = live(s"$scratch/data", dv)
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s")).head()
    // PARTIAL COMPACTION: apply group 0's vectors — rewrite exactly that
    // group, drop its DV entries; groups 1-3 keep merge-on-read
    val g0 = live(s"$scratch/data", dv).filter(col("file_id") === 0)
      .select(col("k"), col("cents"), col("pos"))
    g0.write.mode("overwrite").parquet(s"$scratch/data2_g0")
    val dvRest = dv.filter(col("file_id") =!= 0)
    val compacted = spark.read.parquet(s"$scratch/data2_g0")
      .select(col("k"), col("cents"))
      .unionByName(live(s"$scratch/data", dvRest)
        .filter(col("file_id") =!= 0).select(col("k"), col("cents")))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s")).head()
    val nBase = base.count()
    // both DV tallies in ONE metadata-sized job (the commit row's full
    // count and the post-compaction remainder) — three driver-side
    // counts here were a third of l10's ~10-job wall at sf0.1
    val dvCounts = dv.agg(count(lit(1)).as("n"),
      count(when(col("file_id") =!= 0, 1)).as("n_rest")).head()
    import spark.implicits._
    Seq(
      ("1_delete_commit", nBase, dvCounts.getLong(0), mor.getLong(0), mor.getLong(1),
        (0 to 3).count(g => before(s"file_id=$g") != afterDelete(s"file_id=$g")).toLong),
      ("2_partial_compact", nBase, dvCounts.getLong(1), compacted.getLong(0),
        compacted.getLong(1), 1L))
      .toDF("step", "n_base", "n_dv", "n_live", "live_cents", "files_changed")
      .orderBy(col("step"))
  }

  private val l10Sql =
    """WITH o AS (
      |  SELECT o_orderkey k, CAST(round(o_totalprice * 100) AS BIGINT) cents
      |  FROM orders),
      |liv AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) n, CAST(SUM(cents) AS BIGINT) s
      |  FROM o WHERE k % 7 <> 0),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) n FROM o),
      |dels AS (SELECT CAST(COUNT(*) AS BIGINT) n FROM o WHERE k % 7 = 0),
      |dels_rest AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) n FROM o
      |  WHERE k % 7 = 0 AND k % 4 <> 0)
      |SELECT '1_delete_commit' step, tot.n n_base, dels.n n_dv,
      |  liv.n n_live, liv.s live_cents, CAST(0 AS BIGINT) files_changed
      |FROM tot, dels, liv
      |UNION ALL
      |SELECT '2_partial_compact', tot.n, dels_rest.n, liv.n, liv.s, 1
      |FROM tot, dels_rest, liv
      |ORDER BY step""".stripMargin

  /** l06 — retraction-aware incremental aggregate refresh: the matview
    * maintenance problem [[graft.operators.Maintenance.a33IncrementalAgg]]
    * deliberately avoids. a33's append-only merge works because
    * COUNT/SUM/MIN/MAX are monoids under INSERTS; once a CDC delta
    * carries DELETES, count/sum stay algebraic (they form groups — just
    * subtract) but MIN/MAX do not: deleting a non-extreme row cannot
    * move them, deleting the stored extreme might. l06 applies exactly
    * that classification per key: every affected key's count/sum is
    * refreshed from partials alone, and only keys where a deleted value
    * EQUALS the stored min or max re-scan their post-CDC rows (a
    * targeted semi-join — at 100 TB the rescan set is the handful of
    * keys whose extreme died, never the fact table).
    *
    * The CDC delta derives deterministically from orders (pk-keyed,
    * the st12 convention): deletes at orderkey ≡ 0 (mod 101), fresh
    * inserts at ≡ 0 (mod 97) with max(key)+1-offset ids (in-plan, the
    * d04 convention), updates at ≡ 0 (mod 89) as delete+reinsert with a
    * bumped price. Output rows are the AFFECTED keys only, each tagged
    * with its refresh class — the driver oracle rebuilds the same state
    * from scratch, so equality IS the incremental-==-full proof, and
    * the suite asserts the rescan set is a strict minority.
    */
  /** One retractable-refresh step as a reusable library call: given the
    * current stored state (cust, n, s, mn, mx), the current maintained
    * base rows (k, cust, cents), and a CDC micro-batch split into
    * deletes/inserts, return (new state, new base). Exactly the
    * [[l06RetractableRefresh]] classification — count/sum algebraic,
    * min/max rescanned only for keys whose stored extreme was deleted,
    * the rescan reading the MAINTAINED base (never a full-history
    * rescan) — packaged so a streaming job can fold CDC micro-batches
    * into a materialized view via foreachBatch (StreamingMatviewSpec
    * proves N chained steps equal the from-scratch aggregate of the
    * final base).
    */
  private[graft] def applyRetractableDelta(spark: SparkSession,
      state: DataFrame, base: DataFrame,
      dels: DataFrame, ins: DataFrame): (DataFrame, DataFrame) = {
    val delta = dels.select(col("cust"), col("cents"), lit(-1L).as("sgn"))
      .unionAll(ins.select(col("cust"), col("cents"), lit(1L).as("sgn")))
      .groupBy(col("cust"))
      .agg(sum(col("sgn")).as("dn"),
           sum(col("sgn") * col("cents")).as("ds"),
           min(when(col("sgn") === 1, col("cents"))).as("ins_mn"),
           max(when(col("sgn") === 1, col("cents"))).as("ins_mx"))
    val rescanKeys = dels.join(state, Seq("cust"))
      .filter(col("cents") === col("mn") || col("cents") === col("mx"))
      .select(col("cust")).distinct()
    val newBase = base
      .join(dels.select(col("k")), Seq("k"), "left_anti")
      .unionAll(ins.select(col("k"), col("cust"), col("cents")))
    val rescanMM = newBase.join(rescanKeys, Seq("cust"), "left_semi")
      .groupBy(col("cust"))
      .agg(min(col("cents")).as("r_mn"), max(col("cents")).as("r_mx"))
    val refreshed = delta.join(state, Seq("cust"), "left")
      .join(rescanKeys.withColumn("needs_rescan", lit(true)), Seq("cust"), "left")
      .join(rescanMM, Seq("cust"), "left")
      .withColumn("n_new", coalesce(col("n"), lit(0L)) + col("dn"))
      .withColumn("s_new", coalesce(col("s"), lit(0L)) + col("ds"))
      .filter(col("n_new") > 0)
      .select(col("cust"), col("n_new").as("n"), col("s_new").as("s"),
        when(col("needs_rescan"), col("r_mn"))
          .otherwise(least(col("mn"), col("ins_mn"))).as("mn"),
        when(col("needs_rescan"), col("r_mx"))
          .otherwise(greatest(col("mx"), col("ins_mx"))).as("mx"))
    val untouched = state.join(delta.select(col("cust")), Seq("cust"), "left_anti")
    (untouched.select(col("cust"), col("n"), col("s"), col("mn"), col("mx"))
       .unionAll(refreshed),
     newBase.select(col("k"), col("cust"), col("cents")))
  }

  def l06RetractableRefresh(spark: SparkSession, dir: String): DataFrame =
    retractableRefresh(spark,
      Tables.orders(spark, dir)
        .select(col("o_orderkey").as("k"), col("o_custkey").as("cust"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents")))

  private[graft] def retractableRefresh(spark: SparkSession,
                                        ord: DataFrame): DataFrame = {
    // stored per-key state: written, read back (the a33 lifecycle)
    val stateDir = graft.util.Scratch.dir("graft_l06_state_")
    ord.groupBy(col("cust"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
           min(col("cents")).as("mn"), max(col("cents")).as("mx"))
      .write.mode("overwrite").parquet(stateDir)
    val state = spark.read.parquet(stateDir)
    val mk = ord.agg((max(col("k")) + 1).as("mk"))
    val dels = ord.filter(col("k") % 101 === 0 || col("k") % 89 === 0)
    val ins = ord.filter(col("k") % 97 === 0).crossJoin(broadcast(mk))
      .select((col("k") + col("mk")).as("k"), col("cust"),
              (col("cents") + 731).as("cents"))
      .unionAll(ord.filter(col("k") % 89 === 0)
        .select(col("k"), col("cust"), (col("cents") + 500).as("cents")))
    // algebraic delta partials per key
    val delta = dels.select(col("cust"), col("cents"), lit(-1L).as("sgn"))
      .unionAll(ins.select(col("cust"), col("cents"), lit(1L).as("sgn")))
      .groupBy(col("cust"))
      .agg(sum(col("sgn")).as("dn"),
           sum(col("sgn") * col("cents")).as("ds"),
           min(when(col("sgn") === 1, col("cents"))).as("ins_mn"),
           max(when(col("sgn") === 1, col("cents"))).as("ins_mx"))
    // a key re-scans iff some deleted value equals its stored extreme
    val rescanKeys = dels.join(state, Seq("cust"))
      .filter(col("cents") === col("mn") || col("cents") === col("mx"))
      .select(col("cust")).distinct()
    val joined = delta.join(state, Seq("cust"), "left")
      .join(rescanKeys.withColumn("needs_rescan", lit(true)), Seq("cust"), "left")
      .withColumn("n_new", coalesce(col("n"), lit(0L)) + col("dn"))
      .withColumn("s_new", coalesce(col("s"), lit(0L)) + col("ds"))
    // targeted min/max recompute over the post-CDC rows of ONLY the
    // rescan keys: base minus deleted keys, plus inserts, semi-joined
    val post = ord.join(dels.select(col("k")), Seq("k"), "left_anti")
      .unionAll(ins)
    val rescanMM = post.join(rescanKeys, Seq("cust"), "left_semi")
      .groupBy(col("cust"))
      .agg(min(col("cents")).as("r_mn"), max(col("cents")).as("r_mx"))
    joined.join(rescanMM, Seq("cust"), "left")
      .select(col("cust").as("o_custkey"), col("n_new").as("n_orders"),
        when(col("n_new") === 0, lit(null).cast(LongType))
          .otherwise(col("s_new")).as("sum_cents"),
        when(col("n_new") === 0, lit(null).cast(LongType))
          .when(col("needs_rescan"), col("r_mn"))
          // Spark least/greatest IGNORE nulls: absent state or absent
          // inserts fall through to the other operand (the F8 rule)
          .otherwise(least(col("mn"), col("ins_mn"))).as("min_cents"),
        when(col("n_new") === 0, lit(null).cast(LongType))
          .when(col("needs_rescan"), col("r_mx"))
          .otherwise(greatest(col("mx"), col("ins_mx"))).as("max_cents"),
        when(col("n_new") === 0, lit("removed"))
          .when(col("needs_rescan"), lit("rescan"))
          .otherwise(lit("algebraic")).as("refresh_class"))
      .orderBy(col("o_custkey"))
  }

  private val l06Sql =
    """WITH c AS (
      |  SELECT o_orderkey k, o_custkey cust,
      |    CAST(round(o_totalprice * 100) AS BIGINT) cents
      |  FROM orders),
      |mk AS (SELECT MAX(k) + 1 mk FROM c),
      |dels AS (SELECT k, cust, cents FROM c WHERE k % 101 = 0 OR k % 89 = 0),
      |ins AS (
      |  SELECT k + mk.mk k, cust, cents + 731 cents FROM c, mk WHERE k % 97 = 0
      |  UNION ALL SELECT k, cust, cents + 500 FROM c WHERE k % 89 = 0),
      |base AS (SELECT cust, CAST(COUNT(*) AS BIGINT) n, CAST(SUM(cents) AS BIGINT) s,
      |                MIN(cents) mn, MAX(cents) mx
      |         FROM c GROUP BY 1),
      |affected AS (
      |  SELECT DISTINCT cust FROM (
      |    SELECT cust FROM dels UNION ALL SELECT cust FROM ins)),
      |post AS (
      |  SELECT cust, cents FROM c WHERE k NOT IN (SELECT k FROM dels)
      |  UNION ALL SELECT cust, cents FROM ins),
      |fin AS (
      |  SELECT cust, CAST(COUNT(*) AS BIGINT) n, CAST(SUM(cents) AS BIGINT) s,
      |         MIN(cents) mn, MAX(cents) mx
      |  FROM post GROUP BY 1),
      |resc AS (
      |  SELECT DISTINCT d.cust FROM dels d JOIN base b ON d.cust = b.cust
      |  WHERE d.cents = b.mn OR d.cents = b.mx)
      |SELECT a.cust AS o_custkey,
      |  COALESCE(fin.n, 0) AS n_orders,
      |  fin.s AS sum_cents, fin.mn AS min_cents, fin.mx AS max_cents,
      |  CASE WHEN fin.cust IS NULL THEN 'removed'
      |       WHEN a.cust IN (SELECT cust FROM resc) THEN 'rescan'
      |       ELSE 'algebraic' END AS refresh_class
      |FROM affected a LEFT JOIN fin ON a.cust = fin.cust
      |ORDER BY o_custkey""".stripMargin

  /** l11 — snapshot diff / change-data-feed derivation: given two
    * manifest versions of the same table, reconstruct the row-level
    * change log (inserts, deletes, update pre/post images) WITHOUT any
    * change log having been written — the primitive behind Delta/Iceberg
    * CDF reads, incremental downstream refresh, and replication. The
    * table: order keys+cents, v1 in two file groups (even keys / odd
    * keys, 4 files each); v2 REUSES the even-key files untouched and
    * rewrites only the odd-key group (deletes k≡5 mod 10, bumps cents
    * +1000 on k≡7 mod 14, appends the odd k≡0 mod 3 keys as inserts).
    *
    * The diff is computed from the MANIFEST DELTA ONLY: files present in
    * both versions contribute identical rows to both sides and are never
    * opened — the engine reads v1∖v2 and v2∖v1 file sets (8 of 12
    * distinct files here, and at 100 TB the reused fraction is ~all of
    * the table), full-outer-joins on the key, and classifies each row:
    * key only in v1 → delete, only in v2 → insert, both with different
    * payload → update_pre/update_post, both equal → unchanged_scanned
    * (rows that share a REWRITTEN file with a change — the accounting
    * row that proves the scan was complete). File counts ride along as
    * the metadata-reuse proof: files_shared = 4 even-key files.
    *
    * Scale shape: one anti-diff over two manifest string sets (driver,
    * metadata-only), one full outer join keyed on the pk over only the
    * rewritten file groups, classification and sums partial-aggregate.
    */
  def l11SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val table = graft.util.Scratch.dir("l11_cdf_")
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("k"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    // v1: even-key group A + odd-key group B (4 files each)
    val fA = Lake.append(base.filter(col("k") % 3 =!= 0 && col("k") % 2 === 0)
      .repartition(4), table, "data").toSet
    val fB = Lake.append(base.filter(col("k") % 3 =!= 0 && col("k") % 2 === 1)
      .repartition(4), table, "data").toSet
    val manifest1 = fA ++ fB
    // v2: reuse A verbatim; rewrite B with deletes+updates, plus inserts
    val bPrime = base
      .filter(col("k") % 3 =!= 0 && col("k") % 2 === 1 && col("k") % 10 =!= 5)
      .withColumn("cents",
        when(col("k") % 14 === 7, col("cents") + 1000L).otherwise(col("cents")))
      .unionByName(base.filter(col("k") % 3 === 0 && col("k") % 2 === 1))
    val fB2 = Lake.append(bPrime.repartition(4), table, "data").toSet
    val manifest2 = fA ++ fB2
    // The oracle pins files_v1/v2/shared/scanned to the 8/8/4/8 layout;
    // Spark writes NO file for an empty partition, so a scale factor
    // where a repartition(4) group has <4 rows would silently diverge
    // from those constants — fail loudly instead.
    require(fA.size == 4 && fB.size == 4 && fB2.size == 4,
      s"l11 file layout drifted from the oracle's 4+4+4 contract: " +
        s"|A|=${fA.size} |B|=${fB.size} |B'|=${fB2.size} — a " +
        s"repartition(4) group wrote fewer files (empty partitions?)")
    // CDF: open ONLY the manifest delta
    val v1only = Lake.paths(table, (manifest1 -- manifest2).toSeq.sorted)
    val v2only = Lake.paths(table, (manifest2 -- manifest1).toSeq.sorted)
    val pre = spark.read.parquet(v1only: _*)
      .select(col("k"), col("cents").as("cents_pre"))
    val post = spark.read.parquet(v2only: _*)
      .select(col("k"), col("cents").as("cents_post"))
    val classified = pre.join(post, Seq("k"), "full_outer")
      .withColumn("change_type",
        when(col("cents_post").isNull, lit("delete"))
          .when(col("cents_pre").isNull, lit("insert"))
          .when(col("cents_pre") =!= col("cents_post"), lit("update"))
          .otherwise(lit("unchanged_scanned")))
    val images = classified
      .select(col("k"),
        when(col("change_type") === "update", lit("update_pre"))
          .otherwise(col("change_type")).as("change_type"),
        coalesce(col("cents_pre"), col("cents_post")).as("cents"))
      .unionByName(classified.filter(col("change_type") === "update")
        .select(col("k"), lit("update_post").as("change_type"),
          col("cents_post").as("cents")))
    images.groupBy(col("change_type"))
      .agg(count(lit(1)).as("n_rows"), sum(col("k")).as("key_sum"),
        sum(col("cents")).as("cents_sum"))
      .select(col("change_type"), col("n_rows"), col("key_sum"), col("cents_sum"),
        lit(manifest1.size.toLong).as("files_v1"),
        lit(manifest2.size.toLong).as("files_v2"),
        lit((manifest1 & manifest2).size.toLong).as("files_shared"),
        lit((v1only.size + v2only.size).toLong).as("files_scanned"))
      .orderBy(col("change_type"))
  }

  private val l11Sql =
    """WITH base AS (
      |  SELECT o_orderkey k, CAST(round(o_totalprice * 100) AS BIGINT) cents
      |  FROM orders),
      |rows_ AS (
      |  SELECT k, 'delete' change_type, cents
      |  FROM base WHERE k % 3 <> 0 AND k % 10 = 5
      |  UNION ALL
      |  SELECT k, 'insert', cents FROM base WHERE k % 3 = 0 AND k % 2 = 1
      |  UNION ALL
      |  SELECT k, 'update_pre', cents
      |  FROM base WHERE k % 3 <> 0 AND k % 14 = 7 AND k % 10 <> 5
      |  UNION ALL
      |  SELECT k, 'update_post', cents + 1000
      |  FROM base WHERE k % 3 <> 0 AND k % 14 = 7 AND k % 10 <> 5
      |  UNION ALL
      |  SELECT k, 'unchanged_scanned', cents
      |  FROM base WHERE k % 3 <> 0 AND k % 2 = 1 AND k % 10 <> 5 AND k % 14 <> 7)
      |SELECT change_type, CAST(COUNT(*) AS BIGINT) n_rows,
      |  CAST(SUM(k) AS BIGINT) key_sum, CAST(SUM(cents) AS BIGINT) cents_sum,
      |  CAST(8 AS BIGINT) files_v1, CAST(8 AS BIGINT) files_v2,
      |  CAST(4 AS BIGINT) files_shared, CAST(8 AS BIGINT) files_scanned
      |FROM rows_ GROUP BY change_type
      |ORDER BY change_type""".stripMargin

  /** l12 — ATOMIC multi-table commit: a fact table and its derived
    * summary published under ONE manifest flip, so no reader can ever
    * observe the fact side updated without its summary (the
    * multi-table-transaction guarantee Iceberg/Nessie catalogs exist
    * for; l07/l08 are the single-table forms). Three attempted commits:
    * v1 stages batch-1 fact + its true summary — audits clean,
    * publishes BOTH; v2 stages batch-2 fact with a PLANTED corrupt
    * summary (one status row's cents off by 1) — the cross-table audit
    * (summary == re-aggregated staged∪published facts) fails and
    * NEITHER table advances, the staged files of BOTH tables stay
    * orphans; v3 re-stages batch-2 with the correct summary and
    * publishes. Attempt v publishes version v of one
    * [[graft.util.Lake]] manifest with a `fact|` and a `summary|`
    * section, and each emitted row reads both tables back THROUGH it:
    * v2's row equals v1's row on every fact AND summary column — that
    * equality is the atomicity proof.
    *
    * Scale shape: audits read only staged files plus the
    * status-bounded published summary; publishes are metadata-only
    * (two manifest sections flipped in one file write); the
    * consistency re-check per version is one bounded aggregate join.
    */
  def l12AtomicMultiTable(spark: SparkSession, dir: String): DataFrame = {
    val table = graft.util.Scratch.dir("l12_txn_")
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val batch1 = base.filter(col("k") % 2 === 0)
    val batch2 = base.filter(col("k") % 2 === 1)
    def readTable(paths: Seq[String]): DataFrame =
      if (paths.isEmpty)
        spark.range(0).select(col("id").as("status").cast("string"),
          col("id").as("cents"))
      else spark.read.parquet(paths: _*)
    def attempt(v: Int, fact: DataFrame, corruptSummary: Boolean): (Int, Long, Long, Long, Boolean, Long) = {
      val published = Lake.prior(table, v)
      val summary = fact.groupBy(col("status"))
        .agg(sum(col("cents")).as("cents"))
        .withColumn("cents",
          if (corruptSummary) col("cents") + when(col("status") === "F", 1L).otherwise(0L)
          else col("cents"))
      // the two staged writes are independent of each other (the txn
      // only needs both staged before the audit; see graft.util.Overlap)
      val (stagedF, stagedS) = Overlap(spark) { o =>
        val f = o.fork(Lake.append(fact.repartition(2), table, "fact"))
        val s = Lake.append(summary.coalesce(1), table, "summary")
        (f.join(), s)
      }
      // cross-table audit: staged summary must equal the re-aggregated
      // union of published+staged facts MINUS the published summary
      val factAll = readTable(Lake.paths(table, published, "fact") ++ Lake.paths(table, stagedF))
        .groupBy(col("status")).agg(sum(col("cents")).as("expect"))
      val sumAll = readTable(Lake.paths(table, published, "summary") ++ Lake.paths(table, stagedS))
        .groupBy(col("status")).agg(sum(col("cents")).as("got"))
      val bad = factAll.join(sumAll, Seq("status"), "full_outer")
        .filter(coalesce(col("expect"), lit(0L)) =!= coalesce(col("got"), lit(0L)))
        .count()
      val publish = bad == 0
      Lake.publish(table, v,
        if (publish) published ++ stagedF.map("fact|" + _) ++ stagedS.map("summary|" + _)
        else published)
      // read back THROUGH the manifest — both 1-row aggregates in ONE
      // job (a cross join of two scalar aggs evaluates both subtrees in
      // the same collect), halving the per-attempt read-back job count
      val lines = Lake.read(table, v)
      val fs = readTable(Lake.paths(table, lines, "fact"))
        .agg(count(lit(1)).as("n"), coalesce(sum(col("cents")), lit(0L)).as("s"))
        .crossJoin(readTable(Lake.paths(table, lines, "summary"))
          .agg(coalesce(sum(col("cents")), lit(0L)).as("s2"))).head()
      (v, fs.getLong(0), fs.getLong(1), fs.getLong(2), publish, lines.size.toLong)
    }
    val out = Seq(
      attempt(1, batch1, corruptSummary = false),
      attempt(2, batch2, corruptSummary = true),
      attempt(3, batch2, corruptSummary = false))
    import spark.implicits._
    out.toDF("version", "n_fact", "fact_cents", "summary_cents",
        "published", "n_files")
      .select(col("version").cast("int").as("version"), col("n_fact"),
        col("fact_cents"), col("summary_cents"), col("published"),
        (col("fact_cents") === col("summary_cents")).as("consistent"))
      .orderBy(col("version"))
  }

  private val l12Sql =
    """WITH base AS (
      |  SELECT o_orderkey k, CAST(round(o_totalprice * 100) AS BIGINT) cents
      |  FROM orders),
      |b1 AS (SELECT CAST(COUNT(*) AS BIGINT) n, CAST(SUM(cents) AS BIGINT) s
      |       FROM base WHERE k % 2 = 0),
      |ball AS (SELECT CAST(COUNT(*) AS BIGINT) n, CAST(SUM(cents) AS BIGINT) s
      |         FROM base)
      |SELECT CAST(1 AS INTEGER) "version", b1.n n_fact, b1.s fact_cents,
      |  b1.s summary_cents, TRUE published, TRUE consistent FROM b1
      |UNION ALL
      |SELECT 2, b1.n, b1.s, b1.s, FALSE, TRUE FROM b1
      |UNION ALL
      |SELECT 3, ball.n, ball.s, ball.s, TRUE, TRUE FROM ball
      |ORDER BY "version"""".stripMargin

  /** l13 — manifest zone-map pruning on a NON-partition key: the
    * Iceberg/Delta file-skipping story end to end, materialized.
    * [[l03SkippingAudit]] SIMULATES envelope tightness and [[Formats]]'
    * io11 prunes on the PARTITION column via directory names; this op
    * prunes on a key the directory layout never encodes — per-file
    * min/max of price CENTS recorded in a manifest table — and actually
    * reads only the surviving files.
    *
    * Lifecycle: orders are clustered into 8 equal-width cents bins
    * (extent-derived, the a31 broadcast rule) and staged one file per
    * bin; a manifest parquet records (bin, min_cents, max_cents, rows);
    * a band predicate [A, B) (the 40%–55% slice of the extent, exact
    * integer arithmetic) is planned AGAINST THE MANIFEST ONLY — files
    * whose envelope misses the band are never opened — and the
    * surviving files are read with the residual filter. Emitted: files
    * in the table vs files read (the skip ratio), rows scanned vs rows
    * matched (residual selectivity), and the matched sum — which must
    * equal the full-scan answer, the correctness half of skipping.
    *
    * Scale shape: the manifest is metadata-plane (8 rows here; one row
    * per file at 100 TB — millions of rows, still a broadcast-scale
    * table that never touches the data plane); the data read is
    * partition-pruned by the hive layout, residual-filtered at the
    * scan. The bounded manifest collect mirrors a table format's
    * planning step, not a data-plane action.
    */
  def l13ManifestPruning(spark: SparkSession, dir: String): DataFrame = {
    val scratch = graft.util.Scratch.dir("l13_zonemap_")
    val cents = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("k"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val ext = cents.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
    val binned = cents.crossJoin(broadcast(ext))
      .withColumn("g", expr(
        "CAST(least(CAST(7 AS BIGINT), ((cents - lo) * 8) div (hi - lo + 1)) AS INT)"))
      .select(col("k"), col("cents"), col("g"))
    binned.repartition(8, col("g"))
      .write.mode("overwrite").partitionBy("g").parquet(s"$scratch/data")
    // manifest build: one row per bin file (metadata plane)
    spark.read.parquet(s"$scratch/data")
      .groupBy(col("g"))
      .agg(min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"),
        count(lit(1)).as("n_rows"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$scratch/manifest")
    // band predicate: [lo + range*8 div 20, lo + range*11 div 20)
    val extRow = ext
      .select(expr("lo + ((hi - lo + 1) * 8) div 20"),
        expr("lo + ((hi - lo + 1) * 11) div 20")).head()
    val (a, b) = (extRow.getLong(0), extRow.getLong(1))
    val manifest = spark.read.parquet(s"$scratch/manifest")
    val planned = manifest
      .filter(col("min_cents") < b && col("max_cents") >= a)
      .select(col("g"), col("n_rows")).collect()
    val selected = planned.map(_.getInt(0)).toSeq
    val rowsScanned = planned.map(_.getLong(1)).sum
    val filesTotal = manifest.count()
    val matched = spark.read.parquet(s"$scratch/data")
      .filter(col("g").isin(selected: _*))
      .filter(col("cents") >= a && col("cents") < b)
      .agg(count(lit(1)).as("rows_matched"), sum(col("cents")).as("sum_cents"))
    matched.select(
      lit(filesTotal).as("files_total"),
      lit(selected.size.toLong).as("files_read"),
      lit(rowsScanned).as("rows_scanned"),
      col("rows_matched"), col("sum_cents"))
  }

  private val l13Sql =
    """WITH c AS (
      |  SELECT o_orderkey k, CAST(round(o_totalprice * 100) AS BIGINT) cents
      |  FROM orders),
      |e AS (SELECT CAST(MIN(cents) AS BIGINT) lo, CAST(MAX(cents) AS BIGINT) hi
      |      FROM c),
      |g AS (
      |  SELECT k, cents,
      |    CAST(least(7, ((cents - e.lo) * 8) // (e.hi - e.lo + 1)) AS INTEGER) g
      |  FROM c, e),
      |band AS (
      |  SELECT e.lo + ((e.hi - e.lo + 1) * 8) // 20 a,
      |         e.lo + ((e.hi - e.lo + 1) * 11) // 20 b
      |  FROM e),
      |m AS (
      |  SELECT g, CAST(MIN(cents) AS BIGINT) min_cents,
      |    CAST(MAX(cents) AS BIGINT) max_cents,
      |    CAST(COUNT(*) AS BIGINT) n_rows
      |  FROM g GROUP BY 1),
      |sel AS (
      |  SELECT m.g, m.n_rows FROM m, band
      |  WHERE m.min_cents < band.b AND m.max_cents >= band.a)
      |SELECT
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM m) files_total,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM sel) files_read,
      |  (SELECT CAST(SUM(n_rows) AS BIGINT) FROM sel) rows_scanned,
      |  CAST(COUNT(*) AS BIGINT) rows_matched,
      |  CAST(SUM(cents) AS BIGINT) sum_cents
      |FROM g, band
      |WHERE g.g IN (SELECT g FROM sel) AND cents >= band.a AND cents < band.b
      |""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("l13_manifest_pruning",
      "manifest zone-map file skipping on a non-partition key: plan from metadata, read only surviving files, full-scan-equal answer",
      l13ManifestPruning, Some(l13Sql)),
    QueryDef("l12_atomic_multi_table",
      "atomic two-table commit under one manifest: corrupt-summary batch leaves BOTH tables unchanged (read-back proof)",
      l12AtomicMultiTable, Some(l12Sql)),
    QueryDef("l11_snapshot_diff",
      "change-data-feed from two manifest versions: insert/delete/update images scanned from the manifest delta only",
      l11SnapshotDiff, Some(l11Sql)),
    QueryDef("l10_deletion_vectors",
      "merge-on-read position deletes: DV commit touches zero data files, partial compaction applies them",
      l10DeletionVectors, Some(l10Sql)),
    QueryDef("l09_partition_evolution",
      "partition-spec evolution: each generation prunes under its own spec, history never rewritten",
      l09PartitionEvolution, Some(l09Sql)),
    QueryDef("l08_write_audit_publish",
      "write-audit-publish staged commits: contract-failing batches never reach the manifest",
      l08WriteAuditPublish, Some(l08Sql)),
    QueryDef("l07_time_travel",
      "manifest-versioned snapshot reads: append/compact/pin, isolation proven by aggregates",
      l07TimeTravel, Some(l07Sql)),
    QueryDef("l06_retractable_refresh",
      "delete-aware matview refresh: algebraic count/sum, rescan only keys whose extreme died",
      l06RetractableRefresh, Some(l06Sql)),
    QueryDef("l05_retention_vacuum",
      "snapshot vacuum lifecycle: orphans = listing minus manifest, data conserved",
      l05RetentionVacuum, Some(l05Sql)),
    QueryDef("l04_compaction_exec",
      "small-file compaction lifecycle: 64-file debris -> 4 files, rows conserved",
      l04CompactionExec, Some(l04Sql)),
    QueryDef("l03_skipping_audit",
      "file-skipping audit: clustered vs arrival envelopes x 12 probes",
      l03SkippingAudit(_, _), Some(l03Sql)),
    QueryDef("a31_histogram",
      "exact 20-bucket equi-width histogram (1-row extent broadcast)",
      a31Histogram(_, _), Some(a31Sql)),
    QueryDef("l01_zorder",
      "Morton-code tile audit: per-tile envelopes for 2-dim pruning",
      l01Zorder, Some(l01Sql)),
    QueryDef("a24_skew_stats",
      "key-skew diagnostic: heavy hitters + exact skew ratio",
      a24SkewStats, Some(a24Sql)),
    QueryDef("l02_compaction_plan",
      "small-file compaction bins via distributed prefix sum",
      l02CompactionPlan(_, _), Some(l02Sql))
  )
}
