package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QueryDef, Tables}
import graft.util.Lake

/** Interchange-format sources/sinks beyond parquet: JSON-lines and ORC
  * round trips, each proven by writing a table out, reading it back, and
  * hash-matching an aggregate against the DuckDB oracle computed from
  * the ORIGINAL parquet — i.e. the round trip must be lossless for the
  * columns it carries.
  *
  * Scale rules baked in:
  *  - schema-on-read is always EXPLICIT (`.schema(...)`) for schemaless
  *    formats — inference is an extra full scan of the data lake before
  *    the real job starts, and a sampled inference can mistype columns;
  *  - timestamps cross format boundaries as epoch-micros int64 (the
  *    NOTES rule) — JSON has no timestamp type and ORC's is
  *    timezone-rebased, so integers are the only representation that is
  *    bit-stable across engines and sessions;
  *  - writes are partitioned where a downstream read filters on the
  *    partition key, so the read-back plan prunes directories instead of
  *    listing the world (asserted in FormatsSpec via the plan's
  *    PartitionFilters).
  */
object Formats {

  private def scratch(prefix: String): String = graft.util.Scratch.dir(prefix)

  /** io01 — JSON-lines round trip with a partitioned layout: orders ->
    * json (partitioned by status) -> read back (explicit schema,
    * partition-pruned to status 'F') -> per-priority aggregate. The
    * oracle computes the same aggregate straight from parquet, so any
    * loss in the json sink/source (precision, nulls, partition-column
    * restore) flips the hash.
    */
  def io01JsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch("graft_io01_json_")
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_orderpriority"), col("o_totalprice"),
        // o_orderdate is TIMESTAMP_NTZ in the parquet; the cast to LTZ is
        // exact under the UTC session tz (same convention f06 relies on)
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("o_date_us"))
      .write.mode("overwrite").partitionBy("o_orderstatus").json(out)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderpriority", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_date_us", LongType),
      StructField("o_orderstatus", StringType)))
    spark.read.schema(schema).json(out)
      .filter(col("o_orderstatus") === "F") // directory pruning, not a scan filter
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_custs"),
        expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)").as("sum_price"),
        min(col("o_date_us")).as("min_date_us"),
        max(col("o_date_us")).as("max_date_us"))
      .orderBy(col("o_orderpriority"))
  }

  private val io01Sql =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  MIN(epoch_us(o_orderdate)) AS min_date_us,
      |  MAX(epoch_us(o_orderdate)) AS max_date_us
      |FROM orders WHERE o_orderstatus = 'F'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** io02 — ORC round trip: lineitem -> ORC -> read back with a
    * quantity predicate that the native ORC reader pushes down
    * (min/max stripe stats skip whole stripes at scale) -> grouped
    * aggregate. Timestamps travel as epoch-micros (see object doc).
    */
  def io02OrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch("graft_io02_orc_")
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_returnflag"), col("l_linestatus"),
        expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))").as("l_ship_us"))
      .write.mode("overwrite").orc(out)
    spark.read.orc(out) // ORC is self-describing; no inference scan needed
      .filter(col("l_quantity") >= 25)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        expr("CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)").as("sum_qty"),
        expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)").as("sum_price"),
        min(col("l_ship_us")).as("min_ship_us"),
        max(col("l_ship_us")).as("max_ship_us"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  private val io02Sql =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  MIN(epoch_us(l_shipdate)) AS min_ship_us,
      |  MAX(epoch_us(l_shipdate)) AS max_ship_us
      |FROM lineitem WHERE l_quantity >= 25
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** io03 — schema evolution across parquet batches: an early batch
    * wrote three columns, a later batch added `o_orderpriority`; a
    * `mergeSchema` read reconciles them (old rows surface NULL for the
    * new column) and downstream code null-handles explicitly. This is
    * the append-only data-lake reality — producers add columns without
    * rewriting history. mergeSchema is opt-in because it footer-scans
    * every file: at 100 TB, pin the merged schema in a catalog and pass
    * it explicitly; the read below models the discovery step.
    */
  def io03SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch("graft_io03_evo_")
    val orders = Tables.orders(spark, dir)
    orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$out/batch=1")
    orders.filter(col("o_orderkey") % 2 =!= 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$out/batch=2")
    spark.read.option("mergeSchema", "true").parquet(out)
      .groupBy(coalesce(col("o_orderpriority"), lit("UNKNOWN")).as("priority"))
      .agg(count(lit(1)).as("n"),
        count(col("o_orderpriority")).as("n_with_priority"),
        expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)").as("sum_price"))
      .orderBy(col("priority"))
  }

  private val io03Sql =
    """SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'UNKNOWN' ELSE o_orderpriority END AS priority,
      |  COUNT(*) AS n,
      |  CAST(COUNT(CASE WHEN o_orderkey % 2 <> 0 THEN 1 END) AS BIGINT) AS n_with_priority,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY 1 ORDER BY priority""".stripMargin

  /** io04 — corrupt-tolerant CSV ingest: rows whose key column can't
    * parse (planted: every 97th key becomes a non-numeric token) land
    * in `_corrupt_record` under PERMISSIVE mode instead of failing the
    * job, and the query accounts for both populations. This is the
    * at-scale posture for third-party feeds: never let one bad row kill
    * a 100 TB load, never silently drop it either — count it, keep the
    * raw line, quarantine downstream (st06's topology).
    */
  def io04CorruptCsv(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val out = scratch("graft_io04_csv_")
    Tables.orders(spark, dir)
      .select(concat_ws(",",
        when(col("o_orderkey") % 97 === 0, lit("NOT_A_KEY"))
          .otherwise(col("o_orderkey").cast("string")),
        col("o_custkey"), col("o_totalprice")).as("line"))
      .write.mode("overwrite").text(out)
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("c", LongType),
      StructField("p", DoubleType), StructField("_corrupt_record", StringType)))
    val back = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(out)
    back.agg(
      count(when(col("_corrupt_record").isNull, 1)).as("n_good"),
      count(col("_corrupt_record")).as("n_corrupt"),
      expr("CAST(SUM(CASE WHEN _corrupt_record IS NULL THEN CAST(p AS DECIMAL(18,2)) END) AS DOUBLE)")
        .as("sum_good_price"),
      min(col("k")).as("min_key"), max(col("k")).as("max_key"))
  }

  private val io04Sql =
    """SELECT
      |  COUNT(CASE WHEN o_orderkey % 97 <> 0 THEN 1 END) AS n_good,
      |  CAST(COUNT(CASE WHEN o_orderkey % 97 = 0 THEN 1 END) AS BIGINT) AS n_corrupt,
      |  CAST(SUM(CASE WHEN o_orderkey % 97 <> 0
      |                THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_good_price,
      |  MIN(CASE WHEN o_orderkey % 97 <> 0 THEN o_orderkey END) AS min_key,
      |  MAX(CASE WHEN o_orderkey % 97 <> 0 THEN o_orderkey END) AS max_key
      |FROM orders""".stripMargin

  /** io05 — dynamic partition overwrite: the idempotent-backfill
    * primitive of every partitioned data lake. A day-partitioned
    * parquet table is written once; then ONE day is recomputed (a late
    * fee lands on 2024-01-15) and rewritten with
    * `partitionOverwriteMode=dynamic`, which replaces ONLY the
    * partitions present in the incoming frame — static overwrite mode
    * would truncate the whole table first, turning a one-day backfill
    * into a full rewrite (at 100 TB: the difference between touching
    * 1/30th of the data and all of it, and between an idempotent retry
    * and data loss). The read-back aggregate proves both properties:
    * untouched days match the raw table exactly; the backfilled day
    * carries the fee. The partition column round-trips through the
    * directory layout (cast back from the inferred date so the oracle
    * compares strings).
    */
  def io05PartitionOverwrite(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch("graft_io05_pq_")
    val base = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        floor(col("value") * 100).cast(LongType).as("cents"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
    base.write.mode("overwrite").partitionBy("day").parquet(out)
    base.filter(col("day") === "2024-01-15")
      .withColumn("cents", col("cents") + 7L)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(out)
    spark.read.parquet(out)
      .withColumn("day", col("day").cast(StringType))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents")).as("sum_cents"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("day"))
  }

  private val io05Sql =
    """SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)
      |    + CASE WHEN strftime(ts, '%Y-%m-%d') = '2024-01-15' THEN 7 ELSE 0 END)
      |    AS BIGINT) AS sum_cents,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** io06 — the custom `graft-lines` DataSource V2
    * ([[graft.sources.LinesDataSource]]) exercised end to end: the
    * documents table serialized as one deterministic text shard
    * (doc_id TAB text, sorted), read back through the source with an
    * offset predicate that the scan PUSHES DOWN — whole byte-range
    * chunks are pruned at planning time and the surviving chunk
    * boundary is enforced row-level, so only the shard's tail is ever
    * decoded. Offsets are byte-exact provenance; the oracle recomputes
    * them as a running sum of encoded line lengths over the same sort
    * order. FormatsSpec tortures the split-ownership rule with a prime
    * chunk size and asserts the pruning/pushdown plan.
    */
  def io06LinesSource(spark: SparkSession, dir: String): DataFrame = {
    val scratch = graft.util.Scratch.dir("graft_lines_")
    Tables.documents(spark, dir)
      .select(col("doc_id"), concat(col("doc_id").cast("string"),
        lit("\t"), col("text")).as("value"))
      .repartition(1).sortWithinPartitions(col("doc_id"))
      .select(col("value"))
      .write.mode("overwrite").text(scratch)
    spark.read.format("graft-lines")
      .option("chunkBytes", 16384)
      .load(scratch)
      .filter(col("offset") >= 100000L)
      .select(col("offset"),
        split(col("line"), "\t").getItem(0).cast(LongType).as("doc_id"),
        length(col("line")).cast(LongType).as("n_chars"),
        md5(col("line")).as("line_md5"))
      .orderBy(col("offset"))
  }

  private val io06Sql =
    """WITH l AS (
      |  SELECT doc_id, CAST(doc_id AS VARCHAR) || chr(9) || text AS line
      |  FROM documents),
      |o AS (
      |  SELECT doc_id, line,
      |    CAST(COALESCE(SUM(octet_length(encode(line)) + 1)
      |      OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      0) AS BIGINT) AS "offset"
      |  FROM l)
      |SELECT "offset", doc_id,
      |  CAST(length(line) AS BIGINT) AS n_chars,
      |  md5(line) AS line_md5
      |FROM o
      |WHERE "offset" >= 100000
      |ORDER BY "offset"""".stripMargin

  /** io07 — the graft-lines WRITE path: the corpus flows out through the
    * custom DSv2 sink's two-phase commit (per-task `_tmp-` spools →
    * driver-side rename on job commit; see LinesWriteBuilder) and back
    * in through the matching reader, closing the source's lifecycle.
    * The result aggregates CONTENT only (counts, char mass, an
    * order-independent rolling-hash sum) so it is invariant to how many
    * part files the cluster's parallelism produced — which is exactly
    * what a correct sink must guarantee: topology never changes data.
    *
    * Scale shape: the write streams each partition straight to its own
    * file (no driver collect, no shuffle); the read re-splits those
    * files by byte ranges. Commit cost is one rename per task — the
    * same O(tasks) driver metadata bound as Spark's file commit
    * protocol v2.
    */
  def io07LinesSink(spark: SparkSession, dir: String): DataFrame = {
    val scratch = graft.util.Scratch.dir("graft_lines_sink_")
    Tables.documents(spark, dir)
      .select(concat(col("doc_id").cast("string"), lit("\t"), col("text")).as("line"))
      .write.format("graft-lines").mode("overwrite").save(scratch)
    spark.read.format("graft-lines").load(scratch)
      .select(split(col("line"), "\t").getItem(0).cast(LongType).as("doc_id"),
        expr("substring(line, instr(line, chr(9)) + 1)").as("payload"))
      .agg(count(lit(1)).as("n_lines"),
           countDistinct(col("doc_id")).as("n_docs"),
           sum(length(col("payload"))).cast(LongType).as("sum_chars"),
           sum(expr("aggregate(split(payload, ''), CAST(0 AS BIGINT), " +
             "(acc, c) -> (acc * 31 + ascii(c)) % 1000000007)")).as("hash_sum"))
  }

  private val io07Sql =
    """SELECT COUNT(*) AS n_lines, COUNT(DISTINCT doc_id) AS n_docs,
      |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
      |  CAST(SUM(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(range(1, length(text) + 1),
      |      i -> CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT))),
      |    (a, b) -> (a * 31 + b) % 1000000007)) AS BIGINT) AS hash_sum
      |FROM documents""".stripMargin

  /** io08 — parquet codec transparency audit: write the same projection
    * under every bundled compression codec (uncompressed / snappy /
    * gzip / zstd / lz4 — the codecs a 100 TB lake actually trades off),
    * read each back, and emit identical content checksums per codec —
    * the "compression is a storage detail, never a semantics detail"
    * invariant a format migration job asserts before flipping a table's
    * default codec. Byte sizes are codec-version- AND data-dependent
    * (snappy/lz4 can lose to the uncompressed baseline on
    * incompressible columns), so sizes are LOGGED for the operator's
    * audit trail but deliberately NOT in the contract row — an
    * environment-dependent bit in an oracle-hashed row would fail the
    * contract on a parquet upgrade without any semantic regression.
    */
  def io08CodecRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch("graft_io08_codec_")
    val src = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val codecs = Seq("none", "snappy", "gzip", "zstd", "lz4")
    def bytes(p: String): Long = Lake.files(p).map(new java.io.File(p, _).length()).sum
    // parallel multi-file writes: the contract row is layout-independent
    // content checksums, so nothing needs the old coalesce(1) (which
    // serialized each codec write and made the 10x probe I/O-bound)
    val written = codecs.map { c =>
      src.write.mode("overwrite")
        .option("compression", c).parquet(s"$out/$c")
      c -> bytes(s"$out/$c")
    }.toMap
    written.toSeq.sortBy(_._1).foreach { case (c, b) =>
      System.err.println(s"[io08] codec=$c bytes=$b (none=${written("none")})")
    }
    codecs.map { c =>
      spark.read.parquet(s"$out/$c")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_orderkey")).as("key_sum"),
          sum(col("cents")).as("cents_sum"))
        .select(lit(c).as("codec"), col("n_rows"), col("key_sum"), col("cents_sum"))
    }.reduce(_ unionByName _).orderBy(col("codec"))
  }

  private val io08Sql =
    """WITH s AS (
      |  SELECT COUNT(*) AS n_rows, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_sum
      |  FROM orders),
      |c(codec) AS (VALUES ('gzip'), ('lz4'), ('none'), ('snappy'), ('zstd'))
      |SELECT codec, n_rows, key_sum, cents_sum
      |FROM c, s ORDER BY codec""".stripMargin

  /** io09 — parquet bloom-filter point-lookup path: the needle-in-100-TB
    * access pattern. The layout is written with a bloom filter on
    * `l_orderkey`, DELIBERATELY clustered by a different column
    * (`l_partkey`) and cut into many small row groups, so min/max
    * stats on the lookup key span everything and cannot prune — the
    * bloom filter is the only mechanism that lets the reader skip row
    * groups on a point predicate. The probe then reads the layout back
    * with an 8-key IN filter (pushed to the scan — asserted in the
    * suite) and emits exact per-key line accounting.
    *
    * The 8 probe keys derive from the data (smallest distinct keys
    * ≡ 0 mod 25), collected once — an 8-element driver list, the
    * bounded-collect class. Row-group skip counts are hardware/version
    * flavored, so (like io08's byte sizes) layout stats are LOGGED,
    * never contract cells.
    *
    * Scale shape: the write is one linear pass (sort within
    * partitions); the lookup reads only row groups whose bloom admits
    * a key — at 1000 row groups per file and 8 keys, the scan touches
    * a few percent of the bytes a full scan would. (At toy scale
    * parquet drops the bloom for chunks that stay fully
    * dictionary-encoded — the dictionary is already an exact
    * membership filter there; blooms materialize exactly when
    * cardinality outgrows the dictionary, i.e. when they matter.)
    */
  def io09BloomLookup(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch("graft_io09_bloom_")
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("qty"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_cents"))
      .sortWithinPartitions(col("l_partkey"))
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#l_orderkey", "true")
      .option("parquet.block.size", (1 << 20).toString)
      .parquet(s"$out/data")
    val keys = Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") % 25 === 0)
      .select(col("l_orderkey")).distinct()
      .orderBy(col("l_orderkey")).limit(8)
      .collect().map(_.getLong(0))
    val files = Lake.files(s"$out/data").map(new java.io.File(s"$out/data", _))
    System.err.println(s"[io09] files=${files.length} bytes=${files.map(_.length()).sum} keys=${keys.mkString(",")}")
    spark.read.parquet(s"$out/data")
      .filter(col("l_orderkey").isin(keys.map(Long.box): _*))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"),
           sum(col("qty")).as("sum_qty"),
           sum(col("price_cents")).as("sum_price_cents"))
      .orderBy(col("l_orderkey"))
  }

  private val io09Sql =
    """WITH k AS (
      |  SELECT DISTINCT l_orderkey FROM lineitem
      |  WHERE l_orderkey % 25 = 0 ORDER BY l_orderkey LIMIT 8)
      |SELECT l_orderkey,
      |  CAST(COUNT(*) AS BIGINT) AS n_lines,
      |  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
      |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
      |FROM lineitem WHERE l_orderkey IN (SELECT l_orderkey FROM k)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** io10 — corrupt-tolerant JSONL ingest: the crawl-feed reality that
    * [[io04CorruptCsv]] covers for CSV, with the failure mode JSON adds
    * on top. Two distinct channels, both planted deterministically:
    * syntactically BROKEN lines (every 37th doc's closing brace is
    * truncated) land whole in `_corrupt_record` under PERMISSIVE mode
    * with every data column null; SCHEMA-SHORT lines (every 41st doc is
    * serialized without its n_chars key) parse fine with the missing
    * field null — the row is data, not quarantine. Conflating the two
    * is the classic JSONL-ingest bug: dropping schema-short rows
    * silently loses data, trusting broken rows corrupts it. The
    * accounting groups by source with the corrupt population in its own
    * '(corrupt)' bucket (a failed parse has no source).
    *
    * The oracle never parses JSON: corruption is a pure doc_id rule, so
    * the expected populations derive from the documents table directly
    * — the engine proves the PARSER lands each planted row in the right
    * population.
    */
  def io10CorruptJsonl(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val out = scratch("graft_io10_jsonl_")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        when(col("doc_id") % 41 === 0,
          to_json(struct(col("doc_id"), col("source"))))
          .otherwise(to_json(struct(col("doc_id"), col("source"), col("n_chars"))))
          .as("j"))
      .select(when(col("doc_id") % 37 === 0,
          expr("substring(j, 1, length(j) - 1)")).otherwise(col("j")).as("line"))
      .write.mode("overwrite").text(out)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("n_chars", LongType),
      StructField("_corrupt_record", StringType)))
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(out)
      // bucket on the corrupt FLAG, not on source: Spark's JSON reader
      // keeps partial results for malformed records (fields parsed
      // before the syntax error survive alongside _corrupt_record), so
      // a truncated line may still carry its source — quarantine
      // membership is _corrupt_record, never field presence
      .groupBy(when(col("_corrupt_record").isNotNull, lit("(corrupt)"))
        .otherwise(col("source")).as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("_corrupt_record")).as("n_corrupt"),
        sum(when(col("_corrupt_record").isNull && col("n_chars").isNull, 1L)
          .otherwise(0L)).as("n_missing_chars"),
        sum(when(col("_corrupt_record").isNull, col("n_chars"))).as("sum_chars"))
      .orderBy(col("bucket"))
  }

  private val io10Sql =
    """WITH d AS (
      |  SELECT doc_id, source, n_chars,
      |    doc_id % 37 = 0 AS broken,
      |    doc_id % 41 = 0 AS short
      |  FROM documents)
      |SELECT CASE WHEN broken THEN '(corrupt)' ELSE source END AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(COUNT(CASE WHEN broken THEN 1 END) AS BIGINT) AS n_corrupt,
      |  CAST(COUNT(CASE WHEN NOT broken AND short THEN 1 END) AS BIGINT) AS n_missing_chars,
      |  CAST(SUM(CASE WHEN NOT broken AND NOT short THEN n_chars END) AS BIGINT) AS sum_chars
      |FROM d GROUP BY 1 ORDER BY bucket""".stripMargin

  /** io11 — static partition pruning through a hive layout: the oldest
    * and still most load-bearing scale lever — a predicate on the
    * PARTITION column must be answered from directory metadata, with
    * non-matching partitions never opened. lineitem is laid out
    * `partitionBy(l_returnflag)` (3 partitions), and the reader
    * filters one flag: the catalog resolves the filter against the
    * partition LISTING (`PartitionFilters` in the scan, zero data-file
    * reads outside `l_returnflag=R` — asserted against the executed
    * plan and the scan's file-listing metrics in Round8OpsSpec, not
    * just eyeballed), then aggregates the surviving third. io05 exercises
    * the WRITE side of this layout (dynamic overwrite); this is the
    * READ side — together they are the hive-table lifecycle. At
    * 100 TB, pruning is the difference between scanning one day and
    * scanning the lake; the same `PartitionFilters` row in `.explain`
    * is the first thing to check on any slow production scan.
    *
    * The partition column round-trips as a DIRECTORY NAME, so the
    * emitted group key is re-cast from the path-inferred type — and
    * the aggregate keeps a quantity checksum so the oracle proves the
    * pruned read lost (and gained) nothing.
    */
  def io11PartitionPruning(spark: SparkSession, dir: String,
      outDir: String = null): DataFrame = {
    val out = if (outDir == null) scratch("graft_io11_prune_") else outDir
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("qty"),
        col("l_linestatus"), col("l_returnflag"))
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    spark.read.parquet(out)
      .filter(col("l_returnflag") === "R")
      .groupBy(col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"),
        sum(col("l_orderkey") * col("l_linenumber")).as("key_checksum"))
      .orderBy(col("l_linestatus"))
  }

  private val io11Sql =
    """SELECT l_linestatus, CAST(COUNT(*) AS BIGINT) n_rows,
      |  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) sum_qty,
      |  CAST(SUM(l_orderkey * l_linenumber) AS BIGINT) key_checksum
      |FROM lineitem WHERE l_returnflag = 'R'
      |GROUP BY 1 ORDER BY l_linestatus""".stripMargin

  /** io12 — DSv2 AGGREGATE pushdown on the graft-lines source: an
    * ungrouped COUNT(*) collapses inside the source to one long per
    * byte-range chunk (LinesCountReader — no path/offset/line value is
    * ever materialized), and Spark's planner rewrites the final COUNT
    * into a SUM of those partials. The second probe proves it composes
    * with the offset-interval filter pushdown: only lines at
    * offset ≥ 100000 are counted, still without row materialization.
    * Completes the source's pushdown tier (columns → filters →
    * aggregates); FormatsSpec pins the behavior by metrics — the scan's
    * numOutputRows equals the CHUNK count, not the line count.
    *
    * At 100 TB this is the difference between shuffling a trillion
    * (path, offset, line) rows into a count and shipping one long per
    * split — the same reason parquet footer-count pushdown exists.
    */
  def io12AggPushdown(spark: SparkSession, dir: String): DataFrame = {
    val scratch = graft.util.Scratch.dir("graft_lines_agg_")
    Tables.documents(spark, dir)
      .select(col("doc_id"), concat(col("doc_id").cast("string"),
        lit("\t"), col("text")).as("value"))
      .repartition(1).sortWithinPartitions(col("doc_id"))
      .select(col("value"))
      .write.mode("overwrite").text(scratch)
    val src = spark.read.format("graft-lines")
      .option("chunkBytes", 16384).load(scratch)
    src.agg(expr("count(*)").as("n_lines"))
      .select(lit("all").as("probe"), col("n_lines"))
      .unionByName(src.filter(col("offset") >= 100000L)
        .agg(expr("count(*)").as("n_lines"))
        .select(lit("offset_tail").as("probe"), col("n_lines")))
      .orderBy(col("probe"))
  }

  private val io12Sql =
    """WITH l AS (
      |  SELECT doc_id, CAST(doc_id AS VARCHAR) || chr(9) || text AS line
      |  FROM documents),
      |o AS (
      |  SELECT doc_id,
      |    CAST(COALESCE(SUM(octet_length(encode(line)) + 1)
      |      OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      0) AS BIGINT) AS "offset"
      |  FROM l)
      |SELECT 'all' probe, CAST(COUNT(*) AS BIGINT) n_lines FROM l
      |UNION ALL
      |SELECT 'offset_tail', COUNT(*) FROM o WHERE "offset" >= 100000
      |ORDER BY probe""".stripMargin

  /** io13 — write-side file sizing via `maxRecordsPerFile`: the lever
    * that prevents the small-file problem AT THE SOURCE instead of
    * compacting after the fact ([[graft.operators.ScaleDiag.l02CompactionPlan]]'s
    * cure vs this prevention). Lineitem is bucketed into 4 deterministic
    * groups (hive `partitionBy`), each group lands in exactly one write
    * task (a repartition on the group key — one key value can never
    * split across tasks), and the writer rotates files every 1000 rows,
    * so the per-group file count is EXACTLY ceil(n/1000) — emitted
    * alongside the verified per-file max, which is what makes the
    * contract a sizing AUDIT rather than a write demo. At 100 TB this
    * is how a 10k-task ingest avoids minting 10M tiny files for the
    * compactor to mop up.
    */
  def io13FileSizing(spark: SparkSession, dir: String,
                     maxRows: Long = 1000L): DataFrame = {
    val scratch = graft.util.Scratch.dir("io13_sizing_")
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        pmod(col("l_orderkey"), lit(4)).cast("int").as("grp"))
      .repartition(col("grp"))
      .write.partitionBy("grp")
      .option("maxRecordsPerFile", maxRows)
      .mode("overwrite").parquet(scratch)
    // ONE distributed read with per-file provenance — a spark.read per
    // file would be hundreds of driver round-trips at sf0.1
    spark.read.parquet(scratch)
      .groupBy(col("grp"), input_file_name().as("f"))
      .agg(count(lit(1)).as("file_rows"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_files"), sum(col("file_rows")).as("n_rows"),
        max(col("file_rows")).as("max_file_rows"))
      .withColumn("sized_exactly",
        col("n_files") === expr(s"CAST(ceil(n_rows / CAST($maxRows AS DOUBLE)) AS BIGINT)") &&
          col("max_file_rows") <= maxRows)
      .orderBy(col("grp"))
  }

  private val io13Sql =
    """WITH g AS (
      |  SELECT CAST(l_orderkey % 4 AS INTEGER) grp,
      |    CAST(COUNT(*) AS BIGINT) n_rows
      |  FROM lineitem GROUP BY 1)
      |SELECT grp, CAST(ceil(n_rows / 1000.0) AS BIGINT) n_files, n_rows,
      |  CAST(CASE WHEN n_rows % 1000 = 0 OR n_rows > 1000 THEN 1000
      |       ELSE n_rows END AS BIGINT) max_file_rows,
      |  TRUE sized_exactly
      |FROM g ORDER BY grp""".stripMargin

  /** io14 — DSv2 RUNTIME filtering (dynamic pruning) on graft-lines:
    * the secondary-index lookup shape. The corpus is staged once as a
    * single sorted text shard plus an (offset, doc_id) index parquet —
    * the index a curation pipeline keeps so it can point back into raw
    * shards. The measured query joins the RAW SHARD against a
    * selectively-filtered index slice (doc_id % 200 == 150) on `offset`:
    * Spark's dynamic-pruning rule broadcasts the index side first, hands
    * the actual offset values to the scan through
    * `SupportsRuntimeFiltering.filter`, and the scan re-plans its chunk
    * partitions against the tightened [min, max] interval BEFORE any
    * shard byte is read — partition-granularity pruning decided at
    * runtime, the DPP mechanism (j16) extended to a custom source.
    *
    * Correctness does not depend on the pruning (readers keep plan-time
    * semantics; the join enforces exact membership — FormatsSpec pins
    * the pruning itself by partition counts and the runtimeFilters
    * node), so the oracle simply replays the index join arithmetic over
    * the documents table's cumulative byte offsets.
    */
  def io14RuntimePruning(spark: SparkSession, dir: String): DataFrame = {
    val base = scratch("graft_io14_rtf_")
    Tables.documents(spark, dir)
      .select(col("doc_id"), concat(col("doc_id").cast("string"),
        lit("\t"), col("text")).as("value"))
      .repartition(1).sortWithinPartitions(col("doc_id"))
      .select(col("value"))
      .write.mode("overwrite").text(s"$base/lines")
    val lines = spark.read.format("graft-lines")
      .option("chunkBytes", 16384).load(s"$base/lines")
    lines.select(col("offset"),
        split(col("line"), "\t").getItem(0).cast(LongType).as("doc_id"))
      .write.mode("overwrite").parquet(s"$base/idx")
    val idx = spark.read.parquet(s"$base/idx")
      .filter(col("doc_id") % 200 === 150)
    lines.join(idx, Seq("offset"))
      .select(col("doc_id"), col("offset"),
        length(col("line")).cast(LongType).as("n_chars"),
        md5(col("line")).as("line_md5"))
      .orderBy(col("doc_id"))
  }

  private val io14Sql =
    """WITH l AS (
      |  SELECT doc_id, CAST(doc_id AS VARCHAR) || chr(9) || text AS line
      |  FROM documents),
      |o AS (
      |  SELECT doc_id, line,
      |    CAST(COALESCE(SUM(octet_length(encode(line)) + 1)
      |      OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      0) AS BIGINT) AS "offset"
      |  FROM l)
      |SELECT doc_id, "offset",
      |  CAST(length(line) AS BIGINT) AS n_chars, md5(line) AS line_md5
      |FROM o WHERE doc_id % 200 = 150
      |ORDER BY doc_id""".stripMargin

  /** io15 — NESTED schema pruning + nested predicate pushdown: the scan
    * efficiency story for struct-typed lakehouse tables (every telemetry
    * / API-log schema nests). orders are staged with two struct columns
    * — price{cents, tax_cents} and meta{priority, status} — and the
    * contract query touches ONE leaf of each: it filters on
    * meta.priority and sums price.cents. A flat-column engine reads the
    * whole structs (p01's pruning stops at top-level columns); Spark's
    * nested schema pruning must push the ReadSchema down to exactly the
    * two leaves and the priority predicate into the parquet scan —
    * asserted against the executed plan in Round9OpsSpec (leaf-level
    * ReadSchema, no tax_cents/status), not just eyeballed. At 100 TB the
    * difference is reading 2 of 4 leaf column chunks.
    *
    * The oracle recomputes from raw orders — staging adds structure,
    * never rows — so correctness and the plan shape are checked
    * independently.
    */
  def io15NestedPruning(spark: SparkSession, dir: String): DataFrame = {
    val dirOut = scratch("io15_nested_")
    Tables.orders(spark, dir)
      .select(col("o_orderkey").as("k"),
        struct(
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          expr("CAST(round(o_totalprice * 7) AS BIGINT)").as("tax_cents")).as("price"),
        struct(col("o_orderpriority").as("priority"),
          col("o_orderstatus").as("status")).as("meta"))
      .write.mode("overwrite").parquet(s"$dirOut/data")
    spark.read.parquet(s"$dirOut/data")
      .filter(col("meta.priority") === "1-URGENT")
      .groupBy(col("meta.priority").as("priority"))
      .agg(count(lit(1)).as("n_orders"), sum(col("price.cents")).as("sum_cents"))
      .orderBy(col("priority"))
  }

  private val io15Sql =
    """SELECT o_orderpriority priority, CAST(COUNT(*) AS BIGINT) n_orders,
      |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) sum_cents
      |FROM orders WHERE o_orderpriority = '1-URGENT'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** io17 — METADATA-PLANE query answering from parquet footers: the
    * table-stats questions (file count, row count, per-column min/max,
    * clustering tightness) answered by reading ONLY footer metadata —
    * zero data pages opened — via `ParquetFileReader` over the staged
    * 8-bin cents-clustered layout (the l13 layout). This is the
    * catalog-refresh path every lakehouse runs after a write: at 100 TB
    * the footers are kilobytes per file while the data is terabytes,
    * and the emitted `envelope_width_sum` (Σ per-file max−min) is the
    * clustering-quality number a table service tracks to decide when to
    * re-cluster ([[graft.operators.ScaleDiag.l03SkippingAudit]]
    * SIMULATES envelopes from data reads; this op reads the real ones
    * from metadata). The driver-side footer loop is bounded by the file
    * count — the l11 listing convention, metadata-plane by definition.
    *
    * The oracle derives the identical numbers from the raw rows + the
    * bin rule, so a footer-stats lie (or a stats-dropping writer) fails
    * the hash.
    */
  def io17FooterStats(spark: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val out = scratch("io17_footer_")
    val cents = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("k"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val ext = cents.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
    cents.crossJoin(broadcast(ext))
      .withColumn("g", expr(
        "CAST(least(CAST(7 AS BIGINT), ((cents - lo) * 8) div (hi - lo + 1)) AS INT)"))
      .select(col("k"), col("cents"), col("g"))
      .repartition(8, col("g"))
      .write.mode("overwrite").partitionBy("g").parquet(s"$out/data")
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(s"$out/data")
    val fs = root.getFileSystem(conf)
    val leaves = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("g="))
      .flatMap(d => Lake.statuses(fs, d.getPath))
    val perFile = leaves.map { st =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try {
        val blocks = rd.getFooter.getBlocks.asScala
        val rows = blocks.map(_.getRowCount).sum
        val centsStats = blocks.flatMap(_.getColumns.asScala
          .filter(_.getPath.toDotString == "cents").map(_.getStatistics))
        val mn = centsStats.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue).min
        val mx = centsStats.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue).max
        (rows, mn, mx)
      } finally rd.close()
    }
    spark.range(1).select(
      lit(perFile.length.toLong).as("n_files"),
      lit(perFile.map(_._1).sum).as("total_rows"),
      lit(perFile.map(_._2).min).as("min_cents"),
      lit(perFile.map(_._3).max).as("max_cents"),
      lit(perFile.map(f => f._3 - f._2).sum).as("envelope_width_sum"))
  }

  private val io17Sql =
    """WITH c AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) cents FROM orders),
      |e AS (SELECT CAST(MIN(cents) AS BIGINT) lo, CAST(MAX(cents) AS BIGINT) hi
      |      FROM c),
      |g AS (
      |  SELECT cents,
      |    least(7, ((cents - e.lo) * 8) // (e.hi - e.lo + 1)) g
      |  FROM c, e),
      |per AS (
      |  SELECT g, CAST(COUNT(*) AS BIGINT) n,
      |    CAST(MIN(cents) AS BIGINT) mn, CAST(MAX(cents) AS BIGINT) mx
      |  FROM g GROUP BY 1)
      |SELECT CAST(COUNT(*) AS BIGINT) n_files,
      |  CAST(SUM(n) AS BIGINT) total_rows,
      |  CAST(MIN(mn) AS BIGINT) min_cents, CAST(MAX(mx) AS BIGINT) max_cents,
      |  CAST(SUM(mx - mn) AS BIGINT) envelope_width_sum
      |FROM per""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("io17_footer_stats",
      "metadata-plane table stats: parquet footers only (rows, min/max, clustering envelope width), zero data pages read",
      io17FooterStats, Some(io17Sql)),
    QueryDef("io15_nested_pruning",
      "nested schema pruning: struct-typed staging, leaf-level ReadSchema + nested predicate pushdown, full-scan-equal answer",
      io15NestedPruning, Some(io15Sql)),
    QueryDef("io14_runtime_pruning",
      "DSv2 runtime filtering on graft-lines: index-join offsets prune shard chunks at runtime (custom-source DPP)",
      io14RuntimePruning, Some(io14Sql)),
    QueryDef("io13_file_sizing",
      "write-side maxRecordsPerFile audit: per-group file count == ceil(n/1000), rotation verified",
      io13FileSizing(_, _), Some(io13Sql)),
    QueryDef("io12_agg_pushdown",
      "DSv2 COUNT(*) pushdown on graft-lines: one partial per chunk, composes with offset pushdown",
      io12AggPushdown, Some(io12Sql)),
    QueryDef("io11_partition_pruning",
      "hive-layout static partition pruning: listing-level filter, pruned read checksummed",
      io11PartitionPruning(_, _), Some(io11Sql)),
    QueryDef("io10_corrupt_jsonl",
      "PERMISSIVE JSONL ingest: broken lines quarantined, schema-short lines kept",
      io10CorruptJsonl, Some(io10Sql)),
    QueryDef("io09_bloom_lookup",
      "parquet bloom-filter point lookups on a decorrelated layout (8-key IN probe)",
      io09BloomLookup, Some(io09Sql)),
    QueryDef("io08_codec_roundtrip",
      "parquet codec transparency: 5 codecs, identical checksums, size sanity",
      io08CodecRoundtrip, Some(io08Sql)),
    QueryDef("io07_lines_sink",
      "custom DSv2 sink: two-phase commit write + readback, topology-invariant",
      io07LinesSink, Some(io07Sql)),
    QueryDef("io06_lines_source",
      "custom DSv2 text-shard source: offset pushdown + chunk pruning",
      io06LinesSource, Some(io06Sql)),
    QueryDef("io05_partition_overwrite",
      "dynamic partition overwrite: one-day backfill, other partitions pinned",
      io05PartitionOverwrite, Some(io05Sql)),
    QueryDef("io01_json_roundtrip",
      "JSON-lines sink+source round trip, partitioned layout + pruning",
      io01JsonRoundtrip, Some(io01Sql)),
    QueryDef("io02_orc_roundtrip",
      "ORC sink+source round trip with predicate pushdown",
      io02OrcRoundtrip, Some(io02Sql)),
    QueryDef("io03_schema_evolution",
      "mergeSchema read across batches with added column",
      io03SchemaEvolution, Some(io03Sql)),
    QueryDef("io04_corrupt_csv",
      "PERMISSIVE csv ingest with corrupt-record accounting",
      io04CorruptCsv, Some(io04Sql))
  )
}
