package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided synthetic parquet tables (TESTDATA.md).
  *
  * All queries take the scale-factor directory as a parameter so the same
  * code runs at sf0.001 (smoke), sf0.01 (DuckDB oracle), sf0.1 (bench) and,
  * unchanged, against a 100 TB lake path on a real cluster — nothing here
  * assumes single-node.
  */
object Tables {
  /** Inferred-schema cache, keyed by file path. Spark 4 runs a (small)
    * Spark JOB per schema inference — one per `spark.read.parquet` call —
    * so uncached reads make even plan-BUILDING non-action-free. A real
    * lakehouse resolves schemas from a catalog; this cache is that
    * contract for the driver's immutable testdata tables: first read
    * infers, every later read (and every guard that only needs to
    * construct a plan) is job-free. The key carries the file's
    * (length, mtime) fingerprint so an in-place regeneration — the
    * driver has rewritten /root/testdata mid-round before — invalidates
    * the entry instead of silently applying a stale schema (which would
    * surface renamed/missing columns as nulls). For a path that is a
    * directory of part files the fingerprint folds in each child's
    * name/length/mtime.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), org.apache.spark.sql.types.StructType]()

  private def fingerprint(path: String): (Long, Long) = {
    val f = new java.io.File(path)
    if (f.isDirectory) {
      val kids = Option(f.listFiles()).getOrElse(Array.empty)
      val h = kids.sortBy(_.getName).foldLeft(17L) { (acc, k) =>
        ((acc * 31 + k.getName.hashCode) * 31 + k.length()) * 31 + k.lastModified()
      }
      (h, f.lastModified())
    } else (f.length(), f.lastModified())
  }

  /** Cache key carrying the SAME (length, mtime) corpus fingerprint the
    * schema cache uses — for any per-JVM memo of a derived ARTIFACT of a
    * testdata table (the stored LSH/cluster indexes): an in-place
    * regeneration of /root/testdata must invalidate those artifacts too,
    * not just the schema (a dir-string-only key would keep serving index
    * parquet built from the previous corpus).
    */
  private[graft] def artifactKey(dir: String, name: String): String = {
    val path = s"$dir/$name.parquet"
    val (len, mtime) = fingerprint(path)
    s"$path:$len:$mtime"
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val (len, mtime) = fingerprint(path)
    val schema = schemaCache.computeIfAbsent((path, len, mtime),
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  /** events.parquet's `ts` physical encoding has varied across driver
    * rounds: TIMESTAMP(NANOS) — which Spark's reader only surfaces as the
    * raw int64 under the legacy nanosAsLong flag (rebuilt here with
    * integer division; the ns value exceeds double precision, so no float
    * math) — vs TIMESTAMP(MICROS) with isAdjustedToUTC=false, which
    * arrives as TIMESTAMP_NTZ. Normalize either to a session-TZ
    * TimestampType column at microsecond precision; under the pinned UTC
    * session zone the NTZ→TZ cast is value-identity.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Table row count from parquet FOOTER metadata only — a driver-side
    * listing plus footer reads, no Spark job. Used by scale guards that
    * must price a plan BEFORE building it (Similarity.requirePairsBounded):
    * a `count()` there would launch a job at DataFrame-construction time,
    * an eager action hidden inside a builder. Handles both a single
    * `.parquet` file (the driver's testdata shape) and a directory of
    * part files (the shape a real lake writes).
    */
  /** Planned scan parallelism of a table from its on-disk bytes and
    * `spark.sql.files.maxPartitionBytes` — the same arithmetic
    * FilePartition packing uses, from file-system metadata only (no
    * Spark job, no footer reads).
    */
  def scanParallelism(spark: SparkSession, dir: String, name: String): Int = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = root.getFileSystem(conf)
    val bytes =
      if (fs.getFileStatus(root).isDirectory) graft.util.Lake.statuses(fs, root).map(_.getLen).sum
      else fs.getFileStatus(root).getLen
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    math.max(1L, (bytes + maxSplit - 1) / maxSplit).toInt
  }

  /** Scale-adaptive fan-out for per-row-EXPENSIVE pipelines (explode ×
    * hash/verify work downstream of a scan). A tiny table is one scan
    * task no matter how costly the per-row work — a 594 KB single-
    * row-group parquet file runs its whole downstream explode+md5
    * pipeline single-threaded while 31 cores idle (measured: d15 4.2 s
    * in 1 task at sf0.1). When the table's scan parallelism is below
    * the session's core count, repartition the (pre-explode, cheap)
    * base rows round-robin across the cores; at cluster scale
    * bytes/maxPartitionBytes already exceeds the core count, so this
    * is a no-op there and never introduces a shuffle of a large table.
    * The added exchange at small scale carries the base rows — the
    * cheap side of the multiply (guide §8: move light rows, not the
    * product). Partition-safety: callers must be partition-invariant
    * (aggregates/joins/sorts keyed on data, no partition-id or
    * sample() dependence).
    */
  def fanOut(df: DataFrame, spark: SparkSession, dir: String, name: String): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    if (scanParallelism(spark, dir, name) < cores) df.repartition(cores) else df
  }

  def footerRowCount(spark: SparkSession, dir: String, name: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = root.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(root).isDirectory) graft.util.Lake.statuses(fs, root)
      else Seq(fs.getFileStatus(root))
    files.map { st =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try rd.getRecordCount finally rd.close()
    }.sum
  }
}
