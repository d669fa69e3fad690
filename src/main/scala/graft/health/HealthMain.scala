package graft.health

/** CLI entry for the reference's EP1 batch path: read the dirty CSV, run
  * the full cleaning pipeline, write cleaned parquet (+ optional CSV like
  * the reference's S2 sink).
  *
  * Usage: runMain graft.health.HealthMain <csvPath> <outParquet> [outCsvDir]
  */
object HealthMain {
  def main(args: Array[String]): Unit = {
    val csv = if (args.length > 0) args(0) else HealthEtl.defaultCsvPath
    val out = if (args.length > 1) args(1) else "/tmp/health_cleaned.parquet"
    val spark = graft.GraftSession.local()
    val cleaned = HealthEtl.clean(spark, csv)
    // parquet forbids ' ,;{}()=' etc. in column names; the cleaned table
    // keeps the reference's names ('Population Coverage (%)'), so dump
    // with sanitized names for tooling
    val safe = cleaned.columns.foldLeft(cleaned)((d, c) =>
      d.withColumnRenamed(c, c.replaceAll("[ ,;{}()=%:]", "_")))
    safe.coalesce(1).write.mode("overwrite").parquet(out)
    if (args.length > 2) HealthEtl.writeCleanedCsv(cleaned, args(2))
    println(s"[health] wrote ${cleaned.count()} rows x ${cleaned.columns.length} cols to $out")
    spark.stop()
  }
}
