package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.health.HealthFixture

/** The cleaned health table that the post-ETL suites (queries, model,
  * sinks, report, dashboard) start from: the committed fixture, which is
  * the ETL's output on the reference CSV, read in place. The tests of the
  * ETL itself run `HealthEtl.clean` on a raw CSV instead, and HealthSpec's
  * sync test keeps the fixture equal to the live ETL wherever that CSV is.
  */
object CleanedHealth {
  def apply(spark: SparkSession): DataFrame = spark.read.parquet(HealthFixture.path)
}
