package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.health.{HealthEtl, HealthQueries}

/** Source/sink round-trips. The reference's cleaned-data contract is
  * literally the CSV file it writes (SURVEY §2.7 Q3: the app re-reads
  * its own output with dtype re-inference) — so our CSV sink must
  * round-trip to the same analytic answers.
  */
class SourcesSpec extends AnyFunSuite {
  import SparkTestSession._

  test("S2→S1 round-trip: cleaned CSV re-read reproduces the analytics") {
    val cleaned = CleanedHealth(spark).cache()
    val out = new java.io.File("target/health_csv_roundtrip").getAbsolutePath
    HealthEtl.writeCleanedCsv(cleaned, out)
    // re-read with schema inference, like the reference app does
    val reread = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(out)
    assert(reread.count() == cleaned.count())
    val a1a = HealthQueries.topDeadliest(cleaned, 5).collect().map(_.toString)
    val a1b = HealthQueries.topDeadliest(reread, 5).collect().map(_.toString)
    // Spark writes shortest-round-trip doubles → re-inferred values are
    // bit-identical and so are the aggregates
    assert(a1a.toSeq == a1b.toSeq)
    cleaned.unpersist()
  }

  test("JSONL source: documents written as json lines read back identically") {
    val docs = Tables.documents(spark, sf)
    val out = new java.io.File("target/docs_jsonl").getAbsolutePath
    docs.write.mode("overwrite").json(out)
    val reread = spark.read.schema(docs.schema).json(out)
    assert(reread.count() == docs.count())
    val a = docs.orderBy("doc_id").collect().map(_.toString)
    val b = reread.orderBy("doc_id").collect().map(_.toString)
    assert(a.toSeq == b.toSeq)
  }

  test("partitioned parquet layout: filter becomes a PartitionFilter, not a scan") {
    // the 100 TB layout pattern: partition the fact table on the hot
    // predicate column so a filter prunes DIRECTORIES, reading none of
    // the other partitions' bytes
    val li = Tables.lineitem(spark, sf).select(
      col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
    val out = new java.io.File("target/lineitem_part").getAbsolutePath
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    val q = spark.read.parquet(out).filter(col("l_returnflag") === "R")
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("s"))
    val expect = li.filter(col("l_returnflag") === "R")
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("s"))
      .collect().map(_.toString)
    assert(q.collect().map(_.toString).toSeq == expect.toSeq)
    val scan = q.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val scanLine = scan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("l_returnflag"),
      s"partition filter not pushed to the scan: $scanLine")
    // the data filter must NOT remain as a post-scan Filter on the column
    assert(!scan.linesIterator.exists(l =>
      l.trim.startsWith("Filter") && l.contains("l_returnflag")),
      "partition predicate re-evaluated per row instead of pruning directories")
  }

  test("ORC round-trip preserves the lineitem aggregate bit-for-bit") {
    val li = Tables.lineitem(spark, sf)
    val out = new java.io.File("target/lineitem_orc").getAbsolutePath
    li.write.mode("overwrite").orc(out)
    val reread = spark.read.orc(out)
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("l_returnflag"))
      .agg(graft.util.Exact.exactSum(col("l_extendedprice")).as("s"),
           count(lit(1)).as("n"))
      .orderBy(col("l_returnflag")).collect().map(_.toString)
    assert(agg(li).toSeq == agg(reread).toSeq)
  }
}
