package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ScaleDiag
import graft.util.Scratch

/** Streaming materialized-view maintenance: chain
  * [[ScaleDiag.applyRetractableDelta]] over CDC micro-batches via
  * foreachBatch and prove the incrementally-maintained state equals the
  * from-scratch aggregate of the final base — the streaming dual of the
  * l06 batch contract. Micro-batch boundaries are REAL (one staged file
  * per trigger, deletes staged before their reinserts — the per-key
  * ordering every CDC log guarantees), so the min/max rescan genuinely
  * reads the maintained base of an EARLIER batch, not the original.
  */
class StreamingMatviewSpec extends AnyFunSuite {
  import SparkTestSession._

  test("foreachBatch-chained retractable refresh == from-scratch over the final base") {
    val root = Scratch.dir("graft_mv_")
    val ord = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("k"), col("o_custkey").as("cust"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    // v0: maintained base + matview state
    ord.write.parquet(s"$root/base_v0")
    ord.groupBy(col("cust"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
           min(col("cents")).as("mn"), max(col("cents")).as("mx"))
      .write.parquet(s"$root/state_v0")
    // CDC slices: batch0 = all deletes, batch1 = brand-new inserts,
    // batch2 = the updates' reinserted rows (D-before-I per key)
    val mk = ord.agg(max(col("k"))).head().getLong(0) + 1
    val slices = Seq(
      ord.filter(col("k") % 101 === 0 || col("k") % 89 === 0)
        .withColumn("op", lit("D")),
      ord.filter(col("k") % 97 === 0)
        .select((col("k") + mk).as("k"), col("cust"),
                (col("cents") + 731).as("cents"))
        .withColumn("op", lit("I")),
      ord.filter(col("k") % 89 === 0)
        .select(col("k"), col("cust"), (col("cents") + 500).as("cents"))
        .withColumn("op", lit("I")))
    val stage = Files.createDirectory(Paths.get(root, "cdc"))
    slices.zipWithIndex.foreach { case (df, i) =>
      val tmp = s"$root/slice_$i"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val target = stage.resolve(f"$i%d_batch.parquet")
      Files.copy(part.toPath, target)
      Files.setLastModifiedTime(target, FileTime.fromMillis(1000000L + i * 60000L))
    }
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("cust", LongType),
      StructField("cents", LongType), StructField("op", StringType)))
    var cur = 0
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage.toString)
      .writeStream
      .foreachBatch { (bdf: org.apache.spark.sql.DataFrame, _: Long) =>
        val d = bdf.filter(col("op") === "D").select("k", "cust", "cents")
        val i = bdf.filter(col("op") === "I").select("k", "cust", "cents")
        val st = spark.read.parquet(s"$root/state_v$cur")
        val bs = spark.read.parquet(s"$root/base_v$cur")
        val (ns, nb) = ScaleDiag.applyRetractableDelta(spark, st, bs, d, i)
        ns.write.parquet(s"$root/state_v${cur + 1}")
        nb.write.parquet(s"$root/base_v${cur + 1}")
        cur += 1
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(cur == 3, s"expected 3 micro-batches, got $cur")
    // the incrementally-maintained view == from-scratch over the final base
    val got = spark.read.parquet(s"$root/state_v$cur").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val scratch = spark.read.parquet(s"$root/base_v$cur")
      .groupBy(col("cust"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
           min(col("cents")).as("mn"), max(col("cents")).as("mx"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got == scratch,
      "chained incremental refresh diverged from the from-scratch aggregate")
    // and the final base is the batch CDC application of the original
    val delKeys = ord.filter(col("k") % 101 === 0 || col("k") % 89 === 0)
      .select(col("k")).collect().map(_.getLong(0)).toSet
    val expectedBase = ord.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filterNot(t => delKeys(t._1)) ++
      slices(1).select("k", "cust", "cents").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) ++
      slices(2).select("k", "cust", "cents").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val gotBase = spark.read.parquet(s"$root/base_v$cur").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(gotBase.sorted.toSeq == expectedBase.sorted.toSeq)
  }
}
