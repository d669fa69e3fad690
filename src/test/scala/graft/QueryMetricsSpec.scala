package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.util.Overlap

/** `QueryMetrics` charges a body with exactly the work its own jobs did:
  * every event of those jobs, none of any other work's. */
class QueryMetricsSpec extends AnyFunSuite {
  import SparkTestSession._

  private def sc = spark.sparkContext

  /** One job of one shuffle: 4 map tasks write a (key, 1) pair per row for
    * 10 keys, 3 reduce tasks sum them. RDD-level, so no adaptive plan can
    * change its shape. */
  private def shuffleJob(): Long =
    sc.parallelize(1 to 1000, 4).map(i => (i % 10, 1L)).reduceByKey(_ + _, 3).count()

  /** The shuffle bytes `shuffleJob` writes, pinned from a run of it. */
  private val shuffleJobBytes = 840L

  /** A cost without the parts that vary between identical runs. */
  private def shape(c: QueryMetrics.Cost) = c.copy(wallS = 0.0, taskMs = 0L)

  private val shuffleJobShape = QueryMetrics.Cost(0.0, jobs = 1, stages = 2, tasks = 7L,
    taskMs = 0L, shuffleBytes = shuffleJobBytes,
    shuffleBytesByTag = Map(QueryMetrics.untagged -> shuffleJobBytes))

  private def described[T](d: String)(body: => T): T = {
    sc.setJobDescription(d)
    try body finally sc.setJobDescription(null)
  }

  test("a fixed-shape query costs its pinned jobs, stages, tasks and bytes") {
    val (out, cost) = QueryMetrics(spark)(shuffleJob())
    assert(out.get == 10L)
    assert(shape(cost) == shuffleJobShape, s"$cost")
    assert(cost.taskMs >= 0L && cost.wallS > 0.0)
  }

  test("bytes split by job description, a forked branch's included") {
    val (_, cost) = QueryMetrics(spark) {
      Overlap(spark) { o =>
        described("forked")(o.fork(shuffleJob()))
        described("caller")(shuffleJob())
      }
    }
    assert(cost.jobs == 2 && cost.stages == 4 && cost.tasks == 14L)
    assert(cost.shuffleBytesByTag ==
      Map("forked" -> shuffleJobBytes, "caller" -> shuffleJobBytes))
    assert(cost.shuffleBytes == 2 * shuffleJobBytes)
  }

  test("a failed call returns its error and its cost; the next call is charged alone") {
    val boom = udf { (k: Long) =>
      if (k == 3L) throw new IllegalStateException("boom in a udf")
      k
    }
    // events trail their jobs here, so a read without a drain is short
    // and a listener attached without one is charged earlier work
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(25)
    }
    sc.addSparkListener(slow)
    try {
      val (_, alone) = QueryMetrics(spark)(shuffleJob())
      assert(shape(alone) == shuffleJobShape)
      val (failed, failedCost) = QueryMetrics(spark) {
        spark.range(0, 1000, 1, 4).groupBy((col("id") % 10).as("k")).count()
          .coalesce(1).select(boom(col("k"))).queryExecution.toRdd.count()
      }
      assert(failed.isFailure)
      assert(Iterator.iterate(failed.failed.get)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("boom in a udf")))
      assert(failedCost.jobs == 2 && failedCost.stages == 2 && failedCost.tasks == 5L &&
        failedCost.shuffleBytes > 0L, s"$failedCost")
      val (_, next) = QueryMetrics(spark)(shuffleJob())
      assert(shape(next) == shuffleJobShape)
      shuffleJob() // unmeasured work just before a call is not charged to it
      val (_, after) = QueryMetrics(spark)(shuffleJob())
      assert(shape(after) == shuffleJobShape)
    } finally sc.removeSparkListener(slow)
  }
}
