package graft

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.util.Properties
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.util.{Overlap, Scratch}

/** Hooks the injected UDFs reach through a static object (a closure would
  * ship a serialized copy of a latch, not the latch). */
object OverlapHooks extends Serializable {
  @volatile var inject = false
  @volatile var started = new CountDownLatch(1)
  @volatile var release = new CountDownLatch(1)

  def arm(): Unit = {
    inject = true; started = new CountDownLatch(1); release = new CountDownLatch(1)
  }

  /** Passes ids through; while armed, the first row announces the task has
    * started and then waits up to two minutes for a release that never comes. */
  val held = udf { (id: Long) =>
    if (inject && started.getCount > 0) {
      started.countDown(); release.await(2, TimeUnit.MINUTES)
    }
    id
  }.asNondeterministic()

  /** Passes ids through; while armed, throws halfway once `held` runs. */
  val failing = udf { (id: Long) =>
    if (inject && id == 500L) {
      started.await(1, TimeUnit.MINUTES)
      throw new IllegalStateException("injected branch failure")
    }
    id
  }.asNondeterministic()
}

/** The overlap helper's two promises: a branch job carries its caller's
  * job properties (not those of the thread that grew the pool), and no
  * branch outlives its scope, even when a branch or the body fails.
  */
class OverlapSpec extends AnyFunSuite {
  import SparkTestSession._
  import OverlapHooks._

  private def sc = spark.sparkContext

  /** The properties of every job `body` starts, read after the bus drains. */
  private def jobProps(body: => Unit): Seq[Properties] = {
    val seen = new ConcurrentLinkedQueue[Properties]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).getOrElse(new Properties))
    }
    GraftPlanBridge.drain(sc)
    sc.addSparkListener(l)
    try { body; GraftPlanBridge.drain(sc) } finally sc.removeSparkListener(l)
    seen.asScala.toSeq
  }

  /** Forks `n` branches that each run one small job, so they overlap and
    * the pool holds at least `n` threads. */
  private def smallJobs(n: Int): Unit = Overlap(spark) { o =>
    (1 to n).foreach(_ => o.fork { Thread.sleep(200); spark.range(10).count() })
  }

  private def mentions(e: Throwable, text: String): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains(text))

  private def tags(p: Properties): Set[String] =
    Option(p.getProperty("spark.job.tags")).toSeq.flatMap(_.split(",")).toSet

  private def noTemporary(dir: String): Boolean = !Files.exists(Paths.get(dir)) ||
    Files.walk(Paths.get(dir)).iterator().asScala.forall(_.getFileName.toString != "_temporary")

  private def partHashes(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-"))
      .map((p: Path) => MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
        .map("%02x".format(_)).mkString)
      .sorted

  test("branch jobs carry the caller's properties, not the pool-growing thread's") {
    sc.setJobDescription("A")
    try smallJobs(4) finally sc.setJobDescription(null)
    sc.setJobDescription("B")
    var tag = ""
    val props = try jobProps(Overlap(spark) { o =>
      tag = o.tag
      (1 to 4).foreach(_ => o.fork(spark.range(10).count()))
    }) finally sc.setJobDescription(null)
    assert(props.nonEmpty)
    props.foreach { p =>
      assert(p.getProperty("spark.job.description") == "B")
      assert(tags(p).contains(tag))
      assert(p.getProperty("spark.jobGroup.id") == null)
    }
  }

  test("after a foreachBatch that forked, later branch jobs carry neither its group nor its root execution") {
    val src = Scratch.dir("graft_overlap_src_")
    spark.range(0, 100, 1, 1).write.mode("overwrite").parquet(s"$src/in")
    @volatile var group: String = null
    @volatile var root: String = null
    val inBatch = jobProps {
      spark.readStream.schema(spark.read.parquet(s"$src/in").schema).parquet(s"$src/in")
        .writeStream
        .option("checkpointLocation", Scratch.dir("graft_overlap_ck_"))
        .foreachBatch { (batch: DataFrame, _: Long) =>
          group = sc.getLocalProperty("spark.jobGroup.id")
          root = sc.getLocalProperty("spark.sql.execution.root.id")
          Overlap(spark) { o =>
            o.fork(batch.count())
            (1 to 8).foreach(_ => o.fork { Thread.sleep(200); spark.range(10).count() })
          }
        }
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    assert(group != null && root != null)
    // inside the batch, branches inherit the batch's group like any job of it
    assert(inBatch.count(_.getProperty("spark.jobGroup.id") == group) >= 9)
    val after = jobProps(smallJobs(8))
    assert(after.nonEmpty)
    after.foreach { p =>
      assert(p.getProperty("spark.jobGroup.id") == null)
      assert(p.getProperty("spark.sql.execution.root.id") != root)
    }
  }

  /** Two parquet writes forked side by side: `a` is held mid-write and
    * `b` fails halfway while armed. */
  private def twoWrites(a: String, b: String): Unit = {
    val ids = spark.range(0, 1000, 1, 1)
    Overlap(spark) { o =>
      o.fork(ids.select(held(col("id")).as("id")).write.mode("overwrite").parquet(a))
      o.fork(ids.select(failing(col("id")).as("id")).write.mode("overwrite").parquet(b))
    }
  }

  test("a failing branch cancels its held sibling: no job, no _temporary, and a clean rerun") {
    val root = Scratch.dir("graft_overlap_fault_")
    val (a, b) = (s"$root/a", s"$root/b")
    arm()
    val t0 = System.nanoTime
    val e = try intercept[Throwable](twoWrites(a, b)) finally inject = false
    assert((System.nanoTime - t0) / 1e9 < 60, "the held sibling was cancelled, not waited out")
    assert(mentions(e, "injected branch failure"))
    assert(e.getSuppressed.exists(mentions(_, "cancelled")), "the sibling's cancellation is attached")
    GraftPlanBridge.drain(sc)
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
    assert(noTemporary(a) && noTemporary(b))

    twoWrites(a, b)
    twoWrites(s"$root/clean_a", s"$root/clean_b")
    assert(partHashes(a).nonEmpty)
    assert(partHashes(a) == partHashes(s"$root/clean_a"))
    assert(partHashes(b) == partHashes(s"$root/clean_b"))
    assert(spark.read.parquet(b).count() == 1000L)
  }

  test("st17 shape: a batch that throws after forking its seen_fps write leaves no job running") {
    val root = Scratch.dir("graft_overlap_batch_")
    spark.range(0, 1000, 1, 1).write.mode("overwrite").parquet(s"$root/in")
    arm()
    val e = try intercept[Throwable] {
      spark.readStream.schema(spark.read.parquet(s"$root/in").schema).parquet(s"$root/in")
        .writeStream
        .option("checkpointLocation", s"$root/ck")
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          Overlap(spark) { o =>
            o.fork(batch.select(held(col("id")).as("fp"))
              .write.mode("overwrite").parquet(s"$root/seen_fps/b$bid"))
            started.await(1, TimeUnit.MINUTES)
            throw new IllegalStateException("injected batch failure")
          }
        }
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    } finally inject = false
    assert(mentions(e, "injected batch failure"))
    GraftPlanBridge.drain(sc)
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
    assert(noTemporary(s"$root/seen_fps"))
  }
}
