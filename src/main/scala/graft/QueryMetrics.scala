package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftPlanBridge, SparkSession}

/** The one way the engine measures what a block of work cost Spark:
  * {{{
  * val (out, cost) = QueryMetrics(spark) { q.fn(spark, dir).queryExecution.toRdd.count() }
  * }}}
  * A listener is attached for the body alone. The listener bus is drained
  * before it attaches, so events of earlier work are not charged to the
  * body, and again after the body, whether it succeeded or threw, so
  * every event of the body's jobs has arrived when the cost is read.
  * Only then is the listener detached. The body's outcome comes back as a
  * `Try`, any `Throwable` included, so a failed call still reports what
  * it cost.
  */
object QueryMetrics {

  /** The description key of jobs submitted without `spark.job.description`. */
  val untagged = "(untagged)"

  /** What one body cost.
    * @param wallS        the body's wall, in seconds (drains excluded)
    * @param jobs         jobs submitted
    * @param stages       stages completed (skipped stages do not count)
    * @param tasks        Σ `numTasks` over the completed stages
    * @param taskMs       Σ executor run time of the finished tasks, in ms
    * @param shuffleBytes shuffle bytes written by the completed stages
    * @param shuffleBytesByTag the same bytes keyed by the
    *   `spark.job.description` of the job that submitted the stage
    */
  final case class Cost(wallS: Double, jobs: Int, stages: Int, tasks: Long,
      taskMs: Long, shuffleBytes: Long, shuffleBytesByTag: Map[String, Long])

  private final class Ledger extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicLong
    val taskMs = new AtomicLong
    private val stageTag = new ConcurrentHashMap[Int, String]
    private val byTag = new ConcurrentHashMap[String, AtomicLong]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val tag = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse(untagged)
      e.stageIds.foreach(stageTag.put(_, tag))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(e.stageInfo.numTasks)
      val m = e.stageInfo.taskMetrics
      if (m != null)
        byTag.computeIfAbsent(stageTag.getOrDefault(e.stageInfo.stageId, untagged),
          _ => new AtomicLong).addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) taskMs.addAndGet(m.executorRunTime)
    }

    def cost(wallS: Double): Cost = {
      val bytes = byTag.asScala.map { case (k, v) => k -> v.get }.toMap
      Cost(wallS, jobs.get, stages.get, tasks.get, taskMs.get, bytes.values.sum, bytes)
    }
  }

  def apply[T](spark: SparkSession)(body: => T): (Try[T], Cost) = {
    val sc = spark.sparkContext
    val ledger = new Ledger
    GraftPlanBridge.drain(sc)
    sc.addSparkListener(ledger)
    try {
      val t0 = System.nanoTime()
      val out = try Success(body) catch { case e: Throwable => Failure(e) }
      val wallS = (System.nanoTime() - t0) / 1e9
      GraftPlanBridge.drain(sc)
      (out, ledger.cost(wallS))
    } finally sc.removeSparkListener(ledger)
  }
}
