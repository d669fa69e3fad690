package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into the engine. `parent` is the id
  * of the enclosing span on the same thread (-1 at the top). */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  /** The layer is the name up to its first ':' ("registry.construct:a01"
    * belongs to "registry.construct"). */
  def layer: String = name.takeWhile(_ != ':')
}

/** In-memory spans, written out when the run ends. Disabled, `span` is a
  * plain call: the untraced runs pay nothing for it. */
final class Tracer(val enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String, Long)]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      stack = (id, name, System.nanoTime()) :: stack
      try body
      finally {
        val (_, _, t0) = stack.head
        stack = stack.tail
        done += Span(id, name, stack.headOption.map(_._1).getOrElse(-1), t0, System.nanoTime())
      }
    }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)

  /** Duration minus the part of it covered by direct children. */
  def selfSeconds(s: Span): Double = {
    val kids = done.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L; var reach = s.startNs
    kids.foreach { case (a, b) =>
      val lo = math.max(a, reach)
      if (b > lo) { covered += b - lo; reach = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Sum of durations of every span in `layer`. */
  def layerSeconds(layer: String): Double = spans.filter(_.layer == layer).map(_.seconds).sum

  def json: String = spans.map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
      f""""start_s":${s.startNs / 1e9}%.6f,"end_s":${s.endNs / 1e9}%.6f,"self_s":${selfSeconds(s)}%.6f}"""
  }.mkString("[", ",\n", "]")
}

/** The counters one window of the run accumulates. Byte counters are
  * bytes, time counters nanoseconds; `inFlight` counts jobs, stages and
  * tasks started but not yet ended. */
object Counter extends Enumeration {
  val jobs, stages, tasks, emptyTasks, taskRunNs, taskCpuNs, gcNs,
      shuffleWrite, shuffleRead, fetchWaitNs, spill, input, output,
      analysisNs, optimizationNs, planningNs,
      batches, addBatchNs, walCommitNs, inputRows, inFlight = Value
}

final case class Counts(v: Vector[Long]) {
  def apply(k: Counter.Value): Long = v(k.id)
  def -(o: Counts): Counts = Counts(v.zip(o.v).map { case (a, b) => a - b })
}

/** Spark listener + SQL execution listener + streaming listener, all
  * feeding one set of counters. Also keeps the submit time of every job
  * and the duration of every micro-batch, for attribution and medians. */
final class Counters(spark: SparkSession) {
  import Counter._
  private val c = Array.fill(Counter.maxId)(new AtomicLong)
  private def add(k: Counter.Value, v: Long): Unit = c(k.id).addAndGet(v)
  val jobSubmitMs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  val batchMs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add(jobs, 1); add(inFlight, 1); jobSubmitMs.add(e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = add(inFlight, -1)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = add(inFlight, 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      add(stages, 1); add(inFlight, -1)
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = add(inFlight, 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add(tasks, 1); add(inFlight, -1)
      val m = e.taskMetrics
      if (m != null) {
        add(taskRunNs, m.executorRunTime * 1000000L)
        add(taskCpuNs, m.executorCpuTime)
        add(gcNs, m.jvmGCTime * 1000000L)
        add(shuffleWrite, m.shuffleWriteMetrics.bytesWritten)
        add(shuffleRead, m.shuffleReadMetrics.totalBytesRead)
        add(fetchWaitNs, m.shuffleReadMetrics.fetchWaitTime * 1000000L)
        add(spill, m.diskBytesSpilled)
        add(input, m.inputMetrics.bytesRead)
        add(output, m.outputMetrics.bytesWritten)
        if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0)
          add(emptyTasks, 1)
      }
    }
  }

  private def phases(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def ns(k: String) = p.get(k).map(_.durationMs * 1000000L).getOrElse(0L)
    add(analysisNs, ns("analysis")); add(optimizationNs, ns("optimization"))
    add(planningNs, ns("planning"))
  }

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      add(batches, 1); batchMs.add(p.batchDuration)
      add(addBatchNs, ms("addBatch") * 1000000L); add(walCommitNs, ms("walCommit") * 1000000L)
      add(inputRows, p.numInputRows)
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(sqlListener)
  spark.streams.addListener(streamListener)

  /** Catalyst phases of a query executed outside a Dataset action (the
    * registry's `queryExecution.toRdd`), which the SQL listener never sees. */
  def addPhases(qe: QueryExecution): Unit = phases(qe)

  /** Drain the listener bus, then read every counter. */
  def snapshot(): Counts = {
    PerfbenchBus.drain(spark.sparkContext)
    Counts(c.map(_.get).toVector)
  }
}

/** Just enough JSON writing for the harness's result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
