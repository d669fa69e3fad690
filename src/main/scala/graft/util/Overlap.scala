package graft.util

import java.util.concurrent.{CompletableFuture, ExecutionException, Executors, TimeUnit,
  TimeoutException}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution

/** Runs independent Spark jobs side by side, and never lets one outlive
  * the call that started it:
  * {{{
  * Overlap(spark) { o =>
  *   val a = o.fork { df1.write.parquet(p1) }
  *   df2.write.parquet(p2)  // the body runs on the caller's thread
  * }                        // returns once `a` has finished too
  * }}}
  * Why overlap: a write's last tasks leave cores idle while its slowest
  * partition finishes, and each job waits on driver round-trips to
  * schedule and commit. An independent job submitted alongside fills those
  * cores. A site keeps a fork only where that lowered its measured wall.
  *
  * A branch runs on a shared cached pool of daemon threads through Spark's
  * `SQLExecution.withThreadLocalCaptured`, so its jobs carry the caller's
  * local properties (job group, description, SQL execution ids) and active
  * session, as Spark's broadcast and subquery threads do, not those of
  * whichever thread grew the pool. They also carry the scope's job tag and
  * are interrupted when cancelled.
  *
  * The scope waits for every branch, whether the body and the branches
  * succeed or not. On the first failure it cancels the tag's jobs, again
  * on every poll until all branches have settled (a branch may start
  * another job after a cancel), and then rethrows that failure with any
  * later ones suppressed. Only the body forks, never a branch.
  */
object Overlap {
  private val ids = new AtomicLong
  private val pool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, s"graft-overlap-thread-${ids.incrementAndGet()}")
    t.setDaemon(true)
    t
  }

  final class Branch[T] private[Overlap] (f: CompletableFuture[T]) {
    /** Waits for the branch; returns its value or throws its error. */
    def join(): T = try f.get() catch { case e: ExecutionException => throw e.getCause }
  }

  final class Scope private[Overlap] (spark: SparkSession) {
    val tag = s"graft-overlap-${ids.incrementAndGet()}"
    private val owner = Thread.currentThread
    private val branches = ArrayBuffer.empty[CompletableFuture[_]]
    private[Overlap] val errors = ArrayBuffer.empty[Throwable]

    def fork[T](body: => T): Branch[T] = {
      require(Thread.currentThread eq owner, "only the scope's body forks")
      val sc = spark.sparkContext
      val f = SQLExecution.withThreadLocalCaptured(
          spark.asInstanceOf[classic.SparkSession], pool) {
        sc.addJobTag(tag)
        sc.setInterruptOnCancel(true)
        try body catch { case e: Throwable => fail(e); throw e }
      }
      branches += f
      new Branch(f)
    }

    private[Overlap] def fail(e: Throwable): Unit = {
      synchronized { if (!errors.exists(_ eq e)) errors += e }
      spark.sparkContext.cancelJobsWithTag(tag)
    }

    /** Waits for every branch. An interrupt of the caller counts as a
      * failure and is restored once the branches have settled. */
    private[Overlap] def settle(): Unit = {
      val all = CompletableFuture.allOf(branches.toSeq: _*)
      var interrupted = false
      while (!all.isDone) {
        try all.get(100, TimeUnit.MILLISECONDS) catch {
          case _: TimeoutException | _: ExecutionException => ()
          case e: InterruptedException => interrupted = true; fail(e)
        }
        if (synchronized(errors.nonEmpty) && !all.isDone) spark.sparkContext.cancelJobsWithTag(tag)
      }
      if (interrupted) Thread.currentThread.interrupt()
    }
  }

  /** Runs `body` in a fresh scope; returns its value once every branch it
    * forked has finished, or rethrows the first failure of body or branch. */
  def apply[T](spark: SparkSession)(body: Scope => T): T = {
    val scope = new Scope(spark)
    val out = try Some(body(scope)) catch { case e: Throwable => scope.fail(e); None }
    scope.settle()
    scope.errors.headOption.foreach { first =>
      scope.errors.tail.foreach(first.addSuppressed)
      throw first
    }
    out.get
  }
}
