package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftPlanBridge, SparkSession}

/** Counts the Spark jobs a block submits: a listener is attached around
  * the block and read only after the listener bus has drained, so every
  * job the block started is counted. */
object JobCount {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    GraftPlanBridge.drain(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      GraftPlanBridge.drain(sc)
      (out, n.get)
    } finally sc.removeSparkListener(l)
  }
}
