package org.apache.spark

/** The listener bus is `private[spark]`; this is the benchmark's one
  * doorway to it, so every counter snapshot is taken only after all
  * events posted so far have been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
