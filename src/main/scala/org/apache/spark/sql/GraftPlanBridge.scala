package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The engine's doorway to the two `private[spark]`/`private[sql]`
  * members it needs. Spark exposes every other extension seam publicly
  * (functions, optimizer rules, planner strategies via
  * `SparkSessionExtensions` / `spark.experimental`), but two have no
  * public form, so this lives in `org.apache.spark.sql` and contains
  * nothing else:
  *  - wrapping a hand-built [[LogicalPlan]] into a DataFrame
  *    (`classic.Dataset.ofRows`);
  *  - draining the listener bus, so a listener read after a job sees
  *    every event of that job (`SparkContext.listenerBus`).
  */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
