package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.GraftFunctions
import graft.plans.{AsOfJoinStrategy, CollapseNfcNormalize}

/** Spark-native installation point for everything a graft session adds
  * to Spark: every function of [[GraftFunctions.table]], the
  * `CollapseNfcNormalize` optimizer rule and the `AsOfJoinStrategy`
  * planner strategy. [[GraftSession.local]] sets
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * so each of its sessions (pure-SQL clients included) starts with them.
  * A session built without the extension gets the same set from
  * [[GraftSession.ensure]] when it first enters the engine.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.table.foreach(ext.injectFunction)
    // Rule tier: idempotence collapse for nfc_normalize chains
    ext.injectOptimizerRule(s => CollapseNfcNormalize(s))
    // Whole-operator tier: the native as-of join (logical node + merge exec)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}
