package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftFunctions
import graft.plans.{AsOfJoinStrategy, CollapseNfcNormalize}

/** What a graft session is, in one place: how the engine's own mains and
  * tests build one ([[local]]), how they warm it up ([[warmUp]]), and how
  * a session the engine did not build gets the engine's functions, rule
  * and strategy ([[ensure]]).
  */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS` if set, else every core of the machine. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with as many shuffle partitions, UTC session
    * time (events' TIMESTAMP_NTZ math must match the oracle on any host),
    * no UI, log level WARN and [[GraftExtensions]] installed. */
  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // static: read from the SparkContext conf, so every later session
      // on the same context gets the extension too
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Untimed warm-up so the first timed queries don't pay JIT, codegen
    * and shuffle-service start-up (r1 showed 10x inflation on the first
    * few; one warm-up was not enough). Three shapes: broadcast join,
    * shuffle agg + window, scan projection. Ends with the listener bus
    * drained, so no warm-up event reaches a listener's first reading.
    */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    Seq("j01_broadcast_star", "w01_topn_per_group", "t01_token_stats").foreach { name =>
      try Registry.byName(name).fn(spark, dir).queryExecution.toRdd.count()
      catch { case e: Throwable =>
        System.err.println(s"[graft] warmup $name failed: ${e.getMessage}")
      }
    }
    org.apache.spark.sql.GraftPlanBridge.drain(spark.sparkContext)
  }

  /** Installs whatever the session lacks of [[GraftExtensions]]: missing
    * functions of the table go into its function registry, and the rule
    * and strategy into `spark.experimental` unless the session already
    * plans with them. Idempotent, and a no-op on a session built with the
    * extension. Called at the engine's public entry points that take a
    * caller's session (registry queries, `HealthEtl.clean`,
    * `AsOfJoin.asof`), after the pattern of Pathling's `SqlStrategy.setup`.
    */
  def ensure(spark: SparkSession): Unit = synchronized {
    val state = spark.sessionState
    GraftFunctions.table.foreach { case (id, info, build) =>
      if (!state.functionRegistry.functionExists(id))
        state.functionRegistry.registerFunction(id, info, build)
    }
    val xp = spark.experimental
    if (!state.planner.strategies.contains(AsOfJoinStrategy))
      xp.extraStrategies = xp.extraStrategies :+ AsOfJoinStrategy
    def collapses(rules: Seq[_]) = rules.exists(_.isInstanceOf[CollapseNfcNormalize])
    if (!collapses(state.optimizer.extendedOperatorOptimizationRules) &&
        !collapses(xp.extraOptimizations))
      xp.extraOptimizations = xp.extraOptimizations :+ CollapseNfcNormalize(spark)
  }
}
