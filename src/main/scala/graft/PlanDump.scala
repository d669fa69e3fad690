package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named registry queries to files —
  * the optimization-round evidence artifact (plans/r<N>/<query>_<tag>.txt).
  * Bench-identical session config so the dumped plan is the measured one.
  *
  *   GRAFT_PLAN_OUT=plans/r14 GRAFT_PLAN_TAG=before \
  *     sbt "runMain graft.PlanDump d09_fuzzy_pairs g04_contamination_spread"
  *
  * Plans are captured AFTER one execution (AQE finalizes the adaptive
  * plan only once the query has run), with the formatted initial plan
  * followed by the final adaptive plan string.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanDump <queryName> [more…]")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("GRAFT_PLAN_OUT", "plans/r14")
    val tag = sys.env.getOrElse("GRAFT_PLAN_TAG", "before")
    val spark = GraftSession.local()
    Files.createDirectories(Paths.get(out))
    args.foreach { name =>
      val q = Registry.byName.getOrElse(name,
        sys.error(s"unknown query $name — see docs/INVENTORY.md"))
      val df = q.fn(spark, dir)
      val formatted =
        try {
          val qe = df.queryExecution
          qe.toRdd.count() // run so the AQE final plan exists
          val initial = qe.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val finalPlan = qe.executedPlan.toString
            .split("== Initial Plan ==").head
          s"$initial\n== Final Adaptive Plan (executed) ==\n$finalPlan"
        } catch {
          case e: Throwable => s"FAILED: ${e.getMessage}"
        }
      Files.write(Paths.get(out, s"${name}_$tag.txt"),
        formatted.getBytes(StandardCharsets.UTF_8))
      println(s"[plandump] wrote $out/${name}_$tag.txt")
    }
    spark.stop()
  }
}
