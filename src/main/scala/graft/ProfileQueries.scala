package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Per-query profiling micro-harness: time NAMED registry queries K
  * times each in one warm JVM (bench-identical session config +
  * warmups) and print min/median walls plus the last rep's jobs, stages
  * and tasks. The repeat-min is the box-noise-resistant basis the judge
  * compares rounds on (r7/r8 lesson: single-run walls here spike
  * 5–25× on byte-identical plans), so regression chases start with
  * this main, not with single BENCH rows. Run:
  *
  *   sbt "runMain graft.ProfileQueries a54_trimmed_mean a11_window_median"
  *   GRAFT_PROF_REPS=7 sbt "runMain graft.ProfileQueries <names…>"
  *
  * With `GRAFT_PLAN_OUT` set it also writes each query's plan after its
  * first rep to `<out>/<query>_<GRAFT_PLAN_TAG>.txt` (tag default
  * `before`) — the optimization-round evidence artifact
  * (plans/r<N>/<query>_<tag>.txt): the formatted initial plan, then the
  * final adaptive plan (AQE finalizes it only once the query has run).
  *
  *   GRAFT_PLAN_OUT=plans/r14 GRAFT_PLAN_TAG=after GRAFT_PROF_REPS=1 \
  *     sbt "runMain graft.ProfileQueries d09_fuzzy_pairs g04_contamination_spread"
  */
object ProfileQueries {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileQueries <queryName> [more…]")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("GRAFT_PROF_REPS", "5").toInt
    val planOut = sys.env.get("GRAFT_PLAN_OUT")
    val planTag = sys.env.getOrElse("GRAFT_PLAN_TAG", "before")
    val spark = GraftSession.local()
    GraftSession.warmUp(spark, dir)
    planOut.foreach(out => Files.createDirectories(Paths.get(out)))
    args.foreach { name =>
      val q = Registry.byName.getOrElse(name,
        sys.error(s"unknown query $name — see docs/INVENTORY.md"))
      // Jobs/stages/tasks per rep: driver-side job count is a first-class
      // cost at bench scale (each job pays scheduling + result handling),
      // so the profile prints it next to the wall.
      val costs = (1 to reps).map { rep =>
        val (out, cost) = QueryMetrics(spark) {
          val df = q.fn(spark, dir)
          df.queryExecution.toRdd.count()
          df
        }
        val qe = out.get.queryExecution
        if (rep == 1) planOut.foreach { o =>
          val plan = qe.explainString(FormattedMode) +
            "\n== Final Adaptive Plan (executed) ==\n" +
            qe.executedPlan.toString.split("== Initial Plan ==").head
          Files.write(Paths.get(o, s"${name}_$planTag.txt"), plan.getBytes(StandardCharsets.UTF_8))
          println(s"[prof] wrote $o/${name}_$planTag.txt")
        }
        cost
      }
      val ts = costs.map(_.wallS)
      val last = costs.last
      println(f"[prof] $name%-28s ${ts.map(t => f"$t%5.2f").mkString(" ")}" +
        f"  min ${ts.min}%.2f  med ${ts.sorted.apply(reps / 2)}%.2f" +
        f"  jobs ${last.jobs}%d stages ${last.stages}%d tasks ${last.tasks}%d")
    }
    spark.stop()
  }
}
