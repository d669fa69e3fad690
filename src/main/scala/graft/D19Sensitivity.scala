package graft

/** Prints the d19 miss-budget sensitivity table (VERDICT r13 #5) for
  * each corpus dir given: per LSH layout, the analytic miss probability
  * at the 0.8 contract threshold, whether a 5% and a 1% budget admit
  * it, and the candidate volume it costs on that corpus (d19's own
  * probe-sample-bounded measurement). One markdown table per dir —
  * pasted verbatim into NOTES.md, so the recorded table is generated,
  * never hand-typed. Run:
  *
  *   sbt "runMain graft.D19Sensitivity /root/testdata/sf0.1 /tmp/graft_scale_x10 /tmp/graft_scale_x100"
  */
object D19Sensitivity {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq else Seq("/root/testdata/sf0.1")
    val spark = GraftSession.local()
    dirs.foreach { dir =>
      println(s"\n### d19 miss-budget sensitivity — $dir\n")
      println("| r | b | miss@0.8 | n_candidates | 5% admits | 1% admits | chosen (5% default) |")
      println("|---|---|---|---|---|---|---|")
      operators.Dedup.d19MissBudgetSensitivity(spark, dir).collect().foreach { row =>
        println(s"| ${row.getInt(0)} | ${row.getInt(1)} | ${row.getDouble(2)} " +
          s"| ${row.getLong(3)} | ${row.getBoolean(4)} | ${row.getBoolean(5)} " +
          s"| ${row.getBoolean(6)} |")
      }
    }
    spark.stop()
  }
}
