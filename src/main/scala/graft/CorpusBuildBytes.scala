package graft

/** Per-stage shuffle-byte attribution for the ep02 incremental build
  * (VERDICT r11 #1): runs one fresh funnel per dir under a listener
  * that attributes every completed Spark stage to the pipeline stage
  * that submitted it — ep02 tags each stage boundary's construction
  * with a job description (under AQE a lazy localCheckpoint still
  * materializes its upstream exchanges at construction, on pool
  * threads that inherit the tag) — and prints per-stage bytes at the
  * base and scaled dirs with ratios. This is the instrument that
  * localizes a bad job_mb ratio to the pipeline stage that caused it:
  * r11's 70.8× turned out to be corpus-sided SMJ exchanges
  * (append-offset re-join carrying the cleaned text, corpus-fp
  * distinct, band/sets shuffles) that broadcast away at the small
  * base; the r12 shape moves all of them map-side, and this main is
  * the evidence that each remaining stage scales ~linearly in the
  * batch.
  *
  *   tools/jrun.sh graft.CorpusBuildBytes [baseDir scaledDir]
  */
object CorpusBuildBytes {

  final class TagBytes extends org.apache.spark.scheduler.SparkListener {
    private val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val byTag = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    override def onJobStart(
        e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("(untagged)")
      e.stageIds.foreach(id => stageTag.put(id, desc))
    }
    override def onStageCompleted(
        e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        val tag = stageTag.getOrDefault(e.stageInfo.stageId, "(untagged)")
        byTag.computeIfAbsent(tag,
            _ => new java.util.concurrent.atomic.AtomicLong(0L))
          .addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    def settled(sc: org.apache.spark.SparkContext): Map[String, Long] = {
      org.apache.spark.sql.GraftPlanBridge.drain(sc)
      import scala.jdk.CollectionConverters._
      byTag.asScala.map { case (k, v) => (k, v.get()) }.toMap
    }
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val scaledDir = args.lift(1).getOrElse("/tmp/graft_scale_x10")
    val spark = GraftSession.local()

    def run(dir: String): Map[String, Long] = {
      // warm the once-per-JVM index + chooser so the funnel is
      // attributed the PROBE cost, not the one-time-per-corpus build
      graft.operators.Dedup.chosenRowsPerBand(spark, dir)
      val l = new TagBytes
      spark.sparkContext.addSparkListener(l)
      graft.operators.CorpusBuild.ep02IncrementalBuild(spark, dir)
        .queryExecution.toRdd.count()
      val out = l.settled(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
      out
    }
    val base = run(baseDir)
    val scaled = run(scaledDir)
    println("stage                        base_mb  scaled_mb  ratio")
    (base.keySet ++ scaled.keySet).toSeq.sorted.foreach { tag =>
      val b = base.getOrElse(tag, 0L)
      val s = scaled.getOrElse(tag, 0L)
      val r = if (b > 0) s.toDouble / b else -1.0
      println(f"$tag%-28s ${b / 1e6}%8.3f ${s / 1e6}%10.3f ${r}%6.1f")
    }
    val (tb, ts) = (base.values.sum, scaled.values.sum)
    println(f"${"TOTAL"}%-28s ${tb / 1e6}%8.3f ${ts / 1e6}%10.3f ${if (tb > 0) ts.toDouble / tb else -1.0}%6.1f")
    spark.stop()
  }
}
