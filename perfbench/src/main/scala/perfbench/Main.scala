package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Registry
import graft.dashboard.DashboardServer
import graft.health.HealthEtl
import graft.report.{ExcelReportSink, PdfReportSink, WeeklyReport}

/** The engine side of one benchmark run: sets up (a SparkSession and the
  * workload's warm-up), does the workload's timed work through the
  * engine's public functions, and writes a JSON result file for `run.py`,
  * which checks the outputs and prints the metrics.
  *
  * Usage: perfbench.Main key=value... with keys kind, seed, trace
  * (0|1), out, cpus, and per kind: data + queries (registry), csv +
  * outdir (health).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val w: Workload = o("kind") match {
      case "registry" => new RegistryWork(o)
      case "health" => new HealthApp(o)
      case other => sys.error(s"unknown workload kind $other")
    }
    val result = w.run()
    Files.write(Paths.get(o("out")), result.getBytes(StandardCharsets.UTF_8))
    System.out.flush()
    // non-daemon Spark threads can outlive stop(); the result is written
    System.exit(0)
  }
}

/** One timed operation: a registry query or a report-job step. */
final case class Op(name: String, wallS: Double, constructS: Double, rows: Long,
                    error: Option[String], startMs: Long, constructEndMs: Long) {
  def json: String = Json.obj(Seq(
    "name" -> Json.str(name), "wall_s" -> Json.num(wallS),
    "construct_s" -> Json.num(constructS), "rows" -> rows.toString,
    "error" -> error.map(Json.str).getOrElse("null")))
}

abstract class Workload(o: Map[String, String]) {
  val cpus: Int = o("cpus").toInt
  val tracer = new Tracer(o("trace") == "1")
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  /** Per-layer values, filled only by the traced run. */
  val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  protected var counters: Option[Counters] = None

  /** Workload-specific part of set-up, after the session exists. */
  def warmUp(spark: SparkSession): Unit
  /** The timed work; returns the operations it ran. */
  def timed(spark: SparkSession): Seq[Op]
  /** Traced run only: work after the timed window (direct probes). */
  def afterTimed(spark: SparkSession): Unit = ()
  /** Extra fields of the result file. */
  def extra: Seq[(String, String)] = Nil

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Traced run: jobs submitted between two wall-clock instants. */
  def jobsBetween(t0Ms: Long, t1Ms: Long): Long =
    counters.map(_.jobSubmitMs.toArray.count { t =>
      val ms = t.asInstanceOf[Long]; ms >= t0Ms && ms <= t1Ms
    }.toLong).getOrElse(0L)

  def spanJobs(layer: String): Long = tracer.spans.filter(_.layer == layer).map { s =>
    jobsBetween(toEpochMs(s.startNs), toEpochMs(s.endNs))
  }.sum

  private val nanoOrigin = System.nanoTime()
  private val epochOrigin = System.currentTimeMillis()
  def toEpochMs(ns: Long): Long = epochOrigin + (ns - nanoOrigin) / 1000000L

  def run(): String = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session()
    if (tracer.enabled) counters = Some(new Counters(spark))
    warmUp(spark)
    // set-up: JVM start to the first timed call
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val before = counters.map(_.snapshot())
    counters.foreach(_.batchMs.clear())
    val t0 = System.nanoTime()
    val ops = timed(spark)
    val wallS = (System.nanoTime() - t0) / 1e9
    val liveMb = liveHeapMb()
    counters.foreach { c =>
      val end = c.snapshot()
      executeLayers(end - before.get, wallS)
      checks += (("trace.drained", end(Counter.inFlight) == 0,
        s"${end(Counter.inFlight)} jobs/stages/tasks still running after the final drain"))
      afterTimed(spark)
    }
    val rss = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    spark.stop()
    Json.obj(Seq(
      "setup_s" -> Json.num(setupS),
      "wall_s" -> Json.num(wallS),
      "peak_rss_mb" -> Json.num(rss),
      "heap_live_mb" -> Json.num(liveMb),
      "ops" -> Json.arr(ops.map(_.json)),
      "layers" -> Json.obj(layers.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "checks" -> Json.arr(checks.toSeq.map { case (n, ok, d) =>
        Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString, "detail" -> Json.str(d)))
      }),
      "spans" -> tracer.json) ++ extra)
  }

  /** What the engine keeps live after the timed work: heap in use after a
    * full GC, once Spark's ContextCleaner has released the broadcasts and
    * shuffles that the first collection left unreachable. */
  def liveHeapMb(): Double = {
    System.gc(); Thread.sleep(500); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The `catalyst`, `execute`, `shuffle`, `spill`, `io` and `streaming`
    * layers, from the counters of the whole timed window. */
  def executeLayers(t: Counts, wallS: Double): Unit = {
    import Counter._
    val mb = 1024.0 * 1024.0
    layers ++= Seq(
      "catalyst.analysis_s" -> t(analysisNs) / 1e9,
      "catalyst.optimization_s" -> t(optimizationNs) / 1e9,
      "catalyst.planning_s" -> t(planningNs) / 1e9,
      "execute.jobs" -> t(jobs).toDouble,
      "execute.stages" -> t(stages).toDouble,
      "execute.tasks" -> t(tasks).toDouble,
      "execute.empty_task_frac" -> (if (t(tasks) == 0) 0.0 else t(emptyTasks).toDouble / t(tasks)),
      "execute.core_util" -> t(taskRunNs) / 1e9 / (wallS * cpus),
      "execute.task_run_s" -> t(taskRunNs) / 1e9,
      "execute.task_cpu_s" -> t(taskCpuNs) / 1e9,
      "execute.gc_s" -> t(gcNs) / 1e9,
      "shuffle.write_mb" -> t(shuffleWrite) / mb,
      "shuffle.read_mb" -> t(shuffleRead) / mb,
      "shuffle.fetch_wait_s" -> t(fetchWaitNs) / 1e9,
      "spill.mb" -> t(spill) / mb,
      "io.input_mb" -> t(input) / mb,
      "io.output_mb" -> t(output) / mb,
      "stream.batches" -> t(batches).toDouble,
      "stream.add_batch_s" -> t(addBatchNs) / 1e9,
      "stream.wal_commit_s" -> t(walCommitNs) / 1e9,
      "stream.input_rows" -> t(inputRows).toDouble)
    val bms = counters.get.batchMs.toArray.map(_.asInstanceOf[Long].toDouble).sorted
    layers("stream.batch_ms_p50") = Stats.median(bms.toSeq)
    if (!layers.contains("execute.s")) layers("execute.s") = wallS
  }

  def timeOp(name: String)(body: => Long): Op = {
    val t0 = System.nanoTime(); val ms0 = System.currentTimeMillis()
    val (rows, err) =
      try (tracer.span(name)(body), None)
      catch { case e: Throwable => (-1L, Some(e.toString.take(500))) }
    Op(name, (System.nanoTime() - t0) / 1e9, 0.0, rows, err, ms0, ms0)
  }
}

object Stats {
  /** Median with linear interpolation, as Python's statistics.median. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** `contract_sweep`: registry queries timed as `graft.Bench` times them —
  * `fn(spark, dir)`, then `queryExecution.toRdd.count()` — each once, in
  * the given order. */
final class RegistryWork(o: Map[String, String]) extends Workload(o) {
  private val dir = o("data")
  private val names = o("queries").split(",").toSeq

  def warmUp(spark: SparkSession): Unit =
    Seq("j01_broadcast_star", "w01_topn_per_group", "t01_token_stats").foreach { n =>
      Registry.byName(n).fn(spark, dir).queryExecution.toRdd.count()
    }

  def timed(spark: SparkSession): Seq[Op] = {
    var last = counters.map(_.snapshot())
    var executeS = 0.0
    val ops = names.map { name =>
      val fn = Registry.byName(name).fn
      val t0 = System.nanoTime(); val ms0 = System.currentTimeMillis()
      var tc = t0; var msc = ms0
      val (rows, err) =
        try {
          val df: DataFrame = tracer.span(s"registry.construct:$name")(fn(spark, dir))
          tc = System.nanoTime(); msc = System.currentTimeMillis()
          val n = tracer.span(s"execute:$name")(df.queryExecution.toRdd.count())
          counters.foreach(_.addPhases(df.queryExecution))
          (n, None)
        } catch { case e: Throwable => (-1L, Some(e.toString.take(500))) }
      val t1 = System.nanoTime()
      executeS += (t1 - tc) / 1e9
      counters.foreach { c =>
        val now = c.snapshot()
        val endMs = System.currentTimeMillis()
        checks += ((s"trace.drained:$name", now(Counter.inFlight) == 0,
          "jobs, stages or tasks still running at the per-call snapshot"))
        // the drained snapshot's job delta against the jobs whose submit
        // time falls inside the call: a job delivered late would be
        // counted by the next call's snapshot instead
        val delta = (now - last.get)(Counter.jobs)
        val submitted = jobsBetween(ms0, endMs - 1)
        checks += ((s"trace.jobs_attributed:$name", delta == submitted,
          s"snapshot delta $delta jobs, $submitted submitted during the call"))
        last = Some(now)
      }
      Op(name, (t1 - t0) / 1e9, (tc - t0) / 1e9, rows, err, ms0, msc)
    }
    if (tracer.enabled) {
      ops.foreach { op =>
        val spans = tracer.spans.filter(_.name.endsWith(s":${op.name}")).map(_.seconds).sum
        val gap = math.abs(op.wallS - spans)
        checks += ((s"trace.wall_accounted:${op.name}", op.error.nonEmpty || gap <= 0.05 * op.wallS + 0.002,
          f"construct+execute ${spans}%.4f s vs wall ${op.wallS}%.4f s"))
      }
      layers("construct.s") = ops.map(_.constructS).sum
      layers("construct.jobs") = ops.map(op => jobsBetween(op.startMs, op.constructEndMs)).sum.toDouble
      layers("execute.s") = executeS
    }
    ops
  }

  override def extra: Seq[(String, String)] = Seq("oracle" -> Json.obj(names.flatMap { n =>
    Registry.byName(n).oracle.map(sql => n -> Json.str(sql))
  }))
}

/** `health_app`: the reference app's two users on one dirty CSV.
  *
  * Set-up builds the dashboard as `DashboardMain` does — `DashboardServer`
  * (ETL + cache) and one `/predict`, which fits the model lazily. The
  * timed work is the weekly report job — the calls `WeeklyReport.run`
  * makes (clean + cache, sections, which fit the RandomForest, charts,
  * render) plus the reference's cleaned-CSV and Excel sinks — and then
  * the dashboard on 127.0.0.1 serving the closed-loop clients `run.py`
  * starts once this prints its port; a line on stdin ends the window.
  */
final class HealthApp(o: Map[String, String]) extends Workload(o) {
  private val outDir = o("outdir")
  private val reportName = "WEEKLY GLOBAL HEALTH REPORT"
  private var titles = Seq.empty[String]
  private var server: DashboardServer = null

  def warmUp(spark: SparkSession): Unit = {
    server = tracer.span("dashboard.build")(new DashboardServer(spark, o("csv")))
    tracer.span("ml.fit")(server.predictPage(Map.empty))
  }

  def timed(spark: SparkSession): Seq[Op] = {
    var cleaned: DataFrame = null
    val etl = timeOp("health.etl") {
      cleaned = HealthEtl.clean(spark, o("csv")).cache()
      cleaned.count()
    }
    val sink = timeOp("health.sink") {
      HealthEtl.writeCleanedCsv(cleaned, s"$outDir/cleaned_csv"); 0L
    }
    var sections = Seq.empty[(String, String)]
    val sec = timeOp("report.sections") {
      sections = WeeklyReport.sections(spark, cleaned); sections.size.toLong
    }
    titles = sections.map(_._1)
    var charts = Seq.empty[graft.report.PdfChart]
    val ch = timeOp("report.charts") { charts = WeeklyReport.charts(cleaned); charts.size.toLong }
    val pdf = timeOp("report.render:pdf") {
      new PdfReportSink(s"$outDir/report.pdf").write(reportName, sections, charts)
      Files.size(Paths.get(s"$outDir/report.pdf"))
    }
    val xlsx = timeOp("report.render:xlsx") {
      new ExcelReportSink(s"$outDir/report.xlsx").write(reportName, sections)
      Files.size(Paths.get(s"$outDir/report.xlsx"))
    }
    cleaned.unpersist(blocking = true)
    val http = server.start(0)
    println(s"PERFBENCH_READY ${http.getAddress.getPort}")
    System.out.flush()
    scala.io.StdIn.readLine()
    http.stop(0)
    if (tracer.enabled) {
      val etlS = tracer.layerSeconds("health.etl")
      layers ++= Seq(
        "health.etl_s" -> etlS,
        "health.etl_jobs" -> spanJobs("health.etl").toDouble,
        "health.sink_s" -> tracer.layerSeconds("health.sink"),
        "health.rows_per_s" -> etl.rows / etlS,
        "report.sections_s" -> tracer.layerSeconds("report.sections"),
        "report.sections_jobs" -> spanJobs("report.sections").toDouble,
        "report.charts_s" -> tracer.layerSeconds("report.charts"),
        "report.render_s" -> tracer.layerSeconds("report.render"),
        "report.pdf_bytes" -> pdf.rows.toDouble)
    }
    Seq(etl, sink, sec, ch, pdf, xlsx)
  }

  /** The set-up's model fit, and five direct page renders from one
    * caller: page cost without HTTP or queueing. */
  override def afterTimed(spark: SparkSession): Unit = {
    val fit = tracer.spans.filter(_.layer == "ml.fit").last
    val rng = new scala.util.Random(o("seed").toLong)
    val c = counters.get
    val renders = (1 to 5).map { _ =>
      val params = Map("year" -> (2000 + rng.nextInt(25)).toString)
        .filter(_ => rng.nextBoolean())
      val before = c.snapshot()
      val t0 = System.nanoTime()
      tracer.span("dashboard.render")(server.page(params))
      ((System.nanoTime() - t0) / 1e6, (c.snapshot() - before)(Counter.jobs).toDouble)
    }
    layers ++= Seq(
      "ml.fit_s" -> fit.seconds,
      "ml.fit_jobs" -> jobsBetween(toEpochMs(fit.startNs), toEpochMs(fit.endNs)).toDouble,
      "dashboard.render_ms_p50" -> Stats.median(renders.map(_._1)),
      "dashboard.jobs_per_page" -> Stats.median(renders.map(_._2)))
  }

  override def extra: Seq[(String, String)] = Seq(
    "sections" -> Json.arr(titles.map(Json.str)), "report_name" -> Json.str(reportName))
}
