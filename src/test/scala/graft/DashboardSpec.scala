package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.health.HealthQueries
import graft.report.{ScatterChart, WeeklyReport}
import graft.util.Exact.stableAvg

/** EP1 shell end-to-end: real HTTP server, pages folded from the
  * build-time rollup, real SVG charts in the response body. */
class DashboardSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val server =
    new graft.dashboard.DashboardServer(spark, CleanedHealth(spark), None)
  private lazy val http = HttpClient.newHttpClient()

  private def get(port: Int, path: String): String =
    http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()

  test("dashboard serves the filtered EP1 page with charts over HTTP") {
    val s = server.start(0)
    try {
      val port = s.getAddress.getPort
      val home = get(port, "/")
      // section inventory (the reference's tab-1 figures) is present
      assert(home.contains("Global Filters"))
      assert(home.contains("Top Deadliest Diseases"))
      assert(home.contains("Average Treatment Cost by Disease"))
      assert(home.contains("Mortality Trend"))
      assert(home.contains("Healthcare Access vs Mortality"))
      // real vector charts, not placeholders
      assert(home.contains("<svg") && home.contains("<rect") &&
        home.contains("<polyline") && home.contains("<circle"))
      // sidebar is populated from the live distinct values
      assert(home.contains("<option value=\"Brazil\""),
        "country filter options must come from the cleaned data")

      // applying a country filter narrows every section but keeps the trend
      val filtered = get(port, "/?country=Brazil&year=")
      assert(filtered.contains("selected>Brazil"))
      assert(filtered.contains("Mortality Trend - Brazil"))
      assert(filtered.contains("<svg"))

      // an unknown filter value is ignored, not an error
      val bogus = get(port, "/?country=Atlantis")
      assert(bogus.contains("Global Health Analytics") && !bogus.contains("error:"))
    } finally s.stop(0)
  }

  test("dashboard renders the flagship ep01 corpus-build funnel panel (VERDICT r11 #6)") {
    val s = new graft.dashboard.DashboardServer(spark, CleanedHealth(spark), Some(sf)).start(0)
    try {
      val port = s.getAddress.getPort
      // the home page links to the panel only when a corpus is wired
      assert(get(port, "/").contains("/corpus"))
      val panel = get(port, "/corpus")
      assert(panel.contains("Stage Funnel"))
      // all ten ep01 stages rendered, as table rows AND as a real bar chart
      Seq("0_ingest", "1_clean", "2_langid", "3_length", "4_exact_dedup",
        "5_near_dedup", "6_decontam", "7_quality", "8_packed", "9_sharded")
        .foreach(st => assert(panel.contains(st), s"missing stage $st"))
      assert(panel.contains("<svg") && panel.contains("<rect"))
      // the streaming twin (VERDICT r12 #7): st17's per-wave funnel is
      // on the same panel — all three waves and the accepted-mass chart
      assert(panel.contains("Streaming Ingest"))
      Seq("wave 0", "wave 1", "wave 2")
        .foreach(w => assert(panel.contains(w), s"missing $w bar"))
      assert(panel.contains("5_dedup_store"), "st17 stage rows missing")
      assert(!panel.contains("error:"), panel.take(400))
    } finally s.stop(0)
  }

  test("dashboard what-if prediction returns the model's number") {
    val s = server.start(0)
    try {
      val port = s.getAddress.getPort
      val body = get(port, "/predict?access=0.5&doctors=1.0&beds=2.0&cost=500&income=1000")
      val m = "Predicted mortality rate: <b>([0-9.]+)</b>".r.findFirstMatchIn(body)
      assert(m.isDefined, s"no prediction in: ${body.take(300)}")
      val pred = m.get.group(1).toDouble
      assert(pred > 0.0 && pred < 100.0, s"implausible mortality prediction $pred")
      assert(body.contains("r2="), "model metrics panel missing")
    } finally s.stop(0)
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  test("every page equals HealthQueries on the filtered frame, bit for bit, and runs no Spark job") {
    val cleaned = CleanedHealth(spark)
    val years = cleaned.select("Year").distinct().collect().map(_.getLong(0)).sorted
    val ys = Seq(years.head, years(years.length / 2), years.last)
    val cs = Seq("Brazil", "Itl", "Usa")
    val filters = Map.empty[String, String] +:
      (ys.map(y => Map("year" -> y.toString)) ++ cs.map(c => Map("country" -> c)) ++
        ys.zip(cs).map { case (y, c) => Map("year" -> y.toString, "country" -> c) } :+
        // a page whose top-5s hold exactly tied means
        Map("year" -> "2024", "country" -> "Itl"))
    val s = server
    filters.foreach { p =>
      val trendBase = p.get("country").fold(cleaned)(c => cleaned.filter(col("Country") === c))
      val f = p.get("year").fold(trendBase)(y => trendBase.filter(col("Year") === y.toLong))
      val v = s.view(p)
      // exact ties go in disease-name order on both sides
      def top5(page: Seq[(String, Double, Long)], q: org.apache.spark.sql.DataFrame) = {
        val want = q.collect().map(r => (r.getString(0), bits(r.getDouble(1)))).toSeq
        assert(page.map { case (d, m, _) => (d, bits(m)) } == want, p)
      }
      top5(v.deadliest, HealthQueries.topDeadliest(f, 5))
      top5(v.cost, HealthQueries.avgCostPerDisease(f, 5))
      // A1's total_records is the count the deadliest mean divides
      assert(v.deadliest.map(_._3) ==
        HealthQueries.topDeadliest(f, 5).collect().map(_.getLong(2)).toSeq, p)
      assert(v.trend.map { case (y, m) => (bits(y), bits(m)) } ==
        HealthQueries.mortalityTrend(trendBase).collect()
          .map(r => (bits(r.getLong(0).toDouble), bits(r.getDouble(1)))).toSeq, p)
      // the stableAvg scatter per `key` group, in key order
      def scatter(frame: org.apache.spark.sql.DataFrame, key: String) =
        frame.filter(col("Healthcare_Access_Pct").isNotNull && col("Mortality_Rate_per_100").isNotNull)
          .groupBy(col(key))
          .agg(stableAvg(col("Healthcare_Access_Pct")), stableAvg(col("Mortality_Rate_per_100")))
          .orderBy(col(key))
          .collect().map(r => (bits(r.getDouble(1)), bits(r.getDouble(2)))).toSeq
      def pointBits(ps: Seq[(Double, Double)]) = ps.map { case (x, y) => (bits(x), bits(y)) }
      assert(pointBits(v.scatter) == scatter(f, "Disease Name"), p)
      if (p.isEmpty) {
        // the weekly report's per-country scatter, folded from its rollup
        val report = WeeklyReport.charts(cleaned).collectFirst { case ScatterChart(_, ps) => ps }.get
        assert(pointBits(report) == scatter(cleaned, "Country"))
      }
      val o = HealthQueries.overview(f).head()
      val ov = v.overview
      assert(Seq(ov.rows, ov.countries, ov.diseases) == Seq(o.getLong(0), o.getLong(1), o.getLong(2)), p)
      assert(Seq(ov.mortality, ov.recovery, ov.cost).map(_.map(bits)) ==
        Seq(3, 4, 5).map(i => Option(o.get(i)).map(x => bits(x.asInstanceOf[Double]))), p)

      val (out, cost) = QueryMetrics(spark)(s.page(p))
      assert(out.isSuccess && !out.get.contains("error:"), p)
      assert(cost.jobs == 0, s"page $p submitted ${cost.jobs} Spark jobs")
    }
  }

  test("a (year, country) pair with no rows renders empty; values outside the domains are ignored") {
    val cleaned = CleanedHealth(spark)
    val years = cleaned.select("Year").distinct().collect().map(_.getLong(0)).sorted
    val (y1, y2) = (years.head, years.last)
    // both years and both countries are in the domains; (y1, Usa) holds no row
    val slice = cleaned.filter(
      (col("Country") === "Brazil" && col("Year") === y1) ||
      (col("Country") === "Usa" && col("Year") === y2))
    val s = new graft.dashboard.DashboardServer(spark, slice, None)
    val empty = s.page(Map("year" -> y1.toString, "country" -> "Usa"))
    assert(!empty.contains("error:"), empty.take(400))
    assert(empty.contains(s"selected>$y1") && empty.contains("selected>Usa"))
    assert(empty.contains(
      "<tr><td>0</td><td>0</td><td>0</td><td>null</td><td>null</td><td>null</td></tr>"))
    assert(!empty.contains("<rect") && !empty.contains("<circle"),
      "the bar charts and the scatter must be empty")

    val all = s.page(Map.empty)
    assert(all.contains("<rect"))
    Seq(Map("year" -> "1800"), Map("country" -> "Atlantis"),
        Map("year" -> "1800", "country" -> "Atlantis"), Map("year" -> "x"))
      .foreach(p => assert(s.page(p) == all, p))
  }
}
