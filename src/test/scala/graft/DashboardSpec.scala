package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.funsuite.AnyFunSuite

/** EP1 shell end-to-end: real HTTP server, real filtered Spark
  * aggregates, real SVG charts in the response body. */
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
}
