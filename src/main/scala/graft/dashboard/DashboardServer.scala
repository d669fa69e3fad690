package graft.dashboard

import java.net.InetSocketAddress

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.health.{HealthEtl, Overview, PageView, Rollup}
import graft.ml.MortalityModel
import graft.report.{CorpusFunnel, WeeklyReport}

/** S6/EP1 — the interactive dashboard shell (Health_Jim.py:780-1273):
  * sidebar Year/Country filters (:865-889) re-querying every section,
  * the tab-1 figure inventory (top-deadliest bar :550, avg-cost bar,
  * mortality trend line, access-vs-mortality scatter :478/:604) as
  * inline SVG, the model-metrics panel and the what-if mortality
  * prediction form (:984-1080) — served by the JDK's built-in
  * `HttpServer`, zero dependencies, no egress (binds 127.0.0.1 only).
  *
  * The Spark usage is bounded at any scale: building the server runs one
  * aggregate over the cached cleaned frame, grouped by the two filter
  * dimensions and the chart key, (Country, Year, Disease Name), and
  * collects it ([[graft.health.Rollup]], the aggregate the weekly
  * report's overview, top-5s and charts read too). That is at most
  * |Country|×|Year|×|Disease| cells (21×25×21 = 11,025 at the reference
  * schema), whatever the row count. Every page is then a fold over the
  * selected cells on the driver, with the same values HealthQueries
  * gives on the filtered frame, and submits no Spark job. The model and
  * the corpus funnels ([[graft.report.CorpusFunnel]]) load lazily once.
  * Run with `sbt "runMain graft.dashboard.DashboardMain"` →
  * http://127.0.0.1:8080/.
  *
  * The primary constructor serves an already-cleaned table (the ETL's
  * output, e.g. the committed fixture or a frame the caller also hands
  * to the weekly report); it caches that frame for the server's lifetime.
  * The `csvPath` form runs the ETL on the raw CSV first.
  */
final class DashboardServer(spark: SparkSession,
                            cleanedInput: DataFrame,
                            corpusDir: Option[String]) {

  def this(spark: SparkSession,
           csvPath: String = HealthEtl.defaultCsvPath,
           corpusDir: Option[String] = None) =
    this(spark, HealthEtl.clean(spark, csvPath), corpusDir)

  private val cleaned: DataFrame = cleanedInput.cache()
  private lazy val corpusFunnel = corpusDir.map(CorpusFunnel.read(spark, _))
  private val rollup = Rollup(cleaned)
  private lazy val fitted = MortalityModel.fit(cleaned)

  // ---------- rendering helpers ----------

  private def esc(s: String): String =
    s.flatMap {
      case '<' => "&lt;"; case '>' => "&gt;"; case '&' => "&amp;"
      case '"' => "&quot;"; case c => c.toString
    }

  private val W = 460; private val H = 240; private val Pad = 46

  private def svgFrame(title: String, body: String): String =
    s"""<svg width="$W" height="$H" xmlns="http://www.w3.org/2000/svg">
       |<text x="8" y="16" font-size="13" font-weight="bold">${esc(title)}</text>
       |<line x1="$Pad" y1="${H - Pad}" x2="${W - 10}" y2="${H - Pad}" stroke="#333"/>
       |<line x1="$Pad" y1="24" x2="$Pad" y2="${H - Pad}" stroke="#333"/>
       |$body</svg>""".stripMargin

  def svgBar(title: String, bars: Seq[(String, Double)]): String = {
    if (bars.isEmpty) return svgFrame(title, "")
    val maxV = math.max(bars.map(_._2).max, 1e-12)
    val bw = (W - Pad - 14).toDouble / bars.size
    val body = bars.zipWithIndex.map { case ((label, v), i) =>
      val bh = v / maxV * (H - Pad - 30)
      val x = Pad + 2 + i * bw
      f"""<rect x="$x%.1f" y="${H - Pad - bh}%.1f" width="${bw * 0.7}%.1f" height="$bh%.1f" fill="#4472c4"/>
         |<text x="$x%.1f" y="${H - Pad + 12}" font-size="8">${esc(label.take(math.max(bw / 6, 3).toInt))}</text>
         |<text x="$x%.1f" y="${H - Pad - bh - 3}%.1f" font-size="8">$v%.2f</text>""".stripMargin
    }.mkString("\n")
    svgFrame(title, body)
  }

  def svgLine(title: String, pts: Seq[(Double, Double)]): String = {
    if (pts.isEmpty) return svgFrame(title, "")
    val s = pts.sortBy(_._1)
    val (x0, x1) = (s.head._1, math.max(s.last._1, s.head._1 + 1e-9))
    val (yMin, yMax) = (s.map(_._2).min, s.map(_._2).max)
    val ys = math.max(yMax - yMin, 1e-9)
    def px(x: Double) = Pad + (x - x0) / (x1 - x0) * (W - Pad - 16)
    def py(y: Double) = (H - Pad) - (y - yMin) / ys * (H - Pad - 30)
    val path = s.map { case (x, y) => f"${px(x)}%.1f,${py(y)}%.1f" }.mkString(" ")
    svgFrame(title,
      s"""<polyline points="$path" fill="none" stroke="#4472c4" stroke-width="2"/>
         |<text x="$Pad" y="${H - Pad + 12}" font-size="8">${x0.toLong}</text>
         |<text x="${W - 40}" y="${H - Pad + 12}" font-size="8">${x1.toLong}</text>""".stripMargin)
  }

  def svgScatter(title: String, pts: Seq[(Double, Double)]): String = {
    if (pts.isEmpty) return svgFrame(title, "")
    val (xMin, xMax) = (pts.map(_._1).min, pts.map(_._1).max)
    val (yMin, yMax) = (pts.map(_._2).min, pts.map(_._2).max)
    val xs = math.max(xMax - xMin, 1e-9); val ys = math.max(yMax - yMin, 1e-9)
    def px(x: Double) = Pad + (x - xMin) / xs * (W - Pad - 16)
    def py(y: Double) = (H - Pad) - (y - yMin) / ys * (H - Pad - 30)
    val dots = pts.map { case (x, y) =>
      f"""<circle cx="${px(x)}%.1f" cy="${py(y)}%.1f" r="2.5" fill="#4472c4"/>"""
    }.mkString("\n")
    svgFrame(title, dots)
  }

  private def overviewTable(o: Overview): String = {
    val (head, row) = o.fields.unzip
    s"<table border='1' cellspacing='0' cellpadding='3'><tr>${head.map(c => s"<th>$c</th>").mkString}" +
      s"</tr><tr>${row.map(v => s"<td>${WeeklyReport.cell(v)}</td>").mkString}</tr></table>"
  }

  // the what-if form: (query parameter, label, feature), each defaulting
  // to the report's canned input
  private val predictFields = Seq(
    ("access", "Access %", "Healthcare_Access_Pct"),
    ("doctors", "Doctors/1000", "Doctors_per_1000"),
    ("beds", "Beds/1000", "Hospital_Beds_per_1000"),
    ("cost", "Cost USD", "Avg_Treatment_Cost_USD"),
    ("income", "Income USD", "Per_Capita_Income_USD"))
  private val predictForm = predictFields.map { case (k, label, f) =>
    s"""$label: <input name="$k" value="${MortalityModel.cannedInputs(f)}" size="8"/>"""
  }.mkString("\n")

  // ---------- pages ----------

  /** What the main page shows for these params — the EP1 contract: a
    * year or country in its domain narrows every section (the trend
    * ignores the year: a one-year trend is a point, the reference's
    * country_trend_df shape); any other value is ignored. */
  def view(params: Map[String, String]): PageView =
    rollup.view(params.get("year").flatMap(_.toLongOption).filter(rollup.years.contains),
      params.get("country").filter(rollup.countries.contains))

  /** The filtered main page, rendered from [[view]]. */
  def page(params: Map[String, String]): String = {
    val v = view(params)

    def opt(v: String, sel: Boolean) =
      s"""<option value="${esc(v)}"${if (sel) " selected" else ""}>${esc(v)}</option>"""
    s"""<!DOCTYPE html><html><head><title>Global Health Dashboard</title></head>
       |<body style="font-family:sans-serif">
       |<h1>Global Health Analytics</h1>
       |<form method="get" action="/">
       |<b>Global Filters</b> &nbsp;
       |Year: <select name="year"><option value="">All</option>
       |${rollup.years.map(y => opt(y.toString, v.year.contains(y))).mkString}</select>
       |Country: <select name="country"><option value="">All</option>
       |${rollup.countries.map(c => opt(c, v.country.contains(c))).mkString}</select>
       |<input type="submit" value="Apply"/></form>
       |<h2>Overview</h2>${overviewTable(v.overview)}
       |<h2>Top-Level Health Insights</h2>
       |${svgBar("Top Deadliest Diseases (Average Mortality Rate)", v.deadliest.map(t => (t._1, t._2)))}
       |${svgBar("Average Treatment Cost by Disease", v.cost.map(t => (t._1, t._2)))}
       |${svgLine("Mortality Trend" + v.country.fold("")(c => s" - $c"), v.trend)}
       |${svgScatter("Healthcare Access vs Mortality (by disease)", v.scatter)}
       |${corpusDir.fold("")(_ =>
         "<h2>Corpus Engine</h2><a href=\"/corpus\">Flagship corpus-build funnel (ep01)</a>")}
       |<h2>Mortality Prediction</h2>
       |<form method="get" action="/predict">
       |$predictForm
       |<input type="submit" value="Predict"/></form>
       |</body></html>""".stripMargin
  }

  /** The flagship corpus-build panel (VERDICT r11 #6): renders ep01's
    * ten-stage funnel — per-stage surviving documents and tokens — the
    * way the reference's dashboard renders its weekly job's
    * aggregates. The panel reads the 10-row funnel output only.
    */
  def corpusPage(params: Map[String, String]): String = corpusFunnel match {
    case None =>
      """<!DOCTYPE html><html><body style="font-family:sans-serif">
        |no corpus directory configured — start the dashboard with a
        |corpus dir to enable this panel</body></html>""".stripMargin
    case Some(funnel) =>
      val rows = funnel.stages.map { case (st, docs, toks) =>
        s"<tr><td>${esc(st)}</td><td>$docs</td><td>$toks</td></tr>"
      }.mkString("\n")
      val sRows = funnel.waves.map { case (w, st, docs, toks) =>
        s"<tr><td>$w</td><td>${esc(st)}</td><td>$docs</td><td>$toks</td></tr>"
      }.mkString("\n")
      s"""<!DOCTYPE html><html><head><title>Corpus Build Funnel</title></head>
         |<body style="font-family:sans-serif">
         |<h1>Flagship Corpus Build (ep01) — Stage Funnel</h1>
         |${svgBar("Surviving documents per stage", funnel.stageBars)}
         |<table border='1' cellspacing='0' cellpadding='3'>
         |<tr><th>stage</th><th>n_docs</th><th>n_tokens</th></tr>
         |$rows</table>
         |<h1>Streaming Ingest (st17) — Per-Wave Funnel</h1>
         |${svgBar("Accepted documents per wave (8_quality)", funnel.waveBars)}
         |<table border='1' cellspacing='0' cellpadding='3'>
         |<tr><th>wave</th><th>stage</th><th>n_docs</th><th>n_tokens</th></tr>
         |$sRows</table>
         |<a href="/">back</a></body></html>""".stripMargin
  }

  /** The what-if scorer (tab 3): model metrics + one prediction. */
  def predictPage(params: Map[String, String]): String = {
    val pred = MortalityModel.predictOne(fitted, predictFields.map { case (k, _, f) =>
      f -> params.get(k).flatMap(_.toDoubleOption).getOrElse(MortalityModel.cannedInputs(f))
    }.toMap)
    val m = fitted.testScores
    f"""<!DOCTYPE html><html><body style="font-family:sans-serif">
       |<h1>Mortality Prediction</h1>
       |<p>Predicted mortality rate: <b>$pred%.6f</b></p>
       |<p>Model (RandomForest 300x3, seed 42): r2=${m.r2}%.4f
       | mse=${m.mse}%.6f mae=${m.mae}%.6f</p>
       |<a href="/">back</a></body></html>""".stripMargin
  }

  // ---------- http plumbing ----------

  private def parseQuery(q: String): Map[String, String] =
    if (q == null || q.isEmpty) Map.empty
    else q.split("&").toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if v.nonEmpty =>
          Some(java.net.URLDecoder.decode(k, "UTF-8") ->
            java.net.URLDecoder.decode(v, "UTF-8"))
        case _ => None
      }
    }.toMap

  private def handler(render: Map[String, String] => String): HttpHandler =
    new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body =
          try render(parseQuery(ex.getRequestURI.getRawQuery))
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          catch { case e: Throwable =>
            s"<html><body>error: ${esc(String.valueOf(e.getMessage))}</body></html>"
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          }
        ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
        ex.close()
      }
    }

  /** Binds 127.0.0.1 only (no egress surface); port 0 → ephemeral. */
  def start(port: Int): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/", handler(page))
    server.createContext("/predict", handler(predictPage))
    server.createContext("/corpus", handler(corpusPage))
    server.setExecutor(null)
    server.start()
    server
  }
}

object DashboardMain {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    val port = args.headOption.flatMap(_.toIntOption).getOrElse(8080)
    new DashboardServer(spark, corpusDir = args.lift(1)).start(port)
    println(s"dashboard: http://127.0.0.1:$port/  (ctrl-c to stop)")
    Thread.currentThread.join()
  }
}
