package graft

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.health.HealthEtl
import graft.report.{BarChart, LineChart, PdfChart, ScatterChart, WeeklyReport}

/** SHA-256 digests of the health pipeline's outputs, bit-exact: the
  * cleaned rows (doubles by their raw bits, rows sorted, schema first)
  * and the weekly report's sections text and chart series. HealthDigestSpec
  * and ReportSpec pin them; `main` prints them for any dirty CSV, so a
  * change to the ETL or the report can be checked against its parent on
  * inputs larger than the committed one:
  * {{{
  * python3 -c "import sys; sys.path.insert(0, 'perfbench'); import datagen; \
  *   datagen.health_csv('/tmp/h3k.csv', 3000, 7)"
  * sbt "Test/runMain graft.HealthDigest /tmp/h3k.csv"
  * }}}
  */
object HealthDigest {

  private def bits(d: Double): String =
    java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))

  private def sha256(lines: Seq[String]): String =
    MessageDigest.getInstance("SHA-256")
      .digest(lines.mkString("\n").getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Doubles by their raw bits, rows sorted, schema as the first line. */
  def rows(df: DataFrame): String =
    sha256(df.schema.simpleString +: df.collect().toSeq.map(_.toSeq.map {
      case null => "∅"
      case d: Double => "d" + bits(d)
      case x => x.toString
    }.mkString("\u0001")).sorted)

  /** The sections text as rendered, then every chart's kind, title and
    * series in raw double bits. A scatter's points go sorted: their
    * order is the aggregate's hash order and carries no meaning. */
  def report(sections: Seq[(String, String)], charts: Seq[PdfChart]): String = {
    def xy(ps: Seq[(Double, Double)]) = ps.map { case (x, y) => s"${bits(x)},${bits(y)}" }
    sha256(sections.flatMap { case (t, b) => Seq(t, b) } ++ charts.flatMap {
      case BarChart(t, bars) => ("bar" +: t +: bars.map { case (k, v) => s"$k,${bits(v)}" })
      case LineChart(t, ps) => "line" +: t +: xy(ps)
      case ScatterChart(t, ps) => "scatter" +: t +: xy(ps).sorted
    })
  }

  def report(spark: SparkSession, cleaned: DataFrame): String =
    report(WeeklyReport.sections(spark, cleaned), WeeklyReport.charts(cleaned))

  /** Prints, for the CSV given, `clean`'s job count, the cleaned row
    * count and digest, and the weekly report's digest. */
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val (out, cost) = QueryMetrics(spark)(HealthEtl.clean(spark, args(0)))
    val cleaned = out.get.cache()
    println(s"clean_jobs=${cost.jobs}")
    println(s"rows=${cleaned.count()}")
    println(s"cleaned_sha256=${rows(cleaned)}")
    println(s"report_sha256=${report(spark, cleaned)}")
    cleaned.unpersist(blocking = true)
    spark.stop()
  }
}
