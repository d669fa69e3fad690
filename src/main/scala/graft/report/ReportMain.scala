package graft.report

/** CLI entry for the EP3 weekly report job. The DEFAULT sink is the S8
  * PDF renderer (the reference's reportlab path, Health_Jim.py:1044-1136);
  * a non-.pdf outFile gets the plain-text rendering instead.
  *
  * Usage: runMain graft.report.ReportMain [csvPath] [outFile=target/weekly_report.pdf]
  */
object ReportMain {
  def main(args: Array[String]): Unit = {
    val csv = if (args.length > 0) args(0) else graft.health.HealthEtl.defaultCsvPath
    val outFile = if (args.length > 1) args(1) else "target/weekly_report.pdf"
    val spark = graft.GraftSession.local()
    if (outFile.endsWith(".pdf")) {
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(outFile).toAbsolutePath.getParent)
      val path = WeeklyReport.run(spark, csv, new PdfReportSink(outFile))
      println(s"[report] wrote PDF $path")
    } else {
      val report = WeeklyReport.run(spark, csv)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), report)
      println(report)
    }
    spark.stop()
  }
}
