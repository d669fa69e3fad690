package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.health.HealthEtl
import graft.ml.MortalityModel
import graft.ml.MortalityModel.cannedInputs
import graft.report.WeeklyReport

/** Pins the health ETL and the mortality model on a committed seeded CSV
  * (`health_dirty_500.csv`: 500 dirty rows written by
  * `perfbench/datagen.py`'s `health_csv(path, 500, 1)`), so the pipeline
  * is covered without the reference dataset. The pinned values came from
  * the histogram-only quantile state and three `RegressionEvaluator.
  * evaluate` passes, so they also hold the exact-form state and the
  * one-pass `getMetrics` scores to bit-identical results. Any change to
  * the cleaned rows, the model metrics or the what-if prediction shows
  * up here bit-for-bit, and so does any change to the weekly report's
  * sections text or chart series.
  */
class HealthDigestSpec extends AnyFunSuite {
  import SparkTestSession._

  private val csv = getClass.getResource("/health_dirty_500.csv").getPath

  private lazy val (cleaned, cleanJobs) = {
    val (out, cost) = QueryMetrics(spark)(HealthEtl.clean(spark, csv))
    (out.get, cost.jobs)
  }
  private lazy val fitted = MortalityModel.fit(cleaned)

  private lazy val (sections, sectionsJobs) = {
    val (out, cost) = QueryMetrics(spark)(WeeklyReport.sections(spark, cleaned))
    (out.get, cost.jobs)
  }
  private lazy val (charts, chartsJobs) = {
    val (out, cost) = QueryMetrics(spark)(WeeklyReport.charts(cleaned))
    (out.get, cost.jobs)
  }
  private lazy val renderJobs =
    QueryMetrics(spark)(WeeklyReport.render(spark, cleaned))._2.jobs

  private def bits(d: Double): String =
    java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))

  test("cleaned rows match the pinned digest") {
    val got = HealthDigest.rows(cleaned)
    assert(cleaned.count() == 498)
    assert(got == "4efd989d0dfcc40ffb0d0f8bbcaa014b7b726031f2a531676ed04c4c42fba70f", s"digest $got")
  }

  test("model metrics and the canned prediction match the pinned bits") {
    val m = fitted.testScores
    val got = Seq(m.r2, m.mse, m.mae, MortalityModel.predictOne(fitted, cannedInputs)).map(bits)
    assert(got == Seq("3f73f5aa2d187600", "3fbb9771b6a14765", "3fd1234e49a1dff9",
      "3fe2f4312f1f22d8"), s"bits $got")
  }

  test("clean submits at most the pinned job count; a repeat predictOne submits none") {
    assert(cleanJobs <= 15, s"clean ran $cleanJobs jobs")
    MortalityModel.predictOne(fitted, cannedInputs)
    val again = QueryMetrics(spark)(MortalityModel.predictOne(fitted, cannedInputs))._2.jobs
    assert(again == 0, s"second predictOne ran $again jobs")
  }

  test("weekly report sections and chart series match the pinned digest") {
    val got = HealthDigest.report(sections, charts)
    assert(got == "b290d9a47786e51a0ec893ddcd8c841a059a96ed67ed15b63758649ad2ebb828", s"digest $got")
  }

  test("weekly report sections submit at most 16 jobs and charts at most 2") {
    // charts is one rollup aggregate; sections adds the model chain and
    // the key metrics' ranges. render folds its charts from the rollup
    // that sections builds, so it costs no more than sections
    assert(sectionsJobs <= 16, s"sections ran $sectionsJobs jobs")
    assert(chartsJobs <= 2, s"charts ran $chartsJobs jobs")
    assert(renderJobs <= 16, s"render ran $renderJobs jobs")
  }
}
