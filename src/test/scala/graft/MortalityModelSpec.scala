package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ml.MortalityModel

/** M1-M8 parity: metric-band assertions (sklearn↔MLlib splits are not
  * row-identical — SURVEY §2.8 M3; reference R² = 0.7855 test / 0.7774
  * train, nb:cell26(out)).
  */
class MortalityModelSpec extends AnyFunSuite {
  import SparkTestSession._

  lazy val fitted = MortalityModel.fit(CleanedHealth(spark))

  test("feature encoding matches pandas get_dummies(drop_first) layout") {
    // 20 disease dummies (21 levels − Alzheimer'S), 4 availability
    // (5 − High), 3 treatment (4+Unknown − Medication)
    val names = fitted.featureNames
    assert(names.count(_.startsWith("Disease Name_")) == 20)
    assert(!names.contains("Disease Name_Alzheimer'S Disease"))
    assert(names.contains("Disease Name_Zika"))
    assert(names.count(_.startsWith("Vaccine_Treatment_Availability_")) == 4)
    assert(!names.contains("Vaccine_Treatment_Availability_High"))
    assert(names.count(_.startsWith("Treatment_Type_")) == 4)
    assert(!names.contains("Treatment_Type_Medication"))
    // leaky + dropped columns excluded
    assert(!names.contains("Severity Score") && !names.contains("DALYs") &&
           !names.contains("Recovery_Rate") && !names.contains("Year"))
  }

  test("test R2 in the reference band [0.70, 0.85] (published 0.7855)") {
    val MortalityModel.Scores(r2, mse, mae) = fitted.testScores
    info(f"notebook-variant test r2 = $r2%.4f mse = $mse%.6f mae = $mae%.6f")
    assert(r2 > 0.70 && r2 < 0.85, s"test r2=$r2 outside band")
    assert(mse < 2e-3, s"mse=$mse") // published 8.2e-4
    assert(mae < 0.03, s"mae=$mae") // published 0.0135
  }

  test("train R2 close to test R2 (no overfit at depth 3; published 0.7774)") {
    val tr = fitted.trainScores.r2
    val te = fitted.testScores.r2
    assert(tr > 0.70 && tr < 0.88, s"train r2=$tr")
    assert(math.abs(tr - te) < 0.08, s"train/test gap ${tr - te}")
  }

  test("feature importances: non-negative, sum to 1, mortality drivers on top") {
    val imps = MortalityModel.featureImportances(fitted).collect()
    assert(imps.forall(_.getDouble(1) >= 0.0))
    assert(math.abs(imps.map(_.getDouble(1)).sum - 1.0) < 1e-9)
  }

  test("M7 single-row predict with median fallback returns a sane rate") {
    val p = MortalityModel.predictOne(fitted, Map(
      "Healthcare_Access_Pct" -> 0.5, "Doctors_per_1000" -> 1.0,
      "Avg_Treatment_Cost_USD" -> 500.0))
    assert(p >= 0.0 && p <= 1.0, s"prediction $p outside [0,1]")
  }

  test("app variant: 16 numeric features incl. leaky Severity Score") {
    // Severity Score = round(0.7·label + 0.3·log1p(DALYs), 2): the label
    // term (≤0.8) survives the rounding, so the app variant IS partially
    // leaky — but log1p(DALYs)·0.3 (≈2-3) dominates the feature, so at
    // depth 3 the leak is diluted rather than decisive. The split is now
    // hash-deterministic, so the metric is a stable point, not a band
    // tuned to one lucky randomSplit ordering.
    val app = MortalityModel.fitAppVariant(CleanedHealth(spark))
    assert(app.featureNames.contains("Severity Score"))
    val r2 = app.testScores.r2
    info(f"app-variant test r2 = $r2%.4f")
    // observed 0.5673 with the deterministic split; band ±0.07 for MLlib
    // version drift (the value itself cannot drift run-to-run anymore)
    assert(r2 > 0.50 && r2 < 0.65, s"app-variant r2=$r2 outside observed band")
  }

  test("quality report: zero missing, 21-value categoricals, sane metric stats") {
    val cleaned = CleanedHealth(spark)
    val (missing, topCounts, stats) = graft.health.HealthQueries.qualityReport(cleaned)
    assert(missing.agg(org.apache.spark.sql.functions.sum("n_missing"))
      .head().getLong(0) == 0)
    assert(topCounts.filter(org.apache.spark.sql.functions.col("dim") === "Country")
      .count() == 21)
    // mortality per 100 people peaks at 1.16 in the cleaned data
    val mort = stats.filter(org.apache.spark.sql.functions.col("metric") === "Mortality_Rate_per_100").head()
    assert(mort.getDouble(1) >= 0.0 && mort.getDouble(4) <= 2.0)
  }

  test("determinism: same seed, same importances") {
    val again = MortalityModel.fit(CleanedHealth(spark))
    assert(again.model.featureImportances == fitted.model.featureImportances)
  }
}
