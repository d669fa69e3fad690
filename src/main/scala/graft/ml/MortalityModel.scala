package graft.ml

import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.regression.{RandomForestRegressionModel, RandomForestRegressor}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** The reference's RandomForest mortality model (nb:cell26; app variant
  * Health_Jim.py:648-722) on MLlib — SURVEY §2.8 M1-M8.
  *
  * Parity notes:
  *  - one-hot matches pandas `get_dummies(drop_first=True)`: levels in
  *    alphabetical order, first level dropped, explicit 0/1 columns (no
  *    StringIndexer frequency ordering — SURVEY M2);
  *  - sklearn's seeded permutation split and our deterministic
  *    `xxhash64(Record_ID) % 100` split select different rows, so parity
  *    is a metric band (R² ≈ 0.785 published; we assert [0.70, 0.85] —
  *    SURVEY M3). Unlike `randomSplit`, the hash split is invariant
  *    under row order and partitioning, so the band is STABLE;
  *  - RF mapping: n_estimators→numTrees, max_depth→maxDepth,
  *    min_samples_leaf→minInstancesPerNode; sklearn regression default
  *    max_features=1.0 → featureSubsetStrategy="all" (M4).
  */
object MortalityModel {

  val label = "Mortality_Rate_per_100"
  val dropCols: Seq[String] = Seq(
    "Row_num", "Record_ID", "Country_Population", "Year",
    "Improvement_5_Years", "Country")
  val leakyCols: Seq[String] = Seq("Severity Score", "DALYs", "Recovery_Rate")
  val catCols: Seq[String] = Seq(
    "Disease Name", "Vaccine_Treatment_Availability", "Treatment_Type")

  /** The weekly report's canned what-if input, also the dashboard form's
    * defaults; every other feature takes its training median. */
  val cannedInputs: Map[String, Double] = Map(
    "Healthcare_Access_Pct" -> 0.5, "Doctors_per_1000" -> 1.0,
    "Hospital_Beds_per_1000" -> 2.0, "Avg_Treatment_Cost_USD" -> 500.0,
    "Per_Capita_Income_USD" -> 1000.0)

  /** r2 / mse / mae of the model on one split. */
  final case class Scores(r2: Double, mse: Double, mae: Double)

  /** A fitted model and its splits. The constants derived from them are
    * computed once, on first use, and then shared by every caller. */
  final case class Fitted(
      model: RandomForestRegressionModel,
      featureNames: Seq[String],
      train: DataFrame,
      test: DataFrame) {

    lazy val testScores: Scores = score(model, test)
    lazy val trainScores: Scores = score(model, train)

    /** Each feature's training median, in feature order: one 1-row
      * exact `percentile` aggregate over the training frame. */
    lazy val trainMedians: Seq[Double] = {
      val arr = org.apache.spark.ml.functions.vector_to_array(col("features"))
      val medianExprs = featureNames.indices.map { i =>
        expr(s"percentile(`f$i`, 0.5)").as(s"m$i")
      }
      val row = train.select(featureNames.indices.map(i => element_at(arr, i + 1).as(s"f$i")): _*)
        .agg(medianExprs.head, medianExprs.tail: _*).head()
      featureNames.indices.map(row.getDouble)
    }
  }

  /** M5 — all three metrics from one `RegressionMetrics` summary pass
    * (the one `RegressionEvaluator.evaluate` computes per metric name). */
  private def score(model: RandomForestRegressionModel, data: DataFrame): Scores = {
    val m = new RegressionEvaluator().setLabelCol("label").setPredictionCol("prediction")
      .getMetrics(model.transform(data))
    Scores(m.r2, m.meanSquaredError, m.meanAbsoluteError)
  }

  /** pandas get_dummies(drop_first=True): alphabetical levels minus the
    * first, as explicit 0/1 double columns named `col_level`. The level
    * inventory is tiny (≤21) — collecting it is fit-time metadata, like
    * StringIndexer.fit. `Record_ID` is retained (excluded from features)
    * as the deterministic split key.
    */
  def encode(df: DataFrame): (DataFrame, Seq[String]) = {
    // Level inventory for all categoricals in ONE aggregate pass (a
    // per-column distinct().collect() is one full-table job per column).
    val levelRow = df.agg(
      collect_set(col(s"`${catCols.head}`")),
      catCols.tail.map(c => collect_set(col(s"`$c`"))): _*).head()
    val levelsByCol = catCols.zipWithIndex.map { case (c, i) =>
      c -> levelRow.getSeq[String](i).sorted.drop(1) // drop_first
    }
    val dummies = levelsByCol.flatMap { case (c, levels) =>
      levels.map(lvl => s"${c}_$lvl" -> when(col(s"`$c`") === lvl, 1.0).otherwise(0.0))
    }
    val dropped = (dropCols.filterNot(_ == "Record_ID") ++ catCols).toSet
    val kept = df.columns.toSeq.filterNot(dropped).map(c => col(s"`$c`"))
    (df.select(kept ++ dummies.map { case (name, e) => e.as(name) }: _*), dummies.map(_._1))
  }

  /** Deterministic train/test split: hash the stable row id, not the row
    * POSITION. `randomSplit` is per-partition Bernoulli sampling — which
    * rows land where depends on partitioning and row order, so any ETL
    * replan silently reshuffles the split (and the metrics). Hashing
    * `Record_ID` (SURVEY §2.8 M3) assigns every row a split side that is
    * invariant under row order, partitioning, and cluster size — the same
    * property sklearn gets from its seeded permutation of a fixed-order
    * frame. Parity with sklearn remains a metric band either way (the
    * selected rows differ).
    */
  private def hashSplit(assembled: DataFrame, trainPct: Int): (DataFrame, DataFrame) = {
    val side = pmod(xxhash64(col("__rid")), lit(100))
    (assembled.filter(side < trainPct).drop("__rid"),
     assembled.filter(side >= trainPct).drop("__rid"))
  }

  /** M1-M4 — encode, deterministic 76/24 split, fit RF 300×3×leaf5. */
  def fit(df: DataFrame): Fitted = {
    val (encoded, dummies) = encode(df)
    val numericFeatures = encoded.schema.fields
      .filter(f => f.dataType == DoubleType || f.dataType == LongType)
      .map(_.name)
      .filterNot((Seq(label, "Record_ID") ++ leakyCols ++ dummies).contains)
    fitOn(encoded, numericFeatures.toSeq ++ dummies, 76)
  }

  /** Assemble `featureNames` as doubles, split `trainPct`/rest on the row
    * id, fit RF 300×3×leaf5 seed 42 on the train side. */
  private def fitOn(df: DataFrame, featureNames: Seq[String], trainPct: Int): Fitted = {
    val assembled = new VectorAssembler()
      .setInputCols(featureNames.toArray).setOutputCol("features")
      .transform(df.select(
        (featureNames.map(c => col(s"`$c`").cast(DoubleType).as(c)) :+
          col(s"`$label`").as("label") :+ col("Record_ID").as("__rid")): _*))
    val (train, test) = hashSplit(assembled, trainPct)
    val rf = new RandomForestRegressor()
      .setNumTrees(300).setMaxDepth(3).setMinInstancesPerNode(5)
      .setFeatureSubsetStrategy("all").setSeed(42)
      .setLabelCol("label").setFeaturesCol("features")
    Fitted(rf.fit(train), featureNames, train, test)
  }

  /** The APP variant (Health_Jim.py:648-690): 16 named numeric features
    * — including the leaky `Severity Score` (0.7·label + …) and `DALYs`,
    * which the notebook variant deliberately drops — no one-hot, split
    * 0.8/0.2 seed 42. Reproduced as-is: the leak is part of the app's
    * observed behavior, so its R² is near 1.
    */
  val appFeatures: Seq[String] = Seq(
    "Incidence_Rate_per_million", "Prevalence_Rate", "Population_Affected",
    "DALYs", "Severity Score", "Improvement_5_Years", "Healthcare_Access_Pct",
    "Doctors_per_1000", "Hospital_Beds_per_1000", "Population Coverage (%)",
    "Health_Index", "Per_Capita_Income_USD", "Education_Index",
    "Urban_Population_Pct", "Rural_Population_Pct", "Urbanization_Rate")

  def fitAppVariant(df: DataFrame): Fitted =
    fitOn(df, appFeatures.filter(df.columns.contains), 80)

  /** M6 — feature importances, sorted desc (Health_Jim.py:713-722). */
  def featureImportances(fitted: Fitted): DataFrame = {
    val spark = fitted.train.sparkSession
    import spark.implicits._
    fitted.featureNames.zip(fitted.model.featureImportances.toArray)
      .toDF("feature", "importance")
      .orderBy(col("importance").desc, col("feature").asc)
  }

  /** M7 — single-row scoring with median fallback for unspecified
    * features (Health_Jim.py:728-744): absent keys default to the
    * TRAINING median of that feature; column order matches training.
    * Scores on the driver with `model.predict`, the function `transform`
    * applies per row, so after the first call (which computes the
    * medians) it submits no Spark job.
    */
  def predictOne(fitted: Fitted, inputs: Map[String, Double]): Double = {
    val values = fitted.featureNames.zip(fitted.trainMedians).map { case (c, m) =>
      inputs.getOrElse(c, m)
    }
    fitted.model.predict(org.apache.spark.ml.linalg.Vectors.dense(values.toArray))
  }
}
