package graft.health

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Exact.{stableAvg, stableSum}

/** The reference's 11 analytic queries + support aggregates (SURVEY §2.4
  * A1–A13) over the cleaned table — each a declarative group-sort-topk
  * plan (partial+final HashAggregate + TakeOrderedAndProject), plus the
  * six notebook SQL texts runnable verbatim (modulo identifier quoting)
  * through a temp view, reproducing the EP2 path. Every top-n breaks
  * exact ties on its group keys, ascending, as the sql01–sql06 contracts
  * do, so which tied groups make the cut does not depend on Spark.
  */
object HealthQueries {

  /** A1 — top deadliest diseases (nb:cell2; app Health_Jim.py:439-447). */
  def topDeadliest(df: DataFrame, n: Int = 5): DataFrame =
    df.filter(col("Mortality_Rate_per_100").isNotNull)
      .groupBy(col("Disease Name"))
      .agg(stableAvg(col("Mortality_Rate_per_100")).as("avg_mortality"),
           count(lit(1)).as("total_records"))
      .orderBy(col("avg_mortality").desc, col("Disease Name").asc)
      .limit(n)

  /** A2 — recovery trends over time (nb:cell6). */
  def recoveryTrends(df: DataFrame, n: Int = 50): DataFrame =
    df.groupBy(col("Year"), col("Disease Name"))
      .agg(count(lit(1)).as("cases"),
           stableAvg(col("Recovery_Rate")).as("avg_recovery"))
      .orderBy(col("avg_recovery").asc, col("cases").desc,
               col("Year").asc, col("Disease Name").asc)
      .limit(n)

  /** A3 — healthcare access vs mortality by country (nb:cell10); the
    * post-agg not-null filter on the alias ≡ SQL HAVING. */
  def accessVsMortality(df: DataFrame): DataFrame =
    df.groupBy(col("Country"))
      .agg(stableAvg(col("Healthcare_Access_Pct")).as("avg_healthcare_access"),
           stableAvg(col("Mortality_Rate_per_100")).as("avg_mortality"),
           stableAvg(col("Doctors_per_1000")).as("avg_doctors"))
      .filter(col("avg_mortality").isNotNull)
      .orderBy(col("avg_healthcare_access").desc)

  /** A4 — treatment cost by disease & type (nb:cell14). */
  def costByTreatment(df: DataFrame): DataFrame =
    df.filter(col("Avg_Treatment_Cost_USD").isNotNull)
      .groupBy(col("Disease Name"), col("Treatment_Type"))
      .agg(stableAvg(col("Avg_Treatment_Cost_USD")).as("avg_cost"),
           stableAvg(col("Recovery_Rate")).as("avg_recovery"),
           count(lit(1)).as("cases"))
      .orderBy(col("avg_cost").desc)

  /** A5 — gender burden in deadliest diseases (nb:cell18). The notebook
    * SQL's `WHERE "Mortality_Rate" IS NOT NULL` resolves in SQLite to a
    * never-null string literal → always true; the published output is the
    * unfiltered aggregate, which is what this computes (SURVEY §2.7 Q1).
    */
  def genderBurden(df: DataFrame, n: Int = 10): DataFrame =
    df.groupBy(col("Disease Name"))
      .agg(stableAvg(col("Mortality_Rate_per_100")).as("avg_mortality"),
           stableSum(col("Affected_Male")).as("total_male_affected"),
           stableSum(col("Affected_Female")).as("total_female_affected"))
      .orderBy(col("avg_mortality").desc, col("Disease Name").asc)
      .limit(n)

  /** A6 — urban/rural burden level 1 (nb:cell21). */
  def urbanRuralLevel1(df: DataFrame): DataFrame =
    df.filter(col("Healthcare_Access_Pct").isNotNull)
      .groupBy(col("Country"), col("Disease Name"))
      .agg(stableAvg(col("Healthcare_Access_Pct")).as("avg_access"),
           stableAvg(col("Population_Affected")).as("avg_affected"),
           stableAvg(col("Urban_Population_Pct")).as("avg_urban"),
           stableAvg(col("Rural_Population_Pct")).as("avg_rural"))
      .orderBy(col("avg_affected").desc)

  /** A7 — level 2: avg-of-avgs over level 1, each (country, disease)
    * group weighted equally — deliberately ≠ a direct per-disease mean
    * (nb:cell22). */
  def urbanRuralLevel2(df: DataFrame, n: Int = 50): DataFrame =
    urbanRuralLevel1(df)
      .groupBy(col("Disease Name"))
      .agg(stableAvg(col("avg_access")).as("avg_access"),
           stableAvg(col("avg_affected")).as("avg_affected"),
           stableAvg(col("avg_urban")).as("avg_urban"),
           stableAvg(col("avg_rural")).as("avg_rural"))
      .orderBy(col("avg_affected").desc, col("Disease Name").asc)
      .limit(n)

  /** A8 — app: avg treatment cost per disease (Health_Jim.py:450-458). */
  def avgCostPerDisease(df: DataFrame, n: Int = 10): DataFrame =
    df.filter(col("Avg_Treatment_Cost_USD").isNotNull)
      .groupBy(col("Disease Name"))
      .agg(stableAvg(col("Avg_Treatment_Cost_USD")).as("avg_cost"))
      .orderBy(col("avg_cost").desc, col("Disease Name").asc)
      .limit(n)

  /** A9 — app: mortality trend by year (Health_Jim.py:461-471). */
  def mortalityTrend(df: DataFrame): DataFrame =
    df.groupBy(col("Year"))
      .agg(stableAvg(col("Mortality_Rate_per_100")).as("avg_mortality"))
      .orderBy(col("Year").asc)

  /** A10 — app: gender impact, aggregated then unpivoted wide→long
    * (Health_Jim.py:487-501, pandas melt). */
  def genderImpactLong(df: DataFrame): DataFrame =
    df.groupBy(col("Disease Name"))
      .agg(stableSum(col("Affected_Male")).as("Total_Male"),
           stableSum(col("Affected_Female")).as("Total_Female"))
      .select(col("Disease Name"),
        expr("stack(2, 'Total_Male', Total_Male, 'Total_Female', Total_Female) AS (Gender, Affected_Population)"))

  /** A11 — app: disease burden, avg ×4 (Health_Jim.py:505-517). */
  def diseaseBurden(df: DataFrame, n: Int = 50): DataFrame =
    df.groupBy(col("Disease Name"))
      .agg(stableAvg(col("Population_Affected")).as("avg_affected"),
           stableAvg(col("Mortality_Rate_per_100")).as("avg_mortality"),
           stableAvg(col("Recovery_Rate")).as("avg_recovery"),
           stableAvg(col("DALYs")).as("avg_dalys"))
      .orderBy(col("avg_affected").desc, col("Disease Name").asc)
      .limit(n)

  /** A12 — correlation of every numeric feature with the mortality rate
    * (Health_Jim.py:519-547; nb:cell26:8-9): one Pearson matrix pass via
    * MLlib over an assembled vector, slice the target row.
    */
  def mortalityCorrelations(df: DataFrame): DataFrame = {
    import org.apache.spark.ml.feature.VectorAssembler
    import org.apache.spark.ml.linalg.Matrix
    import org.apache.spark.ml.stat.Correlation
    val numCols = df.schema.fields
      .filter(f => f.dataType == org.apache.spark.sql.types.DoubleType ||
                   f.dataType == org.apache.spark.sql.types.LongType)
      .map(_.name)
      .filterNot(Seq("Row_num", "Record_ID").contains)
    val assembled = new VectorAssembler()
      .setInputCols(numCols).setOutputCol("__features")
      .setHandleInvalid("skip")
      .transform(df.select(numCols.map(c => col(c).cast("double")): _*)
        .toDF(numCols: _*))
    val m = Correlation.corr(assembled, "__features").head.getAs[Matrix](0)
    val ti = numCols.indexOf("Mortality_Rate_per_100")
    val spark = df.sparkSession
    import spark.implicits._
    numCols.zipWithIndex
      .map { case (c, i) => (c, m(ti, i)) }
      .toSeq.toDF("feature", "corr_with_mortality")
      .orderBy(col("corr_with_mortality").desc)
  }

  /** A13 — overview metrics (nb:cell28:64-82): exact distincts. */
  def overview(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("total_records"),
           countDistinct(col("Country")).as("n_countries"),
           countDistinct(col("Disease Name")).as("n_diseases"),
           round(stableAvg(col("Mortality_Rate_per_100")), 4).as("avg_mortality"),
           round(stableAvg(col("Recovery_Rate")), 2).as("avg_recovery"),
           round(stableAvg(col("Avg_Treatment_Cost_USD")), 2).as("avg_cost"))

  /** Data-quality report (nb:cell0:342-403): missing values per column,
    * top-10 value counts for the key categoricals, min/mean/median/max
    * for the key metrics — the reference's post-ETL smoke surface, as
    * three small lazy DataFrames. `missing` and `metricStats` are each
    * one aggregate, unpivoted to a row per column or metric.
    */
  def qualityReport(df: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // One agg pass for all columns — a per-column filter+count would scan
    // the table once per column (35 scans at this schema). count(when)
    // (not sum(when)) so an EMPTY input yields 0, never null.
    val missing = df.select(df.columns.toSeq.map(c =>
        count(when(col(s"`$c`").isNull, lit(1))).as(c)): _*)
      .unpivot(Array.empty[Column], "column", "n_missing")
    val topCounts = df.groupBy(lit("Country").as("dim"), col("Country").as("value"))
      .agg(count(lit(1)).as("n"))
      .unionByName(df.groupBy(lit("Disease Name").as("dim"),
        col("Disease Name").as("value")).agg(count(lit(1)).as("n")))
      .orderBy(col("dim"), col("n").desc, col("value"))
    val metricStats = df.agg(array(Seq("Mortality_Rate_per_100", "Recovery_Rate",
        "Avg_Treatment_Cost_USD", "DALYs").map { c =>
      struct(lit(c).as("metric"), min(col(c)).as("min"),
        stableAvg(col(c)).as("mean"), expr(s"percentile(`$c`, 0.5)").as("median"),
        max(col(c)).as("max"))
    }: _*).as("stats")).select(inline(col("stats")))
    (missing, topCounts, metricStats)
  }

  /** EP2 — the six notebook SQL texts over a temp view, verbatim modulo
    * identifier quoting (SQLite double quotes → backticks). */
  def registerView(df: DataFrame): Unit =
    df.createOrReplaceTempView("global_health_data")

  val sqlTexts: Map[String, String] = Map(
    "q1" -> """SELECT `Disease Name` AS disease, AVG(Mortality_Rate_per_100) AS avg_mortality,
              |       COUNT(*) AS total_records
              |FROM global_health_data
              |WHERE Mortality_Rate_per_100 IS NOT NULL
              |GROUP BY `Disease Name`
              |ORDER BY avg_mortality DESC
              |LIMIT 5""".stripMargin,
    "q2" -> """SELECT Year, `Disease Name` AS disease, COUNT(*) AS cases,
              |       AVG(Recovery_Rate) AS avg_recovery
              |FROM global_health_data
              |GROUP BY Year, `Disease Name`
              |ORDER BY avg_recovery ASC, cases DESC
              |LIMIT 50""".stripMargin,
    "q3" -> """SELECT Country, AVG(Healthcare_Access_Pct) AS avg_healthcare_access,
              |       AVG(Mortality_Rate_per_100) AS avg_mortality,
              |       AVG(Doctors_per_1000) AS avg_doctors
              |FROM global_health_data
              |GROUP BY Country
              |HAVING avg_mortality IS NOT NULL
              |ORDER BY avg_healthcare_access DESC""".stripMargin,
    "q4" -> """SELECT `Disease Name` AS disease, Treatment_Type,
              |       AVG(Avg_Treatment_Cost_USD) AS avg_cost,
              |       AVG(Recovery_Rate) AS avg_recovery, COUNT(*) AS cases
              |FROM global_health_data
              |WHERE Avg_Treatment_Cost_USD IS NOT NULL
              |GROUP BY `Disease Name`, Treatment_Type
              |ORDER BY avg_cost DESC""".stripMargin,
    "q5" -> """SELECT `Disease Name` AS disease,
              |       AVG(Mortality_Rate_per_100) AS avg_mortality,
              |       SUM(Affected_Male) AS total_male_affected,
              |       SUM(Affected_Female) AS total_female_affected
              |FROM global_health_data
              |GROUP BY `Disease Name`
              |ORDER BY avg_mortality DESC
              |LIMIT 10""".stripMargin,
    "q6" -> """SELECT Country, `Disease Name` AS disease,
              |       AVG(Healthcare_Access_Pct) AS avg_access,
              |       AVG(Population_Affected) AS avg_affected,
              |       AVG(Urban_Population_Pct) AS avg_urban,
              |       AVG(Rural_Population_Pct) AS avg_rural
              |FROM global_health_data
              |WHERE Healthcare_Access_Pct IS NOT NULL
              |GROUP BY Country, `Disease Name`
              |ORDER BY avg_affected DESC""".stripMargin)

  def runSql(spark: SparkSession, name: String): DataFrame =
    spark.sql(sqlTexts(name))

  // ------------------------------------------------------------------
  // EP2 SQL-path CONTRACT queries: the six notebook SQL texts executed
  // by spark.sql over a view of the COMMITTED cleaned fixture
  // (HealthFixture.path — the DuckDB oracle reads the same artifact, so
  // the dual-engine check isolates the SQL semantics; the fixture↔ETL
  // sync is spec-enforced and the ETL has its own reference goldens).
  //
  // Two deliberate deltas from the verbatim `sqlTexts` (which HealthSpec
  // still dual-runs against the DataFrame API unmodified):
  //  1. metric columns are quantized in the VIEW (cents for rates/costs,
  //     whole units for populations) so every AVG/SUM is an exact
  //     integer sum — double addition over the raw 2-dp values is
  //     order-dependent and can never hash-match across engines;
  //  2. each ORDER BY gains the group keys as tiebreaks, making row
  //     order (and LIMIT membership) a total order on both engines.
  // ------------------------------------------------------------------

  private val centsCols = Seq("Mortality_Rate_per_100", "Recovery_Rate",
    "Healthcare_Access_Pct", "Doctors_per_1000", "Avg_Treatment_Cost_USD",
    "Urban_Population_Pct", "Rural_Population_Pct")
  private val wholeCols = Seq("Population_Affected", "Affected_Male", "Affected_Female")

  private def sqlPathView(spark: SparkSession): Unit = {
    val base = spark.read.parquet(HealthFixture.path)
    val quantized = wholeCols.foldLeft(
      centsCols.foldLeft(base)((d, c) =>
        d.withColumn(c, expr(s"CAST(round(`$c` * 100) AS BIGINT)"))))(
      (d, c) => d.withColumn(c, expr(s"CAST(round(`$c`) AS BIGINT)")))
    quantized.createOrReplaceTempView("global_health_contract")
  }

  private def sqlPath(text: String): (SparkSession, String) => DataFrame =
    (spark, _) => { sqlPathView(spark); spark.sql(text) }

  /** Shared DuckDB CTE mirroring [[sqlPathView]]'s quantization. */
  private val duckView =
    s"""WITH global_health_contract AS (
       |  SELECT "Disease Name", Country, Year, Treatment_Type,
       |    CAST(round(Mortality_Rate_per_100 * 100) AS BIGINT) AS Mortality_Rate_per_100,
       |    CAST(round(Recovery_Rate * 100) AS BIGINT) AS Recovery_Rate,
       |    CAST(round(Healthcare_Access_Pct * 100) AS BIGINT) AS Healthcare_Access_Pct,
       |    CAST(round(Doctors_per_1000 * 100) AS BIGINT) AS Doctors_per_1000,
       |    CAST(round(Avg_Treatment_Cost_USD * 100) AS BIGINT) AS Avg_Treatment_Cost_USD,
       |    CAST(round(Urban_Population_Pct * 100) AS BIGINT) AS Urban_Population_Pct,
       |    CAST(round(Rural_Population_Pct * 100) AS BIGINT) AS Rural_Population_Pct,
       |    CAST(round(Population_Affected) AS BIGINT) AS Population_Affected,
       |    CAST(round(Affected_Male) AS BIGINT) AS Affected_Male,
       |    CAST(round(Affected_Female) AS BIGINT) AS Affected_Female
       |  FROM '${HealthFixture.path}')
       |""".stripMargin

  import graft.QueryDef

  val defs: Seq[QueryDef] = Seq(
    QueryDef("sql01_top_mortality",
      "EP2 nb SQL q1: top-5 deadliest by avg mortality (SQL path)",
      sqlPath("""SELECT `Disease Name` AS disease,
                |       AVG(Mortality_Rate_per_100) AS avg_mortality,
                |       COUNT(*) AS total_records
                |FROM global_health_contract
                |WHERE Mortality_Rate_per_100 IS NOT NULL
                |GROUP BY `Disease Name`
                |ORDER BY avg_mortality DESC, disease
                |LIMIT 5""".stripMargin),
      Some(duckView +
        """SELECT "Disease Name" AS disease,
          |       AVG(Mortality_Rate_per_100) AS avg_mortality,
          |       COUNT(*) AS total_records
          |FROM global_health_contract
          |WHERE Mortality_Rate_per_100 IS NOT NULL
          |GROUP BY "Disease Name"
          |ORDER BY avg_mortality DESC, disease NULLS FIRST
          |LIMIT 5""".stripMargin)),
    QueryDef("sql02_recovery_trend",
      "EP2 nb SQL q2: recovery trends by year x disease (SQL path)",
      sqlPath("""SELECT Year, `Disease Name` AS disease, COUNT(*) AS cases,
                |       AVG(Recovery_Rate) AS avg_recovery
                |FROM global_health_contract
                |GROUP BY Year, `Disease Name`
                |ORDER BY avg_recovery ASC, cases DESC, Year, disease
                |LIMIT 50""".stripMargin),
      Some(duckView +
        """SELECT Year, "Disease Name" AS disease, COUNT(*) AS cases,
          |       AVG(Recovery_Rate) AS avg_recovery
          |FROM global_health_contract
          |GROUP BY Year, "Disease Name"
          |ORDER BY avg_recovery ASC NULLS FIRST, cases DESC,
          |         Year NULLS FIRST, disease NULLS FIRST
          |LIMIT 50""".stripMargin)),
    QueryDef("sql03_access_by_country",
      "EP2 nb SQL q3: healthcare access vs mortality per country, HAVING on alias (SQL path)",
      sqlPath("""SELECT Country, AVG(Healthcare_Access_Pct) AS avg_healthcare_access,
                |       AVG(Mortality_Rate_per_100) AS avg_mortality,
                |       AVG(Doctors_per_1000) AS avg_doctors
                |FROM global_health_contract
                |GROUP BY Country
                |HAVING avg_mortality IS NOT NULL
                |ORDER BY avg_healthcare_access DESC, Country""".stripMargin),
      Some(duckView +
        """SELECT Country, AVG(Healthcare_Access_Pct) AS avg_healthcare_access,
          |       AVG(Mortality_Rate_per_100) AS avg_mortality,
          |       AVG(Doctors_per_1000) AS avg_doctors
          |FROM global_health_contract
          |GROUP BY Country
          |HAVING avg_mortality IS NOT NULL
          |ORDER BY avg_healthcare_access DESC, Country NULLS FIRST""".stripMargin)),
    QueryDef("sql04_cost_by_treatment",
      "EP2 nb SQL q4: avg cost by disease x treatment (SQL path)",
      sqlPath("""SELECT `Disease Name` AS disease, Treatment_Type,
                |       AVG(Avg_Treatment_Cost_USD) AS avg_cost,
                |       AVG(Recovery_Rate) AS avg_recovery, COUNT(*) AS cases
                |FROM global_health_contract
                |WHERE Avg_Treatment_Cost_USD IS NOT NULL
                |GROUP BY `Disease Name`, Treatment_Type
                |ORDER BY avg_cost DESC, disease, Treatment_Type""".stripMargin),
      Some(duckView +
        """SELECT "Disease Name" AS disease, Treatment_Type,
          |       AVG(Avg_Treatment_Cost_USD) AS avg_cost,
          |       AVG(Recovery_Rate) AS avg_recovery, COUNT(*) AS cases
          |FROM global_health_contract
          |WHERE Avg_Treatment_Cost_USD IS NOT NULL
          |GROUP BY "Disease Name", Treatment_Type
          |ORDER BY avg_cost DESC, disease NULLS FIRST,
          |         Treatment_Type NULLS FIRST""".stripMargin)),
    QueryDef("sql05_gender_burden",
      "EP2 nb SQL q5: gender burden per disease, top 10 (SQL path)",
      sqlPath("""SELECT `Disease Name` AS disease,
                |       AVG(Mortality_Rate_per_100) AS avg_mortality,
                |       SUM(Affected_Male) AS total_male_affected,
                |       SUM(Affected_Female) AS total_female_affected
                |FROM global_health_contract
                |GROUP BY `Disease Name`
                |ORDER BY avg_mortality DESC, disease
                |LIMIT 10""".stripMargin),
      Some(duckView +
        """SELECT "Disease Name" AS disease,
          |       AVG(Mortality_Rate_per_100) AS avg_mortality,
          |       CAST(SUM(Affected_Male) AS BIGINT) AS total_male_affected,
          |       CAST(SUM(Affected_Female) AS BIGINT) AS total_female_affected
          |FROM global_health_contract
          |GROUP BY "Disease Name"
          |ORDER BY avg_mortality DESC, disease NULLS FIRST
          |LIMIT 10""".stripMargin)),
    QueryDef("sql06_urban_rural",
      "EP2 nb SQL q6: urban/rural burden per country x disease (SQL path)",
      sqlPath("""SELECT Country, `Disease Name` AS disease,
                |       AVG(Healthcare_Access_Pct) AS avg_access,
                |       AVG(Population_Affected) AS avg_affected,
                |       AVG(Urban_Population_Pct) AS avg_urban,
                |       AVG(Rural_Population_Pct) AS avg_rural
                |FROM global_health_contract
                |WHERE Healthcare_Access_Pct IS NOT NULL
                |GROUP BY Country, `Disease Name`
                |ORDER BY avg_affected DESC, Country, disease""".stripMargin),
      Some(duckView +
        """SELECT Country, "Disease Name" AS disease,
          |       AVG(Healthcare_Access_Pct) AS avg_access,
          |       AVG(Population_Affected) AS avg_affected,
          |       AVG(Urban_Population_Pct) AS avg_urban,
          |       AVG(Rural_Population_Pct) AS avg_rural
          |FROM global_health_contract
          |WHERE Healthcare_Access_Pct IS NOT NULL
          |GROUP BY Country, "Disease Name"
          |ORDER BY avg_affected DESC, Country NULLS FIRST,
          |         disease NULLS FIRST""".stripMargin)))
}
