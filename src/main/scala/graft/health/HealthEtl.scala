package graft.health

import java.nio.charset.{Charset, CodingErrorAction}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.PyText

/** The reference's ETL pipeline (`clean_health_dataset`,
  * Health_Jim.py:116-434 ≡ nb:cell0), re-expressed as one declarative
  * Spark plan. Stage numbering (2a-2j) follows the reference; every
  * semantic quirk in SURVEY §2.7 is reproduced deliberately:
  *
  *  - the corrections dict keys `It@lĄ` but the CSV (latin1!) contains
  *    `It@l¥` → country "Itl" survives to the output (Q2);
  *  - `Severity Score` / `Urban_Rural_Ratio` post-rename recomputes guard
  *    on pre-rename column names → dead; the pre-IQR-cap first versions
  *    survive (Q4) — severity uses UNCAPPED DALYs;
  *  - `Population Coverage (%)` / `Gender Ratio (M:F)` ARE recomputed
  *    post-rename; the final Gender Ratio clips the DENOMINATOR to 0.1
  *    instead of inf-replacement (Q4);
  *  - Python `str.title()`/`str.capitalize()` casing via graft.functions
  *    .PyText → `Parkinson'S Disease`, `Usa` (Q8).
  *
  * Scale notes: grouped medians are window aggregates (one shuffle per
  * key-set); global medians/quantiles resolve through
  * [[graft.util.ScalableQuantile]] (bounded-state radix selection, map-side
  * combinable — the driver reads a column's exact (value, count) list
  * while it has at most 4,607 distinct candidates and walks 4096-bucket
  * histograms past that, never rows) and are folded back as literals;
  * `bround` = numpy/pandas HALF_EVEN rounding; exact percentile
  * semantics, never approx.
  */
object HealthEtl {

  val defaultCsvPath = "/root/reference/Global Health Dataset.csv"

  val naTokens: Seq[String] =
    Seq("", "NaN", "NA", "NULL", "None", "nan", "N/A", "n/a", "~none~", "?", "-")

  val numericColumns: Seq[String] = Seq(
    "Country_pop", "Incidence Rate mn (%)", "Prevalence rate (%)",
    "Mortality Rate per 100 people (%)", "Population affected",
    "Pop_affected(Male)", "Pop_affected(Female)", "Ages 0-18 (%)",
    "Ages 19-35 (%)", "Ages 36-60 (%)", "Ages 61+ (%)",
    "Pop_affected_U (%)", "Pop_affected_R (%)", "Healthcare Access (%)",
    "Doctors per 1000", "Hospital Beds per 1000", "Recovery Rate (%)",
    "DALYs", "Improvement in 5 Years (%)", "Average Annual Treatment Cost (USD)",
    "Composite Health Index (CHI)", "Per Capita Income (USD)",
    "Education Index", "Urbanization Rate (%)")

  val renameMap: Seq[(String, String)] = Seq(
    "Country_pop" -> "Country_Population",
    "Incidence Rate mn (%)" -> "Incidence_Rate_per_million",
    "Prevalence rate (%)" -> "Prevalence_Rate",
    "Mortality Rate per 100 people (%)" -> "Mortality_Rate_per_100",
    "Population affected" -> "Population_Affected",
    "Pop_affected(Male)" -> "Affected_Male",
    "Pop_affected(Female)" -> "Affected_Female",
    "Ages 0-18 (%)" -> "Age_0_18_Pct",
    "Ages 19-35 (%)" -> "Age_19_35_Pct",
    "Ages 36-60 (%)" -> "Age_36_60_Pct",
    "Ages 61+ (%)" -> "Age_61_Plus_Pct",
    "Pop_affected_U (%)" -> "Urban_Population_Pct",
    "Pop_affected_R (%)" -> "Rural_Population_Pct",
    "Healthcare Access (%)" -> "Healthcare_Access_Pct",
    "Doctors per 1000" -> "Doctors_per_1000",
    "Hospital Beds per 1000" -> "Hospital_Beds_per_1000",
    "Treatment type" -> "Treatment_Type",
    "Recovery Rate (%)" -> "Recovery_Rate",
    "Improvement in 5 Years (%)" -> "Improvement_5_Years",
    "Average Annual Treatment Cost (USD)" -> "Avg_Treatment_Cost_USD",
    "Availability of Vaccines/Treatment" -> "Vaccine_Treatment_Availability",
    "Composite Health Index (CHI)" -> "Health_Index",
    "Per Capita Income (USD)" -> "Per_Capita_Income_USD",
    "Urbanization Rate (%)" -> "Urbanization_Rate")

  /** S1 — charset-fallback CSV read (Health_Jim.py:136-155): try utf-8 →
    * latin1 → cp1252 with a STRICT decoder on the driver (the file is a
    * couple of MB; the check reads bytes once), then a single Spark csv
    * read with the charset that decodes. The reference CSV is NOT valid
    * UTF-8 (0xa5 = '¥' in latin1), so the fallback genuinely fires.
    * All columns read as strings; the reference's 11-token null
    * vocabulary is applied to every column post-read.
    */
  def readRaw(spark: SparkSession, path: String): DataFrame = {
    val bytes = Files.readAllBytes(Paths.get(path))
    val encoding = Seq("UTF-8", "ISO-8859-1", "windows-1252").find { cs =>
      try {
        Charset.forName(cs).newDecoder()
          .onMalformedInput(CodingErrorAction.REPORT)
          .onUnmappableCharacter(CodingErrorAction.REPORT)
          .decode(java.nio.ByteBuffer.wrap(bytes))
        true
      } catch { case _: java.nio.charset.CharacterCodingException => false }
    }.getOrElse(throw new IllegalArgumentException(
      s"$path: no charset among utf-8/latin1/cp1252 decodes cleanly"))
    val raw = spark.read
      .option("header", "true")
      .option("encoding", encoding)
      .option("inferSchema", "false")
      .csv(path)
    raw.select(raw.columns.map { c =>
      when(col(c).isin(naTokens.map(lit): _*), lit(null)).otherwise(col(c)).as(c)
    }: _*)
  }

  /** F1 — clean_country_name (Health_Jim.py:167-194). */
  def cleanCountry(c: Column): Column = {
    val corrections = Seq(
      "It@lĄ" -> "Italy", "T?u?r?k?e?y?" -> "Turkey", "G%rmany" -> "Germany",
      "Can@da" -> "Canada", "Mex!co" -> "Mexico", "?r?zil" -> "Brazil",
      "Ind!a" -> "India")
    val corrected = corrections.foldLeft(when(c.isNull, "Unknown")) {
      case (acc, (k, v)) => acc.when(c === k, v)
    }
    val stripped = trim(regexp_replace(c, "[^a-zA-Z\\s\\-\\.']", ""))
    corrected.otherwise(
      when(stripped === "", "Unknown").otherwise(PyText.pyCapWords(stripped)))
  }

  /** F2 — clean_disease_name (Health_Jim.py:199-216). The three literal
    * replacements are dead code in the reference too (the regex strips
    * `!`/`&` before they could match) but are kept for fidelity.
    */
  def cleanDisease(c: Column): Column = {
    var t = regexp_replace(trim(c), "[^\\w\\s\\-\\(\\)']", "")
    t = regexp_replace(t, "A!DS", "AIDS")
    t = regexp_replace(t, "Influen&za", "Influenza")
    t = regexp_replace(t, "Pol!o", "Polio")
    t = trim(regexp_replace(t, "\\s+", " ")) // ' '.join(s.split())
    val isAcronym = Seq("COVID", "HIV", "AIDS", "SARS", "MERS")
      .map(a => upper(t).contains(a)).reduce(_ || _)
    when(c.isNull, "Unknown").otherwise(when(isAcronym, t).otherwise(PyText.pyTitle(t)))
  }

  /** F3 — clean_numeric_value (Health_Jim.py:240-258): drop quotes,
    * comma→dot, strip non-numeric, null on unparseable (try_cast). */
  def cleanNumeric(c: Column): Column =
    expr(s"try_cast(regexp_replace(regexp_replace(regexp_replace(`${c.toString}`" +
      s", \"'\", ''), ',', '.'), '[^0-9.\\\\-]', '') AS DOUBLE)")

  /** F4 — availability normalization (Health_Jim.py:266-286). */
  def cleanAvailability(c: Column): Column = {
    val t = trim(c)
    when(c.isNull, "Unknown")
      .when(t.isin("High", "high"), "High")
      .when(t.isin("Medium", "medium"), "Medium")
      .when(t.isin("Low", "low"), "Low")
      .when(t.isin("None", "none", "NONE", "~none~"), "None")
      .otherwise("Medium") // unknown non-null → Medium
  }

  /** NaN → null (Spark double division yields NaN/Infinity like numpy;
    * medians and fills must not see them as values). */
  private def nanToNull(c: Column): Column =
    when(isnan(c), lit(null).cast(DoubleType)).otherwise(c)

  /** ±Infinity → null (pandas `replace([inf, -inf], nan)`). */
  private def infToNull(c: Column): Column =
    when(c === Double.PositiveInfinity || c === Double.NegativeInfinity,
      lit(null).cast(DoubleType)).otherwise(c)

  /** Null-preserving clip — pandas Series.clip keeps NaN as NaN, while
    * Spark's greatest/least IGNORE nulls (they would resurrect a value).
    */
  private def clipNull(c: Column, lo: Double, hi: Double): Column =
    when(c.isNull, lit(null).cast(DoubleType))
      .otherwise(greatest(lit(lo), least(lit(hi), c)))

  private def clipUpper(c: Column, hi: Double): Column =
    when(c.isNull, lit(null).cast(DoubleType)).otherwise(least(lit(hi), c))

  /** numpy round = HALF_EVEN, guarded for non-finite inputs (bround on
    * ±inf would fail; numpy passes them through). */
  private def npRound(c: Column, scale: Int): Column =
    when(c.isNull || isnan(c) ||
         c === Double.PositiveInfinity || c === Double.NegativeInfinity, c)
      .otherwise(bround(c, scale))

  /** Exact interpolated median over a window (pandas groupby.transform). */
  private def wMedian(c: String, keys: Seq[String]): Column =
    expr(s"percentile(`$c`, 0.5)").over(
      org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*))

  /** The full pipeline: raw string frame → cleaned 35-column frame. */
  def clean(spark: SparkSession, path: String = defaultCsvPath): DataFrame = {
    graft.GraftSession.ensure(spark)
    var df = readRaw(spark, path)

    // 2a/2b — names
    df = df.withColumn("Country", cleanCountry(col("Country")))
      .withColumn("Disease Name", cleanDisease(col("Disease Name")))

    // the pipeline makes five scalar-quantile calls (year median, pop
    // median, rate medians, IQR quantiles, sweep medians). Each is one
    // pass while every column it reads has at most 4,607 distinct
    // values, and up to six past that; every pass re-reads its upstream.
    // Persist the scrubbed base once so every pass (and the final
    // result) reads the cached columns instead of re-scanning +
    // re-parsing the CSV — at 100 TB this is the difference between one
    // source scan and a dozen
    val scrubbed = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df = scrubbed

    // 2c — Year: to_numeric(coerce) → fillna(median) → astype(int) → range filter
    // All global medians/quantiles below use ScalableQuantile — exact
    // `percentile` values via bounded-state radix selection, never a
    // single-reducer value buffer (see graft.util.ScalableQuantile).
    df = df.withColumn("__yd", expr("try_cast(`Year` AS DOUBLE)"))
    val yearMed = graft.util.ScalableQuantile.medians(df, Seq("__yd"))("__yd")
    df = df
      .withColumn("Year", coalesce(col("__yd"), lit(yearMed.orNull)).cast(LongType))
      .drop("__yd")
      .filter(col("Year") >= 1900 && col("Year") <= 2100)

    // 2d — numeric cleaning
    df = df.select(df.columns.map { c =>
      if (numericColumns.contains(c)) cleanNumeric(col(c)).as(c) else col(c)
    }: _*)

    // 2e — categoricals
    df = df.withColumn("Treatment type",
        when(col("Treatment type").isNull, "Unknown")
          .otherwise(PyText.pyCapitalize(col("Treatment type"))))
      .withColumn("Availability of Vaccines/Treatment",
        cleanAvailability(col("Availability of Vaccines/Treatment")))

    // 2f — imputation: country-year median pop, constant age fill,
    // disease-country median rates (each + global-median fallback)
    df = df.withColumn("Country_pop",
      coalesce(col("Country_pop"), wMedian("Country_pop", Seq("Country", "Year"))))
    val popMed = graft.util.ScalableQuantile
      .medians(df, Seq("Country_pop"))("Country_pop")
    df = df.withColumn("Country_pop",
        coalesce(col("Country_pop"), lit(popMed.orNull)).cast(LongType))

    val ageCols = Seq("Ages 0-18 (%)", "Ages 19-35 (%)", "Ages 36-60 (%)", "Ages 61+ (%)")
    df = ageCols.foldLeft(df)((d, c) => d.withColumn(c, coalesce(col(c), lit(25.0))))

    val rateCols = Seq("Incidence Rate mn (%)", "Prevalence rate (%)",
      "Mortality Rate per 100 people (%)")
    df = rateCols.foldLeft(df)((d, c) =>
      d.withColumn(c, coalesce(col(c), wMedian(c, Seq("Disease Name", "Country")))))
    // all three rate medians resolve in the same shared radix passes
    val rateMeds = graft.util.ScalableQuantile.medians(df, rateCols)
    df = rateCols.foldLeft(df) { case (d, c) =>
      d.withColumn(c, coalesce(col(c), lit(rateMeds(c).orNull)))
    }

    // 2g — derived columns, FIRST versions (pre-IQR-cap inputs; Severity
    // and Urban_Rural survive to the output — SURVEY §2.7 Q4)
    df = df
      .withColumn("Population Coverage (%)", clipUpper(
        npRound(col("Population affected") / col("Country_pop") * 100, 2), 100))
      .withColumn("Gender Ratio (M:F)", clipNull(infToNull(nanToNull(
        npRound(col("Pop_affected(Male)") / col("Pop_affected(Female)"), 2))), 0.1, 10))
      .withColumn("Urban_Rural_Ratio", clipNull(infToNull(nanToNull(
        npRound(col("Pop_affected_U (%)") / col("Pop_affected_R (%)"), 2))), 0.1, 10))
      .withColumn("Severity Score", npRound(
        coalesce(nanToNull(col("Mortality Rate per 100 people (%)")), lit(0.0)) * 0.7 +
        log1p(coalesce(nanToNull(col("DALYs")), lit(0.0))) * 0.3, 2))

    // 2h — IQR outlier capping (3×IQR, cap not drop) on 4 metrics
    val outlierCols = Seq("Average Annual Treatment Cost (USD)",
      "Per Capita Income (USD)", "DALYs", "Country_pop")
    // all eight quantiles (4 cols × Q1/Q3) resolve in the same shared
    // radix passes; the cap is then a pure projection over literals
    val quants = graft.util.ScalableQuantile
      .quantiles(df, outlierCols.map(c => c -> Seq(0.25, 0.75)))
    df = outlierCols.foldLeft(df) { case (d, c) =>
      val q1 = lit(quants((c, 0.25)).get)
      val q3 = lit(quants((c, 0.75)).get)
      val iqr = q3 - q1
      val lo = q1 - iqr * 3
      val hi = q3 + iqr * 3
      d.withColumn(c, when(col(c).isNull, lit(null).cast(DoubleType))
        .otherwise(greatest(lo, least(hi, col(c).cast(DoubleType)))))
    }

    // 2i — rename
    df = renameMap.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }
    df = df.withColumn("Row_num", expr("try_cast(Row_num AS BIGINT)"))

    // final NaN sweep: 3 rate cols → 0; other numerics → column median
    // (median itself null → 0); strings → 'Unknown'
    val rateRenamed = Seq("Mortality_Rate_per_100", "Prevalence_Rate", "Incidence_Rate_per_million")
    val numericNow = df.schema.fields.filter(f =>
      f.dataType == DoubleType || f.dataType == LongType).map(_.name).toSeq
    val sweepCols = numericNow.filterNot(rateRenamed.contains)
    // ~25 column medians, all in the same shared radix passes (one job
    // per pass regardless of column count)
    val sweepMeds = graft.util.ScalableQuantile.medians(df, sweepCols)
    df = rateRenamed.foldLeft(df)((d, c) =>
      d.withColumn(c, coalesce(nanToNull(col(c)), lit(0.0))))
    df = sweepCols.foldLeft(df) { case (d, c) =>
      if (df.schema(c).dataType == LongType)
        d.withColumn(c, coalesce(col(c), lit(sweepMeds(c).orNull).cast(LongType)))
      else
        d.withColumn(c, coalesce(nanToNull(col(c)), lit(sweepMeds(c).orNull), lit(0.0)))
    }
    val stringCols = df.schema.fields.filter(_.dataType == org.apache.spark.sql.types.StringType).map(_.name)
    df = stringCols.foldLeft(df)((d, c) => d.withColumn(c, coalesce(col(c), lit("Unknown"))))

    // recompute derived (post-rename; only these two fire — Q4):
    df = df
      .withColumn("Population Coverage (%)", clipNull(npRound(
        col("Population_Affected") / col("Country_Population") * 100, 2), 0, 100))
      .withColumn("Gender Ratio (M:F)", clipNull(npRound(
        col("Affected_Male") /
          greatest(lit(0.1), col("Affected_Female").cast(DoubleType)), 2), 0.1, 10))

    // 2j — dedupe, sort, Record_ID (Row_num is the deterministic
    // tie-break inside equal (Country, Year, Disease) groups; pandas'
    // unstable quicksort leaves tie order unspecified — SURVEY §2.5).
    // Ids are assigned partition-parallel (range repartition + offsets,
    // graft.operators.ScaleOps) — no single-partition global window, so
    // this same pipeline runs at 100 TB; proven equal to
    // row_number() OVER (ORDER BY keys) in EventStreamSpec.
    df = df.dropDuplicates()
    val result = graft.operators.ScaleOps
      .denseIds(df, Seq("Country", "Year", "Disease Name", "Row_num"), "Record_ID")
    // denseIds has materialized its own (RDD-level) sorted copy — every
    // scalar pass above already ran — so the scrubbed base's cache has
    // served all its readers. Release it EXPLICITLY (on the persisted
    // frame itself — unpersisting a derived frame is a no-op): a
    // DataFrame persist is pinned by the CacheManager forever otherwise
    // (the context cleaner never collects InMemoryRelations).
    scrubbed.unpersist(blocking = false)
    result
  }

  /** S2 — CSV sink (Health_Jim.py:431-434): single header CSV. */
  def writeCleanedCsv(df: DataFrame, outPath: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(outPath)
}
