package graft.health

import java.nio.charset.{Charset, CodingErrorAction}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Greatest, Least, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

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
  * semantics, never approx. There are three such passes (year median; pop
  * and rate medians; IQR quantiles with every sweep median, the capped
  * columns' valued through the cap on the driver), over two persisted
  * frames that `clean` releases itself. Each stage is one projection.
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

  /** One stage as one projection: each (name, column) replaces the column
    * of that name in place, or is appended, in order, when it is new. */
  private def project(df: DataFrame, updates: Seq[(String, Column)]): DataFrame = {
    val byName = updates.toMap
    df.select(df.columns.toSeq.map(c => byName.get(c).fold(col(c))(_.as(c))) ++
      updates.collect { case (c, e) if !df.columns.contains(c) => e.as(c) }: _*)
  }

  /** [[clipNull]] evaluated on the driver, for one non-null value, with
    * Catalyst's own `Greatest`/`Least`, so NaN and ±0.0 follow Spark's
    * ordering exactly as in the projection. */
  private[graft] def capValue(lo: Double, hi: Double)(v: Double): Double =
    Greatest(Seq(Literal(lo), Least(Seq(Literal(hi), Literal(v))))).eval()
      .asInstanceOf[Double]

  /** The full pipeline: raw string frame → cleaned 35-column frame. */
  def clean(spark: SparkSession, path: String = defaultCsvPath): DataFrame = {
    graft.GraftSession.ensure(spark)
    val raw = readRaw(spark, path)

    // The pipeline makes three scalar-quantile calls: the year median;
    // the pop and rate medians; the IQR quantiles together with every
    // sweep median. Each is one pass while every column it reads has at
    // most 4,607 distinct values, and up to six past that. Two persisted
    // frames keep a pass from re-running its upstream: the scrubbed base
    // (one CSV scan and parse, not one per pass) and the window-imputed
    // frame (the 2f window shuffles run once). Both are released
    // EXPLICITLY, on the persisted frames themselves (unpersisting a
    // derived frame is a no-op): the CacheManager pins a DataFrame
    // persist until then (the context cleaner never collects
    // InMemoryRelations).
    val storage = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

    // 2a/2b — names
    val scrubbed = project(raw, Seq(
      "Country" -> cleanCountry(col("Country")),
      "Disease Name" -> cleanDisease(col("Disease Name")))).persist(storage)

    // 2c — Year: to_numeric(coerce) → fillna(median) → astype(int) → range filter
    // All global medians/quantiles below use ScalableQuantile — exact
    // `percentile` values via bounded-state radix selection, never a
    // single-reducer value buffer (see graft.util.ScalableQuantile).
    val yearD = expr("try_cast(`Year` AS DOUBLE)")
    val yearMed = graft.util.ScalableQuantile
      .medians(scrubbed.select(yearD.as("__yd")), Seq("__yd"))("__yd")
    val years = project(scrubbed, Seq(
        "Year" -> coalesce(yearD, lit(yearMed.orNull)).cast(LongType)))
      .filter(col("Year") >= 1900 && col("Year") <= 2100)

    // 2d — numeric cleaning; 2e — categoricals; Row_num as an integer
    // (the reference converts it after the rename; no step reads it between)
    val typed = project(years, numericColumns.map(c => c -> cleanNumeric(col(c))) ++ Seq(
      "Treatment type" -> when(col("Treatment type").isNull, "Unknown")
        .otherwise(PyText.pyCapitalize(col("Treatment type"))),
      "Availability of Vaccines/Treatment" ->
        cleanAvailability(col("Availability of Vaccines/Treatment")),
      "Row_num" -> expr("try_cast(Row_num AS BIGINT)")))

    // 2f — imputation: country-year median pop, constant age fill,
    // disease-country median rates (each + global-median fallback). The
    // global medians read only the window fills, so all four resolve in
    // one pass, which also fills the persisted frame.
    val ageCols = Seq("Ages 0-18 (%)", "Ages 19-35 (%)", "Ages 36-60 (%)", "Ages 61+ (%)")
    val rateCols = Seq("Incidence Rate mn (%)", "Prevalence rate (%)",
      "Mortality Rate per 100 people (%)")
    val windowed = project(typed,
      ("Country_pop" -> coalesce(col("Country_pop"), wMedian("Country_pop", Seq("Country", "Year")))) +:
        (ageCols.map(c => c -> coalesce(col(c), lit(25.0))) ++
         rateCols.map(c => c -> coalesce(col(c), wMedian(c, Seq("Disease Name", "Country"))))))
      .persist(storage)
    val meds = graft.util.ScalableQuantile.medians(windowed, "Country_pop" +: rateCols)
    // every later pass reads `windowed`, filled by the pass above
    scrubbed.unpersist(blocking = false)
    val imputed = project(windowed,
      ("Country_pop" -> coalesce(col("Country_pop"), lit(meds("Country_pop").orNull)).cast(LongType)) +:
        rateCols.map(c => c -> coalesce(col(c), lit(meds(c).orNull))))

    // 2g — derived columns, FIRST versions (pre-IQR-cap inputs; Severity
    // and Urban_Rural survive to the output — SURVEY §2.7 Q4)
    val derived = project(imputed, Seq(
      "Population Coverage (%)" -> clipUpper(
        npRound(col("Population affected") / col("Country_pop") * 100, 2), 100),
      "Gender Ratio (M:F)" -> clipNull(infToNull(nanToNull(
        npRound(col("Pop_affected(Male)") / col("Pop_affected(Female)"), 2))), 0.1, 10),
      "Urban_Rural_Ratio" -> clipNull(infToNull(nanToNull(
        npRound(col("Pop_affected_U (%)") / col("Pop_affected_R (%)"), 2))), 0.1, 10),
      "Severity Score" -> npRound(
        coalesce(nanToNull(col("Mortality Rate per 100 people (%)")), lit(0.0)) * 0.7 +
        log1p(coalesce(nanToNull(col("DALYs")), lit(0.0))) * 0.3, 2)))

    // 2h — IQR outlier capping (3×IQR, cap not drop) on 4 metrics, and
    // the final NaN sweep's medians, in ONE pass. The sweep reads the
    // capped columns, but a cap is a monotone clamp and order statistics
    // commute with it: a capped column's median is its uncapped Parts
    // valued through the cap. Every other sweep column is unchanged by
    // 2h/2i, so its median over `derived` is the sweep's.
    val outlierCols = Seq("Average Annual Treatment Cost (USD)",
      "Per Capita Income (USD)", "DALYs", "Country_pop")
    val numeric = derived.schema.fields.collect {
      case f if f.dataType == DoubleType || f.dataType == LongType => f.name
    }.toSeq
    val sweepCols = numeric.filterNot(rateCols.contains)
    val parts = graft.util.ScalableQuantile.parts(derived, sweepCols.map(c =>
      c -> (if (outlierCols.contains(c)) Seq(0.25, 0.75, 0.5) else Seq(0.5))))
    val bounds: Map[String, (Double, Double)] = outlierCols.map { c =>
      val q1 = parts((c, 0.25)).get.value
      val q3 = parts((c, 0.75)).get.value
      val iqr = q3 - q1
      c -> ((q1 - iqr * 3, q3 + iqr * 3))
    }.toMap

    // 2h cap, 2i rename and the sweep: 3 rate cols → 0; other numerics →
    // column median (median itself null → 0); strings → 'Unknown'
    val renamed = renameMap.toMap
    val swept = derived.select(derived.schema.fields.toSeq.map { f =>
      val c = f.name
      val med = parts.get((c, 0.5)).flatten
      val out =
        if (rateCols.contains(c)) coalesce(nanToNull(col(c)), lit(0.0))
        else if (bounds.contains(c)) {
          val (lo, hi) = bounds(c)
          coalesce(nanToNull(clipNull(col(c).cast(DoubleType), lo, hi)),
            lit(med.map(_.value(capValue(lo, hi))).orNull), lit(0.0))
        }
        else if (f.dataType == LongType) coalesce(col(c), lit(med.map(_.value).orNull).cast(LongType))
        else if (f.dataType == DoubleType) coalesce(nanToNull(col(c)), lit(med.map(_.value).orNull), lit(0.0))
        else if (f.dataType == StringType) coalesce(col(c), lit("Unknown"))
        else col(c)
      out.as(renamed.getOrElse(c, c))
    }: _*)

    // recompute derived (post-rename; only these two fire — Q4):
    val recomputed = project(swept, Seq(
      "Population Coverage (%)" -> clipNull(npRound(
        col("Population_Affected") / col("Country_Population") * 100, 2), 0, 100),
      "Gender Ratio (M:F)" -> clipNull(npRound(
        col("Affected_Male") /
          greatest(lit(0.1), col("Affected_Female").cast(DoubleType)), 2), 0.1, 10)))

    // 2j — dedupe, sort, Record_ID (Row_num is the deterministic
    // tie-break inside equal (Country, Year, Disease) groups; pandas'
    // unstable quicksort leaves tie order unspecified — SURVEY §2.5).
    // Ids are assigned partition-parallel (range repartition + offsets,
    // graft.operators.ScaleOps) — no single-partition global window, so
    // this same pipeline runs at 100 TB; proven equal to
    // row_number() OVER (ORDER BY keys) in EventStreamSpec.
    val result = graft.operators.ScaleOps.denseIds(recomputed.dropDuplicates(),
      Seq("Country", "Year", "Disease Name", "Row_num"), "Record_ID")
    // denseIds has materialized its own (RDD-level) sorted copy, so the
    // window-imputed cache has served all its readers
    windowed.unpersist(blocking = false)
    result
  }

  /** S2 — CSV sink (Health_Jim.py:431-434): single header CSV. */
  def writeCleanedCsv(df: DataFrame, outPath: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(outPath)
}
