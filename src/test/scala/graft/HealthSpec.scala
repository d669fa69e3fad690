package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.health.{HealthEtl, HealthQueries}

/** Golden reference-parity tests. Every expected value below was produced
  * by executing the REFERENCE's own pandas ETL + queries on its CSV
  * (tools/health_oracle.py) and cross-checked against the committed
  * notebook outputs (nb:cell2/10/14/18(out), BASELINE.md). The Spark ETL
  * output was additionally diffed cell-by-cell against the pandas output
  * (bit-exact on all 35 columns × 10,006 rows).
  */
class HealthSpec extends AnyFunSuite {
  import SparkTestSession._

  lazy val cleaned = CleanedHealth(spark).cache()

  test("ETL: shape, countries, diseases, no nulls — SURVEY §5.2 invariants") {
    // the ETL itself on the reference CSV, not the committed fixture
    val cleaned = HealthEtl.clean(spark, HealthEtl.defaultCsvPath).cache()
    assert(cleaned.count() == 10006)
    assert(cleaned.columns.length == 35)
    val countries = cleaned.select("Country").distinct().collect().map(_.getString(0)).sorted
    assert(countries.length == 21)
    // quirk Q2: the missed correction ('It@l¥' in latin1 ≠ dict key 'It@lĄ')
    assert(countries.contains("Itl"))
    // quirk Q8: Python capitalize() of 'USA'
    assert(countries.contains("Usa"))
    assert(countries.contains("Brazil") && countries.contains("Turkey") &&
           countries.contains("Germany") && countries.contains("Unknown"))
    val diseases = cleaned.select("Disease Name").distinct().collect().map(_.getString(0)).sorted
    assert(diseases.length == 21)
    // quirk Q8: title() artifacts are load-bearing
    assert(diseases.contains("Parkinson'S Disease"))
    assert(diseases.contains("Alzheimer'S Disease"))
    assert(diseases.contains("Tubrculosis"))
    assert(diseases.contains("HIVADS"))
    assert(diseases.contains("COVID-19")) // acronym guard skips title()
    // zero nulls anywhere after the final sweep
    val nullCounts = cleaned.select(cleaned.columns.map(c =>
      sum(when(col(s"`$c`").isNull, 1).otherwise(0)).as(c)): _*).head()
    assert(nullCounts.toSeq.map(_.asInstanceOf[Long]).sum == 0)
    // Record_ID dense 1..N
    val ids = cleaned.agg(min("Record_ID"), max("Record_ID"),
      countDistinct("Record_ID")).head()
    assert(ids.getLong(0) == 1 && ids.getLong(1) == 10006 && ids.getLong(2) == 10006)
    cleaned.unpersist()
  }

  test("A1 topDeadliest matches the reference (Hypertension 0.10804 / 500)") {
    val rows = HealthQueries.topDeadliest(cleaned, 5).collect()
    val expect = Seq(
      ("Hypertension", 0.10804, 500L), ("Cholera", 0.082371, 502L),
      ("Diabetes", 0.0566, 500L), ("Cancer", 0.056, 500L), ("Asthma", 0.0517, 500L))
    assert(rows.length == 5)
    rows.zip(expect).foreach { case (r, (d, m, n)) =>
      assert(r.getString(0) == d, s"disease order: ${r.getString(0)} != $d")
      assert(math.abs(r.getDouble(1) - m) < 5e-7, s"$d mortality ${r.getDouble(1)}")
      assert(r.getLong(2) == n, s"$d count")
    }
  }

  test("A3 accessVsMortality extremes match (Usa 83.344/3.77558, Nigeria 35.022575/0.484651)") {
    val rows = HealthQueries.accessVsMortality(cleaned).collect()
    assert(rows.length == 21)
    val top = rows.head
    assert(top.getString(0) == "Usa")
    assert(math.abs(top.getDouble(1) - 83.344) < 5e-7)
    assert(math.abs(top.getDouble(3) - 3.77558) < 5e-7)
    val bottom = rows.last
    assert(bottom.getString(0) == "Nigeria")
    assert(math.abs(bottom.getDouble(1) - 35.022575) < 5e-7)
    assert(math.abs(bottom.getDouble(3) - 0.484651) < 5e-6)
  }

  test("A4 costByTreatment top matches (Cancer+Surgery 11800.96729 / 214 cases)") {
    val top = HealthQueries.costByTreatment(cleaned).head()
    assert(top.getString(0) == "Cancer" && top.getString(1) == "Surgery")
    assert(math.abs(top.getDouble(2) - 11800.96729) < 5e-5)
    assert(top.getLong(4) == 214)
  }

  test("A5 genderBurden sums match (Influenza male 4,835,658,731)") {
    val rows = HealthQueries.genderBurden(cleaned, 10).collect()
    val influenza = rows.find(_.getString(0) == "Influenza").get
    assert(influenza.getDouble(2) == 4835658731.0)
    assert(influenza.getDouble(3) == 4476751385.0)
    assert(rows.head.getString(0) == "Hypertension")
  }

  test("A2 recoveryTrends lowest cell matches (Hepatitis 2023, 64.089, 20 cases)") {
    val top = HealthQueries.recoveryTrends(cleaned, 50).head()
    assert(top.getLong(0) == 2023 && top.getString(1) == "Hepatitis")
    assert(top.getLong(2) == 20)
    assert(math.abs(top.getDouble(3) - 64.089) < 5e-7)
  }

  test("EP2: SQL texts over the temp view agree with the DataFrame API") {
    // The SQL texts are the reference's VERBATIM queries (plain AVG — an
    // order-dependent double sum); the DataFrame layer is order-invariant
    // by design (Exact.stableAvg, decimal(38,12)). The two agree to the
    // 12th decimal; bit-equality between them is not a meaningful contract.
    def close(a: Double, b: Double): Boolean =
      math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
    HealthQueries.registerView(cleaned)
    val sqlQ1 = HealthQueries.runSql(spark, "q1").collect()
    val dfQ1 = HealthQueries.topDeadliest(cleaned, 5).collect()
    sqlQ1.zip(dfQ1).foreach { case (s, d) =>
      assert(s.getString(0) == d.getString(0))
      assert(close(s.getDouble(1), d.getDouble(1)), s"${s.getDouble(1)} vs ${d.getDouble(1)}")
    }
    // q3 compares KEYED BY COUNTRY: near-tied avg_healthcare_access sort
    // keys (Unknown vs United Kingdom differ in the 11th decimal) order
    // differently under plain-AVG vs stableAvg, and tie order was never
    // part of the contract
    val sqlQ3 = HealthQueries.runSql(spark, "q3").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val dfQ3 = HealthQueries.accessVsMortality(cleaned).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(sqlQ3.keySet == dfQ3.keySet)
    sqlQ3.foreach { case (country, v) =>
      assert(close(v, dfQ3(country)), s"$country: $v vs ${dfQ3(country)}")
    }
  }

  test("A7 two-level reaggregation ≠ direct mean (each country weighted equally)") {
    val l2 = HealthQueries.urbanRuralLevel2(cleaned).collect()
    assert(l2.nonEmpty)
    val influenza = l2.find(_.getString(0) == "Influenza").get
    // BASELINE.md: Influenza avg affected 18,624,820.22 at 68.03% access
    assert(math.abs(influenza.getDouble(2) - 18624820.22) < 0.5)
    assert(math.abs(influenza.getDouble(1) - 68.03) < 0.005)
  }

  test("A13 overview + A10 unpivot shapes") {
    val o = HealthQueries.overview(cleaned).head()
    assert(o.getLong(0) == 10006 && o.getLong(1) == 21 && o.getLong(2) == 21)
    val long = HealthQueries.genderImpactLong(cleaned)
    assert(long.count() == 42) // 21 diseases × 2 genders
    assert(long.columns.toSeq == Seq("Disease Name", "Gender", "Affected_Population"))
  }

  test("ETL leaves no CacheManager entries behind (explicit unpersist)") {
    // delta-based: other suites legitimately hold caches on the shared
    // session; clean() itself must add at most denseIds' one RDD-level
    // cache (context-cleaner-collectable), and NO InMemoryRelation
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // cache hygiene does not depend on the input: the committed seeded CSV
    // (HealthDigestSpec pins its 498 cleaned rows)
    val out = HealthEtl.clean(spark, getClass.getResource("/health_dirty_500.csv").getPath)
    assert(out.count() == 498)
    val fresh = sc.getPersistentRDDs.filterNot { case (id, _) => before(id) }
    // the scrubbed base (InMemoryRelation) must be GONE; only denseIds'
    // arranged RDD may remain, and it is plain-RDD (GC-collectable)
    assert(fresh.size <= 1, s"leaked caches: ${fresh.values.map(_.toString)}")
    assert(!fresh.values.exists(r => r.name != null && r.name.contains("In-memory")),
      s"InMemoryRelation leaked: ${fresh.values.map(_.name)}")
  }

  test("A12 correlation ranking: target correlates 1.0 with itself, Severity leads") {
    val rows = HealthQueries.mortalityCorrelations(cleaned).collect()
    val self = rows.find(_.getString(0) == "Mortality_Rate_per_100").get
    assert(math.abs(self.getDouble(1) - 1.0) < 1e-12)
    // Severity Score = 0.7·mortality + 0.3·log1p(DALYs) must rank first after self
    assert(rows.take(2).map(_.getString(0)).contains("Severity Score"))
  }

  test("committed health fixture stays bit-exact with the live ETL output") {
    // the EP2 SQL-path contract queries and their DuckDB oracles both
    // read tools/fixtures/health_cleaned.parquet — this test is what
    // keeps that artifact honest after any ETL change (regenerate with
    // `sbt "runMain graft.health.HealthFixture"` and review the diff)
    import org.apache.spark.sql.functions.col
    val live = graft.health.HealthEtl.clean(spark)
      .orderBy(col("Record_ID")).collect().map(_.toString)
    val stored = spark.read.parquet(graft.health.HealthFixture.path)
      .orderBy(col("Record_ID")).collect().map(_.toString)
    assert(live.length == stored.length,
      s"row count drifted: live=${live.length} fixture=${stored.length}")
    // Row.toString prints shortest-roundtrip doubles — injective per bit
    // pattern, so string equality here IS bit equality
    val firstDiff = live.zip(stored).indexWhere { case (a, b) => a != b }
    assert(firstDiff < 0,
      s"fixture drifted at row $firstDiff:\n live   ${live(firstDiff max 0)}\n stored ${stored(firstDiff max 0)}")
  }
}

/** CPython-semantics goldens for the casing expressions (values verified
  * against CPython 3.11 str.title/str.capitalize). */
class PyTextSpec extends AnyFunSuite {
  import SparkTestSession._

  private def one(fn: String, in: String): String =
    spark.sql(s"SELECT $fn('${in.replace("'", "\\'")}')").head().getString(0)

  test("py_title matches CPython str.title()") {
    assert(one("py_title", "parkinson's disease") == "Parkinson'S Disease")
    assert(one("py_title", "alzheimer's disease") == "Alzheimer'S Disease")
    assert(one("py_title", "covid-19 test") == "Covid-19 Test")
    assert(one("py_title", "3abc def") == "3Abc Def")
    assert(one("py_title", "a  b") == "A  B")
    assert(one("py_title", "") == "")
  }

  test("py_capitalize matches CPython str.capitalize()") {
    assert(one("py_capitalize", "USA") == "Usa")
    assert(one("py_capitalize", "medication") == "Medication")
    assert(one("py_capitalize", "mIxEd CaSe") == "Mixed case")
    assert(one("py_capitalize", "") == "")
  }

  test("py_cap_words matches ' '.join(p.capitalize() for p in s.split())") {
    assert(one("py_cap_words", "united  kingdom") == "United Kingdom")
    assert(one("py_cap_words", " saudi arabia ") == "Saudi Arabia")
    assert(one("py_cap_words", "USA") == "Usa")
  }
}
