package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.health.HealthEtl

/** SURVEY §5.2 property-based tests for the cleaning functions: the
  * properties hold for ARBITRARY inputs, not just the fixture rows.
  * Evaluated in batches (one Spark job per property, not per sample).
  */
class PropertySpec extends AnyFunSuite {
  import SparkTestSession._

  private def evalCleaner(inputs: Seq[String],
                          fn: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Seq[String] = {
    import spark.implicits._
    inputs.toDF("c").select(fn(col("c")).as("r")).collect().map(r =>
      if (r.isNullAt(0)) null else r.getString(0)).toSeq
  }

  // no suchThat filters: a filtered Gen makes listOfN(...).sample return
  // None; bound length via map instead
  private val weird: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.alphaNumChar, Gen.oneOf('@', '%', '!', '?', '~', ' ', '-', '.', '\'', '(', ')'),
    Gen.oneOf('¥', 'Ą', 'é'))).map(_.mkString.take(39))

  // code points mixing ASCII, precomposed accents, combining marks
  // (U+0301/U+0308/U+030A), CJK and controls — the NFC-interesting space
  private val nfcWeird: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.alphaNumChar, Gen.oneOf(' ', '.', '!'),
    Gen.oneOf('é', 'Å', 'ö', '中', '文'),
    Gen.oneOf('\u0301', '\u0308', '\u030A'),
    Gen.oneOf('\u0007', '\u001f'))).map(_.mkString.take(40))

  test("nfc_normalize agrees with java.text.Normalizer and is idempotent") {
    import spark.implicits._
    val inputs = Seq.fill(300)(nfcWeird.sample).flatten
    val out = inputs.toDF("s")
      .selectExpr("nfc_normalize(s) AS once", "nfc_normalize(nfc_normalize(s)) AS twice")
      .collect()
    inputs.zip(out).foreach { case (in, r) =>
      val want = java.text.Normalizer.normalize(in, java.text.Normalizer.Form.NFC)
      assert(r.getString(0) == want, s"mismatch for ${in.map(_.toInt.toHexString)}")
      assert(r.getString(1) == r.getString(0), "nfc_normalize is not idempotent")
    }
  }

  test("cleanCountry is idempotent (clean(clean(x)) == clean(x))") {
    val samples = Gen.listOfN(200, weird).sample.get
    val once = evalCleaner(samples, HealthEtl.cleanCountry)
    val twice = evalCleaner(once, HealthEtl.cleanCountry)
    // corrections keys never survive one pass, so the second pass only
    // sees already-clean names
    assert(once == twice)
  }

  test("cleanCountry never yields null/empty and is in cleaned alphabet") {
    val samples = Gen.listOfN(300, weird).sample.get
    val out = evalCleaner(samples, HealthEtl.cleanCountry)
    assert(out.forall(s => s != null && s.nonEmpty))
    assert(out.forall(s => s == "Unknown" || s.matches("[a-zA-Z\\s\\-\\.'']*")))
  }

  test("cleanNumeric is total: any string maps to a double or null") {
    import spark.implicits._
    val samples = Gen.listOfN(300, Gen.oneOf(
      weird, Gen.choose(-1e9, 1e9).map(_.toString),
      Gen.choose(0, 999999).map(n => s"'$n"),
      Gen.choose(0.0, 1000.0).map(d => d.toString.replace('.', ',')))).sample.get
    val out = samples.toDF("Country_pop")
      .select(HealthEtl.cleanNumeric(col("Country_pop")).as("r")).collect()
    // must not throw; quote-prefixed and comma-decimal forms parse
    assert(out.length == samples.length)
    val parsed = samples.toDF("Country_pop")
      .select(HealthEtl.cleanNumeric(col("Country_pop")).as("r"))
      .filter(col("r").isNotNull).count()
    assert(parsed > 0)
  }

  test("cleanAvailability is closed over {High, Medium, Low, None, Unknown}") {
    val samples = Gen.listOfN(300, weird).sample.get ++
      Seq(null, "High", "high", "Low ", "M?dium", "~none~", "NONE", "whatever")
    val out = evalCleaner(samples, HealthEtl.cleanAvailability)
    val domain = Set("High", "Medium", "Low", "None", "Unknown")
    assert(out.forall(domain.contains))
  }

  test("weekly report renders every reference section without egress") {
    val cleaned = CleanedHealth(spark)
    val report = graft.report.WeeklyReport.render(spark, cleaned)
    Seq("Overview", "Model quality", "Top 5 deadliest", "Top 5 costliest",
        "Feature importances", "Canned mortality prediction").foreach(s =>
      assert(report.contains(s), s"missing section $s"))
    val stub = new graft.report.EmailSinkStub
    graft.report.WeeklyReport.render(spark, cleaned, stub)
    assert(stub.lastSent.contains("WEEKLY GLOBAL HEALTH REPORT"))
  }
}
