package graft.health

import java.math.{BigDecimal => JBigDecimal}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Literal, Round}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.Decimal

import graft.util.Exact

/** The two terms `Exact.stableAvg` divides: the non-null count and the
  * exact `decimal(38,12)` sum. Terms of disjoint row sets add exactly, so
  * the mean of a union of cells is the mean Spark computes over the
  * union's rows, bit for bit.
  */
final case class MeanTerms(n: Long, sum: JBigDecimal) {
  def +(o: MeanTerms): MeanTerms = MeanTerms(n + o.n, sum.add(o.sum))

  /** `stableAvg`'s value: the sum converted as Spark casts a
    * `decimal(38,12)` to double, over the count; `None` where Spark
    * gives null (no non-null value). */
  def mean: Option[Double] =
    if (n == 0) None else Some(Decimal(sum, 38, 12).toDouble / n)
}

/** One (Country, Year, Disease Name) cell of the cleaned table. The
  * scatter pair is taken over the rows where access and mortality are
  * both non-null, so its two counts are equal. */
final case class Cell(country: String, year: Long, disease: String, rows: Long,
    mortality: MeanTerms, cost: MeanTerms, recovery: MeanTerms,
    scatterAccess: MeanTerms, scatterMortality: MeanTerms)

/** A13's row: the means already rounded by Spark's `Round` (4, 2 and 2
  * places). */
final case class Overview(rows: Long, countries: Long, diseases: Long,
    mortality: Option[Double], recovery: Option[Double], cost: Option[Double]) {
  /** (column, value) in [[HealthQueries.overview]]'s order; a mean with no
    * value is null. */
  def fields: Seq[(String, Any)] = Seq("total_records", "n_countries", "n_diseases",
    "avg_mortality", "avg_recovery", "avg_cost").zip(
    Seq(rows, countries, diseases) ++ Seq(mortality, recovery, cost).map(_.getOrElse(null)))
}

/** Everything one dashboard page shows: the selection it applied, then
  * each section in display order. A top-5 row is (disease, mean, the
  * non-null count the mean divides). */
final case class PageView(year: Option[Long], country: Option[String],
    deadliest: Seq[(String, Double, Long)], cost: Seq[(String, Double, Long)],
    trend: Seq[(Double, Double)], scatter: Seq[(Double, Double)], overview: Overview)

/** The health app's summaries from one aggregate: the cleaned table
  * grouped by (Country, Year, Disease Name), the dashboard's two filter
  * dimensions and the chart key, and collected. Its size is bounded by
  * |Country|×|Year|×|Disease|, whatever the row count. The dashboard's
  * pages and the weekly report's overview, top-5s and charts are folds
  * over its cells on the driver that reproduce the HealthQueries answers
  * (A1, A8, A9, A13) and the `stableAvg` scatter on the filtered frame,
  * so none of them submits a Spark job.
  */
final class Rollup(cells: Seq[Cell]) {

  val years: Seq[Long] = cells.map(_.year).distinct.sorted
  val countries: Seq[String] = cells.map(_.country).distinct.sorted

  /** The page for a year and a country, each already checked against its
    * domain. The year filter applies to every section but the trend. */
  def view(year: Option[Long], country: Option[String]): PageView = {
    val inCountry = cells.filter(c => country.forall(_ == c.country))
    val selected = inCountry.filter(c => year.forall(_ == c.year))
    def top5(f: Cell => MeanTerms) =
      selected.groupMapReduce(_.disease)(f)(_ + _).toSeq
        .flatMap { case (d, t) => t.mean.map((d, _, t.n)) }
        .sortWith { case ((da, a, _), (db, b, _)) => a > b || (a == b && da < db) }
        .take(5)
    val trend = inCountry.groupMapReduce(_.year)(_.mortality)(_ + _).toSeq
      .sortBy(_._1).flatMap { case (y, t) => t.mean.map(y.toDouble -> _) }
    def total(f: Cell => MeanTerms) = selected.map(f).foldLeft(Rollup.noTerms)(_ + _)
    def rounded(t: MeanTerms, scale: Int) =
      t.mean.map(d => Round(Literal(d), Literal(scale)).eval().asInstanceOf[Double])
    PageView(year, country, top5(_.mortality), top5(_.cost), trend, scatter(_.disease, selected),
      Overview(selected.map(_.rows).sum,
        selected.map(_.country).distinct.size.toLong,
        selected.map(_.disease).distinct.size.toLong,
        rounded(total(_.mortality), 4), rounded(total(_.recovery), 2),
        rounded(total(_.cost), 2)))
  }

  /** The access-vs-mortality scatter: mean access and mean mortality of
    * each `key` group of `of` that has a row with both values, in key
    * order (the page's is per disease, the report's per country). */
  def scatter(key: Cell => String, of: Seq[Cell] = cells): Seq[(Double, Double)] =
    of.filter(_.scatterAccess.n > 0)
      .groupMapReduce(key)(c => (c.scatterAccess, c.scatterMortality)) {
        case ((xa, ya), (xb, yb)) => (xa + xb, ya + yb)
      }.toSeq.sortBy(_._1)
      .flatMap { case (_, (x, y)) => x.mean.zip(y.mean) }
}

object Rollup {
  private val noTerms = MeanTerms(0L, JBigDecimal.ZERO)

  /** One Spark aggregate over `cleaned`, collected to the driver. */
  def apply(cleaned: DataFrame): Rollup = {
    val both = col("Healthcare_Access_Pct").isNotNull &&
      col("Mortality_Rate_per_100").isNotNull
    def terms(c: Column) = Seq(count(c), sum(Exact.dec(c, 12, 38)))
    val aggs = Seq(col("Mortality_Rate_per_100"), col("Avg_Treatment_Cost_USD"),
      col("Recovery_Rate"), when(both, col("Healthcare_Access_Pct")),
      when(both, col("Mortality_Rate_per_100"))).flatMap(terms)
    val cells = cleaned.groupBy(col("Country"), col("Year"), col("Disease Name"))
      .agg(count(lit(1)), aggs: _*)
      .collect().toSeq.map { r =>
        def t(i: Int) = MeanTerms(r.getLong(i), Option(r.getDecimal(i + 1)).getOrElse(JBigDecimal.ZERO))
        Cell(r.getString(0), r.getLong(1), r.getString(2), r.getLong(3),
          t(4), t(6), t(8), t(10), t(12))
      }
    new Rollup(cells)
  }
}
