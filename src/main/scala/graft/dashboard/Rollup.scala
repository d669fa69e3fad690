package graft.dashboard

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

/** A13's row as the page prints it: the means already rounded by Spark's
  * `Round` (4, 2 and 2 places). */
final case class Overview(rows: Long, countries: Long, diseases: Long,
    mortality: Option[Double], recovery: Option[Double], cost: Option[Double])

/** Everything one dashboard page shows: the selection it applied, then
  * each section in display order. */
final case class PageView(year: Option[Long], country: Option[String],
    deadliest: Seq[(String, Double)], cost: Seq[(String, Double)],
    trend: Seq[(Double, Double)], scatter: Seq[(Double, Double)], overview: Overview)

/** The dashboard's only two filter dimensions, Country and Year, folded
  * once: the cleaned table grouped by (Country, Year, Disease Name) and
  * collected. Its size is bounded by |Country|×|Year|×|Disease|, whatever
  * the row count. A page is then a fold over the selected cells on the
  * driver that reproduces the HealthQueries answers (A1, A8, A9, A13) on
  * the filtered frame, so it submits no Spark job.
  */
final class Rollup(cells: Seq[Cell]) {

  val years: Seq[Long] = cells.map(_.year).distinct.sorted
  val countries: Seq[String] = cells.map(_.country).distinct.sorted

  /** The page for a year and a country, each already checked against its
    * domain. The year filter applies to every section but the trend. */
  def view(year: Option[Long], country: Option[String]): PageView = {
    val inCountry = cells.filter(c => country.forall(_ == c.country))
    val selected = inCountry.filter(c => year.forall(_ == c.year))
    def byDisease(f: Cell => MeanTerms) = selected.groupMapReduce(_.disease)(f)(_ + _)
    def top5(f: Cell => MeanTerms) =
      byDisease(f).toSeq.flatMap { case (d, t) => t.mean.map(d -> _) }
        .sortWith { case ((da, a), (db, b)) => a > b || (a == b && da < db) }
        .take(5)
    val trend = inCountry.groupMapReduce(_.year)(_.mortality)(_ + _).toSeq
      .sortBy(_._1).flatMap { case (y, t) => t.mean.map(y.toDouble -> _) }
    val scatter = selected.filter(_.scatterAccess.n > 0)
      .groupMapReduce(_.disease)(c => (c.scatterAccess, c.scatterMortality)) {
        case ((xa, ya), (xb, yb)) => (xa + xb, ya + yb)
      }.toSeq.sortBy(_._1)
      .flatMap { case (_, (x, y)) => x.mean.zip(y.mean) }
    def total(f: Cell => MeanTerms) = selected.map(f).foldLeft(Rollup.noTerms)(_ + _)
    def rounded(t: MeanTerms, scale: Int) =
      t.mean.map(d => Round(Literal(d), Literal(scale)).eval().asInstanceOf[Double])
    PageView(year, country, top5(_.mortality), top5(_.cost), trend, scatter,
      Overview(selected.map(_.rows).sum,
        selected.map(_.country).distinct.size.toLong,
        selected.map(_.disease).distinct.size.toLong,
        rounded(total(_.mortality), 4), rounded(total(_.recovery), 2),
        rounded(total(_.cost), 2)))
  }
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
