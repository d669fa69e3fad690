package graft

import org.scalatest.funsuite.AnyFunSuite

class SortedIntersectSpec extends AnyFunSuite {
  import SparkTestSession._

  test("sorted_intersect_count agrees with array_intersect across random sorted sets") {
    val rng = new scala.util.Random(7)
    val cases = Seq(
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq.empty[Long], Seq(1L, 2L, 3L)),
      (Seq(5L), Seq(5L)),
      (Seq(1L, 3L, 5L), Seq(2L, 4L, 6L)),
      (Seq(Long.MinValue, 0L, Long.MaxValue), Seq(Long.MinValue, Long.MaxValue))
    ) ++ (0 until 20).map { _ =>
      def s() = Seq.fill(rng.nextInt(50))(rng.nextInt(40).toLong).distinct.sorted
      (s(), s())
    }
    import spark.implicits._
    val df = cases.toDF("a", "b").selectExpr(
      "sorted_intersect_count(a, b) AS got",
      "CAST(size(array_intersect(a, b)) AS BIGINT) AS want")
    df.collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("shingle_hashes and winnow_mins equal their SQL lambda forms on the real corpus") {
    import spark.implicits._
    val mismatches = Tables.documents(spark, sf).selectExpr(
      "doc_id",
      "shingle_hashes(text, 5) AS native_hs",
      """transform(sequence(1, greatest(1, length(text) - 4)),
        |  i -> CAST(conv(substring(md5(substring(text, i, 5)), 1, 15), 16, 10) AS BIGINT)) AS sql_hs""".stripMargin)
      .selectExpr("doc_id", "native_hs", "sql_hs",
        "winnow_mins(native_hs, 8) AS native_fps",
        """array_distinct(transform(sequence(1, greatest(1, size(sql_hs) - 7)),
          |  i -> array_min(slice(sql_hs, i, 8)))) AS sql_fps""".stripMargin)
      .filter("native_hs != sql_hs OR native_fps != sql_fps")
      .count()
    assert(mismatches == 0L)
    // non-ASCII + short + empty edge cases through both paths
    val edge = Seq("", "a", "héllo wörld ¿niño?", "ab", "日本語のテキスト処理",
      "exact").toDF("text").selectExpr(
      "shingle_hashes(text, 5) AS n",
      """transform(sequence(1, greatest(1, length(text) - 4)),
        |  i -> CAST(conv(substring(md5(substring(text, i, 5)), 1, 15), 16, 10) AS BIGINT)) AS s""".stripMargin)
      .filter("n != s").count()
    assert(edge == 0L)
  }

  test("winnow_mins empty input: documented deviation from the SQL lambda form") {
    // winnow_mins([]) = [] (containsNull=false element type), while the
    // SQL form it otherwise replicates yields [null] — pinned here so the
    // divergence stays a documented decision, not an accident
    val r = spark.sql(
      """SELECT winnow_mins(CAST(array() AS ARRAY<BIGINT>), 8) AS native,
        |  array_distinct(transform(sequence(1, greatest(1, -7)),
        |    i -> array_min(slice(CAST(array() AS ARRAY<BIGINT>), i, 8)))) AS sql_form
        |""".stripMargin).head()
    assert(r.getSeq[Long](0) == Seq.empty[Long])
    assert(r.getSeq[Any](1) == Seq(null))
    // and non-empty inputs shorter than the window still agree exactly
    val short = spark.sql(
      """SELECT winnow_mins(array(9L, 3L, 7L), 8) AS n,
        |  array_distinct(transform(sequence(1, greatest(1, 3 - 7)),
        |    i -> array_min(slice(array(9L, 3L, 7L), i, 8)))) AS s""".stripMargin).head()
    assert(short.getSeq[Long](0) == short.getSeq[Long](1))
  }

  test("null propagation and codegen") {
    val row = spark.sql(
      """SELECT sorted_intersect_count(array(1L, 2L), CAST(NULL AS ARRAY<BIGINT>)),
        |       sorted_intersect_count(CAST(NULL AS ARRAY<BIGINT>), array(1L))""".stripMargin).head()
    assert(row.isNullAt(0) && row.isNullAt(1))
    // the projection must stay inside whole-stage codegen
    val df = spark.sql(
      "SELECT sorted_intersect_count(array(1L,2L,3L), array(2L,3L,4L)) AS c FROM range(3)")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("*("), s"no codegen stage in:\n$plan")
  }
}
