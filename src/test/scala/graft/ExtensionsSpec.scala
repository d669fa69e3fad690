package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftFunctions, VecDotLong}
import graft.plans.{AsOfJoinStrategy, CollapseNfcNormalize}

/** The extensions path must make custom functions SQL-visible in a fresh
  * session with no imperative registration, and `GraftSession.ensure`
  * must give a session that lacks them the same set, once. */
class ExtensionsSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private def names = GraftFunctions.table.map(_._1)

  test("every table function resolves in a GraftSession.local session") {
    assert(names.map(_.funcName).distinct.size == GraftFunctions.table.size)
    val s = spark.newSession() // a fresh registry, filled by the extension only
    names.foreach(id => assert(s.catalog.functionExists(id.funcName), id))
    assert(s.sql("SELECT topk(x, 2) FROM VALUES (1D), (3D), (2D) AS t(x)")
      .head().getSeq[Double](0) == Seq(3.0, 2.0))
  }

  test("each entry's ExpressionInfo names the class its builder returns") {
    GraftFunctions.table.foreach { case (id, info, build) =>
      val e = build(Seq.tabulate(6)(i => Literal(i.toLong)))
      assert(e.getClass.getName == info.getClassName, id)
      assert(info.getName == id.funcName, id)
    }
  }

  test("ensure restores missing table functions; a second ensure changes nothing") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    names.foreach(registry.dropFunction)
    assert(names.forall(!registry.functionExists(_)))
    GraftSession.ensure(s)
    assert(names.forall(registry.functionExists))
    assert(s.sql("SELECT py_capitalize('USA')").head().getString(0) == "Usa")
    // a builder ensure did not install must survive the second call: a
    // re-registration would put the table's builder back
    val own: Seq[Expression] => Expression = es => VecDotLong(es(0), es(1))
    val id = FunctionIdentifier("vec_dot")
    registry.registerFunction(id, registry.lookupFunction(id).get, own)
    def state = (names.map(registry.lookupFunctionBuilder(_).get),
      s.experimental.extraStrategies, s.experimental.extraOptimizations)
    val once = state
    GraftSession.ensure(s)
    val twice = state
    assert(registry.lookupFunctionBuilder(id).get eq own)
    assert(once._1.zip(twice._1).forall { case (a, b) => a eq b })
    assert(once._2 == twice._2 && once._3 == twice._3)
  }

  test("ensure adds nothing to spark.experimental on an extension-built session") {
    val s = spark.newSession()
    GraftSession.ensure(s)
    GraftSession.ensure(s)
    assert(s.experimental.extraStrategies.isEmpty)
    assert(s.experimental.extraOptimizations.isEmpty)
    assert(s.sessionState.planner.strategies.count(_ == AsOfJoinStrategy) == 1)
    assert(s.sessionState.optimizer.extendedOperatorOptimizationRules
      .count(_.isInstanceOf[CollapseNfcNormalize]) == 1)
    GraftSession.ensure(spark)
    assert(spark.experimental.extraStrategies.isEmpty)
  }

  test("spark.sql.extensions=graft.GraftExtensions installs vec_dot + py_*") {
    // force a NEW SparkSession: its per-session function registry is
    // fresh, so the assertions below can only pass via the extension
    // mechanism (imperative register() calls on other sessions don't
    // leak in). spark.sql.extensions is STATIC — getOrCreate reads it
    // from the SparkContext conf, not the builder — so the shared test
    // context (SparkTestSession) must carry it. Do NOT stop() after:
    // the context is shared.
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val dot = spark.sql(
        "SELECT vec_dot(array(CAST(1 AS BIGINT), 2, 3), array(CAST(4 AS BIGINT), 5, 6))")
        .head().getLong(0)
      assert(dot == 32)
      assert(spark.sql("SELECT py_title(\"parkinson's disease\")")
        .head().getString(0) == "Parkinson'S Disease")
      assert(spark.sql("SELECT py_capitalize('USA')").head().getString(0) == "Usa")
      assert(spark.sql("SELECT py_cap_words(' united  kingdom ')")
        .head().getString(0) == "United Kingdom")
      // rule tier: the injected optimizer rule collapses the idempotent
      // double application to ONE NfcNormalize in the optimized plan.
      // The input must be a COLUMN \u2014 over a literal, ConstantFolding
      // would evaluate the whole chain away and prove nothing.
      // ...and ConvertToLocalRelation would eagerly evaluate a projection
      // over the local relation, leaving zero nodes to count \u2014 exclude it
      // so the attribute-input projection survives into the optimized plan
      import spark.implicits._
      spark.conf.set("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
      try {
        Seq("cafe\u0301").toDF("s").createOrReplaceTempView("nfc_t")
        val doubled = spark.sql("SELECT nfc_normalize(nfc_normalize(s)) AS n FROM nfc_t")
        assert(doubled.head().getString(0) == "caf\u00e9")
        val nNodes = doubled.queryExecution.optimizedPlan.expressions
          .map(_.collect { case e: graft.functions.NfcNormalize => e }.size).sum
        assert(nNodes == 1,
          s"CollapseNfcNormalize did not fire: $nNodes nfc_normalize nodes remain")
      } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
