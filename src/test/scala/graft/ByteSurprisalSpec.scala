package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ByteSurprisal
import graft.operators.Multimodal

class ByteSurprisalSpec extends AnyFunSuite {
  import SparkTestSession._

  test("known values: constant, uniform-2, uniform-256, empty") {
    // constant payload: every byte identical -> entropy 0
    assert(ByteSurprisal.compute(Array.fill(100)('a'.toByte)) === 0L)
    // two byte values, equal counts: per-byte surprisal ln 2
    val ln2Micro = Math.round(Math.log(2.0) * 1e6)
    assert(ByteSurprisal.compute(("ab" * 50).getBytes("UTF-8")) === 100 * ln2Micro)
    // all 256 byte values once: per-byte surprisal ln 256
    val all = Array.tabulate(256)(_.toByte)
    assert(ByteSurprisal.compute(all) === 256 * Math.round(Math.log(256.0) * 1e6))
    assert(ByteSurprisal.compute(Array.emptyByteArray) === 0L)
  }

  test("SQL surface, null propagation, and codegen") {
    val row = spark.sql(
      "SELECT byte_surprisal(cast('abab' AS BINARY)), byte_surprisal(CAST(NULL AS BINARY))").head()
    assert(row.getLong(0) === 4 * Math.round(Math.log(2.0) * 1e6))
    assert(row.isNullAt(1))
    // the m09 projection must stay inside whole-stage codegen — a
    // CodegenFallback expression would show the projection outside it
    val df = Multimodal.m09PayloadEntropy(spark, sf)
    df.collect()
    // whole-stage codegen prints as "*(n) Op" in the final plan string
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("*(") , s"no codegen stage in:\n$plan")
    assert(plan.split("\n").exists(l => l.contains("*(") && l.contains("Project")),
      "the byte_surprisal projection fell out of codegen")
  }

  test("m09 entropy is bounded and separates planted low-entropy payloads") {
    val rows = Multimodal.m09PayloadEntropy(spark, sf).collect()
    assert(rows.nonEmpty)
    val ln256 = Math.log(256.0)
    rows.foreach { r =>
      val h = r.getDouble(3)
      assert(h >= 0.0 && h <= ln256 + 1e-9, s"doc ${r.getLong(0)}: H=$h")
      // surprisal/n consistency with the rounded report
      assert(Math.abs(r.getLong(2).toDouble / r.getLong(1) / 1e6 - h) <= 5e-5)
    }
    // word-soup ASCII text must land well below the ln 256 ceiling and
    // well above 0 — a degenerate histogram would collapse the audit
    val hs = rows.map(_.getDouble(3))
    assert(hs.max < 4.5 && hs.min > 1.0)
  }
}
