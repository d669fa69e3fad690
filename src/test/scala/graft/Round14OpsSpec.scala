package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.util.Scratch

/** Round-14 additions: the m17 priced band-occupancy guard (VERDICT
  * r13 #1 — the flat-payload degenerate case m17's own docstring named
  * but left to deployments), and the structured refusal marker the
  * probe artifact uses to tell a by-design priced refusal from a crash
  * (ADVICE r13 #1).
  */
class Round14OpsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("m17: flat-payload corpus refuses BEFORE the band join, naming the entropy-prefilter route") {
    import spark.implicits._
    val dir = Scratch.dir("graft_m17_flat_")
    // constant-letter payloads: every neighbor-difference bit is 0, so
    // all six 42-bit gradient words collapse to the all-zero key for
    // base AND both plant families (upper() shifts a level the gradient
    // is invariant to; reverse() of a constant is a no-op) — the
    // degenerate-VALUE saturation the aHash prototype measured (one
    // band key holding 7,399 of 450k rows). Unlike m10's refusal this
    // is not a key-space width problem: the guard must price it in one
    // linear aggregate and refuse action-free, routing to m09/pHash,
    // NOT to a wider band.
    val docs = (1L to 200L).map(id => (id, "a" * 80, "en"))
    docs.toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ex = intercept[IllegalArgumentException] {
      operators.Multimodal.m17WidehashPairs(spark, dir, priceAboveRows = 0L)
    }
    assert(ex.getMessage.contains("refused: priced candidate volume"),
      s"refusal must carry the structured priced-guard prefix: ${ex.getMessage}")
    assert(ex.getMessage.contains("m09_payload_entropy"),
      s"refusal must name the in-tree entropy-prefilter route: ${ex.getMessage}")
    assert(ScaleProbe.isPricedRefusal(ex.getMessage),
      "the probe's structured marker must classify this as a by-design refusal")
  }

  test("m17: the gate corpus stays under the saturation budget even when priced") {
    // same corpus as the Round13 plant-separation test, pricing forced
    // on (priceAboveRows = 0): real payloads' gradient bits spread the
    // band keys, so the priced volume sits well under 64 pairs/row and
    // the guard is a no-op — the refusal above is payload-degeneracy-
    // specific, not a blanket size cutoff
    val out = operators.Multimodal.m17WidehashPairs(spark, sf, priceAboveRows = 0L)
    assert(out.count() > 0)
  }

  test("d19 sensitivity: a 1% threshold budget excludes r=6 and pins r=5; the 5% default is unchanged") {
    // VERDICT r13 #5 / ADVICE r12: the 5%-vs-1% debate, ended with the
    // analytic S-curve itself — (1-0.8^r)^b per layout: r=5 sits at
    // 0.85% (inside both budgets), r=6 at 4.8% (inside 5%, outside 1%),
    // r>=10 outside both. The sensitivity table is post-processing over
    // d19's contract output, so `chosen` still reflects the shipped 5%
    // default.
    val rows = operators.Dedup.d19MissBudgetSensitivity(spark, sf).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(rows(5).getDouble(2) < 0.01 && rows(5).getBoolean(5),
      "r=5 must sit inside the 1% budget")
    assert(rows(6).getBoolean(4) && !rows(6).getBoolean(5),
      "r=6 must be exactly the layout a 1% budget excludes and 5% admits")
    assert(Seq(10, 12).forall(r => !rows(r).getBoolean(4)),
      "r>=10 stays outside both budgets")
    // tightening to 1% would cost candidates: among budget-admitted
    // layouts the most selective 1%-eligible one is r=5, whose
    // candidate volume is >= r=6's (that delta IS the price of the
    // tighter budget on this corpus)
    assert(rows(5).getLong(3) >= rows(6).getLong(3),
      s"r=5 candidates ${rows(5).getLong(3)} should cost at least r=6's ${rows(6).getLong(3)}")
  }

  test("probe refusal marker: structured prefix only — a crash mentioning 'refused' is a crash") {
    // ADVICE r13 #1: the probe used to match the bare substring
    // 'refused', so any genuine failure whose message happened to
    // contain the word was recorded as a by-design refusal
    assert(ScaleProbe.isPricedRefusal(
      "m17_widehash_pairs refused: priced candidate volume 1.194e+06 pairs exceeds 38400"))
    assert(ScaleProbe.isPricedRefusal(
      "d16_prefix_filter_join refused: priced candidate volume 5.2e+08 pairs exceeds x"))
    // the second structured shape: the v-family metadata-priced bound
    // (requirePairsBounded) — v19's probe row depends on this one
    assert(ScaleProbe.isPricedRefusal(
      "requirement failed: v19 exact scoring is O(queries x corpus): 8 x 60000 x " +
        "1500000 = 720000000000 scored pairs exceeds the 268435456 bound - " +
        "generate candidates with v12 (binary Hamming shortlist)"))
    assert(!ScaleProbe.isPricedRefusal(
      "connection refused: executor lost while fetching shuffle block"))
    assert(!ScaleProbe.isPricedRefusal("the write was refused by the filesystem"))
    assert(!ScaleProbe.isPricedRefusal(null))
  }
}
