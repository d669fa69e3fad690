package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.util.Scratch

/** Round-13 additions: the m10 band-saturation guard (VERDICT r12 #1)
  * and the ADVICE r12 regression pins (IVF assignment cache
  * normalization).
  */
class Round13OpsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("m10: pigeonhole-saturated media corpus refuses BEFORE the band join, naming the wider-hash route") {
    import spark.implicits._
    val dir = Scratch.dir("graft_m10_sat_")
    // constant digit payloads: case-flip perturbation is a no-op, every
    // media row lands on the SAME 60-bit average-hash, so all 2n rows
    // share all 6 band keys — candidate volume 6·C(2n,2), the saturated
    // regime a 100 TB media lake reaches by sheer size (the r12 probe's
    // 575× row). The guard must price it in one linear aggregate and
    // refuse action-free.
    val docs = (1L to 200L).map(id => (id, "0123456789" * 8, "en"))
    docs.toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ex = intercept[IllegalArgumentException] {
      operators.Multimodal.m10AvgHashPairs(spark, dir, priceAboveRows = 0L)
    }
    assert(ex.getMessage.contains("priced candidate volume"),
      s"refusal must name the priced bound: ${ex.getMessage}")
    assert(ex.getMessage.contains("m17_widehash_pairs"),
      s"refusal must name the in-tree wider-hash route: ${ex.getMessage}")
  }

  test("m17: the wide hash runs on the gate corpus, and its plants separate") {
    import spark.implicits._
    // the GATE corpus (not m10's degenerate one — on an all-identical
    // corpus m17's own r14 priced guard refuses too, by design; see
    // Round14OpsSpec): m10's size-saturation remedy is the 6x42-bit
    // key space, exercised here on real payloads where the plants
    // must separate by edit weight
    val rows = operators.Multimodal.m17WidehashPairs(spark, sf).collect()
    assert(rows.nonEmpty)
    // plant separation: LIGHT edits (id + off) are perceptual pairs of
    // their base (hamming <= 5); HEAVY edits (id + 2*off) mostly are
    // not. Verify via the id arithmetic: every base id with a light
    // pair, and strictly fewer base-heavy pairs than base-light ones.
    val n = spark.read.parquet(s"$sf/documents.parquet")
      .agg(org.apache.spark.sql.functions.max($"doc_id")).head().getLong(0) + 1
    val lightPairs = rows.count(r => r.getLong(1) - r.getLong(0) == n)
    val heavyPairs = rows.count(r => r.getLong(1) - r.getLong(0) == 2 * n)
    assert(lightPairs > 0, "light-edit plants must be caught at ham<=5")
    assert(heavyPairs < lightPairs,
      s"heavy edits should mostly exceed the threshold: light=$lightPairs heavy=$heavyPairs")
    // pigeonhole losslessness on real data: every emitted pair's
    // hamming is <= 5 by contract, and at least one of its 6 bands is
    // byte-identical (the prefilter that found it)
    assert(rows.forall(_.getInt(2) <= 5))
  }

  test("m10: the gate corpus stays under the saturation budget even when priced") {
    // same corpus, pricing forced on (priceAboveRows = 0): the real
    // near-dup structure of the gate corpus prices well under
    // 64 pairs/row, so the guard is a no-op there — the refusal above
    // is saturation-specific, not a blanket size cutoff
    val out = operators.Multimodal.m10AvgHashPairs(spark, sf, priceAboveRows = 0L)
    assert(out.count() > 0)
  }

  test("st17: a marginal arrival wave over the warm store processes only the new batch") {
    // the steady-state probe path (VERDICT r12 #5): prepare = full
    // stream over a PERSISTENT checkpoint + one freshly staged unseen
    // wave; the marginal run must deliver exactly that wave, label it
    // from its own data, and leave every earlier batch's accounting
    // byte-identical (the strictly-earlier read fence)
    val root = operators.CorpusBuild.st17PrepareMarginal(spark, sf)
    def earlier() = spark.read.parquet(
        s"$root/acct/b0", s"$root/acct/b1", s"$root/acct/b2")
      .collect().map(_.toSeq).toSet
    val before = earlier()
    val marg = operators.CorpusBuild.st17MarginalWave(spark, sf, root).collect()
    assert(marg.length == 10, s"one full ten-stage funnel, got ${marg.length}")
    // the wave label comes from the DATA (all marginal ids ≡ 0 mod 3),
    // not from the micro-batch id (which is 3 here)
    assert(marg.forall(_.getInt(0) == 0))
    val arrivals = marg.find(_.getString(1) == "0_arrivals").get.getLong(2)
    val quality = marg.find(_.getString(1) == "8_quality").get.getLong(2)
    assert(arrivals > 0 && quality > 0,
      s"marginal wave must carry real work: arrivals=$arrivals quality=$quality")
    assert(before == earlier(), "earlier waves' accounting was rewritten")
  }

  test("v34: the serving contract's query set is FIXED — it does not grow with the corpus") {
    // the whole point of the serving row vs v18's batch-eval: query
    // count is bounded by maxQid/25 at every corpus size, so total cost
    // follows the per-query sqrt(n) law instead of O(n * sqrt(n))
    val rows = operators.Similarity.v34IvfServe(spark, sf).collect()
    val qids = rows.map(_.getLong(0)).distinct.sorted
    assert(qids.length <= 10, s"query set must be <= 10, got ${qids.length}")
    assert(qids.forall(q => q % 25 == 0 && q < 250))
    // each served query returns a contiguous 1..k<=3 rank prefix
    qids.foreach { q =>
      val ranks = rows.filter(_.getLong(0) == q).map(_.getInt(1)).sorted
      assert(ranks.sameElements(1 to ranks.length),
        s"qid $q ranks not a contiguous prefix: ${ranks.mkString(",")}")
    }
    // self-exclusion: a query never serves itself as a neighbor
    assert(rows.forall(r => r.getLong(0) != r.getLong(2)))
  }

  test("v18: nprobe=0 and nprobe=1 share one normalized assignment (cache-poisoning pin)") {
    // ADVICE r12: the r12 cache keyed on max(nprobe,1) but filtered the
    // probe set on the RAW nprobe, so a nprobe=0 call cached an EMPTY
    // probe set under key 1 and a later nprobe=1 call silently returned
    // zero rows. Both calls must now resolve to the same assignment —
    // order-independently.
    val a = operators.Similarity.v18IvfPqRerank(spark, sf, nprobe = 0)
      .collect().map(_.toSeq).toSet
    val b = operators.Similarity.v18IvfPqRerank(spark, sf, nprobe = 1)
      .collect().map(_.toSeq).toSet
    assert(a.nonEmpty, "nprobe=0 must normalize to 1, not an empty probe set")
    assert(a == b, "nprobe=0 and nprobe=1 diverged — the cache key and the " +
      "probe filter are not using the same normalized value")
  }
}
