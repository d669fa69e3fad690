package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.util.Scratch

/** Round-12 additions: the st17 streaming incremental build's replay
  * discipline and the d16 candidate-volume guard.
  */
class Round12OpsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("st17: replaying the WHOLE stream over the same state root leaves the funnel byte-identical") {
    // Every store append and accounting row is a per-batchId directory
    // written with overwrite, and a batch reads only strictly-earlier
    // batch directories — so a redelivered micro-batch (here: all
    // three, via a fresh checkpoint over the same staged waves and the
    // same store) must rewrite its own state byte-identically and
    // never double-count (the st16 discipline).
    val (df1, root) = operators.CorpusBuild.st17Run(spark, sf)
    val first = df1.collect().map(_.toSeq).toSeq
    val (df2, _) = operators.CorpusBuild.st17Run(spark, sf, Some(root))
    val second = df2.collect().map(_.toSeq).toSeq
    assert(first == second,
      s"replayed funnel diverged:\n  first : $first\n  second: $second")
    // the funnel is three waves × ten stages, zeros kept
    assert(first.size == 30, s"expected 30 (wave, stage) rows, got ${first.size}")
    // cross-wave state was load-bearing: every wave saw arrivals
    assert(first.count(r => r(1) == "0_arrivals" && r(2).asInstanceOf[Long] > 0) == 3)
  }

  test("st17: pack numbering continues across waves from the store's packable mass") {
    val (df, _) = operators.CorpusBuild.st17Run(spark, sf)
    val rows = df.collect()
    val appended = rows.filter(_.getString(1) == "9_appended")
    // appended token mass equals the quality-stage survivors' mass per
    // wave — packing never drops or mints tokens
    val quality = rows.filter(_.getString(1) == "8_quality")
      .map(r => r.getInt(0) -> r.getLong(3)).toMap
    appended.foreach { r =>
      assert(r.getLong(3) == quality(r.getInt(0)),
        s"wave ${r.getInt(0)}: appended mass ${r.getLong(3)} != quality mass")
    }
  }

  test("d16: adversarial prefix-token head refuses BEFORE launching the join, naming the priced bound") {
    import spark.implicits._
    val dir = Scratch.dir("graft_d16_adv_")
    // every doc carries the same bigram set → prefix tokens collide
    // corpus-wide → candidate volume ≈ n²/2, the shape that filled
    // >200 GB of spill at the 100× probe
    val docs = (1L to 200L).map(id =>
      (id, "alpha beta gamma delta epsilon zeta", "en"))
    docs.toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ex = intercept[IllegalArgumentException] {
      operators.Dedup.d16PrefixFilterJoin(spark, dir,
        maxCandidates = 1000L, priceAboveRows = 0L)
    }
    assert(ex.getMessage.contains("priced candidate volume"),
      s"refusal must name the priced bound: ${ex.getMessage}")
    assert(ex.getMessage.contains("1000"),
      s"refusal must name the budget: ${ex.getMessage}")
  }

  test("d19: direct band-overlap recall equals the candidate semi-join it replaced") {
    // the r12 chooser computes per-layout recall by comparing the true
    // pairs' OWN band keys (arrays_overlap) instead of semi-joining a
    // materialized candidate set; this replays the old semi-join
    // definition in-memory from the chooser's own output inputs and
    // asserts both computations agree for every layout on the live
    // corpus
    val d19 = operators.Dedup.d19LshRetune(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getLong(3)).toMap // r -> n_caught
    // independent recomputation: exact >=0.8 pairs touching the sample
    // surface, then per-layout "any band equal" via the stored sig table
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val n = docs.length
    val bnd = math.max(500L, math.floor(math.sqrt(n.toDouble) * 10).toLong)
    def shingles(t: String): Set[String] =
      (1 to math.max(1, t.length - 4)).map(i => t.slice(i - 1, i + 4)).toSet
    def h60(sh: Set[String]): Set[Long] = sh.map { x =>
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md5.take(15), 16)
    }
    val sets = docs.map { case (id, t) => id -> h60(shingles(t)) }.toMap
    val sample = docs.map(_._1).filter(id => id % 10 == 0 && id < bnd)
    val truth = for {
      sid <- sample; (oid, og) <- sets if oid != sid
      if !(oid % 10 == 0 && oid < bnd) || oid > sid
      inter = (sets(sid) & og).size; uni = sets(sid).size + og.size - inter
      if inter * 5 >= uni * 4
    } yield (math.min(sid, oid), math.max(sid, oid))
    val truthPairs = truth.distinct
    // minhash signatures per doc (the stored family: (a*h+b) mod P)
    val P = 2038074743L
    val rng = new scala.util.Random(42)
    val coeffs = (0 until 60).map { _ =>
      (1L + rng.nextInt((P - 1).toInt), rng.nextInt(P.toInt).toLong)
    }
    def sig(id: Long): Array[Long] = coeffs.map { case (a, b) =>
      sets(id).map(h => (a * (((h % P) + P) % P) + b) % P).min
    }.toArray
    def caught(r: Int, ida: Long, idb: Long): Boolean = {
      val (sa, sb) = (sig(ida), sig(idb))
      (0 until 60 / r).exists(bi =>
        (0 until r).forall(j => sa(bi * r + j) == sb(bi * r + j)))
    }
    Seq(3, 4, 5, 6, 10, 12).foreach { r =>
      val want = truthPairs.count { case (a, b) => caught(r, a, b) }.toLong
      assert(d19(r) == want,
        s"r=$r: chooser n_caught=${d19(r)} vs replayed semi-join $want")
    }
  }

  test("ep03: per-day and compacted pack/shard accounting matches a pure-JVM replay") {
    val got = operators.CorpusBuild.ep03ShardCompaction(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).toLowerCase.trim.split("\\s+").length.toLong))
      .filter { case (_, lang, n) => lang == "en" && n >= 50 }
      .map { case (id, _, n) => (id, (id % 7).toInt, n) }
      .sortBy { case (id, d, _) => (d, id) }
    var cum = 0L
    val rows = docs.map { case (id, d, n) => cum += n; (id, d, n, cum) }
    val dayOff = rows.groupBy(_._2)
      .map { case (d, rs) => d -> rs.map(r => r._4 - r._3).min }
    val packsD = rows.map { case (_, d, n, c) => (d, (c - dayOff(d) - n) / 512) }
    val packsG = rows.map { case (_, _, n, c) => (c - n) / 512 }
    (0 to 6).foreach { d =>
      val dd = rows.filter(_._2 == d)
      val pk = packsD.filter(_._1 == d).map(_._2).distinct.size.toLong
      val sh = packsD.filter(_._1 == d).map(_._2 / 8).distinct.size.toLong
      assert(got(s"day_$d") == ((dd.size.toLong, dd.map(_._3).sum, pk, sh)),
        s"day_$d mismatch: ${got(s"day_$d")}")
    }
    val pkA = packsG.distinct.size.toLong
    val shA = packsG.map(_ / 8).distinct.size.toLong
    assert(got("compacted") ==
      ((docs.size.toLong, docs.map(_._3).sum, pkA, shA)))
    val pkB = packsD.distinct.size.toLong
    val shB = packsD.map { case (d, p) => (d, p / 8) }.distinct.size.toLong
    assert(got("reclaimed") == ((0L, (pkB - pkA) * 512, pkB - pkA, shB - shA)))
    // the fixture really is fragmented: daily tails leave reclaimable
    // packs, and compaction never mints tokens
    assert(pkB > pkA && shB >= shA,
      s"expected reclaimable fragmentation: packs $pkB -> $pkA, shards $shB -> $shA")
  }

  test("d20: the migrated store serves exactly the candidate volume the chooser measured") {
    val out = operators.Dedup.d20RetuneMigration(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    // store accounting is exact: every doc emits 60/r band rows
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(out("v1_stored")._1 == 5 && out("v1_stored")._2 == n * 12)
    val (rAfter, rows2, cands2) = out("v2_migrated")
    assert(rows2 == n * (60 / rAfter))
    // write-then-serve parity: the probe served FROM the migrated store
    // must reproduce the per-layout candidate volumes d19 measured
    // in-plan on the same fixed surface — the cross-operator invariant
    // that makes the migration safe to publish
    val d19 = operators.Dedup.d19LshRetune(spark, sf).collect()
      .map(r => r.getInt(0) -> ((r.getLong(4), r.getBoolean(5)))).toMap
    assert(cands2 == d19(rAfter)._1,
      s"migrated store served $cands2 candidates; chooser measured ${d19(rAfter)._1}")
    assert(out("v1_stored")._3 == d19(5)._1)
    assert(d19(rAfter)._2, s"migrated layout r=$rAfter is not the chosen one")
  }

  test("d16: normal corpora under the footer-row threshold never pay the pricing job") {
    // the registered contract (defaults) runs the gate corpora
    // unguarded — same values as the brute-force oracle, already
    // hash-checked; here just pin that construction succeeds and the
    // guard threshold is above every gate scale
    val df = operators.Dedup.d16PrefixFilterJoin(spark, sf)
    assert(df.columns.toSeq ==
      Seq("ida", "idb", "inter_size", "size_a", "size_b"))
  }
}
