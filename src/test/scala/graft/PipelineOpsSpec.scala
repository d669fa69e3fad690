package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavior specs for the round-4 curation operators (t10-t12, d05, s05,
  * w08, j11, j12, a23) — semantic invariants the DuckDB oracle can't
  * express (planted-row guarantees, equivalence to the unoptimized form,
  * sketch error bands, determinism across runs).
  */
class PipelineOpsSpec extends AnyFunSuite {
  import SparkTestSession._

  private val sf001 = "/root/testdata/sf0.01"

  test("t10: planted eval copies are all flagged contaminated, with every gram shared") {
    val out = operators.TextOps.t10Decontam(spark, sf001).collect()
    val planted = out.filter(_.getLong(0) >= 200000)
    assert(planted.nonEmpty)
    assert(planted.forall(_.getBoolean(2)), "a planted verbatim copy escaped decontamination")
    // a verbatim copy shares EVERY one of its 3-grams with the eval set
    assert(planted.forall(_.getLong(1) > 0))
  }

  test("t11: exactly the planted docs carry PII, one email + one phone each") {
    val out = operators.TextOps.t11PiiRedact(spark, sf001).collect()
    out.foreach { r =>
      val (id, emails, phones) = (r.getLong(0), r.getLong(1), r.getLong(2))
      if (id % 7 == 0) assert(emails == 1 && phones == 1, s"doc $id: $emails/$phones")
      else assert(emails == 0 && phones == 0, s"doc $id unexpectedly matched PII")
    }
  }

  test("t12: three ranked terms per source, tfidf non-increasing within source") {
    val out = operators.TextOps.t12Tfidf(spark, sf001).collect()
    val bySource = out.groupBy(_.getString(0))
    assert(bySource.size == 20)
    bySource.foreach { case (src, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L, 3L), s"ranks in $src")
      val scores = rows.sortBy(_.getLong(1)).map(_.getDouble(5))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, s"tfidf order in $src")
    }
  }

  test("d05: every url_key keeps exactly the larger candidate") {
    val docs = Tables.documents(spark, sf001)
      .select((col("doc_id") % 250).as("k"), col("doc_id"), col("n_chars")).collect()
      .groupBy(_.getLong(0))
    val out = operators.Dedup.d05KeepBest(spark, sf001).collect()
    assert(out.length == 250)
    out.foreach { r =>
      val cands = docs(r.getLong(0))
      assert(r.getLong(3) == cands.length)
      val bestChars = cands.map(_.getLong(2)).max
      assert(r.getLong(2) == bestChars)
      // tie-break: lowest doc_id among the max-n_chars candidates
      val want = cands.filter(_.getLong(2) == bestChars).map(_.getLong(1)).min
      assert(r.getLong(1) == want)
    }
  }

  test("s05: exact per-stratum quota and run-to-run determinism") {
    val a = operators.Sampling.s05StratifiedSample(spark, sf001).collect()
    val b = operators.Sampling.s05StratifiedSample(spark, sf001).collect()
    assert(a.toSeq == b.toSeq, "sample is not deterministic across runs")
    val per = a.groupBy(_.getString(0)).view.mapValues(_.length)
    assert(per.values.forall(_ == 5), s"expected ceil(25*0.2)=5 per source: $per")
  }

  test("w08: session indexes are dense from 1 and events are conserved") {
    val out = operators.Windows.w08Sessionize(spark, sf001).collect()
    val total = Tables.events(spark, sf001).count()
    assert(out.map(_.getLong(2)).sum == total, "events lost or duplicated across sessions")
    out.groupBy(_.getLong(0)).foreach { case (user, rows) =>
      val idx = rows.map(_.getLong(1)).sorted.toSeq
      assert(idx == (1L to idx.length).toSeq, s"user $user session idx $idx")
      rows.foreach(r => assert(r.getLong(4) >= r.getLong(3), s"user $user end<start"))
    }
  }

  test("j11: bloom-prefiltered join result is exactly the plain join result") {
    import graft.util.Exact._
    val plain = Tables.orders(spark, sf001)
      .join(Tables.customer(spark, sf001).filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey")), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
           countDistinct(col("o_custkey")).as("n_custs"),
           exactSum(col("o_totalprice"), 2).as("sum_total"))
      .orderBy(col("o_orderpriority")).collect()
    val bloomed = operators.Joins.j11BloomJoin(spark, sf001).collect()
    assert(bloomed.toSeq == plain.toSeq)
  }

  test("j12: merge keeps every base key once, applies updates, adds inserts") {
    val out = operators.Joins.j12Upsert(spark, sf001).collect()
    val baseN = Tables.customer(spark, sf001).count()
    assert(out.length == baseN + 5)
    val changed = out.filter(_.getBoolean(3))
    assert(changed.length == out.count(r => r.getLong(0) % 10 == 0 && r.getLong(0) < 900000) + 5)
    val inserted = out.filter(_.getLong(0) >= 900001L)
    assert(inserted.length == 5 && inserted.forall(r => r.getDouble(2) == 0.0))
    // spot-check one updated balance: +100 vs the base table
    val base = Tables.customer(spark, sf001).filter(col("c_custkey") === 10)
      .select(col("c_acctbal")).head().getDouble(0)
    val merged = out.find(_.getLong(0) == 10L).get.getDouble(2)
    assert(merged == base + 100.0)
  }

  test("t13: NFC composes planted sequences, strips the control, leaves ASCII alone") {
    val out = operators.TextOps.t13NfcNormalize(spark, sf001).collect()
    out.foreach { r =>
      val id = r.getLong(0)
      // %5 branch: one combining acute composes (-1); %7 branch: ring +
      // diaeresis compose (-2) and the U+0007 is stripped (-1)
      if (id % 5 == 0) assert(r.getBoolean(1) && r.getLong(2) == 1, s"doc $id: $r")
      else if (id % 7 == 0) assert(r.getBoolean(1) && r.getLong(2) == 3, s"doc $id: $r")
      else assert(!r.getBoolean(1) && r.getLong(2) == 0, s"doc $id: $r")
    }
  }

  test("nfc_normalize: matches java.text.Normalizer and stays in whole-stage codegen") {
    // explicit escapes: decomposed inputs that NFC must compose, plus
    // already-NFC inputs that must pass through untouched
    val cases = Seq("cafe\u0301", "A\u030Angstro\u0308m", "plain ascii",
      "\u00e9 already composed", "")
    import spark.implicits._
    val got = cases.toDF("s").selectExpr("nfc_normalize(s) AS n").as[String].collect()
    val want = cases.map(java.text.Normalizer.normalize(_, java.text.Normalizer.Form.NFC))
    assert(got.toSeq == want)
    val df = operators.TextOps.t13NfcNormalize(spark, sf)
    df.collect()
    // codegen stages print as "*(n) Op" in the executed-plan string; the
    // Project carrying nfc_normalize must be inside one
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val projLine = plan.linesIterator.find(_.contains("nfc_normalize"))
    assert(projLine.exists(_.contains("*(")),
      s"nfc_normalize projection fell out of whole-stage codegen: $projLine")
  }

  test("m05: exactly the planted payload copies dedup, savings = one payload each") {
    val out = operators.Multimodal.m05PayloadDedup(spark, sf001).collect()
    assert(out.length == 60)
    out.foreach { r =>
      assert(r.getLong(1) == 2 && r.getLong(2) < 60, s"unexpected dup group: $r")
      assert(r.getLong(4) == r.getLong(3), s"savings != one payload: $r")
    }
  }

  test("a23: both sketch estimates within 5% of exact per group") {
    val out = operators.Relational.a23ApproxDistinct(spark, sf001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val exact = r.getLong(1).toDouble
      assert(math.abs(r.getLong(2) - exact) / exact < 0.05, s"hllpp off: $r")
      assert(math.abs(r.getLong(3) - exact) / exact < 0.05, s"sketch off: $r")
    }
  }

  test("t12: tfidf values sit clear of their rounding boundaries") {
    // t12 hash-compares round(tf*ln(n/df), 6) cross-engine; safe only
    // while every value keeps a margin over worst-case libm ulp drift
    // (~3e-7 micro-units at this corpus's magnitudes). Observed minimum
    // at sf0.01 is ~9e-4 micro-units; assert a 1e-5 floor so a corpus
    // regen that lands near a boundary fails HERE, not in the oracle.
    val x = Tables.documents(spark, sf001)
      .select(col("doc_id"), col("source"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
    val nDocs = Tables.documents(spark, sf001).count().toDouble
    val tf = x.groupBy("source", "term").count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val df = x.select("doc_id", "term").distinct().groupBy("term").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    tf.foreach { case (s, t, f) =>
      val v = f * math.log(nDocs / df(t)) * 1e6
      val dist = math.abs(v - math.floor(v) - 0.5)
      assert(dist > 1e-5, s"($s,$t) tfidf within $dist micro-units of a boundary")
    }
  }

  test("d08: incremental pairs == d03 pairs restricted to batch-vs-corpus") {
    val full = operators.Dedup.d03NgramJaccard(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val crossSide = full.filter { case (a, b, _) => (a % 10 == 7) != (b % 10 == 7) }
      .map { case (a, b, j) => if (a % 10 == 7) (a, b, j) else (b, a, j) }.toSet
    val inc = operators.Dedup.d08IncrementalDedup(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inc === crossSide)
    // and the batch side never pairs with itself
    assert(inc.forall { case (a, b, _) => a % 10 == 7 && b % 10 != 7 })
  }

  test("d07: planted copies drop to their originals, originals survive") {
    val out = operators.Dedup.d07SemanticDedup(spark, sf001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2), r.getLong(3))).toMap
    val dropped = out.filter(!_._2._2)
    assert(dropped.nonEmpty, "planted near-identical copies must be dropped")
    // only planted copies (id >= the corpus-derived max(id)+1 offset)
    // can be near-identical to a lower id — the natural corpus tops out
    // around cos 0.51
    val off = Tables.embeddings(spark, sf001)
      .agg(org.apache.spark.sql.functions.max(col("vec_id"))).head().getLong(0) + 1
    assert(dropped.keys.forall(_ >= off), s"natural vector dropped: $dropped")
    dropped.foreach { case (id, (cell, _, dupOf)) =>
      assert(dupOf === id - off, s"$id should dup to its own original")
      assert(out(dupOf)._2, s"survivor chain broken: $dupOf itself dropped")
      assert(out(dupOf)._1 === cell, s"$id dups across cells")
    }
    // kept rows carry the -1 sentinel
    out.filter(_._2._2).foreach { case (id, (_, _, dupOf)) =>
      assert(dupOf === -1L, s"kept $id has dup_of $dupOf")
    }
  }

  test("s06: quotas are integers that sum exactly to the budget, within 1 of proportional") {
    Seq(1000000L, 777L).foreach { budget =>
      val rows = operators.Sampling.s06MixApportion(spark, sf001, budget).collect()
      val quotas = rows.map(_.getLong(2))
      assert(quotas.sum === budget, s"budget $budget: quotas sum to ${quotas.sum}")
      val total = rows.map(_.getLong(1)).sum.toDouble
      rows.foreach { r =>
        val ideal = budget * r.getLong(1) / total
        assert(math.abs(r.getLong(2) - ideal) < 1.0,
          s"budget $budget source ${r.getString(0)}: quota ${r.getLong(2)} vs ideal $ideal")
      }
    }
  }

  test("t16: line dedup profile matches a driver-side brute force") {
    val sf0 = "/root/testdata/sf0.001"
    val got = operators.TextOps.t16LineDedup(spark, sf0).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val docs = Tables.documents(spark, sf0)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\. ")
        .map(_.trim).filter(_.nonEmpty))
    val lineDocs = scala.collection.mutable.Map[String, scala.collection.mutable.Set[Long]]()
    docs.foreach { case (id, ls) => ls.foreach(l =>
      lineDocs.getOrElseUpdate(l, scala.collection.mutable.Set()) += id) }
    docs.foreach { case (id, ls) =>
      val common = ls.count(l => lineDocs(l).size >= 2)
      assert(got(id) === ((ls.length.toLong, common.toLong)), s"doc $id")
    }
  }

  test("f09: canonical urls are clean and preserve identity") {
    val rows = operators.TextOps.f09UrlCanonicalize(spark, sf001).collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      val (id, url, canon) = (r.getLong(0), r.getString(1), r.getString(2))
      assert(!canon.contains("#") && !canon.contains("utm_") && !canon.contains(":443"),
        s"dirty canon: $canon")
      val host = canon.split("/")(2)
      assert(host == host.toLowerCase, s"host case survives: $canon")
      assert(canon.endsWith(s"?id=$id"), s"identity lost: $canon")
      assert(r.getBoolean(3) === (canon != url))
    }
  }

  test("a25: each grouping set partitions the full row count") {
    val rows = operators.Functions2.a25GroupingSets(spark, sf001).collect()
    val total = Tables.orders(spark, sf001).count()
    val statusMargin = rows.filter(r => r.getInt(4) == 0 && r.getInt(5) == 1)
    val prioMargin = rows.filter(r => r.getInt(4) == 1 && r.getInt(5) == 0)
    val grand = rows.filter(r => r.getInt(4) == 1 && r.getInt(5) == 1)
    assert(statusMargin.map(_.getLong(2)).sum === total)
    assert(prioMargin.map(_.getLong(2)).sum === total)
    assert(grand.length === 1 && grand.head.getLong(2) === total)
    // and NO cross cells — that is what distinguishes this from a22's cube
    assert(rows.forall(r => r.getInt(4) + r.getInt(5) >= 1))
  }

  test("s07/s08: multiset algebra — min and difference of per-key counts") {
    val orders = Tables.orders(spark, sf001)
    val f = orders.filter(col("o_orderstatus") === "F")
      .groupBy("o_custkey").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val u = orders.filter(col("o_orderpriority") === "1-URGENT")
      .groupBy("o_custkey").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val inter = operators.SetOps.s07IntersectAll(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val except = operators.SetOps.s08ExceptAll(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (f.keySet ++ u.keySet).foreach { k =>
      val (cf, cu) = (f.getOrElse(k, 0L), u.getOrElse(k, 0L))
      assert(inter.getOrElse(k, 0L) === math.min(cf, cu), s"intersect all @ $k")
      assert(except.getOrElse(k, 0L) === math.max(0L, cf - cu), s"except all @ $k")
    }
  }

  test("j17: binned interval join == brute-force inequality scan, no nested loop") {
    val out = operators.Joins.j17IntervalBinJoin(spark, sf001)
    // the binned encoding must plan as a hash join on the bin key —
    // never the nested-loop/cartesian the raw theta-join would get
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("Cartesian"),
      s"theta-join fallback in:\n$plan")
    val e = Tables.events(spark, sf001)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val views = e.filter(_._3 == "view")
    val expect = e.filter(_._3 == "purchase").map { case (pid, u, _, us) =>
      val in = views.filter(v => v._4 >= us - 1800000000L && v._4 <= us + 1800000000L)
      (pid, in.length.toLong, in.count(_._2 == u).toLong)
    }.sortBy(_._1)
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === expect.toSeq)
    assert(expect.exists(_._2 > 0), "fixture should have concurrent views")
  }

  test("j13: null-keyed facts survive the null-safe join as 'unassigned'") {
    val rows = operators.Joins.j13NullSafeJoin(spark, sf001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expectedNull = Tables.orders(spark, sf001)
      .filter(col("o_custkey") % 7 === 0).count()
    assert(rows("unassigned") === expectedNull)
    assert(rows.values.sum === Tables.orders(spark, sf001).count(),
      "null-safe join must be lossless over the fact side")
  }

  test("m06: positions are dense and modalities strictly alternate") {
    val rows = operators.Multimodal.m06ModalityInterleave(spark, sf001).collect()
    assert(rows.length === 1000)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) === i.toLong, s"position gap at $i")
      assert(r.getString(1) === (if (i % 2 == 0) "text" else "vector"),
        s"lane violation at $i")
    }
  }

  test("g01: dangling nodes sit at the damping floor, total mass is bounded") {
    val rows = operators.LinkRank.g01LinkRank(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = rows.size
    assert(n === 500)
    // ground-truth in-degree-0 nodes from the edge formula
    val inDeg = scala.collection.mutable.Map[Long, Int]().withDefaultValue(0)
    for (src <- 0L until n; k <- 1 to 3)
      inDeg((src * src * 31 + k * 17) % n) += 1
    rows.foreach { case (node, r) =>
      if (inDeg(node) == 0) assert(r === 150000L, s"dangling $node rank $r")
      else assert(r >= 150000L, s"$node below floor")
    }
    assert(rows.values.exists(_ > 1000000L), "no hub outranked the uniform start")
    // damped mass bound: sum <= N * (0.15 + 0.85) * 1e6 (floor division
    // only loses mass)
    assert(rows.values.sum <= n.toLong * 1000000L)
  }

  test("t15: merge candidates are 2-char pairs with non-increasing exact counts") {
    val rows = operators.TextOps.t15BpeMergeStep(spark, sf001).collect()
    assert(rows.length === 10)
    assert(rows.forall(_.getString(0).length == 2))
    assert(rows.sliding(2).forall(p => p(0).getLong(1) >= p(1).getLong(1)))
    // ground-truth the top pair by brute force on the driver
    val words = Tables.documents(spark, sf001)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .collect().map(_.getString(0))
    val counts = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    words.foreach(w => (0 until w.length - 1).foreach(i =>
      counts(w.substring(i, i + 2)) += 1L))
    val best = counts.toSeq.sortBy { case (p, c) => (-c, p) }.head
    assert((rows.head.getString(0), rows.head.getLong(1)) === best)
  }

  test("t14: token conservation and a sane surprisal range") {
    val out = operators.TextOps.t14Surprisal(spark, sf001).collect()
    assert(out.length === 500)
    // same whitespace tokenization as t01, so the per-doc token counts
    // must agree exactly
    val t01 = operators.TextOps.t01TokenStats(spark, sf001)
      .select(col("doc_id"), col("n_ws_tokens"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(r.getLong(1) === t01(r.getLong(0)),
        s"doc ${r.getLong(0)}: t14 tokens ${r.getLong(1)} != t01 ${t01(r.getLong(0))}")
      // unigram NLL under the corpus's own model: strictly positive
      // (no token is the whole corpus) and below ln(T) ~ 11 nats
      val mean = r.getDouble(3)
      assert(mean > 0 && mean < 12, s"doc ${r.getLong(0)} mean_nats $mean out of range")
    }
  }

  test("round-6 operators are invariant to shuffle-partition count and scan splits") {
    val sfTiny = "/root/testdata/sf0.001"
    val ops: Seq[(String, () => Array[org.apache.spark.sql.Row])] = Seq(
      "t22" -> (() => operators.TextOps.t22BigramLm(spark, sfTiny).collect()),
      "t23" -> (() => operators.TextOps.t23RepeatedSpans(spark, sfTiny).collect()),
      "a30" -> (() => operators.ScaleOps.a30WeightedMedian(spark, sfTiny).collect()),
      "w14" -> (() => operators.Windows.w14Twap(spark, sfTiny).collect()),
      "t24" -> (() => operators.TextOps.t24BpeTrain(spark, sfTiny).collect()))
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.files.maxPartitionBytes")
    val saved = keys.map(k => k -> spark.conf.get(k))
    def runAll(): Map[String, Seq[String]] =
      ops.map { case (n, f) => n -> f().map(_.toString).toSeq }.toMap
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "5")
      spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
      val a = runAll()
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
      val b = runAll()
      ops.foreach { case (n, _) =>
        assert(a(n) == b(n), s"$n drifted under replan: ${a(n).diff(b(n)).take(2)}")
      }
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("a32: pair counts and lift match a driver basket brute force") {
    val sfTiny = "/root/testdata/sf0.001"
    val out = operators.Relational.a32MarketBasket(spark, sfTiny).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length === 20)
    assert(out.forall(r => r._1 < r._2), "pair not ordered pa < pb")
    assert(out.sliding(2).forall(p => p.head._3 >= p.last._3), "counts not non-increasing")
    val baskets = Tables.lineitem(spark, sfTiny)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val nOrders = baskets.size.toLong
    val partC = baskets.values.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val pairC = scala.collection.mutable.Map.empty[(Long, Long), Long].withDefaultValue(0L)
    baskets.values.foreach { ps =>
      val s = ps.toSeq.sorted
      for (i <- s.indices; j <- i + 1 until s.size) pairC((s(i), s(j))) += 1
    }
    out.foreach { case (pa, pb, n, lift) =>
      assert(n === pairC((pa, pb)), s"pair ($pa,$pb) count $n != ${pairC((pa, pb))}")
      assert(lift === n * nOrders * 1000000L / (partC(pa) * partC(pb)))
    }
  }

  test("w15: bars bound their extremes and open/close match the time order") {
    val sfTiny = "/root/testdata/sf0.001"
    val out = operators.Windows.w15OhlcBars(spark, sfTiny).collect()
    val events = Tables.events(spark, sfTiny)
      .select(col("event_type"), expr("unix_micros(ts)").as("us"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents")).collect()
      .map(r => (r.getString(0), r.getLong(1) / 3600000000L, r.getLong(1),
                 r.getLong(2), r.getLong(3)))
      .groupBy(t => (t._1, t._2))
    assert(out.length === events.size)
    out.foreach { r =>
      val key = (r.getString(0), r.getLong(1))
      val rows = events(key).sortBy(t => (t._3, t._4))
      val (n, open, high, low, close) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(n === rows.size)
      assert(open === rows.head._5 && close === rows.last._5, s"$key open/close order")
      assert(high === rows.map(_._5).max && low === rows.map(_._5).min)
      assert(high >= math.max(open, close) && low <= math.min(open, close))
    }
  }

  test("t25: funnel is monotone, packing conserves tokens, decontam drops exactly the plants") {
    val out = operators.TextOps.t25CurationFunnel(spark, sf001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val stages = Seq("0_ingest", "1_langid", "2_length", "3_dedup", "4_decontam")
    assert(out.keySet === (stages :+ "5_packed").toSet)
    // docs and tokens both non-increasing through the filter stages
    stages.sliding(2).foreach { case Seq(a, b) =>
      assert(out(a)._1 >= out(b)._1 && out(a)._2 >= out(b)._2, s"$a -> $b grew")
    }
    assert(stages.forall(s => out(s)._1 > 0), "a stage emptied the corpus")
    // every stage except langid/packing must actually drop something on
    // this corpus (the planted batches guarantee dedup + decontam work)
    assert(out("0_ingest")._1 > out("1_langid")._1)
    assert(out("1_langid")._1 > out("2_length")._1)
    assert(out("2_length")._1 > out("3_dedup")._1)
    assert(out("3_dedup")._1 > out("4_decontam")._1)
    // decontam removes exactly the planted eval copies that reached it:
    // eval docs are tagged en in the plant and are unique in the corpus,
    // so the survivors-to-s4-input among them = those with >= 50 tokens
    val evalLong = Tables.documents(spark, sf001)
      .filter(col("doc_id") % 50 === 0 &&
              size(split(lower(trim(col("text"))), "\\s+")) >= 50)
      .count()
    assert(out("3_dedup")._1 - out("4_decontam")._1 === evalLong,
      s"decontam dropped ${out("3_dedup")._1 - out("4_decontam")._1}, expected $evalLong plants")
    // packing: token mass conserved, pack count bounded by the budget
    assert(out("5_packed")._2 === out("4_decontam")._2)
    assert(out("5_packed")._1 >= (out("4_decontam")._2 + 511) / 512)
  }

  test("t24: three merge rounds match a sequential reference BPE trainer exactly") {
    val sfTiny = "/root/testdata/sf0.001"
    val out = operators.TextOps.t24BpeTrain(spark, sfTiny).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    // classic sequential trainer: pair counts -> top pair -> GREEDY
    // left-to-right apply (the overlap semantics the islands encode)
    var vocab: Map[Vector[String], Long] = Tables.documents(spark, sfTiny)
      .select(col("text")).collect()
      .flatMap(_.getString(0).trim.toLowerCase.split("\\s+"))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
      .map { case (w, f) => w.split("").toVector -> f }
    val expected = (1 to 3).map { r =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      vocab.foreach { case (syms, f) =>
        syms.zip(syms.tail).foreach(p => counts(p) += f)
      }
      val top = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
      val ((p1, p2), cnt) = top
      vocab = vocab.groupBy { case (syms, _) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == p1 && syms(i + 1) == p2) {
            out += (p1 + p2); i += 2            // greedy: consume both
          } else { out += syms(i); i += 1 }
        }
        out.result()
      }.view.mapValues(_.values.sum).toMap
      (r, p1, p2, p1 + p2, cnt)
    }
    assert(out.toSeq === expected,
      s"engine merges ${out.toSeq} != reference ${expected}")
  }

  test("t26: merge-rule replay encodes every word like a sequential greedy encoder") {
    val sfTiny = "/root/testdata/sf0.001"
    val mergesDf = operators.TextOps.t24BpeTrain(spark, sfTiny)
    val rules = mergesDf.collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val got = operators.TextOps.bpeEncodeWords(spark, sfTiny, mergesDf, 3)
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toVector).toMap
    // sequential reference: per word, apply each rule in merge order,
    // greedy left-to-right (consume both symbols on a match)
    def encode(word: String): Vector[String] =
      rules.foldLeft(word.split("").toVector) { case (syms, (p1, p2)) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == p1 && syms(i + 1) == p2) {
            out += (p1 + p2); i += 2
          } else { out += syms(i); i += 1 }
        }
        out.result()
      }
    val words = Tables.documents(spark, sfTiny)
      .select(col("text")).collect()
      .flatMap(_.getString(0).trim.toLowerCase.split("\\s+")).toSet
    assert(got.keySet === words)
    words.foreach { w =>
      assert(got(w) === encode(w), s"word '$w': engine ${got(w)} != reference ${encode(w)}")
    }
  }

  test("t26: per-doc token accounting is internally consistent") {
    val out = operators.TextOps.t26BpeEncode(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (words, toks, chars, ppm) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      // merging only ever shrinks: words <= tokens <= chars
      assert(words <= toks && toks <= chars, s"doc ${r.getLong(0)}: $words/$toks/$chars")
      assert(ppm === toks * 1000000L / chars)
      assert(ppm <= 1000000L)
    }
  }

  test("w14: twap is value-bounded and equals the held value on single-event days") {
    val out = operators.Windows.w14Twap(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val perDay = Tables.events(spark, sf001)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"),
        expr("round(value * 100) / 100.0").as("v"))
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("lo"), max(col("v")).as("hi"))
      .collect()
    assert(perDay.length === out.size)
    perDay.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      val (n, twap) = out(key)
      assert(n === r.getLong(2))
      val (lo, hi) = (r.getDouble(3), r.getDouble(4))
      // a convex (duration-weighted) combination of the held values must
      // stay inside their range; 1e-6 for the final rounding
      assert(twap >= lo - 1e-6 && twap <= hi + 1e-6, s"$key: $twap outside [$lo, $hi]")
      if (n == 1) assert(math.abs(twap - lo) <= 1e-6, s"$key: single event $twap != $lo")
    }
  }

  test("t23: duplicated-span coverage matches a driver position-set brute force") {
    val sfTiny = "/root/testdata/sf0.001"
    val out = operators.TextOps.t23RepeatedSpans(spark, sfTiny).collect()
    val docs = Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.toLowerCase.split("\\s+").toSeq).toMap
    // brute force: count every 8-gram occurrence corpus-wide, then per
    // doc take the UNION of positions covered by duplicated grams — the
    // set formulation of the interval-island sum
    val gramCount = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    docs.values.foreach(ts => ts.sliding(8).filter(_.size == 8)
      .foreach(g => gramCount(g.mkString(" ")) += 1))
    val expected = docs.view.mapValues { ts =>
      val covered = scala.collection.mutable.Set.empty[Int]
      ts.sliding(8).zipWithIndex.foreach { case (g, i0) =>
        if (g.size == 8 && gramCount(g.mkString(" ")) > 1) covered ++= (i0 to i0 + 7)
      }
      covered.size.toLong
    }.toMap
    assert(out.length === expected.size)
    out.foreach { r =>
      val (id, n, dup, ppm) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(dup === expected(id), s"doc $id: dup $dup != brute ${expected(id)}")
      assert(dup <= n && ppm === dup * 1000000 / n)
    }
    assert(out.exists(_.getLong(2) > 0), "corpus must contain repeated 8-grams")
  }

  test("m08: pairing statuses conserve both modality populations exactly") {
    val out = operators.Multimodal.m08ManifestPairing(spark, sf001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val nText = Tables.documents(spark, sf001).filter(col("lang") === "en").count()
    val nVec = Tables.embeddings(spark, sf001).filter(col("label") =!= 0).count()
    def n(s: String) = out.get(s).map(_._1).getOrElse(0L)
    assert(n("paired") + n("text_only") === nText, "text side not conserved")
    assert(n("paired") + n("vector_only") === nVec, "vector side not conserved")
    assert(n("paired") > 0 && n("text_only") > 0 && n("vector_only") > 0,
      "corpus must exercise all three statuses")
    // mass columns follow the modality: text chars never attach to
    // vector_only rows, dims never attach to text_only rows
    assert(out("vector_only")._2 === 0L && out("text_only")._3 === 0L)
  }

  test("t22: bigram counts conserve vs t01 and a driver brute force agrees exactly") {
    val sfTiny = "/root/testdata/sf0.001"
    val out = operators.TextOps.t22BigramLm(spark, sfTiny).collect()
    // n_bigrams = n_tokens - 1 for every (nonempty) doc
    val t01 = operators.TextOps.t01TokenStats(spark, sfTiny)
      .select(col("doc_id"), col("n_ws_tokens"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(r.getLong(1) === t01(r.getLong(0)) - 1,
        s"doc ${r.getLong(0)}: ${r.getLong(1)} bigrams vs ${t01(r.getLong(0))} tokens")
    }
    // driver-side brute force: same tokenization, same interpolation,
    // same micro-nat rounding — sums must agree EXACTLY (int64)
    val docs = Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.toLowerCase.split("\\s+").toSeq).toMap
    val uni = docs.values.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val big = docs.values.flatMap(ts => ts.zip(ts.tail))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val total = uni.values.sum.toDouble
    val expected = docs.view.mapValues { ts =>
      ts.zip(ts.tail).map { case (w1, w2) =>
        val p = 0.75 * big((w1, w2)).toDouble / uni(w1) + 0.25 * uni(w2).toDouble / total
        math.round(-math.log(p) * 1e6)
      }.sum
    }.toMap
    assert(out.length === expected.size)
    out.foreach { r =>
      assert(r.getLong(2) === expected(r.getLong(0)),
        s"doc ${r.getLong(0)}: micronats ${r.getLong(2)} != ${expected(r.getLong(0))}")
    }
  }

  test("t22: sub-2-token docs produce no bigram rows instead of throwing") {
    // sequence(2, size(a)) on a 1-token doc is the DESCENDING [2, 1] in
    // Spark (step -1 when start > stop) and element_at(a, 0) throws —
    // the guard must drop those docs before position generation, the way
    // DuckDB's empty range(2, len+1) does.
    import spark.implicits._
    val dir = util.Scratch.dir("t22short")
    Seq(
      (1L, "one", "en", "s", 3L),
      (2L, "  padded  ", "en", "s", 10L),
      (3L, "two tokens", "en", "s", 10L),
      (4L, "three token doc", "en", "s", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = operators.TextOps.t22BigramLm(spark, dir).collect()
    assert(out.map(_.getLong(0)).toSet === Set(3L, 4L),
      "exactly the >=2-token docs must survive")
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toMap === Map(3L -> 1L, 4L -> 2L))
  }

  test("w11: offset-0 diagonal is 100% retention and event counts conserve") {
    val out = operators.Windows.w11CohortRetention(spark, sf001).collect()
    val diag = out.filter(_.getLong(1) == 0L)
    assert(diag.nonEmpty)
    diag.foreach(r => assert(r.getLong(4) == 1000000L,
      s"cohort ${r.getLong(0)} offset-0 retention ${r.getLong(4)}"))
    // every cell's active users bounded by its cohort's size
    val sizes = diag.map(r => r.getLong(0) -> r.getLong(2)).toMap
    out.foreach(r => assert(r.getLong(2) <= sizes(r.getLong(0))))
    // cells partition the event stream: n_events sums to the table size
    val total = Tables.events(spark, sf001).count()
    assert(out.map(_.getLong(3)).sum == total)
  }

  test("a27: deciles are complete, ordered, and partition the orders table") {
    val out = operators.Relational.a27QuantileBins(spark, sf001).collect()
    assert(out.map(_.getInt(0)).toSeq == (0 to 9), "missing or extra decile")
    val total = Tables.orders(spark, sf001).count()
    assert(out.map(_.getLong(1)).sum == total)
    // value ranges are disjoint and ordered: bin i's max <= bin i+1's min
    out.sliding(2).foreach { p =>
      assert(p(0).getDouble(3) <= p(1).getDouble(2),
        s"decile ${p(0).getInt(0)} range overlaps ${p(1).getInt(0)}")
    }
    // deciles are balanced: each within 2% of n/10 (interpolated exact
    // boundaries; ties can shift a handful of rows between bins)
    val tenth = total / 10.0
    out.foreach(r => assert(math.abs(r.getLong(1) - tenth) < total * 0.02,
      s"decile ${r.getInt(0)} holds ${r.getLong(1)} of $total"))
  }

  test("t18: chunk indexes are dense, windows full except the per-doc tail") {
    val rows = operators.TextOps.t18Chunking(spark, sf001).collect()
    val t01 = operators.TextOps.t01TokenStats(spark, sf001)
      .select(col("doc_id"), col("n_ws_tokens"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.groupBy(_.getLong(0)).foreach { case (doc, cs) =>
      val n = t01(doc)
      val expected = if (n > 64) ((n - 64 + 47) / 48 + 1) else 1L
      assert(cs.length == expected, s"doc $doc: ${cs.length} chunks, want $expected")
      assert(cs.map(_.getInt(1)).sorted.toSeq == (0 until cs.length).toSeq)
      val byIdx = cs.sortBy(_.getInt(1))
      // all but the last chunk are full 64-token windows; the tail is
      // 17..64 tokens (stride 48 < window 64 guarantees non-empty)
      byIdx.init.foreach(c => assert(c.getLong(2) == 64L))
      assert(byIdx.last.getLong(2) >= 1L && byIdx.last.getLong(2) <= 64L)
    }
  }

  test("t19: novelty bounded by gram count, gram counts match tokenization") {
    val rows = operators.TextOps.t19NgramNovelty(spark, sf001).collect()
    val t01 = operators.TextOps.t01TokenStats(spark, sf001)
      .select(col("doc_id"), col("n_ws_tokens"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (doc, nGrams, nNovel) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(doc % 10 == 0)
      assert(nGrams == math.max(0L, t01(doc) - 2), s"doc $doc gram count")
      assert(nNovel >= 0 && nNovel <= nGrams)
      val ppm = r.getLong(3)
      assert(ppm == (if (nGrams == 0) 0L else nNovel * 1000000L / nGrams))
    }
  }

  test("w12: funnel counts match a driver-side sequence scan") {
    val row = operators.Windows.w12FunnelSteps(spark, sf001).head()
    // brute-force ground truth: walk each user's events in (us, id) order
    val events = Tables.events(spark, sf001)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us")).collect()
      .groupBy(_.getLong(0))
    val gapUs = 6L * 3600L * 1000000L
    var (nView, nVc, nFull) = (0L, 0L, 0L)
    events.foreach { case (_, rs) =>
      var (sawV, sawVC, sawFull) = (false, false, false)
      var lastView = Long.MinValue
      var lastVc = Long.MinValue
      rs.sortBy(r => (r.getLong(3), r.getLong(1))).foreach { r =>
        val us = r.getLong(3)
        r.getString(2) match {
          case "view" => sawV = true; lastView = math.max(lastView, us)
          case "click" if lastView != Long.MinValue && us - lastView <= gapUs =>
            sawVC = true; lastVc = math.max(lastVc, us)
          case "purchase" if lastVc != Long.MinValue && us - lastVc <= gapUs =>
            sawFull = true
          case _ =>
        }
      }
      if (sawV) nView += 1
      if (sawVC) nVc += 1
      if (sawFull) nFull += 1
    }
    assert(row.getLong(0) == events.size)
    assert((row.getLong(1), row.getLong(2), row.getLong(3)) == ((nView, nVc, nFull)))
    assert(row.getLong(4) == nFull * 1000000L / nView)
    // a real funnel: strictly narrowing stages on this corpus
    assert(nView > nVc && nVc > nFull && nFull > 0)
  }

  test("g03: size histogram conserves documents and matches d06 on the clustered mass") {
    val prof = operators.Components.g03ComponentProfile(spark, sf001).collect()
    val total = Tables.documents(spark, sf001).count()
    // every document lands in exactly one component
    assert(prof.map(_.getLong(2)).sum == total)
    // n_docs = size * n_components per row
    prof.foreach(r => assert(r.getLong(2) == r.getLong(0) * r.getLong(1)))
    // the non-singleton mass agrees with d06's member count
    val clustered = operators.Components.d06CcClusters(spark, sf001).count()
    assert(prof.filter(_.getLong(0) > 1).map(_.getLong(2)).sum == clustered)
  }

  test("t20: vocabulary stats match a driver recount on one source") {
    val rows = operators.TextOps.t20VocabStats(spark, sf001).collect()
    assert(rows.length == 20)
    val src = rows.head.getString(0)
    val words = Tables.documents(spark, sf001).filter(col("source") === src)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .collect().map(_.getString(0))
    val counts = words.groupBy(identity).view.mapValues(_.length).toMap
    val r = rows.head
    assert(r.getLong(1) == words.length, "token count")
    assert(r.getLong(2) == counts.size, "type count")
    assert(r.getLong(3) == counts.count(_._2 == 1), "hapax count")
    assert(r.getLong(4) == counts.size.toLong * 1000000L / words.length)
  }

  test("w13: streak stats match a driver-side consecutive-day scan") {
    val out = operators.Windows.w13LongestStreak(spark, sf001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val byUser = Tables.events(spark, sf001)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct().collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).sorted.toSeq)
    assert(out.size == byUser.size)
    byUser.foreach { case (u, days) =>
      var streaks = Seq.empty[Long]
      var cur = 1L
      days.sliding(2).foreach {
        case Seq(a, b) => if (b == a + 1) cur += 1 else { streaks :+= cur; cur = 1 }
        case _ =>
      }
      streaks :+= cur
      val (nDays, longest, nStreaks) = out(u)
      assert(nDays == days.length, s"user $u active days")
      assert(longest == streaks.max, s"user $u longest streak")
      assert(nStreaks == streaks.length, s"user $u streak count")
    }
  }

  test("m07: CDC chunks tile each document exactly; duplicate docs share chunks") {
    val out = operators.Multimodal.m07CdcChunks(spark, sf001).collect()
    val lens = Tables.documents(spark, sf001)
      .select(col("doc_id"), length(col("text")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.length == lens.size)
    out.foreach { r =>
      assert(r.getLong(2) == lens(r.getLong(0)),
        s"doc ${r.getLong(0)}: chunks don't tile the payload")
      assert(r.getLong(3) <= r.getLong(1) && r.getLong(4) <= r.getLong(2))
    }
    // the corpus's planted duplicates must surface as shared chunks
    assert(out.count(_.getLong(3) > 0) > 50, "no cross-document chunk sharing found")
  }

  test("t21: every planted excerpt is detected inside its source at containment 1.0") {
    val out = operators.TextOps.t21Containment(spark, sf001).collect()
    val plantPairs = out.filter(_.getLong(0) >= 300000)
      .map(r => (r.getLong(0) - 300000, r.getLong(1), r.getDouble(4)))
    (0L until 500L by 10).foreach { d =>
      val hit = plantPairs.find(p => p._1 == d && p._2 == d)
      assert(hit.isDefined, s"excerpt of doc $d not detected in its source")
      assert(hit.get._3 == 1.0, s"excerpt of doc $d containment ${hit.get._3} != 1.0")
    }
    // asymmetry: a LONG document is never reported contained in its
    // 30-word excerpt (short docs ARE their excerpt — both directions
    // legitimately fire for them)
    val nTok = operators.TextOps.t01TokenStats(spark, sf001)
      .select(col("doc_id"), col("n_ws_tokens"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.filter(r => r.getLong(0) < 300000 && r.getLong(1) == r.getLong(0) + 300000)
      .foreach(r => assert(nTok(r.getLong(0)) <= 34,
        s"doc ${r.getLong(0)} (${nTok(r.getLong(0))} words) reported inside its excerpt"))
  }

  test("v07: recall matches a driver-side recomputation from v01/v02") {
    val out = operators.Similarity.v07RecallEval(spark, sf001).collect()
    val exact = operators.Similarity.v01CosineTopK(spark, sf001)
      .filter(col("rank") <= 3).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val approx = operators.Similarity.v02IvfTopK(spark, sf001).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    assert(out.length == exact.size)
    out.foreach { r =>
      val q = r.getLong(0)
      val want = (exact(q) intersect approx.getOrElse(q, Set.empty)).size.toLong
      assert(r.getLong(1) == want, s"query $q: n_match ${r.getLong(1)} != $want")
      assert(r.getLong(2) == want * 1000000L / 3)
    }
    // No recall floor asserted: THIS is the measurement. On this corpus
    // the synthetic vectors barely cluster, so probe-2-of-16 recall is
    // genuinely low (~0.28 at sf0.01) — exactly the signal a production
    // pipeline uses to raise nprobe/nlist before trusting the index
    // (v04's near-1.0 is a different axis: quantization, not pruning).
    val avg = out.map(_.getLong(2)).sum / out.length
    assert(avg > 0L && avg <= 1000000L, s"avg recall_ppm $avg out of range")
  }

  test("w17: decay score matches a driver-side recompute; staleness vs global max") {
    val got = operators.Windows.w17DecayScore(spark, sf001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
      .toMap
    val ev = Tables.events(spark, sf001)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val maxUs = ev.map(_._2).max
    val expect = ev.groupBy(_._1).map { case (u, rows) =>
      val ordered = rows.sortBy(r => (r._2, r._3))
      val last16 = ordered.takeRight(16).map(_._4).reverse // latest first
      val score = last16.zipWithIndex.map { case (c, j) => c * (1L << (15 - j)) }.sum
      u -> ((rows.length.toLong, ordered.last._2, score,
        ordered.last._2 < maxUs - 86400000000L))
    }
    assert(got == expect, {
      val diff = expect.collect { case (u, e) if got.get(u) != Some(e) => (u, e, got.get(u)) }
      s"first diffs: ${diff.take(3)}"
    })
    assert(expect.values.exists(v => v._1 > 16), "fixture should exceed the horizon")
  }

  test("t27: spectrum matches a driver-side count-of-counts; GT identities hold") {
    val got = operators.TextOps.t27FreqSpectrum(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    val docs = Tables.documents(spark, sf001)
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val freq = docs.flatMap { case (l, t) =>
      val a = t.trim.toLowerCase.split("\\s+")
      a.sliding(2).filter(_.length == 2).map(p => (l, p.mkString(" ")))
    }.groupBy(identity).view.mapValues(_.length.toLong)
    val spectrum = freq.groupBy { case ((l, _), r) => (l, r) }
      .view.mapValues(_.size.toLong).toMap
    val expect = spectrum.collect { case ((l, r), n) if r <= 10 =>
      val next = spectrum.getOrElse((l, r + 1), 0L)
      (l, r) -> ((n, if (next == 0) -1L else 1000000L * (r + 1) * next / n))
    }.toMap
    assert(got == expect, {
      val diff = expect.collect { case (k, e) if got.get(k) != Some(e) => (k, e, got.get(k)) }
      s"first diffs: ${diff.take(3)}"
    })
    // every language has a populated hapax band on this corpus
    val langs = docs.map(_._1).distinct
    assert(langs.forall(l => got.contains((l, 1L))), "missing hapax rows")
  }

  test("m10: banded pairs == brute-force hamming<=5 over driver-computed hashes") {
    val got = operators.Multimodal.m10AvgHashPairs(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val docs = Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def ahash(s: String): Long = {
      val n = s.length
      val v = (1 to 60).map(i => s.charAt((1 + ((i - 1).toLong * n) / 60).toInt - 1).toInt)
      val sm = v.sum
      v.zipWithIndex.map { case (x, j) => if (x * 60 > sm) 1L << j else 0L }.sum
    }
    // the corpus-derived planted offset m10 now uses (max id + 1)
    val off = docs.map(_._1).max + 1
    val all = docs.map { case (d, t) => (d, ahash("IMG0" + t)) } ++
      docs.map { case (d, t) =>
        (d + off, ahash("IMG0" + t.take(20).toUpperCase + t.drop(20)))
      }
    val brute = (for {
      (ia, ha) <- all; (ib, hb) <- all
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= 5
    } yield (ia, ib, java.lang.Long.bitCount(ha ^ hb))).toSet
    assert(got == brute,
      s"missed: ${(brute -- got).take(5)} / extra: ${(got -- brute).take(5)}")
    // the catch m05's content hash cannot make: perturbed copies with a
    // DIFFERENT payload md5 still pair with their original
    val planted = got.count { case (a, b, _) => b == a + off }
    assert(planted > 0, "no perturbed copy was caught")
  }

  test("w18: densified series match a sequential interpolator, endpoints actual") {
    val got = operators.Windows.w18InterpolateFill(spark, sf001).collect()
      .map(r => ((r.getString(0), r.getLong(1), r.getLong(2)),
        (r.getLong(3), r.getBoolean(4)))).toMap
    val daily = Tables.events(spark, sf001)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("event_type"), col("user_id"), col("day"))
      .agg(sum(col("cents")).as("cents")).collect()
      .map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sortBy(_._1) }
    var expected = 0
    for (((t, u), obs) <- daily) {
      val byDay = obs.toMap
      val (d0, d1) = (obs.map(_._1).min, obs.map(_._1).max)
      for (d <- d0 to d1) {
        expected += 1
        val want = byDay.get(d) match {
          case Some(c) => (c, false)
          case None =>
            val (pd, pv) = obs.filter(_._1 < d).maxBy(_._1)
            val (nd, nv) = obs.filter(_._1 > d).minBy(_._1)
            ((pv * (nd - d) + nv * (d - pd)) / (nd - pd), true)
        }
        assert(got((t, u, d)) === want, s"series ($t,$u) day $d")
      }
      assert(!got((t, u, d0))._2 && !got((t, u, d1))._2, "span endpoints must be actual")
    }
    assert(got.size === expected, "spurious rows outside any series span")
    assert(got.values.exists(_._2), "fixture produced no gaps — interpolation untested")
  }

  test("t28: RAKE top-20 matches a sequential extractor") {
    val docs = Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val stop = Set("a", "the")
    // phrases: maximal stopword-free runs, per doc
    val allPhrases = docs.flatMap { case (_, text) =>
      val words = text.trim.toLowerCase.split("\\s+").toSeq
      val runs = scala.collection.mutable.Buffer[Seq[String]]()
      var cur = scala.collection.mutable.Buffer[String]()
      for (w <- words) {
        if (stop(w)) { if (cur.nonEmpty) { runs += cur.toSeq; cur = cur.take(0) } }
        else cur += w
      }
      if (cur.nonEmpty) runs += cur.toSeq
      runs
    }
    val freq = allPhrases.flatten.groupBy(identity).map { case (w, o) => w -> o.size.toLong }
    val deg = allPhrases.flatMap(p => p.map(w => w -> p.size.toLong))
      .groupBy(_._1).map { case (w, o) => w -> o.map(_._2).sum }
    val expect = allPhrases.map(_.mkString(" ")).groupBy(identity)
      .map { case (p, o) =>
        val score = p.split(" ").map(w => deg(w) * 1000000L / freq(w)).sum
        (p, o.size.toLong, score)
      }.toSeq.sortBy { case (p, _, s) => (-s, p) }.take(20)
    val got = operators.TextOps.t28RakeKeywords(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expect)
    assert(got.exists(_._1.contains(" ")), "no multi-word phrase in top-20")
  }

  test("m11: framed energies match a byte-level scan, both verdicts occur") {
    val got = operators.Multimodal.m11AudioEnergy(spark, sf001).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    val docs = Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), "AUD0" + r.getString(1)))
    var n = 0
    for ((id, s) <- docs; (fr, idx) <- s.grouped(25).zipWithIndex) {
      n += 1
      val samples = fr.map(c => c.toInt - 96)
      val energy = samples.map(x => x.toLong * x).sum
      val want = (fr.length.toLong, energy, samples.map(math.abs).max.toLong,
        energy / fr.length < 240)
      assert(got((id, idx.toLong)) === want, s"frame ($id, $idx)")
    }
    assert(got.size === n, "row count vs sequential framing")
    val verdicts = got.values.map(_._4).toSet
    assert(verdicts === Set(true, false), "silence threshold never discriminated")
  }
}
