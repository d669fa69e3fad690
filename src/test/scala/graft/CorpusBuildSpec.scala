package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.util.Scratch

/** Independent derivation of the ep01 capstone: the whole ten-stage
  * corpus-build funnel is replayed in pure JVM Scala over the collected
  * sf0.001 documents (java.text.Normalizer, java.util.regex,
  * MessageDigest, plain collections — no Spark), and every (n_docs,
  * n_tokens) stage row must match exactly. Near-dedup is replayed as the
  * EXACT all-pairs Jaccard over the survivors' md5-hash shingle sets —
  * so a band-layer recall miss in the stored LSH index would fail here,
  * not hide (the d01 contract, inherited).
  */
class CorpusBuildSpec extends AnyFunSuite {
  import SparkTestSession._

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def shingleHash(s: String): Long =
    java.lang.Long.parseLong(md5Hex(s).take(15), 16)

  private val tagPat =
    "(?s)(<script[^>]*>.*?</script>|<style[^>]*>.*?</style>|<!--.*?-->|<[^>]*>)"

  private def clean(raw: String): String = {
    val nfc = java.text.Normalizer.normalize(raw, java.text.Normalizer.Form.NFC)
    val noCtl = nfc.replaceAll("[\\x00-\\x1f]", "")
    noCtl.replaceAll(tagPat, " ")
      .replace("&nbsp;", " ").replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&amp;", "&")
      .replaceAll("\\s+", " ").trim
  }

  private def toks(s: String): Array[String] =
    s.toLowerCase.trim.split("\\s+")

  test("ep01: every funnel row matches a pure-JVM replay of the pipeline") {
    val got = operators.CorpusBuild.ep01CorpusBuild(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap

    val base = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "text", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))

    // plants + HTML wrap (ids mirror the operator's conventions)
    val tOpen = operators.TextOps.templateOpen
    val tClose = operators.TextOps.templateClose
    val ing0 =
      base.filter(_._1 % 50 != 0) ++
        base.filter(_._1 < 40).map { case (id, t, l) => (id + 100000, t, l) } ++
        base.filter(_._1 % 50 == 0).map { case (id, t, _) => (id + 200001, t, "en") } ++
        base.filter(_._1 == 1).map { case (_, _, _) =>
          (300001L, Seq.fill(64)("pad").mkString(" "), "en") }
    case class Doc(id: Long, lang: String, nTok0: Long, cleaned: String, nTok: Long)
    val corpus = ing0.map { case (id, t, l) =>
      val raw = if (id % 5 == 0) tOpen + t + tClose else t
      val c = clean(raw)
      Doc(id, l, toks(raw).length.toLong, c, toks(c).length.toLong)
    }

    val s2 = corpus.filter(_.lang == "en")
    val s3 = s2.filter(_.nTok >= 50)
    // exact dedup: keep lowest id per md5(lower(cleaned))
    val s4 = s3.groupBy(d => md5Hex(d.cleaned.toLowerCase)).values
      .map(_.minBy(_.id)).toSeq.sortBy(_.id)

    // near dedup: exact all-pairs Jaccard over md5-hash 5-gram shingle
    // sets of the ORIGINAL raw text, docs present in the index only
    // (original ids) — the stored-index band layer must equal this
    val rawById = base.map(d => d._1 -> d._2).toMap
    val shingleSets: Map[Long, Set[Long]] = s4.filter(_.id < 100000).map { d =>
      val t = rawById(d.id)
      val n = math.max(1, t.length - 4)
      d.id -> (1 to n).map(i =>
        shingleHash(t.substring(i - 1, math.min(i - 1 + 5, t.length)))).toSet
    }.toMap
    val indexed = shingleSets.keys.toSeq.sorted
    val dropped = (for {
      i <- indexed.indices; j <- (i + 1) until indexed.size
      a = shingleSets(indexed(i)); b = shingleSets(indexed(j))
      inter = (a & b).size.toDouble
      if inter / (a.size + b.size - inter) >= 0.8
    } yield indexed(j)).toSet
    val s5 = s4.filterNot(d => dropped(d.id))

    // decontam: distinct 3-gram overlap vs the held-out eval docs
    def grams(ws: Array[String]): Set[String] =
      if (ws.length < 3) Set.empty
      else ws.sliding(3).map(_.mkString(" ")).toSet
    val evalGrams = base.filter(_._1 % 50 == 0)
      .flatMap(d => grams(toks(d._2))).toSet
    val s6 = s5.filter { d =>
      val own = grams(toks(d.cleaned))
      own.nonEmpty && (own & evalGrams).size * 2 < own.size
    }

    // quality: token stats gate
    val s7 = s6.filter { d =>
      val tf = toks(d.cleaned).groupBy(identity).map(_._2.length.toLong)
      val nt = tf.sum; val mx = tf.max
      !(nt < 10) && !(mx * 5 > nt)
    }

    // pack + shard: prefix sum in id order
    val ordered = s7.sortBy(_.id)
    val cums = ordered.map(_.nTok).scanLeft(0L)(_ + _).init
    val packs = cums.map(_ / 512L)
    val shards = packs.map(_ / 32L)

    def tokens(ds: Seq[Doc]): Long = ds.map(_.nTok).sum
    val want = Map(
      "0_ingest" -> ((corpus.size.toLong, corpus.map(_.nTok0).sum)),
      "1_clean" -> ((corpus.size.toLong, corpus.map(_.nTok).sum)),
      "2_langid" -> ((s2.size.toLong, s2.map(_.nTok).sum)),
      "3_length" -> ((s3.size.toLong, s3.map(_.nTok).sum)),
      "4_exact_dedup" -> ((s4.size.toLong, tokens(s4))),
      "5_near_dedup" -> ((s5.size.toLong, tokens(s5))),
      "6_decontam" -> ((s6.size.toLong, tokens(s6))),
      "7_quality" -> ((s7.size.toLong, tokens(s7))),
      "8_packed" -> ((packs.distinct.size.toLong, tokens(s7))),
      "9_sharded" -> ((shards.distinct.size.toLong, tokens(s7))))
    assert(got.keySet == want.keySet, s"stage sets differ: ${got.keySet}")
    want.foreach { case (stage, w) =>
      assert(got(stage) == w, s"$stage: spark=${got(stage)} replay=$w")
    }
    // the funnel only ever shrinks, and the plants were load-bearing:
    // clean removed wrapper tokens, each destructive stage dropped > 0
    assert(corpus.map(_.nTok).sum < corpus.map(_.nTok0).sum)
    assert(s3.size > s4.size, "exact-dedup plant not removed")
    assert(s5.size > s6.size, "eval-contamination plant not removed")
    assert(s6.size > s7.size, "repetitive plant not removed")
    assert(s7.nonEmpty && packs.distinct.nonEmpty)
  }

  test("ep01: framing-hostile text (newlines/tabs/backslashes) survives the staged interchange byte-exactly") {
    // The staged text interchange carries its payload base64-encoded:
    // row framing must never depend on payload bytes. A pre-r12 build
    // would split the newline doc into extra (null-id) rows and change
    // BOTH the ingest doc count and the token sums.
    import spark.implicits._
    val dir = Scratch.dir("graft_ep01_nl_")
    val tricky = "line one\nline two\twith tab, a \\n literal backslash-n, " +
      "and padding " + Seq.tabulate(50)(i => s"tok$i").mkString(" ")
    val docs = (1L to 60L).map { id =>
      val text = if (id == 3) tricky
                 else Seq.tabulate(55)(i => s"w${id}_$i").mkString(" ")
      (id, text, "en")
    }
    docs.toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = operators.CorpusBuild.ep01CorpusBuild(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // pure-JVM replay of the ingest + clean accounting over the SAME
    // plant conventions (the later stages share the roundtripped raw,
    // so a framing break is already visible here)
    val tOpen = operators.TextOps.templateOpen
    val tClose = operators.TextOps.templateClose
    val ing0 =
      docs.filter(_._1 % 50 != 0) ++
        docs.filter(_._1 < 40).map { case (id, t, l) => (id + 100000, t, l) } ++
        docs.filter(_._1 % 50 == 0).map { case (id, t, _) => (id + 200001, t, "en") } ++
        docs.filter(_._1 == 1).map { case (_, _, _) =>
          (300001L, Seq.fill(64)("pad").mkString(" "), "en") }
    val reps = ing0.map { case (id, t, _) =>
      val raw = if (id % 5 == 0) tOpen + t + tClose else t
      val c = clean(raw)
      (toks(raw).length.toLong, toks(c).length.toLong)
    }
    assert(got("0_ingest") === ((reps.size.toLong, reps.map(_._1).sum)))
    assert(got("1_clean") === ((reps.size.toLong, reps.map(_._2).sum)))
  }

  private def shingleSet(text: String): Set[Long] = {
    val n = math.max(1, text.length - 4)
    (1 to n).map { i =>
      java.lang.Long.parseLong(
        md5Hex(text.substring(i - 1, math.min(i - 1 + 5, text.length))).take(15),
        16)
    }.toSet
  }

  test("ep02: every incremental funnel row matches a pure-JVM replay") {
    val got = operators.CorpusBuild.ep02IncrementalBuild(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap

    val base = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "text", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val tOpen = operators.TextOps.templateOpen
    val tClose = operators.TextOps.templateClose

    // the existing corpus: cleaned, fingerprinted, token-massed
    val existing = base
      .filter(d => d._1 % 10 != 7 && d._1 % 50 != 0)
      .map { case (id, t, l) => (id, t, clean(t), l) }
    val cfp = existing.map(e => md5Hex(e._3.toLowerCase)).toSet
    val off = existing
      .filter(e => e._4 == "en" && toks(e._3).length >= 50)
      .map(e => toks(e._3).length.toLong).sum

    case class A(id: Long, lang: String, nTok0: Long, cleaned: String, nTok: Long)
    val arr0 =
      base.filter(_._1 % 10 == 7) ++
        base.filter(_._1 % 100 == 1).map { case (id, t, l) => (id + 300001, t, l) } ++
        base.filter(_._1 % 100 == 7).map { case (id, t, l) => (id + 500001, t, l) } ++
        base.filter(_._1 % 100 == 2).map { case (id, t, _) => (id + 400001, t + " qzx", "en") } ++
        base.filter(_._1 % 50 == 0).map { case (id, t, _) => (id + 200001, t, "en") }
    val batch = arr0.map { case (id, t, l) =>
      val raw = if (id % 3 == 0) tOpen + t + tClose else t
      val c = clean(raw)
      A(id, l, toks(raw).length.toLong, c, toks(c).length.toLong)
    }
    val s2 = batch.filter(_.lang == "en")
    val s3 = s2.filter(_.nTok >= 50)
    val s4 = s3.groupBy(d => md5Hex(d.cleaned.toLowerCase)).toSeq
      .map { case (fp, ds) => fp -> ds.minBy(_.id) }
    val s5 = s4.collect { case (fp, d) if !cfp(fp) => d }.sortBy(_.id)
    // incremental near-dup: batch CLEANED text vs existing RAW text,
    // exact all-pairs at >= 0.8 (the recall the index probe must equal)
    val exSets = existing.map(e => e._1 -> shingleSet(e._2)).toMap
    val s6 = s5.filter { d =>
      val bs = shingleSet(d.cleaned)
      !exSets.values.exists { cs =>
        val inter = (bs & cs).size.toDouble
        inter / (bs.size + cs.size - inter) >= 0.8
      }
    }
    def grams(ws: Array[String]): Set[String] =
      if (ws.length < 3) Set.empty else ws.sliding(3).map(_.mkString(" ")).toSet
    val evalGrams = base.filter(_._1 % 50 == 0)
      .flatMap(d => grams(toks(d._2))).toSet
    val s7 = s6.filter { d =>
      val own = grams(toks(d.cleaned))
      own.nonEmpty && (own & evalGrams).size * 2 < own.size
    }
    val s8 = s7.filter { d =>
      val tf = toks(d.cleaned).groupBy(identity).map(_._2.length.toLong)
      !(tf.sum < 10) && !(tf.max * 5 > tf.sum)
    }
    val ordered = s8.sortBy(_.id)
    val cums = ordered.map(_.nTok).scanLeft(off)(_ + _).init
    val packs = cums.map(_ / 512L)

    def dt(ds: Seq[A]) = (ds.size.toLong, ds.map(_.nTok).sum)
    val want = Map(
      "0_arrivals" -> ((batch.size.toLong, batch.map(_.nTok0).sum)),
      "1_clean" -> ((batch.size.toLong, batch.map(_.nTok).sum)),
      "2_langid" -> dt(s2), "3_length" -> dt(s3),
      "4_dedup_batch" -> dt(s4.map(_._2).toSeq),
      "5_dedup_corpus" -> dt(s5), "6_neardup_corpus" -> dt(s6),
      "7_decontam" -> dt(s7), "8_quality" -> dt(s8),
      "9_appended" -> ((packs.distinct.size.toLong, s8.map(_.nTok).sum)))
    assert(got.keySet == want.keySet, s"stage sets differ: ${got.keySet}")
    want.foreach { case (stage, w) =>
      assert(got(stage) == w, s"$stage: spark=${got(stage)} replay=$w")
    }
    // each batch-specific stage drops EXACTLY when its target class
    // reached it (whether a plant survives the upstream gates is
    // sf-dependent: at sf0.001 no %100==7 plant is en+long; at sf0.01 —
    // the oracle-gate scale — every stage drops, funnel 23→22→19→15→12)
    assert(s4.size >= s5.size && s5.size >= s6.size && s6.size >= s7.size)
    // the near-dup plants (+400001, forced 'en') that reach s5 must ALL
    // be dropped by the near-dup stage — none may survive into s6
    val nearPlantsIn = s5.map(_.id).filter(id => id > 400000 && id < 500000)
    val nearPlantsOut = s6.map(_.id).filter(id => id > 400000 && id < 500000)
    assert(nearPlantsIn.nonEmpty && nearPlantsOut.isEmpty,
      s"near-dup plants: reached=$nearPlantsIn survived=$nearPlantsOut")
    // append continuity: the first new pack continues the store's
    // numbering from its packable token mass
    assert(s8.isEmpty || packs.min == off / 512L,
      s"append must continue pack numbering: first=${packs.min} off=$off")
  }
}
