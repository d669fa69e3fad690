package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** d04's IVF-sourced candidate generation must have 100% recall on this
  * corpus: the emitted pairs are verified against the exact int64 cosine
  * either way, so equality with brute force proves the cell layer lost
  * no true pair (the DuckDB oracle is the brute-force form, so any miss
  * would also fail the correctness gate).
  */
class DedupSpec extends AnyFunSuite {
  import SparkTestSession._

  test("d04 IVF-sourced pairs == brute-force pairs (100% recall)") {
    val quantize =
      "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
    val base = Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr(quantize).as("q"))
    // the corpus-derived offset d04 now uses (max id + 1)
    val off = Tables.embeddings(spark, sf)
      .agg(org.apache.spark.sql.functions.max(col("vec_id"))).head().getLong(0) + 1
    val perturbed = base.filter(col("vec_id") < 50)
      .select((col("vec_id") + off).as("vec_id"), expr(
        "concat(array(element_at(q, 1) + 50), slice(q, 2, size(q) - 1))").as("q"))
    val all = base.unionByName(perturbed)
      .withColumn("nrm", expr("vec_dot(q, q)"))
    val a = all.select(col("vec_id").as("ida"), col("q").as("qa"), col("nrm").as("na"))
    val b = all.select(col("vec_id").as("idb"), col("q").as("qb"), col("nrm").as("nb"))
    val brute = a.join(b, col("ida") < col("idb"))
      .withColumn("cos", expr(
        "CAST(vec_dot(qa, qb) AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))"))
      .filter(col("cos") >= 0.99)
      .select(col("ida"), col("idb"), round(col("cos"), 6).as("cosine"))
      .collect().map(r => (r.get(0).asInstanceOf[Number].longValue,
        r.get(1).asInstanceOf[Number].longValue, r.getDouble(2))).toSet

    assert(brute.nonEmpty, "corpus must contain planted near-dups")
    // nlist is a free parameter (sized ~√n in production); recall must
    // hold at the oracle-pinned 16 AND at a coarser/finer quantizer —
    // two settings with entirely different cell boundaries
    Seq(16, 32).foreach { nlist =>
      val ivf = operators.Dedup.d04EmbeddingNearDup(spark, sf, nlist)
        .collect().map(r => (r.get(0).asInstanceOf[Number].longValue,
          r.get(1).asInstanceOf[Number].longValue, r.getDouble(2))).toSet
      assert(ivf == brute,
        s"nlist=$nlist missed: ${(brute -- ivf).take(5)} / extra: ${(ivf -- brute).take(5)}")
    }
  }

  test("d09: deletion-key blocking finds EXACTLY the brute-force lev<=1 pairs") {
    import org.apache.spark.sql.functions._
    val got = operators.Dedup.d09FuzzyPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val names = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_name")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val brute = (for {
      (ia, na) <- names; (ib, nb) <- names
      if ia < ib && lev(na, nb) <= 1
    } yield (ia, ib, lev(na, nb))).toSet
    assert(got == brute,
      s"missed: ${(brute -- got).take(5)} / extra: ${(got -- brute).take(5)}")
    assert(brute.nonEmpty)
  }

  test("d10: buckets conserve the audited pair count; measured recall/FP bounds hold") {
    val rows = operators.Dedup.d10LshAudit(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toList
    val ids = Tables.documents(spark, sf).select(col("doc_id")).collect()
      .map(_.getLong(0))
    def inSample(x: Long) = x % 10 == 0 && x < 500
    val audited = (for {
      a <- ids; b <- ids
      if a < b && (inSample(a) || inSample(b))
    } yield 1).size.toLong
    assert(rows.map(_._2).sum == audited,
      s"buckets lose/duplicate pairs: ${rows.map(_._2).sum} != $audited")
    rows.foreach { case (bkt, n, c, ppm) =>
      assert(c <= n, s"$bkt counts candidates outside the bucket")
      assert(ppm == 1000000L * c / n, s"$bkt ppm not the integer-exact ratio")
    }
    // the 12x5 band layer must surface EVERY true >=0.8 pair it audits…
    rows.find(_._1 == "j_ge_080").foreach { case (_, n, c, _) =>
      assert(c == n, "band layer missed a true >=0.8 pair")
    }
    // …while not flooding the verifier with sub-0.5 candidates
    val lo = rows.find(_._1 == "j_lt_050").get
    assert(lo._4 < 100000, s"false-candidate rate too high: ${lo._4} ppm")
    // ground truth agrees with d01's verified output on the audited slice
    // (same Jaccard over the same char-5-gram sets, different hash family)
    val d01 = operators.Dedup.d01MinHashLsh(spark, sf).collect()
      .count(r => inSample(r.getLong(0)) || inSample(r.getLong(1))).toLong
    assert(rows.find(_._1 == "j_ge_080").map(_._2).getOrElse(0L) == d01,
      "audit ground truth disagrees with d01 on the audited slice")
  }

  test("d16: prefix-filter join equals brute-force exact Jaccard>=0.8 (zero false negatives)") {
    val got = operators.Dedup.d16PrefixFilterJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    // brute force over the SAME hashed bigram sets, recomputed from text
    def img(s: String): Long =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
          .take(8).map("%02x".format(_)).mkString.take(15), 16)
    val sets = Tables.documents(spark, sf).select(col("doc_id"), col("text")).collect()
      .map { r =>
        val ws = r.getString(1).trim.split("\\s+")
        val gs = (if (ws.length < 2) Array.empty[String]
                  else ws.sliding(2).map(_.mkString(" ")).toArray).map(img).toSet
        (r.getLong(0), gs)
      }.filter(_._2.nonEmpty)
    val brute = (for {
      (ia, ga) <- sets; (ib, gb) <- sets
      if ia < ib
      inter = (ga & gb).size.toLong
      if 9 * inter >= 4 * (ga.size + gb.size)
    } yield (ia, ib, inter, ga.size.toLong, gb.size.toLong)).toSet
    assert(brute.nonEmpty, "corpus has no >=0.8 bigram pairs; test is vacuous")
    assert(got == brute,
      s"missed: ${(brute -- got).take(3)} / extra: ${(got -- brute).take(3)}")
    // the filter stack must actually prune: candidates strictly below
    // the all-pairs space (sanity on the join shape, not a perf claim)
    val plan = operators.Dedup.d16PrefixFilterJoin(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "prefix join degenerated to a cross product")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "prefix join degenerated to a nested loop")
  }
}
