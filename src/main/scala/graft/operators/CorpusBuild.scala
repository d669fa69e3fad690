package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{QueryDef, Tables}
import graft.util.{Lake, Overlap, Scratch}

/** The capstone: ONE orchestrated corpus-build job composing the engine's
  * already-proven stage families end-to-end — the deliverable the solo
  * operators exist for (reference: the end-to-end ETL pipeline shape of
  * Health_Jim.py:116-434 / notebook cell 28, scaled to the LLM-corpus
  * domain the engine extends it into).
  *
  * Stages (each reuses the named solo operator's kernel verbatim):
  *
  *   0 ingest     — the corpus flows in through the graft-lines DSv2
  *                  source (io06/io07 lifecycle): one staged write, read
  *                  back by byte-range splits.
  *   1 clean      — NFC normalize + control strip (t13) then
  *                  boilerplate/HTML strip + whitespace collapse (t42's
  *                  [[TextOps.stripExpr]]).
  *   2 langid     — keep lang == 'en' (t25's gate).
  *   3 length     — keep n_tok >= 50 (t25's gate).
  *   4 exact dedup— md5 fingerprint of the lowered cleaned text, keep
  *                  the lowest doc_id per fingerprint (t16/m05 family).
  *   5 near dedup — candidates from the STORED bucket-partitioned LSH
  *                  band index ([[Dedup.neutralLshIndex]], shared with
  *                  d01/d10/d12), exact-Jaccard verified at 0.8 via the
  *                  stored sorted shingle sets + the native two-pointer
  *                  intersect; drop every doc with a LOWER-id verified
  *                  neighbour among the survivors (d05/d07 keep rule).
  *                  Only docs present in the index participate — exactly
  *                  the production contract (signatures are built at
  *                  ingest; a doc outside the index cannot be probed).
  *   6 decontam   — 3-gram overlap vs the held-out eval set (docs ≡ 0
  *                  mod 50); drop when shared grams reach half of own
  *                  grams (t10/t25 majority rule).
  *   7 quality    — token-stat gate: not-too-short AND not-repetitive
  *                  (t32's rules over the survivor token stream).
  *   8 pack       — contiguous 512-token sequence packing via the
  *                  distributed prefix sum (t08; no single-partition
  *                  window anywhere).
  *   9 shard      — 32 packs per output shard (m13's manifest shape).
  *
  * Planted rows make every destructive stage observable: exact copies of
  * docs < 40 (+100000 — stage 4 must remove each one whose original is
  * in-corpus), and exact copies of the held-out eval docs (+200001,
  * forced 'en' — stage 6 must remove them, since their originals never
  * enter the pipeline), with every 5th ingest id HTML-wrapped (stage 1
  * must strip it or stage 4's fingerprints would miss the planted dups
  * of wrapped originals).
  *
  * Output: the per-stage accounting funnel in the t25 shape — one row
  * per stage with surviving (n_docs, n_tokens).
  *
  * Scale design — why this is ONE corpus pass per stage family:
  *
  *  - The parsed+cleaned corpus is localCheckpoint'd (lazy), as is each
  *    stage boundary that feeds BOTH the next stage and its accounting
  *    row (the d18/g04 multi-consumer lesson: persist() does not
  *    collapse the plan, only checkpointing does). The final plan
  *    therefore contains ZERO parquet re-scans of the corpus — every
  *    accounting branch reads a stage's materialized RDD once, which is
  *    what the plan golden pins.
  *  - Near-dedup probes the stored index restricted to survivor ids
  *    (the restriction joins BEFORE the band self-join, so bucket
  *    growth is bounded by survivor density, never corpus×corpus).
  *  - The eval-gram table is bounded (the held-out set), broadcast once.
  *  - Packing and sharding ride the two-pass distributed prefix sum —
  *    partition-parallel everywhere, O(#partitions) driver state.
  */
object CorpusBuild {

  def ep01CorpusBuild(spark: SparkSession, dir: String,
                      packBudget: Long = 512L,
                      packsPerShard: Long = 32L): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"))

    // ---- plants (t25/t42 conventions) ----
    val dupPlant = base.filter(col("doc_id") < 40)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"), col("lang"))
    val evalPlant = base.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 200001).as("doc_id"), col("text"),
        lit("en").as("lang"))
    // one repetitive doc (a single word 64×): long enough for the length
    // gate, unique, not near anything, gram-clean — only stage 7's
    // max_tf rule can reject it
    val repPlant = base.filter(col("doc_id") === 1)
      .select(lit(300001L).as("doc_id"),
        lit(Seq.fill(64)("pad").mkString(" ")).as("text"),
        lit("en").as("lang"))
    val ingestRows = base.filter(col("doc_id") % 50 =!= 0)
      .unionByName(dupPlant).unionByName(evalPlant).unionByName(repPlant)
      .withColumn("raw",
        when(col("doc_id") % 5 === 0,
          concat(lit(TextOps.templateOpen), col("text"),
            lit(TextOps.templateClose)))
          .otherwise(col("text")))
      .select(col("doc_id"), col("lang"), col("raw"))

    // ---- stage 0: ingest through the graft-lines source ----
    // The payload field travels HEX-encoded through the staged text
    // interchange (ADVICE r11): a document whose text contains a
    // newline would otherwise break line framing on read-back (null
    // doc_id rows, truncated text) and silently diverge from the
    // oracle, which never roundtrips. Framing must never depend on
    // payload bytes — the same reason production line-oriented
    // interchange escapes its payloads. (hex, not base64: Spark's
    // base64 emits RFC-2045 76-char chunked output with embedded
    // newlines under the legacy chunking conf — the exact corruption
    // this encoding exists to prevent.) doc_id and lang stay plain so
    // byte-range splits still cut on real row boundaries.
    val scratch = Scratch.dir("graft_ep01_")
    ingestRows
      .select(concat(col("doc_id").cast("string"), lit("\t"),
        col("lang"), lit("\t"),
        hex(encode(col("raw"), "UTF-8"))).as("value"))
      .write.mode("overwrite").text(scratch)
    val parsed = spark.read.format("graft-lines").load(scratch)
      .select(split(col("line"), "\t", 3).as("f"))
      .select(col("f").getItem(0).cast(LongType).as("doc_id"),
        col("f").getItem(1).as("lang"),
        decode(unhex(col("f").getItem(2)), "UTF-8").as("raw"))

    // ---- stage 1: clean (t13 NFC/control + t42 strip) ----
    // lazy localCheckpoint: every accounting branch and the whole
    // downstream cascade read ONE materialized copy of the corpus
    val corpus = parsed
      .withColumn("n_tok0",
        size(split(lower(trim(col("raw"))), "\\s+")).cast(LongType))
      .withColumn("norm0",
        regexp_replace(expr("nfc_normalize(raw)"), "[\\x00-\\x1f]", ""))
      .withColumn("cleaned", expr(TextOps.stripExpr("norm0")))
      .withColumn("n_tok",
        size(split(lower(col("cleaned")), "\\s+")).cast(LongType))
      .select(col("doc_id"), col("lang"), col("n_tok0"),
        col("cleaned"), col("n_tok"))
      .localCheckpoint(false)

    // ---- stages 2+3: language and length gates (narrow re-filters of
    // the checkpointed corpus — no re-scan, no shuffle) ----
    val s2 = corpus.filter(col("lang") === "en")
    val s3 = s2.filter(col("n_tok") >= 50)

    // ---- stage 4: exact dedup (one shuffle on the fingerprint) ----
    val wFp = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    val s4 = s3
      .withColumn("fp", md5(lower(col("cleaned"))))
      .withColumn("rn", row_number().over(wFp)).filter(col("rn") === 1)
      .select(col("doc_id"), col("cleaned"), col("n_tok"))
      .localCheckpoint(false)

    // ---- stage 5: near dedup from the stored LSH index, at the
    // d19-CHOSEN band layout ----
    // The chooser's decision (largest fully-covering r, measured on the
    // sampled exact-Jaccard truth — cached per corpus per JVM) drives
    // candidate generation: on this tiny-vocab corpus the fixed 12×5
    // layout's candidates grow super-linearly (d17 measured 20.7× at
    // 10×, and the first ep01 probe attributed ~150 MB of its 10× bytes
    // to the band self-join), while the tuned layout keeps them ~linear
    // with zero measured recall loss (Round11OpsSpec proves value
    // equality with the stored layout).
    val idx = Dedup.neutralLshIndex(spark, dir)
    val sets = spark.read.parquet(s"$idx/sets")
    val chosenR = Dedup.chosenRowsPerBand(spark, dir)
    val banded = Dedup.sigBandsAt(spark, dir, chosenR)
      .select(col("doc_id"), explode(col("bands")).as("bk"))
    val survivorBands = banded.join(s4.select(col("doc_id")), "doc_id")
    val pairs = survivorBands
      .select(col("doc_id").as("ida"), col("bk"))
      .join(survivorBands.select(col("doc_id").as("idb"), col("bk")), Seq("bk"))
      .filter(col("ida") < col("idb"))
      .select(col("ida"), col("idb")).distinct()
    // verify only the PAIR PARTICIPANTS' shingle sets: the tuned layout
    // bounds candidate volume, so the participant id-list broadcasts and
    // the big sets table is filtered MAP-SIDE instead of shuffled — at
    // 100x the unfiltered form shipped the full 1.3 GB sets table
    // through the exchange; this form ships only |participants| rows
    val members = pairs.select(col("ida").as("doc_id"))
      .unionByName(pairs.select(col("idb").as("doc_id"))).distinct()
    val slim = sets.join(broadcast(members), "doc_id")
    val drops = pairs
      .join(slim.select(col("doc_id").as("ida"), col("hs").as("ha")), "ida")
      .join(slim.select(col("doc_id").as("idb"), col("hs").as("hb")), "idb")
      .withColumn("inter",
        expr("CAST(sorted_intersect_count(ha, hb) AS DOUBLE)"))
      .filter(col("inter") /
        (size(col("ha")) + size(col("hb")) - col("inter")).cast("double")
        >= 0.8)
      .select(col("idb").as("doc_id")).distinct()
    val s5 = s4.join(drops, Seq("doc_id"), "left_anti")
      .localCheckpoint(false)

    // ---- stage 6: decontam vs the held-out eval set ----
    val grams3 = expr(
      "transform(sequence(1, size(w) - 2), i -> array_join(slice(w, i, 3), ' '))")
    val evalGrams = base.filter(col("doc_id") % 50 === 0)
      .withColumn("w", split(lower(trim(col("text"))), "\\s+"))
      .filter(size(col("w")) >= 3)
      .select(explode(grams3).as("gram")).distinct()
      .withColumn("hit", lit(true))
    val overlap = s5
      .withColumn("w", split(lower(col("cleaned")), "\\s+"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(grams3).as("gram"))
      .join(broadcast(evalGrams), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gram")).as("own"),
        countDistinct(when(col("hit"), col("gram"))).as("shared"))
    val s6 = s5.join(overlap, Seq("doc_id"))
      .filter(col("shared") * 2 < col("own"))
      .select(col("doc_id"), col("cleaned"), col("n_tok"))
      .localCheckpoint(false)

    // ---- stage 7: quality gate (t32 rules) ----
    val qstats = s6
      .select(col("doc_id"),
        explode(split(lower(col("cleaned")), "\\s+")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("nt"), max(col("tf")).as("mx"))
    val s7 = s6.join(qstats, Seq("doc_id"))
      .filter(!(col("nt") < 10) && !(col("mx") * 5 > col("nt")))
      .select(col("doc_id"), col("n_tok"))
      .localCheckpoint(false)

    // ---- stages 8+9: pack and shard (distributed prefix sum) ----
    val packed = ScaleOps.prefixSum(s7, Seq("doc_id"), "n_tok", "cum")
      .select(expr(s"(cum - n_tok) div $packBudget").as("pack_id"),
        col("n_tok"))

    def stage(name: String, df: DataFrame, tok: String): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col(tok)), lit(0L)).cast(LongType).as("n_tokens"))
        .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))

    stage("0_ingest", corpus, "n_tok0")
      .unionByName(stage("1_clean", corpus, "n_tok"))
      .unionByName(stage("2_langid", s2, "n_tok"))
      .unionByName(stage("3_length", s3, "n_tok"))
      .unionByName(stage("4_exact_dedup", s4, "n_tok"))
      .unionByName(stage("5_near_dedup", s5, "n_tok"))
      .unionByName(stage("6_decontam", s6, "n_tok"))
      .unionByName(stage("7_quality", s7, "n_tok"))
      .unionByName(packed
        .agg(countDistinct(col("pack_id")).as("n_docs"),
          coalesce(sum(col("n_tok")), lit(0L)).cast(LongType).as("n_tokens"))
        .select(lit("8_packed").as("stage"), col("n_docs"), col("n_tokens")))
      .unionByName(packed
        .agg(countDistinct(expr(s"pack_id div $packsPerShard")).as("n_docs"),
          coalesce(sum(col("n_tok")), lit(0L)).cast(LongType).as("n_tokens"))
        .select(lit("9_sharded").as("stage"), col("n_docs"), col("n_tokens")))
      .orderBy(col("stage"))
  }

  private val ep01Sql = {
    val strip =
      """trim(regexp_replace(
        |      replace(replace(replace(replace(replace(
        |        regexp_replace(regexp_replace(nfc_normalize(raw), '[\x00-\x1f]', '', 'g'),
        |          '(?s)(<script[^>]*>.*?</script>|<style[^>]*>.*?</style>|<!--.*?-->|<[^>]*>)',
        |          ' ', 'g'),
        |        '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&amp;', '&'),
        |      '\s+', ' ', 'g'))""".stripMargin
    val tOpen = TextOps.templateOpen
    val tClose = TextOps.templateClose
    s"""WITH base AS (SELECT doc_id, text, lang FROM documents),
      |ing0 AS (
      |  SELECT doc_id, lang, text FROM base WHERE doc_id % 50 <> 0
      |  UNION ALL
      |  SELECT doc_id + 100000, lang, text FROM base WHERE doc_id < 40
      |  UNION ALL
      |  SELECT doc_id + 200001, 'en', text FROM base WHERE doc_id % 50 = 0
      |  UNION ALL
      |  SELECT 300001, 'en', trim(repeat('pad ', 64)) FROM base WHERE doc_id = 1),
      |ing AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN doc_id % 5 = 0 THEN '$tOpen' || text || '$tClose'
      |         ELSE text END AS raw
      |  FROM ing0),
      |cln AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split_regex(lower(trim(raw)), '\\s+')) AS BIGINT) n_tok0,
      |    $strip AS cleaned
      |  FROM ing),
      |c2 AS (
      |  SELECT *, CAST(len(string_split_regex(lower(cleaned), '\\s+')) AS BIGINT) n_tok
      |  FROM cln),
      |s2 AS (SELECT * FROM c2 WHERE lang = 'en'),
      |s3 AS (SELECT * FROM s2 WHERE n_tok >= 50),
      |s4 AS (
      |  SELECT doc_id, cleaned, n_tok FROM (
      |    SELECT *, ROW_NUMBER() OVER (
      |      PARTITION BY md5(lower(cleaned)) ORDER BY doc_id) rn
      |    FROM s3) WHERE rn = 1),
      |sh AS (
      |  SELECT doc_id, ${Dedup.oracleHashedSet(
        """list_transform(range(1, greatest(2, length(text) - 3)),
          |           i -> substr(text, CAST(i AS INTEGER), 5))""".stripMargin)} g
      |  FROM base),
      |nd AS (
      |  SELECT DISTINCT b.doc_id FROM s4 a
      |  JOIN s4 b ON a.doc_id < b.doc_id
      |  JOIN sh ga ON ga.doc_id = a.doc_id
      |  JOIN sh gb ON gb.doc_id = b.doc_id
      |  WHERE CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
      |      / (len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g))) >= 0.8),
      |s5 AS (SELECT * FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM nd)),
      |eg AS (
      |  SELECT DISTINCT array_to_string(w[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' ') gram
      |  FROM (SELECT string_split_regex(lower(trim(text)), '\\s+') w
      |        FROM base WHERE doc_id % 50 = 0),
      |    LATERAL unnest(range(1, len(w) - 1)) u(i) WHERE len(w) >= 3),
      |sg AS (
      |  SELECT doc_id, array_to_string(w[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' ') gram
      |  FROM (SELECT doc_id, string_split_regex(lower(cleaned), '\\s+') w FROM s5),
      |    LATERAL unnest(range(1, len(w) - 1)) u(i) WHERE len(w) >= 3),
      |ov AS (
      |  SELECT sg.doc_id, COUNT(DISTINCT sg.gram) own,
      |    COUNT(DISTINCT sg.gram) FILTER (WHERE eg.gram IS NOT NULL) shared
      |  FROM sg LEFT JOIN eg ON sg.gram = eg.gram GROUP BY 1),
      |s6 AS (
      |  SELECT s5.doc_id, s5.cleaned, s5.n_tok FROM s5 JOIN ov USING (doc_id)
      |  WHERE ov.shared * 2 < ov.own),
      |tf AS (
      |  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) tf FROM (
      |    SELECT doc_id, unnest(string_split_regex(lower(cleaned), '\\s+')) w
      |    FROM s6) GROUP BY doc_id, w),
      |qs AS (
      |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) nt, CAST(MAX(tf) AS BIGINT) mx
      |  FROM tf GROUP BY doc_id),
      |s7 AS (
      |  SELECT s6.doc_id, s6.n_tok FROM s6 JOIN qs USING (doc_id)
      |  WHERE NOT (qs.nt < 10) AND NOT (qs.mx * 5 > qs.nt)),
      |packed AS (
      |  SELECT (cum - n_tok) // 512 pack_id, n_tok FROM (
      |    SELECT n_tok, SUM(n_tok) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum
      |    FROM s7)),
      |funnel AS (
      |  SELECT '0_ingest' stage, COUNT(*) n_docs,
      |    CAST(COALESCE(SUM(n_tok0), 0) AS BIGINT) n_tokens FROM cln
      |  UNION ALL SELECT '1_clean', COUNT(*), CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM c2
      |  UNION ALL SELECT '2_langid', COUNT(*), CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s2
      |  UNION ALL SELECT '3_length', COUNT(*), CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s3
      |  UNION ALL SELECT '4_exact_dedup', COUNT(*), CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s4
      |  UNION ALL SELECT '5_near_dedup', COUNT(*), CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s5
      |  UNION ALL SELECT '6_decontam', COUNT(*), CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s6
      |  UNION ALL SELECT '7_quality', COUNT(*), CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s7
      |  UNION ALL SELECT '8_packed', COUNT(DISTINCT pack_id),
      |    CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM packed
      |  UNION ALL SELECT '9_sharded', COUNT(DISTINCT pack_id // 32),
      |    CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM packed)
      |SELECT stage, n_docs, n_tokens FROM funnel ORDER BY stage""".stripMargin
  }

  /** ep02 — the INCREMENTAL build: a daily arrival batch processed
    * against an already-built corpus. Existing corpus E = docs with
    * doc_id % 10 ≠ 7 (and not held-out eval); arrivals B = docs ≡ 7
    * (mod 10) plus plants that make each batch-specific stage
    * observable: an exact copy of an E doc (+300001, orig ≡ 1 mod 100 —
    * stage 5 must reject it against the corpus fingerprints), an exact
    * copy of a batch doc (+500001, orig ≡ 7 mod 100 — stage 4's
    * within-batch dedup), a PERTURBED copy of an E doc (+400001, orig ≡
    * 2 mod 100, text + ' qzx' — survives both exact stages, caught only
    * by stage 6's near-dup probe of the stored index), and eval copies
    * (+200001 — stage 7's decontamination). Every 3rd arrival id comes
    * HTML-wrapped (arrivals are dirty; cleaning must strip before
    * fingerprints can match the corpus).
    *
    * The incremental near-dedup is the production asymmetry: the CORPUS
    * side reads the stored index (signatures re-banded at the d19-chosen
    * layout, sets for the verify), while the BATCH side — docs the index
    * has never seen — computes signatures IN-PLAN at the same layout
    * ([[Dedup.inPlanSigAndSets]]) and probes. Batch×corpus candidates
    * only; never corpus×corpus (the d08 contract). Packing APPENDS: new
    * pack ids continue from the existing corpus's packable token mass,
    * so the shard store grows monotonically.
    *
    * Scale shape (r12 — the "daily job never shuffles the corpus" form;
    * the r11 probe measured 70.8× job bytes at 10× and every byte of it
    * was corpus-sided shuffle that broadcast away at the small base and
    * became real SMJ exchanges at 10×):
    *
    *  - ONE corpus pass reduces the cleaned text to the two per-doc
    *    derivatives the batch needs — fingerprint + token count
    *    (~50 B/doc checkpointed, never the text). The old form
    *    checkpointed the full cleaned corpus and re-joined `base` on
    *    doc_id for the append offset, a corpus-wide exchange CARRYING
    *    THE TEXT once past the broadcast threshold.
    *  - Exact dedup vs the corpus runs map-side both ways: the batch's
    *    fingerprints broadcast INTO the corpus pass (semi join), and the
    *    ≤|batch| surviving hits broadcast back into the anti join. The
    *    old `corpusFps.distinct` + SMJ anti shuffled every corpus
    *    fingerprint.
    *  - The near-dup probe streams the corpus band table map-side
    *    through a broadcast of the batch's bands (batch ≪ corpus is the
    *    premise of incremental; at petabyte batches the stored index's
    *    bucket layout takes over, see bands/). Stored verify sets are
    *    map-side filtered by the broadcast candidate id list (the ep01
    *    convention). The old form shuffled corpus bands on `bk` and the
    *    full sets table on `cid`.
    *  - Batch-sided joins (candidates, verify, decontam, quality) stay
    *    shuffles on O(|batch|) rows — the one size a daily job is
    *    allowed to shuffle.
    */
  /** The shared clean kernel (t13 NFC/control + t42 strip + token
    * counts) and the ep02 arrival-batch construction (plants included),
    * extracted so the streaming twin [[st17IncrementalStream]] runs the
    * byte-identical pipeline per micro-batch.
    */
  private[operators] def cleanColsOf(df: DataFrame): DataFrame = df
    .withColumn("n_tok0",
      size(split(lower(trim(col("raw"))), "\\s+")).cast(LongType))
    .withColumn("norm0",
      regexp_replace(expr("nfc_normalize(raw)"), "[\\x00-\\x1f]", ""))
    .withColumn("cleaned", expr(TextOps.stripExpr("norm0")))
    .withColumn("n_tok",
      size(split(lower(col("cleaned")), "\\s+")).cast(LongType))

  private[operators] def ep02ArrivalRows(base: DataFrame): DataFrame = {
    val exactVsCorpus = base.filter(col("doc_id") % 100 === 1)
      .select((col("doc_id") + 300001).as("doc_id"), col("text"), col("lang"))
    val exactInBatch = base.filter(col("doc_id") % 100 === 7)
      .select((col("doc_id") + 500001).as("doc_id"), col("text"), col("lang"))
    val nearVsCorpus = base.filter(col("doc_id") % 100 === 2)
      .select((col("doc_id") + 400001).as("doc_id"),
        concat(col("text"), lit(" qzx")).as("text"), lit("en").as("lang"))
    val evalPlant = base.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 200001).as("doc_id"), col("text"),
        lit("en").as("lang"))
    base.filter(col("doc_id") % 10 === 7)
      .unionByName(exactVsCorpus).unionByName(exactInBatch)
      .unionByName(nearVsCorpus).unionByName(evalPlant)
      .withColumn("raw",
        when(col("doc_id") % 3 === 0,
          concat(lit(TextOps.templateOpen), col("text"),
            lit(TextOps.templateClose)))
          .otherwise(col("text")))
      .select(col("doc_id"), col("lang"), col("raw"))
  }

  /** The held-out eval set's distinct 3-gram table (the decontam
    * reference), shared by ep01/ep02/st17. */
  private[operators] def evalGramRows(base: DataFrame): DataFrame = {
    val grams3 = expr(
      "transform(sequence(1, size(w) - 2), i -> array_join(slice(w, i, 3), ' '))")
    base.filter(col("doc_id") % 50 === 0)
      .withColumn("w", split(lower(trim(col("text"))), "\\s+"))
      .filter(size(col("w")) >= 3)
      .select(explode(grams3).as("gram")).distinct()
      .withColumn("hit", lit(true))
  }

  /** ep02's stage frames, from which [[ep02IncrementalBuild]] assembles
    * the funnel. Each stage's construction runs under its own job
    * description, so [[graft.QueryMetrics]] splits the build's shuffle
    * bytes by stage (ScaleProbe's ep02 row, `job_mb_by_tag`) — the
    * instrument that pinned r11's 70.8× job-byte ratio to the
    * corpus-sided shuffles this shape no longer has. Returns the ordered
    * (stage name, frame, token column) list plus the packed frame.
    */
  private[graft] def ep02StageFrames(spark: SparkSession, dir: String,
      packBudget: Long = 512L): (Seq[(String, DataFrame, String)], DataFrame) = {
    // Tag every job a stage's construction submits (under AQE a lazy
    // localCheckpoint still materializes its upstream exchanges at
    // construction, on pool threads that capture this thread-local)
    // with the pipeline stage's name: the Spark UI groups the build by
    // stage, and [[graft.QueryMetrics]] attributes shuffle bytes per
    // stage from it.
    def tagged[T](name: String)(f: => T): T = {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"ep02:$name")
      try f finally sc.setJobDescription(prev)
    }
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"))

    def cleanCols(df: DataFrame): DataFrame = cleanColsOf(df)

    // ---- the existing corpus (already built, already indexed) ----
    // ONE corpus pass, reduced in the same job to the per-doc derivatives
    // the batch needs: fingerprint (exact dedup) + lang/token count
    // (append offset). Only these ~50 B/doc are checkpointed — the
    // cleaned text never leaves the map side and is never materialized.
    // fanOut (r14): the nfc/strip clean of the whole store corpus ran
    // in the documents file's single scan task
    val corpusMeta = tagged("corpus_meta")(cleanCols(
        Tables.fanOut(base
          .filter(col("doc_id") % 10 =!= 7 && col("doc_id") % 50 =!= 0),
          spark, dir, "documents")
        .withColumn("raw", col("text")))
      .select(md5(lower(col("cleaned"))).as("fp"), col("lang"), col("n_tok"))
      .localCheckpoint(false)) // two consumers: fp semi-join + append offset
    // the store's packable token mass — where appended packs continue
    val packedOffset = corpusMeta
      .filter(col("lang") === "en" && col("n_tok") >= 50)
      .agg(coalesce(sum(col("n_tok")), lit(0L)).as("off"))

    // ---- arrivals + plants (shared with the streaming twin) ----
    val arrivals = ep02ArrivalRows(base)

    // ---- stages 0-3: clean + gates (batch-sided, narrow) ----
    val batch = tagged("0_clean")(cleanCols(
        Tables.fanOut(arrivals, spark, dir, "documents"))
      .select(col("doc_id"), col("lang"), col("n_tok0"),
        col("cleaned"), col("n_tok"))
      .localCheckpoint(false))
    val s2 = batch.filter(col("lang") === "en")
    val s3 = s2.filter(col("n_tok") >= 50)

    // ---- stage 4: exact dedup WITHIN the batch ----
    val wFp = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    val s4 = tagged("4_dedup_batch")(s3
      .withColumn("fp", md5(lower(col("cleaned"))))
      .withColumn("rn", row_number().over(wFp)).filter(col("rn") === 1)
      .select(col("doc_id"), col("cleaned"), col("n_tok"), col("fp"))
      .localCheckpoint(false))

    // ---- stage 5: exact dedup AGAINST the corpus fingerprints ----
    // map-side both ways: batch fps broadcast INTO the corpus pass; the
    // ≤|batch| hits broadcast back into the anti join. The corpus is
    // never shuffled on fp.
    val batchFps = s4.select(col("fp")).distinct()
    val fpHits = corpusMeta.join(broadcast(batchFps), Seq("fp"), "left_semi")
      .select(col("fp")).distinct()
    val s5 = tagged("5_dedup_corpus")(s4
      .join(broadcast(fpHits), Seq("fp"), "left_anti")
      .select(col("doc_id"), col("cleaned"), col("n_tok"))
      .localCheckpoint(false))

    // ---- stage 6: near-dup probe of the STORED index ----
    val idx = Dedup.neutralLshIndex(spark, dir)
    val storedSets = spark.read.parquet(s"$idx/sets")
    val chosenR = Dedup.chosenRowsPerBand(spark, dir)
    // fixture-only membership restriction: this fixture treats docs ≡ 7
    // (mod 10) and the held-out eval set as outside the store, while the
    // stored index covers the whole documents table. In production the
    // index IS the corpus index and this filter vanishes; here it pushes
    // to the sig scan as a predicate instead of joining a corpus-wide
    // id list (the r11 form's join shuffled the whole band table).
    val corpusBands = Dedup.sigBandsAt(spark, dir, chosenR)
      .filter(col("doc_id") % 10 =!= 7 && col("doc_id") % 50 =!= 0)
      .select(col("doc_id").as("cid"), explode(col("bands")).as("bk"))
    val batchSig = tagged("6_batch_sign")(Dedup.inPlanSigAndSets(
      s5.select(col("doc_id"), col("cleaned").as("text")), chosenR)
      .localCheckpoint(false)) // consumers: band probe + verify sets
    // batch bands broadcast; the corpus band table streams through the
    // probe join map-side (batch ≪ corpus is the incremental premise).
    // r15 (guide §3.1/§2.4): the bare (bid, cid) candidate list is
    // batch-bounded, so it BROADCASTS straight into the stored-sets
    // scan and the batch signatures broadcast on top — the verify is
    // two map-side hash joins over one sets/ pass. The r14 form
    // checkpointed cand (an extra construction-time job), built a
    // second candIds broadcast to slim the sets, then shuffle-joined;
    // the produced rows are identical (same inner joins, same filter),
    // and cand's single consumer needs no checkpoint.
    val cand = tagged("6_candidates")(corpusBands
      .join(broadcast(batchSig
        .select(col("doc_id").as("bid"), explode(col("bands")).as("bk"))),
        Seq("bk"))
      .select(col("bid"), col("cid")).distinct())
    val nearDrops = storedSets
      .select(col("doc_id").as("cid"), col("hs").as("hc"))
      .join(broadcast(cand), Seq("cid"))
      .join(broadcast(batchSig
        .select(col("doc_id").as("bid"), col("hs").as("hb"))), Seq("bid"))
      .withColumn("inter",
        expr("CAST(sorted_intersect_count(hb, hc) AS DOUBLE)"))
      .filter(col("inter") /
        (size(col("hb")) + size(col("hc")) - col("inter")).cast("double")
        >= 0.8)
      .select(col("bid").as("doc_id")).distinct()
    val s6 = tagged("6_neardup_corpus")(s5
      .join(nearDrops, Seq("doc_id"), "left_anti")
      .localCheckpoint(false))

    // ---- stage 7: decontam vs the held-out eval set ----
    val grams3 = expr(
      "transform(sequence(1, size(w) - 2), i -> array_join(slice(w, i, 3), ' '))")
    val evalGrams = evalGramRows(base)
    val overlap = s6.withColumn("w", split(lower(col("cleaned")), "\\s+"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(grams3).as("gram"))
      .join(broadcast(evalGrams), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gram")).as("own"),
        countDistinct(when(col("hit"), col("gram"))).as("shared"))
    val s7 = tagged("7_decontam")(s6.join(overlap, Seq("doc_id"))
      .filter(col("shared") * 2 < col("own"))
      .select(col("doc_id"), col("cleaned"), col("n_tok"))
      .localCheckpoint(false))

    // ---- stage 8: quality gate ----
    val qstats = s7
      .select(col("doc_id"),
        explode(split(lower(col("cleaned")), "\\s+")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("nt"), max(col("tf")).as("mx"))
    val s8 = tagged("8_quality")(s7.join(qstats, Seq("doc_id"))
      .filter(!(col("nt") < 10) && !(col("mx") * 5 > col("nt")))
      .select(col("doc_id"), col("n_tok"))
      .localCheckpoint(false))

    // ---- stage 9: APPEND-pack (continue the store's pack numbering) ----
    val packed = tagged("9_append_pack")(
      ScaleOps.prefixSum(s8, Seq("doc_id"), "n_tok", "cum")
        .crossJoin(broadcast(packedOffset))
        .select(expr(s"(off + cum - n_tok) div $packBudget").as("pack_id"),
          col("n_tok")))

    (Seq(
      ("0_arrivals", batch, "n_tok0"),
      ("1_clean", batch, "n_tok"),
      ("2_langid", s2, "n_tok"),
      ("3_length", s3, "n_tok"),
      ("4_dedup_batch", s4, "n_tok"),
      ("5_dedup_corpus", s5, "n_tok"),
      ("6_neardup_corpus", s6, "n_tok"),
      ("7_decontam", s7, "n_tok"),
      ("8_quality", s8, "n_tok")), packed)
  }

  def ep02IncrementalBuild(spark: SparkSession, dir: String,
                           packBudget: Long = 512L): DataFrame = {
    val (stages, packed) = ep02StageFrames(spark, dir, packBudget)

    def stage(name: String, df: DataFrame, tok: String): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col(tok)), lit(0L)).cast(LongType).as("n_tokens"))
        .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))

    stages.map { case (n, df, tok) => stage(n, df, tok) }
      .reduce(_ unionByName _)
      .unionByName(packed
        .agg(countDistinct(col("pack_id")).as("n_docs"),
          coalesce(sum(col("n_tok")), lit(0L)).cast(LongType).as("n_tokens"))
        .select(lit("9_appended").as("stage"), col("n_docs"), col("n_tokens")))
      .orderBy(col("stage"))
  }

  private val ep02Sql = {
    val strip =
      """trim(regexp_replace(
        |      replace(replace(replace(replace(replace(
        |        regexp_replace(regexp_replace(nfc_normalize(raw), '[\x00-\x1f]', '', 'g'),
        |          '(?s)(<script[^>]*>.*?</script>|<style[^>]*>.*?</style>|<!--.*?-->|<[^>]*>)',
        |          ' ', 'g'),
        |        '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&amp;', '&'),
        |      '\s+', ' ', 'g'))""".stripMargin
    val tOpen = TextOps.templateOpen
    val tClose = TextOps.templateClose
    val hashedSetOf = (lst: String) => Dedup.oracleHashedSet(lst)
    s"""WITH base AS (SELECT doc_id, text, lang FROM documents),
      |ex0 AS (
      |  SELECT doc_id, text AS raw FROM base
      |  WHERE doc_id % 10 <> 7 AND doc_id % 50 <> 0),
      |ex AS (
      |  SELECT doc_id, $strip AS cleaned FROM ex0),
      |exn AS (
      |  SELECT e.doc_id, cleaned,
      |    CAST(len(string_split_regex(lower(cleaned), '\\s+')) AS BIGINT) n_tok,
      |    b.lang
      |  FROM ex e JOIN base b ON e.doc_id = b.doc_id),
      |cfp AS (SELECT DISTINCT md5(lower(cleaned)) fp FROM exn),
      |poff AS (
      |  SELECT CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) poff FROM exn
      |  WHERE lang = 'en' AND n_tok >= 50),
      |arr0 AS (
      |  SELECT doc_id, lang, text FROM base WHERE doc_id % 10 = 7
      |  UNION ALL
      |  SELECT doc_id + 300001, lang, text FROM base WHERE doc_id % 100 = 1
      |  UNION ALL
      |  SELECT doc_id + 500001, lang, text FROM base WHERE doc_id % 100 = 7
      |  UNION ALL
      |  SELECT doc_id + 400001, 'en', text || ' qzx' FROM base WHERE doc_id % 100 = 2
      |  UNION ALL
      |  SELECT doc_id + 200001, 'en', text FROM base WHERE doc_id % 50 = 0),
      |arr AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN doc_id % 3 = 0 THEN '$tOpen' || text || '$tClose'
      |         ELSE text END AS raw
      |  FROM arr0),
      |cln AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split_regex(lower(trim(raw)), '\\s+')) AS BIGINT) n_tok0,
      |    $strip AS cleaned
      |  FROM arr),
      |c2 AS (
      |  SELECT *, CAST(len(string_split_regex(lower(cleaned), '\\s+')) AS BIGINT) n_tok
      |  FROM cln),
      |s2 AS (SELECT * FROM c2 WHERE lang = 'en'),
      |s3 AS (SELECT * FROM s2 WHERE n_tok >= 50),
      |s4 AS (
      |  SELECT doc_id, cleaned, n_tok, fp FROM (
      |    SELECT *, md5(lower(cleaned)) fp,
      |      ROW_NUMBER() OVER (PARTITION BY md5(lower(cleaned)) ORDER BY doc_id) rn
      |    FROM s3) WHERE rn = 1),
      |s5 AS (SELECT doc_id, cleaned, n_tok FROM s4
      |       WHERE fp NOT IN (SELECT fp FROM cfp)),
      |bsh AS (
      |  SELECT doc_id, ${hashedSetOf(
        """list_transform(range(1, greatest(2, length(cleaned) - 3)),
          |           i -> substr(cleaned, CAST(i AS INTEGER), 5))""".stripMargin)} g
      |  FROM s5),
      |csh AS (
      |  SELECT e.doc_id, ${hashedSetOf(
        """list_transform(range(1, greatest(2, length(b.text) - 3)),
          |           i -> substr(b.text, CAST(i AS INTEGER), 5))""".stripMargin)} g
      |  FROM ex0 e JOIN base b ON e.doc_id = b.doc_id),
      |nd AS (
      |  SELECT DISTINCT bsh.doc_id FROM bsh, csh
      |  WHERE CAST(len(list_intersect(bsh.g, csh.g)) AS DOUBLE)
      |      / (len(bsh.g) + len(csh.g) - len(list_intersect(bsh.g, csh.g))) >= 0.8),
      |s6 AS (SELECT * FROM s5 WHERE doc_id NOT IN (SELECT doc_id FROM nd)),
      |eg AS (
      |  SELECT DISTINCT array_to_string(w[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' ') gram
      |  FROM (SELECT string_split_regex(lower(trim(text)), '\\s+') w
      |        FROM base WHERE doc_id % 50 = 0),
      |    LATERAL unnest(range(1, len(w) - 1)) u(i) WHERE len(w) >= 3),
      |sg AS (
      |  SELECT doc_id, array_to_string(w[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' ') gram
      |  FROM (SELECT doc_id, string_split_regex(lower(cleaned), '\\s+') w FROM s6),
      |    LATERAL unnest(range(1, len(w) - 1)) u(i) WHERE len(w) >= 3),
      |ov AS (
      |  SELECT sg.doc_id, COUNT(DISTINCT sg.gram) own,
      |    COUNT(DISTINCT sg.gram) FILTER (WHERE eg.gram IS NOT NULL) shared
      |  FROM sg LEFT JOIN eg ON sg.gram = eg.gram GROUP BY 1),
      |s7 AS (
      |  SELECT s6.doc_id, s6.cleaned, s6.n_tok FROM s6 JOIN ov USING (doc_id)
      |  WHERE ov.shared * 2 < ov.own),
      |tf AS (
      |  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) tf FROM (
      |    SELECT doc_id, unnest(string_split_regex(lower(cleaned), '\\s+')) w
      |    FROM s7) GROUP BY doc_id, w),
      |qs AS (
      |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) nt, CAST(MAX(tf) AS BIGINT) mx
      |  FROM tf GROUP BY doc_id),
      |s8 AS (
      |  SELECT s7.doc_id, s7.n_tok FROM s7 JOIN qs USING (doc_id)
      |  WHERE NOT (qs.nt < 10) AND NOT (qs.mx * 5 > qs.nt)),
      |packed AS (
      |  SELECT (poff.poff + cum - n_tok) // 512 pack_id, n_tok FROM (
      |    SELECT n_tok, SUM(n_tok) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum
      |    FROM s8), poff),
      |funnel AS (
      |  SELECT '0_arrivals' stage, COUNT(*) n_docs,
      |    CAST(COALESCE(SUM(n_tok0), 0) AS BIGINT) n_tokens FROM cln
      |  UNION ALL SELECT '1_clean', COUNT(*), CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM c2
      |  UNION ALL SELECT '2_langid', COUNT(*), CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s2
      |  UNION ALL SELECT '3_length', COUNT(*), CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s3
      |  UNION ALL SELECT '4_dedup_batch', COUNT(*), CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s4
      |  UNION ALL SELECT '5_dedup_corpus', COUNT(*), CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s5
      |  UNION ALL SELECT '6_neardup_corpus', COUNT(*), CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s6
      |  UNION ALL SELECT '7_decontam', COUNT(*), CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s7
      |  UNION ALL SELECT '8_quality', COUNT(*), CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s8
      |  UNION ALL SELECT '9_appended', COUNT(DISTINCT pack_id),
      |    CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM packed)
      |SELECT stage, n_docs, n_tokens FROM funnel ORDER BY stage""".stripMargin
  }

  /** st17 — the ep02 composition driven through Structured Streaming
    * (VERDICT r11 #5): the daily-arrival batch becomes a FILE STREAM of
    * three waves (wave = doc_id mod 3, staged with strictly increasing
    * mtimes so FileStreamSource delivers one wave per micro-batch, in
    * order — the st13-twin convention), processed against the same
    * pre-existing store ep02 probes. Per micro-batch, the byte-identical
    * ep02 stage kernels run wave-sided:
    *
    *   clean → lang/length gates → exact dedup WITHIN the wave → exact
    *   dedup vs the store's fingerprints (corpus ∪ every PREVIOUSLY SEEN
    *   wave — st13's "of anything seen" policy: order-insensitive, no
    *   transitive chase, what a band-indexed ingest filter implements) →
    *   near-dup probe of the stored corpus index AND the seen-store's
    *   wave signatures (both at the d19-chosen layout; batch side signs
    *   in-plan) → decontam → quality → APPEND-pack, with pack ids
    *   continuing from the store's packable mass plus every earlier
    *   wave's accepted mass.
    *
    * Replay safety (the st16 discipline): every store append and every
    * accounting row goes to a per-batchId directory written with
    * overwrite, and a batch reads ONLY strictly-earlier batch
    * directories — so a redelivered/replayed micro-batch rewrites its
    * own directories byte-identically and never double-counts
    * (Round12OpsSpec replays the whole stream over the same state root
    * and asserts the funnel is unchanged). State lives in STORAGE, not
    * executor memory: at 100 TB the seen-store is the persistent LSH
    * index plus a fingerprint table, and each arrival batch is one
    * bounded probe — exactly ep02's scale shape, paid per wave.
    *
    * Output: the per-(wave, stage) funnel — ep02's ten stages × three
    * waves, zeros kept — hash-checked against a DuckDB oracle that
    * replays the whole multi-wave policy as one batch query.
    */
  private[graft] def st17Run(spark: SparkSession, dir: String,
                             stateRoot: Option[String] = None,
                             packBudget: Long = 512L,
                             checkpoint: Option[String] = None,
                             reuseStore: Boolean = false): (DataFrame, String) = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"))
    val root = stateRoot.getOrElse(Scratch.dir("graft_st17_"))
    val stage = s"$root/stage"
    val store = s"$root/store"
    val acct = s"$root/acct"

    // ---- the pre-existing store (built before any arrival; overwrite
    // makes a replayed setup byte-identical) ----
    // reuseStore (probe-only, the steady-state path): a warm store is
    // not rebuilt, so the measured marginal batch excludes setup — the
    // contract/replay paths keep the idempotent overwrite
    val metaPath = new org.apache.hadoop.fs.Path(s"$store/corpus_meta")
    val metaFs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stageWaves = new java.io.File(stage).mkdirs() // false: already staged
    // corpus_meta, the wave stagings and the index/eval-gram builds are
    // independent (see graft.util.Overlap); each branch runs the serial jobs
    val (meta, chosenR, evalGrams, corpusBands, corpusSets) = Overlap(spark) { o =>
      val meta = o.fork {
        if (!(reuseStore && metaFs.exists(metaPath)))
          cleanColsOf(Tables.fanOut(base
              .filter(col("doc_id") % 10 =!= 7 && col("doc_id") % 50 =!= 0),
              spark, dir, "documents")
              .withColumn("raw", col("text")))
            .select(md5(lower(col("cleaned"))).as("fp"), col("lang"), col("n_tok"))
            .write.mode("overwrite").parquet(s"$store/corpus_meta")
        val cm = spark.read.parquet(s"$store/corpus_meta")
        val off = cm.filter(col("lang") === "en" && col("n_tok") >= 50)
          .agg(coalesce(sum(col("n_tok")), lit(0L)).as("off")).head().getLong(0)
        (cm, off)
      }
      // ---- the arrival waves: one parquet file per wave, strictly
      // increasing mtimes (FileStreamSource delivers in mtime order; the
      // mtimes are SET explicitly, so staging the three waves
      // concurrently cannot reorder delivery) ----
      if (stageWaves) for (wv <- 0 until 3) o.fork {
        Scratch.oneFile(ep02ArrivalRows(base).filter(col("doc_id") % 3 === wv),
          f"$stage/wave_$wv%02d.parquet", 1000000L + wv * 60000L)
      }
      // the memoized stored-index builds (one-time per corpus per JVM)
      val idx = Dedup.neutralLshIndex(spark, dir)
      val chosenR = Dedup.chosenRowsPerBand(spark, dir)
      (meta, chosenR, evalGramRows(base).localCheckpoint(false),
        Dedup.sigBandsAt(spark, dir, chosenR)
          .filter(col("doc_id") % 10 =!= 7 && col("doc_id") % 50 =!= 0)
          .select(col("doc_id").as("cid"), explode(col("bands")).as("bk")),
        spark.read.parquet(s"$idx/sets"))
    }
    val (corpusMeta, poff) = meta.join()

    def earlier(kind: String, bid: Long): Option[DataFrame] = {
      val dirs = (0L until bid).map(i => s"$store/$kind/b$i").filter { d =>
        val hp = new org.apache.hadoop.fs.Path(d)
        hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
      }
      if (dirs.isEmpty) None else Some(spark.read.parquet(dirs: _*))
    }

    val schema = spark.read.parquet(s"$stage/wave_00.parquet").schema
    Lake.drain(spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
      .writeStream
      .option("checkpointLocation",
        checkpoint.getOrElse(Scratch.dir("graft_st17_ckpt_")))
      .foreachBatch { (wave: DataFrame, bid: Long) =>
        // The wave LABEL is carried by the DATA (wave = doc_id mod 3 by
        // staging construction), never by the micro-batch id (ADVICE
        // r12): equal staged mtimes or a FileStreamSource delivery-order
        // change must not silently relabel waves — the batch id keeps
        // ONLY its replay-safety roles (per-batchId dirs, the
        // strictly-earlier read fence), where delivery order is exactly
        // the thing being keyed on. One 1-row aggregate per batch;
        // empty-batch fallback keeps the bid label.
        //
        // Optimization r14 (guide §1.2/§2.4 — this query was the
        // fleet's #1 wall at 15.4 s with 187 driver jobs): the stage
        // chain is now carried as PER-DOC FLAGS on two checkpointed
        // frames instead of eight checkpointed stage frames, the wave's
        // signatures are computed ONCE (the old body signed the wave
        // twice: batchSig over s5 + the seen_sigs store write over w),
        // the ten union-branch funnel aggregates collapse into ONE
        // aggregate + a stack(). Stage predicates are byte-identical to
        // the old chain; the funnel parquet a replayed batch rewrites is
        // byte-identical (Round12OpsSpec).
        val waveId = wave.agg(coalesce(min(pmod(col("doc_id"), lit(3))),
          lit(bid))).head().getLong(0).toInt
        // adaptive wave fan-out: a staged wave arrives as ONE file (one
        // scan task), so the per-wave nfc/strip clean was serial; at
        // scale a wave already lands in ≥ cores partitions and this is
        // a no-op (batch-sided shuffles on O(|batch|) rows are the
        // design budget here — see the scale note above)
        val cores = spark.sparkContext.defaultParallelism
        val waveIn =
          if (wave.rdd.getNumPartitions < cores) wave.repartition(cores)
          else wave
        val w = cleanColsOf(waveIn)
          .select(col("doc_id"), col("lang"), col("n_tok0"),
            col("cleaned"), col("n_tok"))
          .localCheckpoint(true)
        // the four store writes overlap the batch (see graft.util.Overlap):
        // each launches as soon as its checkpointed input exists, and the
        // scope joins them all before the batch returns (the replay fence)
        // or fails
        Overlap(spark) { o =>
          o.fork(w.select(md5(lower(col("cleaned"))).as("fp"))
            .write.mode("overwrite").parquet(s"$store/seen_fps/b$bid"))
          // one sig pass per wave, shared by the near-dup probe (p5 subset)
          // and the seen_sigs store write (all wave docs)
          val sigAll = Dedup.inPlanSigAndSets(
            w.select(col("doc_id"), col("cleaned").as("text")), chosenR)
            .localCheckpoint(true)
          o.fork(sigAll.write.mode("overwrite").parquet(s"$store/seen_sigs/b$bid"))
          // flags frame 1: clean/langid/length gates + exact dedup within
          // the wave (rn among p3 docs of the same fp) + vs the store
          val seenFps = earlier("seen_fps", bid)
            .map(corpusMeta.select(col("fp")).unionByName(_))
            .getOrElse(corpusMeta.select(col("fp")))
          val wFlag = w
            .withColumn("p3", col("lang") === "en" && col("n_tok") >= 50)
            .withColumn("fp", md5(lower(col("cleaned"))))
          val wFp = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val f1 = wFlag
            .withColumn("rn3", sum(when(col("p3"), 1L).otherwise(0L)).over(wFp))
            .withColumn("p4", col("p3") && col("rn3") === 1L)
          val batchFps = f1.filter(col("p4")).select(col("fp")).distinct()
          val fpHits = seenFps.join(broadcast(batchFps), Seq("fp"), "left_semi")
            .select(col("fp")).distinct().withColumn("hit5", lit(true))
          val frame1 = f1.join(broadcast(fpHits), Seq("fp"), "left")
            .withColumn("p5", col("p4") && col("hit5").isNull)
            .select(col("doc_id"), col("lang"), col("n_tok0"), col("n_tok"),
              col("cleaned"), col("p3"), col("p4"), col("p5"))
            .localCheckpoint(true)
          // near-dup probe: stored corpus index ∪ seen-wave signatures,
          // batch side = sigAll restricted to p5 survivors
          val p5Ids = frame1.filter(col("p5")).select(col("doc_id"))
          val batchSig = sigAll.join(broadcast(p5Ids), Seq("doc_id"), "left_semi")
          val batchBands = batchSig
            .select(col("doc_id").as("bid"), explode(col("bands")).as("bk"))
          val seenSig = earlier("seen_sigs", bid)
          val rhsBands = seenSig
            .map(ss => corpusBands.unionByName(
              ss.select(col("doc_id").as("cid"), explode(col("bands")).as("bk"))))
            .getOrElse(corpusBands)
          val rhsSets = seenSig
            .map(ss => corpusSets.unionByName(ss.select(col("doc_id"), col("hs"))))
            .getOrElse(corpusSets)
          // r15 (guide §3.1/§2.4): the candidate pair list is batch-
          // bounded (the incremental premise), so it BROADCASTS into the
          // stored-sets scan and the batch signatures broadcast on top —
          // the verify is two map-side hash joins over one rhsSets pass.
          // The old form checkpointed cand (one extra job), built a
          // second broadcast (candIds) to slim the sets, then ran two
          // shuffle joins; rows produced are identical (inner joins on
          // the same keys, same filter). cand itself now has a single
          // consumer, so the checkpoint is gone.
          val cand = rhsBands.join(broadcast(batchBands), Seq("bk"))
            .select(col("bid"), col("cid")).distinct()
          val nearDrops = rhsSets
            .select(col("doc_id").as("cid"), col("hs").as("hc"))
            .join(broadcast(cand), Seq("cid"))
            .join(broadcast(batchSig
              .select(col("doc_id").as("bid"), col("hs").as("hb"))), Seq("bid"))
            .withColumn("inter",
              expr("CAST(sorted_intersect_count(hb, hc) AS DOUBLE)"))
            .filter(col("inter") /
              (size(col("hb")) + size(col("hc")) - col("inter")).cast("double")
              >= 0.8)
            .select(col("bid").as("doc_id")).distinct()
            .withColumn("nd", lit(true))
          // flags frame 2: near-dup, decontam, quality — each former
          // inner-join-then-filter becomes a left join + null-safe flag
          // (the old inner joins kept exactly the rows the flag keeps:
          // overlap/qstats emit a row for every surviving doc by
          // construction, so `isNotNull` guards change nothing)
          val f2 = frame1.join(nearDrops, Seq("doc_id"), "left")
            .withColumn("p6", col("p5") && col("nd").isNull)
          val grams3 = expr(
            "transform(sequence(1, size(w) - 2), i -> array_join(slice(w, i, 3), ' '))")
          val overlap = f2.filter(col("p6"))
            .withColumn("w", split(lower(col("cleaned")), "\\s+"))
            .filter(size(col("w")) >= 3)
            .select(col("doc_id"), explode(grams3).as("gram"))
            .join(broadcast(evalGrams), Seq("gram"), "left")
            .groupBy(col("doc_id"))
            .agg(countDistinct(col("gram")).as("own"),
              countDistinct(when(col("hit"), col("gram"))).as("shared"))
          val f3 = f2.join(overlap, Seq("doc_id"), "left")
            .withColumn("p7",
              col("p6") && col("own").isNotNull && col("shared") * 2 < col("own"))
          val qstats = f3.filter(col("p7"))
            .select(col("doc_id"),
              explode(split(lower(col("cleaned")), "\\s+")).as("w"))
            .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
            .groupBy(col("doc_id"))
            .agg(sum(col("tf")).as("nt"), max(col("tf")).as("mx"))
          val frame2 = f3.join(qstats, Seq("doc_id"), "left")
            .withColumn("p8", col("p7") && col("nt").isNotNull &&
              !(col("nt") < 10) && !(col("mx") * 5 > col("nt")))
            .select(col("doc_id"), col("n_tok0"), col("n_tok"), col("lang"),
              col("p3"), col("p4"), col("p5"), col("p6"), col("p7"), col("p8"))
            .localCheckpoint(true)
          val s8 = frame2.filter(col("p8")).select(col("doc_id"), col("n_tok"))
          // r15 (guide §2.4/§5): the pack offset rides the plan as a
          // broadcast 1-row aggregate (ep02's packedOffset pattern)
          // instead of a blocking driver head() per batch — same value,
          // one fewer sequential driver job in the batch chain
          val offAgg = earlier("wave_mass", bid)
            .map(_.agg((lit(poff) + coalesce(sum(col("mass")), lit(0L))).as("off")))
            .getOrElse(spark.range(1).select(lit(poff).as("off")))
          val packed = ScaleOps.prefixSum(s8, Seq("doc_id"), "n_tok", "cum")
            .crossJoin(broadcast(offAgg))
            .select(expr(s"(off + cum - n_tok) div $packBudget").as("pack_id"),
              col("n_tok"))

          // the 10-stage funnel as ONE aggregate over the flag frame
          // (stage 9 keeps its own distinct-count over the packed frame)
          def cnt(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = coalesce(sum(when(c, 1L)), lit(0L))
          def tok(c: org.apache.spark.sql.Column, t: String): org.apache.spark.sql.Column =
            coalesce(sum(when(c, col(t))), lit(0L)).cast(LongType)
          val all = lit(true)
          val g = frame2.agg(
            cnt(all).as("n0"), tok(all, "n_tok0").as("t0"),
            cnt(all).as("n1"), tok(all, "n_tok").as("t1"),
            cnt(col("lang") === "en").as("n2"), tok(col("lang") === "en", "n_tok").as("t2"),
            cnt(col("p3")).as("n3"), tok(col("p3"), "n_tok").as("t3"),
            cnt(col("p4")).as("n4"), tok(col("p4"), "n_tok").as("t4"),
            cnt(col("p5")).as("n5"), tok(col("p5"), "n_tok").as("t5"),
            cnt(col("p6")).as("n6"), tok(col("p6"), "n_tok").as("t6"),
            cnt(col("p7")).as("n7"), tok(col("p7"), "n_tok").as("t7"),
            cnt(col("p8")).as("n8"), tok(col("p8"), "n_tok").as("t8"))
          val funnel = g.selectExpr(
            s"""stack(9,
               |'0_arrivals', n0, t0, '1_clean', n1, t1, '2_langid', n2, t2,
               |'3_length', n3, t3, '4_dedup_batch', n4, t4,
               |'5_dedup_store', n5, t5, '6_neardup_store', n6, t6,
               |'7_decontam', n7, t7, '8_quality', n8, t8)
               |AS (stage, n_docs, n_tokens)""".stripMargin)
            .select(lit(waveId).as("wave"), col("stage"),
              col("n_docs"), col("n_tokens"))
            .unionByName(packed
              .agg(countDistinct(col("pack_id")).as("n_docs"),
                coalesce(sum(col("n_tok")), lit(0L)).cast(LongType).as("n_tokens"))
              .select(lit(waveId).as("wave"), lit("9_appended").as("stage"),
                col("n_docs"), col("n_tokens")))
          // every write is per-batchId + overwrite: a replayed batch
          // rewrites its own directories byte-identically (st16 discipline)
          o.fork(funnel.coalesce(1).write.mode("overwrite").parquet(s"$acct/b$bid"))
          s8.agg(coalesce(sum(col("n_tok")), lit(0L)).as("mass"))
            .write.mode("overwrite").parquet(s"$store/wave_mass/b$bid")
        }
      })
    (spark.read.parquet(s"$acct/*")
      .select(col("wave").cast("int").as("wave"), col("stage"),
        col("n_docs"), col("n_tokens"))
      .orderBy(col("wave"), col("stage")), root)
  }

  def st17IncrementalStream(spark: SparkSession, dir: String): DataFrame =
    st17Run(spark, dir)._1

  /** Probe-only (VERDICT r12 #5 — the steady-state cadence): build the
    * st17 state root, process the three contract waves against a
    * PERSISTENT checkpoint (warm store), and stage ONE additional
    * arrival wave of unseen documents — wave-0's arrival mix with every
    * id offset past the whole existing id space (corpus ids, plant
    * offsets up to +500001, and earlier arrivals) and an injective
    * letter substitution so the content is genuinely new, not a
    * redelivery the exact-dedup gate would zero out. Returns the root;
    * [[st17MarginalWave]] then runs the stream again over the SAME
    * checkpoint, so FileStreamSource delivers exactly the one new file
    * and the measured work is the marginal batch a production arrival
    * pays — not the r12 probe's staging-tagged full-demo number.
    */
  private[graft] def st17PrepareMarginal(spark: SparkSession, dir: String): String = {
    val root = Scratch.dir("graft_st17_marg_")
    st17Run(spark, dir, Some(root), checkpoint = Some(s"$root/ckpt"))
      ._1.queryExecution.toRdd.count()
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"))
    val maxId = base.agg(max(col("doc_id"))).head().getLong(0)
    val off = ((maxId + 600000L) / 3L + 1L) * 3L // multiple of 3: the
      // wave label (doc_id mod 3) stays 0 and ids clear every plant
    val lo = "abcdefghijklmnopqrstuvwxyz"
    val src = lo + lo.toUpperCase
    val dst = (lo.drop(1) + lo.head) + (lo.drop(1) + lo.head).toUpperCase
    val wave3 = ep02ArrivalRows(base).filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + off).as("doc_id"), col("lang"),
        expr(s"translate(raw, '$src', '$dst')").as("raw"))
    Scratch.oneFile(wave3, s"$root/stage/wave_03.parquet", 1000000L + 3 * 60000L)
    root
  }

  /** Probe-only: run the stream over the prepared root's persistent
    * checkpoint — only the staged marginal wave is undelivered, so this
    * IS the steady-state batch cost — and return that batch's funnel.
    */
  private[graft] def st17MarginalWave(spark: SparkSession, dir: String,
                                      root: String): DataFrame = {
    st17Run(spark, dir, Some(root), checkpoint = Some(s"$root/ckpt"),
        reuseStore = true)
      ._1.queryExecution.toRdd.count()
    spark.read.parquet(s"$root/acct/b3")
      .select(col("wave").cast("int").as("wave"), col("stage"),
        col("n_docs"), col("n_tokens"))
      .orderBy(col("stage"))
  }

  /** ep03 — shard-store COMPACTION (the weekly maintenance cadence for
    * the store ep01 builds and ep02/st17 append to — the corpus-store
    * counterpart of l02's file-bin planning and l04's executed
    * rewrite): daily appends close their shard files at batch end, so
    * every day leaves an underfilled tail pack and an underfilled tail
    * shard; the compactor repacks the SAME doc stream in append order
    * (day, doc_id) into full packs/shards and accounts exactly what it
    * reclaims.
    *
    * Store model: the packable corpus (lang = 'en', n_tok ≥ 50)
    * arrived in 7 daily batches (day = doc_id mod 7); each day packed
    * its own docs from pack 0 (pack ids are logical and ep02 CONTINUES
    * numbering across days, but the physical shard files close when
    * the day's job ends — which is exactly the fragmentation being
    * measured) at 512 tokens/pack, 8 packs/shard.
    *
    * Output (all integers): one row per day — docs, tokens, packs,
    * shards as written — plus a `compacted` row (the global repack:
    * same order, no day boundaries) and a `reclaimed` row (packs/
    * shards saved; its n_tokens column is the reclaimed pack slack,
    * packs_saved × 512).
    *
    * Scale design: ONE distributed prefix sum over (day, doc_id)
    * (range repartition + per-partition offsets — no single-partition
    * or per-day window anywhere: a day of a 100 TB store does not fit
    * one partition), a 7-row broadcast of day offsets derived FROM the
    * same prefix (min(cum − n_tok) per day), and distinct-count
    * aggregates. Planning compaction for a trillion-token store is one
    * linear parallel pass.
    */
  def ep03ShardCompaction(spark: SparkSession, dir: String,
                          packBudget: Long = 512L,
                          packsPerShard: Long = 8L): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), (col("doc_id") % 7).cast("int").as("day"),
        col("lang"),
        size(split(lower(trim(col("text"))), "\\s+")).cast(LongType).as("n_tok"))
      .filter(col("lang") === "en" && col("n_tok") >= 50)
      .select(col("doc_id"), col("day"), col("n_tok"))
    val cum = ScaleOps.prefixSum(docs, Seq("day", "doc_id"), "n_tok", "cum")
      .localCheckpoint(false) // two consumers: day offsets + pack calc
    // day start offsets from the SAME prefix: the first row of a day
    // (min cum within it) carries cum − n_tok = the day's start
    val offs = cum.groupBy(col("day"))
      .agg(min(col("cum") - col("n_tok")).as("day_off"))
    val packs = cum.join(broadcast(offs), "day")
      .withColumn("pack_d",
        expr(s"(cum - day_off - n_tok) div $packBudget"))
      .withColumn("pack_g", expr(s"(cum - n_tok) div $packBudget"))
      .localCheckpoint(false) // three consumers: day rows + compacted + totals
    val dayRows = packs.groupBy(col("day"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        countDistinct(col("pack_d")).as("n_packs"),
        countDistinct(expr(s"pack_d div $packsPerShard")).as("n_shards"))
      .select(concat(lit("day_"), col("day")).as("scope"),
        col("n_docs"), col("n_tokens"), col("n_packs"), col("n_shards"))
    val after = packs
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        countDistinct(col("pack_g")).as("n_packs"),
        countDistinct(expr(s"pack_g div $packsPerShard")).as("n_shards"))
      .select(lit("compacted").as("scope"),
        col("n_docs"), col("n_tokens"), col("n_packs"), col("n_shards"))
      .localCheckpoint(false) // two consumers: output row + reclaimed diff
    val before = packs
      .agg(countDistinct(col("day"), col("pack_d")).as("pk"),
        countDistinct(col("day"), expr(s"pack_d div $packsPerShard")).as("sh"))
    val reclaimed = before.crossJoin(
        after.select(col("n_packs").as("pk_a"), col("n_shards").as("sh_a")))
      .select(lit("reclaimed").as("scope"), lit(0L).as("n_docs"),
        ((col("pk") - col("pk_a")) * packBudget).as("n_tokens"),
        (col("pk") - col("pk_a")).as("n_packs"),
        (col("sh") - col("sh_a")).as("n_shards"))
    dayRows.unionByName(after).unionByName(reclaimed)
      .orderBy(col("scope"))
  }

  private val ep03Sql =
    """WITH d AS (
      |  SELECT doc_id, CAST(doc_id % 7 AS INTEGER) dy,
      |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) n_tok
      |  FROM documents
      |  WHERE lang = 'en'
      |    AND len(string_split_regex(lower(trim(text)), '\s+')) >= 50),
      |c AS (
      |  SELECT *, SUM(n_tok) OVER (ORDER BY dy, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum
      |  FROM d),
      |o AS (SELECT dy, MIN(cum - n_tok) day_off FROM c GROUP BY dy),
      |p AS (
      |  SELECT c.*, (cum - day_off - n_tok) // 512 pack_d,
      |    (cum - n_tok) // 512 pack_g
      |  FROM c JOIN o ON c.dy = o.dy),
      |aft AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) n_docs,
      |    CAST(SUM(n_tok) AS BIGINT) n_tokens,
      |    CAST(COUNT(DISTINCT pack_g) AS BIGINT) n_packs,
      |    CAST(COUNT(DISTINCT pack_g // 8) AS BIGINT) n_shards
      |  FROM p),
      |bef AS (
      |  SELECT CAST(COUNT(DISTINCT (dy, pack_d)) AS BIGINT) pk,
      |    CAST(COUNT(DISTINCT (dy, pack_d // 8)) AS BIGINT) sh
      |  FROM p),
      |rows0 AS (
      |  SELECT 'day_' || CAST(dy AS VARCHAR) AS scope,
      |    CAST(COUNT(*) AS BIGINT) n_docs, CAST(SUM(n_tok) AS BIGINT) n_tokens,
      |    CAST(COUNT(DISTINCT pack_d) AS BIGINT) n_packs,
      |    CAST(COUNT(DISTINCT pack_d // 8) AS BIGINT) n_shards
      |  FROM p GROUP BY dy
      |  UNION ALL
      |  SELECT 'compacted', n_docs, n_tokens, n_packs, n_shards FROM aft
      |  UNION ALL
      |  SELECT 'reclaimed', 0,
      |    (bef.pk - aft.n_packs) * 512, bef.pk - aft.n_packs,
      |    bef.sh - aft.n_shards
      |  FROM bef, aft)
      |SELECT scope, n_docs, n_tokens, n_packs, n_shards
      |FROM rows0 ORDER BY scope""".stripMargin

  private val st17Sql = {
    val strip =
      """trim(regexp_replace(
        |      replace(replace(replace(replace(replace(
        |        regexp_replace(regexp_replace(nfc_normalize(raw), '[\x00-\x1f]', '', 'g'),
        |          '(?s)(<script[^>]*>.*?</script>|<style[^>]*>.*?</style>|<!--.*?-->|<[^>]*>)',
        |          ' ', 'g'),
        |        '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&amp;', '&'),
        |      '\s+', ' ', 'g'))""".stripMargin
    val tOpen = TextOps.templateOpen
    val tClose = TextOps.templateClose
    val hashedSetOf = (lst: String) => Dedup.oracleHashedSet(lst)
    val cleanedShingles = hashedSetOf(
      """list_transform(range(1, greatest(2, length(cleaned) - 3)),
        |           i -> substr(cleaned, CAST(i AS INTEGER), 5))""".stripMargin)
    s"""WITH base AS (SELECT doc_id, text, lang FROM documents),
      |ex0 AS (
      |  SELECT doc_id, text AS raw FROM base
      |  WHERE doc_id % 10 <> 7 AND doc_id % 50 <> 0),
      |ex AS (
      |  SELECT doc_id, $strip AS cleaned FROM ex0),
      |exn AS (
      |  SELECT e.doc_id, cleaned,
      |    CAST(len(string_split_regex(lower(cleaned), '\\s+')) AS BIGINT) n_tok,
      |    b.lang
      |  FROM ex e JOIN base b ON e.doc_id = b.doc_id),
      |cfp AS (SELECT DISTINCT md5(lower(cleaned)) fp FROM exn),
      |poff AS (
      |  SELECT CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) poff FROM exn
      |  WHERE lang = 'en' AND n_tok >= 50),
      |arr0 AS (
      |  SELECT doc_id, lang, text FROM base WHERE doc_id % 10 = 7
      |  UNION ALL
      |  SELECT doc_id + 300001, lang, text FROM base WHERE doc_id % 100 = 1
      |  UNION ALL
      |  SELECT doc_id + 500001, lang, text FROM base WHERE doc_id % 100 = 7
      |  UNION ALL
      |  SELECT doc_id + 400001, 'en', text || ' qzx' FROM base WHERE doc_id % 100 = 2
      |  UNION ALL
      |  SELECT doc_id + 200001, 'en', text FROM base WHERE doc_id % 50 = 0),
      |arr AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN doc_id % 3 = 0 THEN '$tOpen' || text || '$tClose'
      |         ELSE text END AS raw
      |  FROM arr0),
      |cln AS (
      |  SELECT doc_id, CAST(doc_id % 3 AS INTEGER) wave, lang,
      |    CAST(len(string_split_regex(lower(trim(raw)), '\\s+')) AS BIGINT) n_tok0,
      |    $strip AS cleaned
      |  FROM arr),
      |c2 AS (
      |  SELECT *, CAST(len(string_split_regex(lower(cleaned), '\\s+')) AS BIGINT) n_tok,
      |    md5(lower(cleaned)) fp
      |  FROM cln),
      |s2 AS (SELECT * FROM c2 WHERE lang = 'en'),
      |s3 AS (SELECT * FROM s2 WHERE n_tok >= 50),
      |s4 AS (
      |  SELECT doc_id, wave, cleaned, n_tok, fp FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY wave, fp ORDER BY doc_id) rn
      |    FROM s3) WHERE rn = 1),
      |s5 AS (
      |  SELECT a.doc_id, a.wave, a.cleaned, a.n_tok FROM s4 a
      |  WHERE a.fp NOT IN (SELECT fp FROM cfp)
      |    AND NOT EXISTS (SELECT 1 FROM c2 e
      |                    WHERE e.wave < a.wave AND e.fp = a.fp)),
      |bsh AS (
      |  SELECT doc_id, wave, $cleanedShingles g
      |  FROM s5),
      |csh AS (
      |  SELECT e.doc_id, ${hashedSetOf(
        """list_transform(range(1, greatest(2, length(b.text) - 3)),
          |           i -> substr(b.text, CAST(i AS INTEGER), 5))""".stripMargin)} g
      |  FROM ex0 e JOIN base b ON e.doc_id = b.doc_id),
      |esh AS (
      |  SELECT doc_id, wave, $cleanedShingles g
      |  FROM c2),
      |nd AS (
      |  SELECT DISTINCT bsh.doc_id FROM bsh, csh
      |  WHERE CAST(len(list_intersect(bsh.g, csh.g)) AS DOUBLE)
      |      / (len(bsh.g) + len(csh.g) - len(list_intersect(bsh.g, csh.g))) >= 0.8
      |  UNION
      |  SELECT DISTINCT a.doc_id FROM bsh a JOIN esh b ON b.wave < a.wave
      |  WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
      |      / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.8),
      |s6 AS (SELECT * FROM s5 WHERE doc_id NOT IN (SELECT doc_id FROM nd)),
      |eg AS (
      |  SELECT DISTINCT array_to_string(w[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' ') gram
      |  FROM (SELECT string_split_regex(lower(trim(text)), '\\s+') w
      |        FROM base WHERE doc_id % 50 = 0),
      |    LATERAL unnest(range(1, len(w) - 1)) u(i) WHERE len(w) >= 3),
      |sg AS (
      |  SELECT doc_id, array_to_string(w[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' ') gram
      |  FROM (SELECT doc_id, string_split_regex(lower(cleaned), '\\s+') w FROM s6),
      |    LATERAL unnest(range(1, len(w) - 1)) u(i) WHERE len(w) >= 3),
      |ov AS (
      |  SELECT sg.doc_id, COUNT(DISTINCT sg.gram) own,
      |    COUNT(DISTINCT sg.gram) FILTER (WHERE eg.gram IS NOT NULL) shared
      |  FROM sg LEFT JOIN eg ON sg.gram = eg.gram GROUP BY 1),
      |s7 AS (
      |  SELECT s6.doc_id, s6.wave, s6.cleaned, s6.n_tok FROM s6 JOIN ov USING (doc_id)
      |  WHERE ov.shared * 2 < ov.own),
      |tf AS (
      |  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) tf FROM (
      |    SELECT doc_id, unnest(string_split_regex(lower(cleaned), '\\s+')) w
      |    FROM s7) GROUP BY doc_id, w),
      |qs AS (
      |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) nt, CAST(MAX(tf) AS BIGINT) mx
      |  FROM tf GROUP BY doc_id),
      |s8 AS (
      |  SELECT s7.doc_id, s7.wave, s7.n_tok FROM s7 JOIN qs USING (doc_id)
      |  WHERE NOT (qs.nt < 10) AND NOT (qs.mx * 5 > qs.nt)),
      |packed AS (
      |  SELECT wave, (poff.poff + cum - n_tok) // 512 pack_id, n_tok FROM (
      |    SELECT wave, n_tok, SUM(n_tok) OVER (ORDER BY wave, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum
      |    FROM s8), poff),
      |waves(w) AS (VALUES (0), (1), (2)),
      |f0 AS (SELECT wave, COUNT(*) c, SUM(n_tok0) t FROM c2 GROUP BY wave),
      |f1 AS (SELECT wave, COUNT(*) c, SUM(n_tok) t FROM c2 GROUP BY wave),
      |f2 AS (SELECT wave, COUNT(*) c, SUM(n_tok) t FROM s2 GROUP BY wave),
      |f3 AS (SELECT wave, COUNT(*) c, SUM(n_tok) t FROM s3 GROUP BY wave),
      |f4 AS (SELECT wave, COUNT(*) c, SUM(n_tok) t FROM s4 GROUP BY wave),
      |f5 AS (SELECT wave, COUNT(*) c, SUM(n_tok) t FROM s5 GROUP BY wave),
      |f6 AS (SELECT wave, COUNT(*) c, SUM(n_tok) t FROM s6 GROUP BY wave),
      |f7 AS (SELECT wave, COUNT(*) c, SUM(n_tok) t FROM s7 GROUP BY wave),
      |f8 AS (SELECT wave, COUNT(*) c, SUM(n_tok) t FROM s8 GROUP BY wave),
      |f9 AS (SELECT wave, COUNT(DISTINCT pack_id) c, SUM(n_tok) t FROM packed GROUP BY wave),
      |funnel AS (
      |  SELECT w.w wave, '0_arrivals' stage, CAST(COALESCE(c, 0) AS BIGINT) n_docs,
      |    CAST(COALESCE(t, 0) AS BIGINT) n_tokens FROM waves w LEFT JOIN f0 ON f0.wave = w.w
      |  UNION ALL SELECT w.w, '1_clean', CAST(COALESCE(c, 0) AS BIGINT),
      |    CAST(COALESCE(t, 0) AS BIGINT) FROM waves w LEFT JOIN f1 ON f1.wave = w.w
      |  UNION ALL SELECT w.w, '2_langid', CAST(COALESCE(c, 0) AS BIGINT),
      |    CAST(COALESCE(t, 0) AS BIGINT) FROM waves w LEFT JOIN f2 ON f2.wave = w.w
      |  UNION ALL SELECT w.w, '3_length', CAST(COALESCE(c, 0) AS BIGINT),
      |    CAST(COALESCE(t, 0) AS BIGINT) FROM waves w LEFT JOIN f3 ON f3.wave = w.w
      |  UNION ALL SELECT w.w, '4_dedup_batch', CAST(COALESCE(c, 0) AS BIGINT),
      |    CAST(COALESCE(t, 0) AS BIGINT) FROM waves w LEFT JOIN f4 ON f4.wave = w.w
      |  UNION ALL SELECT w.w, '5_dedup_store', CAST(COALESCE(c, 0) AS BIGINT),
      |    CAST(COALESCE(t, 0) AS BIGINT) FROM waves w LEFT JOIN f5 ON f5.wave = w.w
      |  UNION ALL SELECT w.w, '6_neardup_store', CAST(COALESCE(c, 0) AS BIGINT),
      |    CAST(COALESCE(t, 0) AS BIGINT) FROM waves w LEFT JOIN f6 ON f6.wave = w.w
      |  UNION ALL SELECT w.w, '7_decontam', CAST(COALESCE(c, 0) AS BIGINT),
      |    CAST(COALESCE(t, 0) AS BIGINT) FROM waves w LEFT JOIN f7 ON f7.wave = w.w
      |  UNION ALL SELECT w.w, '8_quality', CAST(COALESCE(c, 0) AS BIGINT),
      |    CAST(COALESCE(t, 0) AS BIGINT) FROM waves w LEFT JOIN f8 ON f8.wave = w.w
      |  UNION ALL SELECT w.w, '9_appended', CAST(COALESCE(c, 0) AS BIGINT),
      |    CAST(COALESCE(t, 0) AS BIGINT) FROM waves w LEFT JOIN f9 ON f9.wave = w.w)
      |SELECT CAST(wave AS INTEGER) wave, stage, n_docs, n_tokens
      |FROM funnel ORDER BY wave, stage""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("ep01_corpus_build",
      "EP1/EP3 composed pipeline: ingest→clean→dedup→near-dedup→decontam→quality→pack→shard",
      ep01CorpusBuild(_, _), Some(ep01Sql)),
    QueryDef("ep02_incremental_build",
      "incremental arrival-batch build: clean→batch dedup→corpus-fp dedup→stored-index near-dup probe→decontam→quality→append-pack",
      ep02IncrementalBuild(_, _), Some(ep02Sql)),
    QueryDef("st17_incremental_stream",
      "ep02 as a Structured Streaming file stream: per-wave funnel vs a growing store, replay-safe appends, pack numbering continuing across batches",
      st17IncrementalStream, Some(st17Sql)),
    QueryDef("ep03_shard_compaction",
      "shard-store compaction accounting: per-day fragmented packs/shards vs the global append-order repack, reclaimed slack exact",
      ep03ShardCompaction(_, _), Some(ep03Sql)))
}
