package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{QueryDef, Tables}

/** Text-analysis family for training-data pipelines over `documents`:
  * token counting, quality scoring, language ID, document fingerprinting.
  *
  * Design for 100 TB: every operator is a pure per-row projection (no
  * shuffle at all except the final presentation sort, which a real
  * pipeline would drop); all arithmetic is integer/rational so results
  * are bit-identical across engines and partitionings.
  */
object TextOps {

  /** Token counting: whitespace tokens and a BPE-ish regex segmentation
    * (letter runs | single digits | single punctuation) — the standard
    * pre-tokenizer shape for LLM corpus accounting.
    */
  def t01TokenStats(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_ws_tokens"),
        size(expr(raw"regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]', 0)"))
          .cast("long").as("n_bpe_tokens"),
        length(col("text")).cast("long").as("n_chars_measured"))
      .orderBy(col("doc_id"))
  }

  private val t01Sql =
    """SELECT doc_id,
      |  len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens,
      |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
      |  length(text) AS n_chars_measured
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Quality scoring: length/punctuation/stopword/alpha ratios blended
    * into one score. All ratios are int/int rationals → exact doubles.
    */
  def t02QualityScore(spark: SparkSession, dir: String): DataFrame = {
    val nWords = size(split(trim(col("text")), "\\s+")).cast("double")
    val nChars = length(col("text")).cast("double")
    val nPunct = (length(col("text")) -
      length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("double")
    val nAlpha = length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("double")
    val nStop = size(expr(
      "filter(split(trim(text), '\\\\s+'), w -> w IN ('the','a','an','and','or','of','to','in','is','it'))"))
      .cast("double")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        round(nPunct / nChars, 6).as("punct_ratio"),
        round(nAlpha / nChars, 6).as("alpha_ratio"),
        round(nStop / nWords, 6).as("stopword_ratio"),
        round(least(lit(1.0), nWords / lit(100.0)) * 0.4 +
              (lit(1.0) - nPunct / nChars) * 0.3 +
              (nAlpha / nChars) * 0.3, 6).as("quality_score"))
      .orderBy(col("doc_id"))
  }

  private val t02Sql =
    """SELECT doc_id,
      |  ROUND(np / nc, 6) AS punct_ratio,
      |  ROUND(na / nc, 6) AS alpha_ratio,
      |  ROUND(ns / nw, 6) AS stopword_ratio,
      |  ROUND(LEAST(1.0, nw / 100.0) * 0.4 + (1.0 - np / nc) * 0.3 + (na / nc) * 0.3, 6) AS quality_score
      |FROM (
      |  SELECT doc_id,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS nw,
      |    CAST(length(text) AS DOUBLE) AS nc,
      |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS np,
      |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS na,
      |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
      |         w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE) AS ns
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** Language ID: marker-word n-gram heuristic. Scores each language by
    * marker-token hits; argmax with a fixed priority tie-break; all-zero →
    * 'und'. Deterministic and shuffle-free.
    */
  def t03LangId(spark: SparkSession, dir: String): DataFrame = {
    def hits(words: Seq[String]): org.apache.spark.sql.Column = {
      val lst = words.map(w => s"'$w'").mkString(",")
      size(expr(s"filter(split(lower(trim(text)), '\\\\s+'), w -> w IN ($lst))"))
    }
    // materialize the four hit-counters ONCE, then pick argmax over the
    // plain integer columns (a Column tree referenced N times re-executes
    // its interpreted HOF filter N times — see t06's note)
    val feats = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        hits(Seq("the", "and", "of", "to", "in", "is")).as("en"),
        hits(Seq("el", "la", "de", "que", "y", "los")).as("es"),
        hits(Seq("le", "la", "de", "et", "les", "des")).as("fr"),
        hits(Seq("der", "die", "und", "das", "ist", "ein")).as("de"))
    val best = greatest(col("en"), col("es"), col("fr"), col("de"))
    feats.select(col("doc_id"), col("lang").as("labeled_lang"),
        when(best === 0, "und")
          .when(col("en") === best, "en").when(col("es") === best, "es")
          .when(col("fr") === best, "fr").otherwise("de").as("predicted_lang"),
        col("en").cast("long").as("en_hits"))
      .orderBy(col("doc_id"))
  }

  private val t03Sql =
    """SELECT doc_id, lang AS labeled_lang,
      |  CASE WHEN GREATEST(en, es, fr, de) = 0 THEN 'und'
      |       WHEN en = GREATEST(en, es, fr, de) THEN 'en'
      |       WHEN es = GREATEST(en, es, fr, de) THEN 'es'
      |       WHEN fr = GREATEST(en, es, fr, de) THEN 'fr'
      |       ELSE 'de' END AS predicted_lang,
      |  en AS en_hits
      |FROM (
      |  SELECT doc_id, lang,
      |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> w IN ('the','and','of','to','in','is'))) AS en,
      |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> w IN ('el','la','de','que','y','los'))) AS es,
      |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> w IN ('le','la','de','et','les','des'))) AS fr,
      |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> w IN ('der','die','und','das','ist','ein'))) AS de
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** Document fingerprinting: md5 content fingerprint of the normalized
    * text, a 60-bit integer fingerprint (first 15 hex digits), and a
    * 31-polynomial rolling hash mod 1e9+7 over the characters.
    */
  def t04Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val norm = lower(trim(regexp_replace(col("text"), "\\s+", " ")))
    Tables.documents(spark, dir)
      .withColumn("norm", norm)
      .select(col("doc_id"),
        md5(col("norm")).as("fp_md5"),
        expr("CAST(conv(substring(md5(norm), 1, 15), 16, 10) AS BIGINT)").as("fp60"),
        expr("aggregate(split(norm, ''), CAST(0 AS BIGINT), (acc, c) -> (acc * 31 + ascii(c)) % 1000000007)")
          .as("fp_rolling"))
      .orderBy(col("doc_id"))
  }

  private val t04Sql =
    """SELECT doc_id, md5(norm) AS fp_md5,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(range(1, 16),
      |      i -> CAST(strpos('0123456789abcdef', substr(md5(norm), CAST(i AS INTEGER), 1)) - 1 AS BIGINT))),
      |    (a, b) -> a * 16 + b) AS fp60,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(range(1, length(norm) + 1),
      |      i -> CAST(ascii(substr(norm, CAST(i AS INTEGER), 1)) AS BIGINT))),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS fp_rolling
      |FROM (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** JSON extraction over the events props column + aggregation — the
    * semi-structured column path (get_json_object → typed agg).
    */
  def t05JsonExtract(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n"),
           sum(col("k")).as("sum_k"),
           (sum(col("k")).cast("double") / count(col("k"))).as("avg_k"))
      .orderBy(col("event_type"))
  }

  private val t05Sql =
    """SELECT event_type, COUNT(k) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
      |  CAST(SUM(k) AS DOUBLE) / COUNT(k) AS avg_k
      |FROM (SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** t06 — the COMPOSED corpus-cleaning pipeline every pretraining-data
    * job runs end-to-end: language-ID → quality gate (q ≥ 0.8 keeps
    * ~40% of this corpus) → exact dedup on the normalized-text
    * fingerprint (keep lowest doc_id) → per-language corpus accounting.
    * The natural table has no exact dups, so the corpus is augmented
    * in-query with verbatim copies of the first 40 docs (doc_id+100000)
    * — identically on both engines — so the dedup stage provably
    * removes rows.
    *
    * Scale shape: one projection (no shuffle) → filter → ONE hash
    * shuffle on the 128-bit fingerprint (the window is per-fp, thousands
    * of tiny groups) → partial+final aggregate on the 5-value lang key.
    * Nothing in the plan is corpus-quadratic and no stage buffers more
    * than a fingerprint group.
    */
  def t06CorpusPipeline(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val planted = base.filter(col("doc_id") < 40)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val docs = base.unionByName(planted)
    val nChars = length(col("text")).cast("double")
    val nPunct = (length(col("text")) -
      length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("double")
    val nAlpha = length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("double")
    def hits(words: Seq[String]): org.apache.spark.sql.Column = {
      val lst = words.map(w => s"'$w'").mkString(",")
      size(expr(s"filter(split(lower(trim(text)), '\\\\s+'), w -> w IN ($lst))"))
    }
    // Two-stage projection ON PURPOSE: Column expressions are trees, so
    // every reference to `best` in the CASE below would re-expand all
    // four interpreted higher-order `filter(split(...))` hit-counters
    // (≈20 full-text regex splits per row in one mega-projection, which
    // also blows past codegen limits). Materialize each expensive
    // signal ONCE, then derive q/lang from plain integer columns —
    // measured 6.4 s → ~1 s at sf0.1.
    val feats = docs.select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_ws_tokens"),
      nChars.as("nc"), nPunct.as("np"), nAlpha.as("na"),
      hits(Seq("the", "and", "of", "to", "in", "is")).as("en"),
      hits(Seq("el", "la", "de", "que", "y", "los")).as("es"),
      hits(Seq("le", "la", "de", "et", "les", "des")).as("fr"),
      hits(Seq("der", "die", "und", "das", "ist", "ein")).as("de"),
      md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))).as("fp"))
    val best = greatest(col("en"), col("es"), col("fr"), col("de"))
    val scored = feats.select(col("doc_id"), col("n_ws_tokens"),
      round(least(lit(1.0), col("n_ws_tokens").cast("double") / lit(100.0)) * 0.4 +
            (lit(1.0) - col("np") / col("nc")) * 0.3 +
            (col("na") / col("nc")) * 0.3, 6).as("q"),
      when(best === 0, "und")
        .when(col("en") === best, "en").when(col("es") === best, "es")
        .when(col("fr") === best, "fr").otherwise("de").as("predicted_lang"),
      col("fp"))
    val kept = scored.filter(col("q") >= 0.8)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("doc_id"))
    val deduped = kept.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    deduped.groupBy(col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_ws_tokens")).as("total_tokens"),
           graft.util.Exact.exactAvg(col("q"), 6).as("avg_quality"))
      .orderBy(col("predicted_lang"))
  }

  private val t06Sql =
    """WITH docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 40),
      |scored AS (
      |  SELECT doc_id,
      |    len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens,
      |    ROUND(LEAST(1.0, CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) / 100.0) * 0.4
      |        + (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)) * 0.3
      |        + CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) * 0.3, 6) AS q,
      |    CASE WHEN GREATEST(en, es, fr, de) = 0 THEN 'und'
      |         WHEN en = GREATEST(en, es, fr, de) THEN 'en'
      |         WHEN es = GREATEST(en, es, fr, de) THEN 'es'
      |         WHEN fr = GREATEST(en, es, fr, de) THEN 'fr'
      |         ELSE 'de' END AS predicted_lang,
      |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      |  FROM (
      |    SELECT doc_id, text,
      |      len(list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> w IN ('the','and','of','to','in','is'))) AS en,
      |      len(list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> w IN ('el','la','de','que','y','los'))) AS es,
      |      len(list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> w IN ('le','la','de','et','les','des'))) AS fr,
      |      len(list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> w IN ('der','die','und','das','ist','ein'))) AS de
      |    FROM docs)),
      |dedup AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      |  FROM scored WHERE q >= 0.8)
      |SELECT predicted_lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_ws_tokens) AS BIGINT) AS total_tokens,
      |  CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / COUNT(q) AS avg_quality
      |FROM dedup WHERE rn = 1
      |GROUP BY predicted_lang
      |ORDER BY predicted_lang""".stripMargin

  /** t07 — repetition-based quality filters (the Gopher/C4 rule family):
    * fraction of tokens that are the single most-frequent word, fraction
    * of bigrams that are the most-frequent bigram, distinct-word ratio,
    * and symbols-per-word; `keep` applies the standard thresholds. All
    * per-row, no shuffle except the presentation sort.
    *
    * The max-multiplicity count is a RUN-LENGTH scan over the SORTED
    * token array — O(n log n) per document. The obvious
    * `distinct × filter` form is O(n²) in document length, which a real
    * corpus (10k+-token docs) cannot afford; measured 5.1 s → ~1 s on
    * the bench corpus.
    */
  private def maxMultiplicity(arr: String): String =
    s"""aggregate(array_sort($arr),
       |  named_struct('prev', CAST(NULL AS STRING), 'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)),
       |  (acc, x) -> named_struct(
       |    'prev', x,
       |    'run',  IF(acc.prev IS NOT NULL AND x = acc.prev, acc.run + 1, CAST(1 AS BIGINT)),
       |    'best', GREATEST(acc.best, IF(acc.prev IS NOT NULL AND x = acc.prev, acc.run + 1, CAST(1 AS BIGINT)))),
       |  acc -> acc.best)""".stripMargin

  def t07RepetitionFilters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("w", split(lower(trim(col("text"))), "\\s+"))
      // sequence(1, n-1) on n=1 would yield DESCENDING [1,0] — guard
      .withColumn("bg", expr(
        "CASE WHEN size(w) < 2 THEN CAST(array() AS ARRAY<STRING>) " +
        "ELSE transform(sequence(1, size(w) - 1), i -> concat(element_at(w, i), ' ', element_at(w, i + 1))) END"))
    docs.select(col("doc_id"),
        expr("size(w)").cast("long").as("n_words"),
        round(expr(s"CAST(${maxMultiplicity("w")} AS DOUBLE) / size(w)"), 6)
          .as("top_word_frac"),
        round(expr("CASE WHEN size(bg) = 0 THEN 0.0 " +
          s"ELSE CAST(${maxMultiplicity("bg")} AS DOUBLE) / size(bg) END"), 6)
          .as("top_bigram_frac"),
        round(expr("CAST(size(array_distinct(w)) AS DOUBLE) / size(w)"), 6)
          .as("distinct_word_frac"),
        round((length(col("text")) -
          length(regexp_replace(col("text"), "[^A-Za-z0-9\\s]", ""))).cast("double") /
          expr("size(w)"), 6).as("symbols_per_word"))
      .withColumn("keep",
        col("top_word_frac") <= 0.2 && col("top_bigram_frac") <= 0.18 &&
        col("distinct_word_frac") >= 0.1 && col("symbols_per_word") <= 1.0)
      .orderBy(col("doc_id"))
  }

  private val t07Sql =
    """WITH d AS (
      |  SELECT doc_id, text, string_split_regex(lower(trim(text)), '\s+') AS w
      |  FROM documents),
      |b AS (
      |  SELECT *, CASE WHEN len(w) < 2 THEN CAST([] AS VARCHAR[])
      |            ELSE list_transform(range(1, len(w)), i -> w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER) + 1]) END AS bg
      |  FROM d),
      |wm AS (
      |  SELECT doc_id, MAX(c) AS mw FROM (
      |    SELECT doc_id, x, COUNT(*) AS c
      |    FROM (SELECT doc_id, unnest(w) AS x FROM b) GROUP BY doc_id, x)
      |  GROUP BY doc_id),
      |bm AS (
      |  SELECT doc_id, MAX(c) AS mb FROM (
      |    SELECT doc_id, x, COUNT(*) AS c
      |    FROM (SELECT doc_id, unnest(bg) AS x FROM b) GROUP BY doc_id, x)
      |  GROUP BY doc_id),
      |m AS (
      |  SELECT b.doc_id, b.text, b.w, b.bg,
      |    ROUND(CAST(wm.mw AS DOUBLE) / len(b.w), 6) AS top_word_frac,
      |    ROUND(CASE WHEN len(b.bg) = 0 THEN 0.0
      |          ELSE CAST(COALESCE(bm.mb, 0) AS DOUBLE) / len(b.bg) END, 6) AS top_bigram_frac,
      |    ROUND(CAST(len(list_distinct(b.w)) AS DOUBLE) / len(b.w), 6) AS distinct_word_frac,
      |    ROUND(CAST(length(b.text) - length(regexp_replace(b.text, '[^A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / len(b.w), 6) AS symbols_per_word
      |  FROM b JOIN wm USING (doc_id) LEFT JOIN bm USING (doc_id))
      |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words, top_word_frac, top_bigram_frac,
      |  distinct_word_frac, symbols_per_word,
      |  (top_word_frac <= 0.2 AND top_bigram_frac <= 0.18
      |   AND distinct_word_frac >= 0.1 AND symbols_per_word <= 1.0) AS keep
      |FROM m
      |ORDER BY doc_id""".stripMargin

  /** t09 — URL parsing + per-domain accounting: the web-corpus curation
    * shape (domain blocklists / per-domain caps are standard pretraining
    * filters). The documents table carries `source`, not URLs, so a
    * deterministic URL is synthesized per doc — identically on both
    * engines — and then PARSED back with the same regexes a real crawl
    * table would need. Per-row projection + one aggregate on the domain
    * key.
    */
  def t09DomainStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).withColumn("url",
      concat(lit("https://"), col("source"), lit(".example.com/"),
             col("lang"), lit("/"), col("doc_id")))
    docs.select(col("doc_id"), col("n_chars"),
        regexp_extract(col("url"), "^[a-z]+://([^/]+)/", 1).as("domain"),
        regexp_extract(col("url"), "^[a-z]+://[^/]+(/.*)$", 1).as("path"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(expr("element_at(split(path, '/'), 2)")).as("n_langs"),
           sum(col("n_chars")).as("total_chars"))
      .orderBy(col("domain"))
  }

  private val t09Sql =
    """WITH u AS (
      |  SELECT doc_id, n_chars,
      |    'https://' || source || '.example.com/' || lang || '/' || doc_id AS url
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, n_chars,
      |    regexp_extract(url, '^[a-z]+://([^/]+)/', 1) AS domain,
      |    regexp_extract(url, '^[a-z]+://[^/]+(/.*)$', 1) AS path
      |  FROM u)
      |SELECT domain, COUNT(*) AS n_docs,
      |  COUNT(DISTINCT string_split(path, '/')[2]) AS n_langs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM p
      |GROUP BY domain
      |ORDER BY domain""".stripMargin

  /** Word 3-grams of the token array `w` as a string array — shared by
    * t10 (membership) and t44 (span geometry) so both decontamination
    * layers agree on gram identity to the byte.
    */
  private val grams3 = expr(
    "CASE WHEN size(w) < 3 THEN CAST(array() AS ARRAY<STRING>) " +
    "ELSE transform(sequence(1, size(w) - 2), i -> array_join(slice(w, i, 3), ' ')) END")

  /** t10 — benchmark decontamination: flag corpus documents sharing any
    * word 3-gram with a held-out eval set (docs with doc_id % 50 == 0).
    * To prove the operator catches verbatim leakage, the corpus is
    * augmented with copies of the eval texts (doc_id+200000) —
    * identically on both engines, like d04/t06.
    *
    * Scale shape: the eval side is SMALL by construction (eval suites
    * are thousands of docs, the corpus is billions), so its distinct
    * n-gram set is broadcast; the corpus side is one explode + one
    * broadcast hash join + one per-doc aggregate — no all-pairs stage
    * and no shuffle of the corpus text itself, only of (doc_id, gram)
    * hits, which contamination keeps sparse.
    */
  def t10Decontam(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // +200001, NOT +200000: the copies must not themselves be ≡ 0 mod 50
    // or the eval-set exclusion below would silently drop them
    val planted = base.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 200001).as("doc_id"), col("text"))
    val corpus = base.unionByName(planted)
    // split eval/corpus BEFORE exploding — the optimizer does not push
    // these filters below the Generate, and at corpus scale generating
    // grams only to discard them is the dominant cost
    def grams(df: DataFrame): DataFrame = df
      .withColumn("w", split(lower(trim(col("text"))), "\\s+"))
      .select(col("doc_id"), explode(grams3).as("gram"))
    val evalGrams = grams(corpus.filter(col("doc_id") % 50 === 0))
      .select(col("gram")).distinct()
    val hits = grams(corpus.filter(col("doc_id") % 50 =!= 0))
      .join(broadcast(evalGrams), "gram")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gram")).as("n_shared_3grams"))
    corpus.filter(col("doc_id") % 50 =!= 0).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared_3grams"), lit(0L)).as("n_shared_3grams"),
        (coalesce(col("n_shared_3grams"), lit(0L)) > 0).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  private val t10Sql =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 200001 AS doc_id, text FROM documents WHERE doc_id % 50 = 0),
      |toks AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM corpus),
      |g AS (
      |  SELECT doc_id, unnest(CASE WHEN len(w) < 3 THEN CAST([] AS VARCHAR[])
      |    ELSE list_transform(range(1, len(w) - 1),
      |      i -> array_to_string(w[CAST(i AS INTEGER):CAST(i AS INTEGER) + 2], ' ')) END) AS gram
      |  FROM toks),
      |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
      |hits AS (
      |  SELECT g.doc_id, COUNT(DISTINCT g.gram) AS n_shared_3grams
      |  FROM g JOIN ev USING (gram) WHERE g.doc_id % 50 <> 0
      |  GROUP BY g.doc_id)
      |SELECT c.doc_id, COALESCE(h.n_shared_3grams, 0) AS n_shared_3grams,
      |  COALESCE(h.n_shared_3grams, 0) > 0 AS contaminated
      |FROM corpus c LEFT JOIN hits h USING (doc_id)
      |WHERE c.doc_id % 50 <> 0
      |ORDER BY doc_id""".stripMargin

  /** t11 — PII detection + redaction. The synthetic corpus carries no
    * PII, so emails/phone numbers are planted deterministically on every
    * 7th document — identically on both engines — then detected and
    * redacted with the same regex family a real scrubber uses. Pure
    * per-row projection (no shuffle); the redacted text is emitted as an
    * md5 so the oracle compares full content without shipping strings.
    */
  def t11PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phonePat = "555-[0-9]{4}"
    // the SQL-literal path re-unescapes backslashes (\. would reach the
    // regex engine as a bare ., matching ANY char) — double them for the
    // expr() usages; the Column-API regexp_replace takes emailPat as-is
    val emailPatSql = emailPat.replace("\\", "\\\\")
    Tables.documents(spark, dir)
      .withColumn("aug",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com or call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" now")))
        .otherwise(col("text")))
      .select(col("doc_id"),
        size(expr(s"regexp_extract_all(aug, '$emailPatSql', 0)")).cast("long").as("n_emails"),
        size(expr(s"regexp_extract_all(aug, '$phonePat', 0)")).cast("long").as("n_phones"),
        md5(regexp_replace(regexp_replace(col("aug"), emailPat, "[EMAIL]"),
          phonePat, "[PHONE]")).as("redacted_fp"))
      .orderBy(col("doc_id"))
  }

  private val t11Sql =
    """WITH aug AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN
      |      text || ' contact user' || doc_id || '@mail.example.com or call 555-' ||
      |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now'
      |    ELSE text END AS t
      |  FROM documents)
      |SELECT doc_id,
      |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
      |  len(regexp_extract_all(t, '555-[0-9]{4}')) AS n_phones,
      |  md5(regexp_replace(regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      |      '555-[0-9]{4}', '[PHONE]', 'g')) AS redacted_fp
      |FROM aug
      |ORDER BY doc_id""".stripMargin

  /** t12 — TF-IDF salient terms per source: term frequency per (source,
    * term), document frequency per term over the whole corpus, idf =
    * ln(n_docs / df), top-3 terms per source by tf·idf. The classic
    * corpus-characterization / domain-drift query.
    *
    * Scale shape: explode → two partial+final hash aggregates (one on
    * (source, term), one on term) → the term-level df table is tiny
    * (vocabulary-sized) so it broadcasts into the join → per-source
    * top-k window over vocabulary-sized groups. The corpus itself is
    * never shuffled, only (term, count) pairs.
    */
  def t12Tfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
    // corpus size as a 1-row broadcast, NOT a driver-side count() — the
    // whole query must stay one lazy plan (a .count() here would be an
    // extra full scan of a 100 TB table before the real job even starts)
    val nDocs = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val tf = docs.groupBy(col("source"), col("term")).agg(count(lit(1)).as("tf"))
    val df = docs.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.join(broadcast(df), "term").crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("source"), col("rank").cast("long").as("rank"), col("term"),
        col("tf"), col("df"), col("tfidf"))
      .orderBy(col("source"), col("rank"))
  }

  private val t12Sql =
    """WITH x AS (
      |  SELECT doc_id, source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT source, term, COUNT(*) AS tf FROM x GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM x) GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |s AS (
      |  SELECT tf.source, tf.term, tf.tf, df.df,
      |    ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY tfidf DESC, term ASC) AS rank
      |  FROM s)
      |SELECT source, CAST(rank AS BIGINT) AS rank, term, tf, df, tfidf
      |FROM r WHERE rank <= 3
      |ORDER BY source, rank""".stripMargin

  /** t13 — Unicode NFC normalization + control-character strip, stage
    * zero of text curation: crawled corpora mix composed and decomposed
    * grapheme forms, which silently fragments exact dedup,
    * fingerprinting, and token counts. Spark has no NFC built-in — this
    * uses the engine's [[graft.functions.NfcNormalize]] native
    * expression (codegen'd; a Scala UDF here would break whole-stage
    * codegen on the pipeline's hottest projection). The synthetic corpus
    * is pure ASCII, so denormalized sequences (combining acute/ring/
    * diaeresis) and a control char are planted deterministically —
    * identically on both engines. Pure per-row projection, no shuffle.
    */
  def t13NfcNormalize(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .withColumn("aug",
        // explicit \u escapes: DECOMPOSED combining marks (U+0301 acute,
        // U+030A ring, U+0308 diaeresis) + a U+0007 control — composed
        // glyphs here would make NFC a no-op and invisibly so
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" cafe\u0301 test")))
        .when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" A\u030Angstro\u0308m"), lit("\u0007")))
        .otherwise(col("text")))
      .withColumn("norm",
        regexp_replace(expr("nfc_normalize(aug)"), "[\\x00-\\x1f]", ""))
      .select(col("doc_id"),
        (col("norm") =!= col("aug")).as("changed"),
        (length(col("aug")) - length(col("norm"))).cast("long").as("delta_chars"),
        md5(col("norm")).as("norm_fp"))
      .orderBy(col("doc_id"))
  }

  private val t13Sql =
    """WITH aug AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 0 THEN text || ' cafe' || chr(769) || ' test'
      |         WHEN doc_id % 7 = 0 THEN text || ' A' || chr(778) || 'ngstro' || chr(776) || 'm' || chr(7)
      |         ELSE text END AS t
      |  FROM documents),
      |n AS (
      |  SELECT doc_id, t,
      |    regexp_replace(nfc_normalize(t), '[\x00-\x1f]', '', 'g') AS norm
      |  FROM aug)
      |SELECT doc_id, norm <> t AS changed,
      |  length(t) - length(norm) AS delta_chars,
      |  md5(norm) AS norm_fp
      |FROM n
      |ORDER BY doc_id""".stripMargin

  /** t14 — unigram language-model surprisal scoring: train token counts
    * over the corpus, score each document by its mean negative
    * log-likelihood (= log-perplexity) under that model. The classic
    * cheap fluency/quality filter: word-salad and boilerplate documents
    * sit at the distribution's tails.
    *
    * Cross-engine exactness: each token's -ln p is quantized to integer
    * MICRO-NATS (`round(ln(T/c)*1e6)`) before the sum, so the aggregate
    * is exact int64 math and the hash-compared output can't drift with
    * summation order (NOTES float rule). The per-term rounding itself is
    * safe: the corpus's ln values sit >= 0.02 micro-nats from any
    * rounding boundary (checked at sf0.001/0.01/0.1) while cross-engine
    * libm ulp differences are ~1e-10 micro-nats.
    *
    * Scale shape: one shuffle to count the vocab, then a broadcast join
    * of the counts onto the token stream and one hash-agg by doc. The
    * broadcast hint assumes Heaps'-law vocab (~sqrt of corpus tokens);
    * for an open-vocab 100 TB corpus drop the hint and let it become a
    * shuffle hash join on term — the plan shape is otherwise unchanged.
    */
  def t14Surprisal(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
    val counts = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
    // corpus token total as a 1-row broadcast, not a driver count()
    val total = counts.agg(sum(col("c")).as("t"))
    toks.join(broadcast(counts), "term")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        expr("CAST(round(ln(CAST(t AS DOUBLE) / c) * 1000000) AS BIGINT)").as("nll_micro"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("nll_micro")).as("surprisal_micronats"))
      .withColumn("mean_nats",
        round(col("surprisal_micronats").cast("double") / col("n_tokens") / 1000000, 4))
      .orderBy(col("doc_id"))
  }

  private val t14Sql =
    """WITH x AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) term FROM documents),
      |c AS (SELECT term, COUNT(*) c FROM x GROUP BY 1),
      |t AS (SELECT CAST(SUM(c) AS BIGINT) t FROM c),
      |s AS (SELECT doc_id, CAST(round(ln(CAST(t.t AS DOUBLE) / c.c) * 1000000) AS BIGINT) nll_micro
      |      FROM x JOIN c USING (term) CROSS JOIN t)
      |SELECT doc_id, COUNT(*) AS n_tokens,
      |  CAST(SUM(nll_micro) AS BIGINT) AS surprisal_micronats,
      |  ROUND(CAST(SUM(nll_micro) AS DOUBLE) / COUNT(*) / 1000000, 4) AS mean_nats
      |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** t22 — interpolated bigram LM log-perplexity: train unigram + bigram
    * counts over the corpus, score every bigram position with
    * p = 3/4·p_bigram + 1/4·p_unigram (Jelinek–Mercer interpolation, λ
    * exactly representable in binary), and aggregate per document in
    * integer micro-nats — the t14 exactness convention, one model order
    * up. The fluency signal a unigram model can't give: word-salad
    * documents reuse frequent TOKENS but not frequent TRANSITIONS, so
    * they separate only at bigram order.
    *
    * Scale shape: bigram extraction is pure map-side (positions from
    * `sequence`, terms by `element_at` — no lambda in the hot path, no
    * per-doc shuffle); the bigram-count join keys on (w1, w2) as a
    * shuffle hash join (bigram vocab grows ~corpus-linearly, unlike the
    * Heaps'-law unigram vocab, so it must NOT broadcast); the two
    * unigram-count joins and the 1-row total broadcast. Docs shorter
    * than 2 tokens have no bigram positions and drop out (both engines).
    */
  def t22BigramLm(spark: SparkSession, dir: String): DataFrame = {
    val arr = Tables.documents(spark, dir)
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("a"))
    val bigrams = arr
      // sub-2-token docs must emit NO positions: sequence(2, 1) is the
      // DESCENDING [2, 1] (Spark steps -1 when start > stop), and its
      // element_at(a, 0) throws — whereas DuckDB's range(2, len+1) is
      // simply empty. Filter first so both engines agree.
      .filter(size(col("a")) >= 2)
      .select(col("doc_id"), col("a"),
        explode(expr("sequence(2, size(a))")).as("i"))
      .select(col("doc_id"),
        expr("element_at(a, i - 1)").as("w1"), expr("element_at(a, i)").as("w2"))
    val uni = arr.select(explode(col("a")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    val bi = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val total = uni.agg(sum(col("c")).as("t"))
    bigrams
      .join(bi, Seq("w1", "w2"))
      .join(broadcast(uni.select(col("term").as("w1"), col("c").as("c1"))), Seq("w1"))
      .join(broadcast(uni.select(col("term").as("w2"), col("c").as("c2"))), Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        expr("CAST(round(-ln(0.75 * CAST(c12 AS DOUBLE) / c1 + 0.25 * CAST(c2 AS DOUBLE) / t) * 1000000) AS BIGINT)")
          .as("nll_micro"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll_micro")).as("nll_micronats"))
      .withColumn("mean_nats",
        round(col("nll_micronats").cast("double") / col("n_bigrams") / 1000000, 4))
      .orderBy(col("doc_id"))
  }

  private val t22Sql =
    """WITH a AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') a FROM documents),
      |bg AS (SELECT doc_id, a[CAST(i - 1 AS INTEGER)] w1, a[CAST(i AS INTEGER)] w2
      |       FROM a, LATERAL unnest(range(2, len(a) + 1)) AS u(i)),
      |uni AS (SELECT unnest(a) term FROM a),
      |c AS (SELECT term, COUNT(*) c FROM uni GROUP BY 1),
      |bi AS (SELECT w1, w2, COUNT(*) c12 FROM bg GROUP BY 1, 2),
      |t AS (SELECT CAST(SUM(c) AS BIGINT) t FROM c),
      |s AS (
      |  SELECT bg.doc_id,
      |    CAST(round(-ln(0.75 * CAST(bi.c12 AS DOUBLE) / c1.c + 0.25 * CAST(c2.c AS DOUBLE) / t.t) * 1000000) AS BIGINT) nll_micro
      |  FROM bg JOIN bi USING (w1, w2)
      |          JOIN c c1 ON bg.w1 = c1.term
      |          JOIN c c2 ON bg.w2 = c2.term
      |          CROSS JOIN t)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM(nll_micro) AS BIGINT) AS nll_micronats,
      |  ROUND(CAST(SUM(nll_micro) AS DOUBLE) / COUNT(*) / 1000000, 4) AS mean_nats
      |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** t23 — duplicated-substring mass per document: every 8-token window
    * that occurs more than once in the corpus (cross-doc or self-repeat)
    * marks its token span as duplicated; overlapping/adjacent spans merge
    * (gaps-and-islands over span starts), and each document reports its
    * covered-token total and exact ppm fraction — the accounting behind
    * exact-substring deduplication (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better"): a suffix array finds the same
    * repeated spans; the fixed-width gram index is its dataflow-shaped
    * bound (a repeat of length ≥ 8 tokens is caught exactly; shorter
    * repeats are below the dedup threshold by construction).
    *
    * Scale shape: gram extraction is map-side (`sequence` positions +
    * `slice`, codegen-friendly); duplicate grams come from one count
    * shuffle keyed on the gram; span merging is one window per doc over
    * only the DUPLICATED positions (hit rows, not all positions). The
    * gram string itself is the key — no hash function has to agree
    * across engines.
    */
  def t23RepeatedSpans(spark: SparkSession, dir: String): DataFrame = {
    val arr = Tables.documents(spark, dir)
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("a"))
    val toks = arr.select(col("doc_id"), size(col("a")).cast(LongType).as("n_tokens"))
    val grams = arr.filter(size(col("a")) >= 8)
      .select(col("doc_id"), explode(expr("sequence(1, size(a) - 7)")).as("i"), col("a"))
      .select(col("doc_id"), col("i"), expr("concat_ws(' ', slice(a, i, 8))").as("gram"))
    val dup = grams.groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select(col("gram"))
    val hits = grams.join(dup, "gram")
      .select(col("doc_id"), col("i").as("s"), (col("i") + 7).as("e"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    val prevMax = max(col("e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val islands = hits
      .withColumn("brk", when(col("s") > coalesce(prevMax, lit(-1L)) + 1, 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg((max(col("e")) - min(col("s")) + 1).as("tok"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tok")).cast(LongType).as("dup_tokens"))
    toks.join(islands, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .withColumn("dup_ppm", expr("dup_tokens * 1000000 div n_tokens"))
      .orderBy(col("doc_id"))
  }

  private val t23Sql =
    """WITH a AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') a FROM documents),
      |n AS (SELECT doc_id, CAST(len(a) AS BIGINT) n_tokens FROM a),
      |g AS (SELECT doc_id, i, array_to_string(a[CAST(i AS INTEGER):CAST(i + 7 AS INTEGER)], ' ') gram
      |      FROM a, LATERAL unnest(range(1, len(a) - 6)) u(i) WHERE len(a) >= 8),
      |d AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) > 1),
      |h AS (SELECT g.doc_id, g.i s, g.i + 7 e FROM g JOIN d USING (gram)),
      |brks AS (
      |  SELECT doc_id, s, e,
      |    CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY s
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
      |         THEN 1 ELSE 0 END brk
      |  FROM h),
      |isl AS (SELECT doc_id, s, e,
      |          SUM(brk) OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) island
      |        FROM brks),
      |cov AS (SELECT doc_id, island, MAX(e) - MIN(s) + 1 tok FROM isl GROUP BY 1, 2),
      |dup AS (SELECT doc_id, CAST(SUM(tok) AS BIGINT) dup_tokens FROM cov GROUP BY 1)
      |SELECT n.doc_id, n.n_tokens, COALESCE(dup.dup_tokens, 0) AS dup_tokens,
      |  CAST(COALESCE(dup.dup_tokens, 0) * 1000000 // n.n_tokens AS BIGINT) AS dup_ppm
      |FROM n LEFT JOIN dup USING (doc_id) ORDER BY doc_id""".stripMargin

  /** t15 — one BPE (byte-pair-encoding) merge step, the inner loop of
    * tokenizer-vocabulary training: count word frequencies, weight every
    * adjacent character pair inside a word by that word's corpus
    * frequency, and emit the top merge candidates. Tokenizer training
    * over a 100 TB corpus is exactly this job iterated: the expensive
    * part (word counting) is one shuffle on a Heaps'-law-sized key space
    * and is REUSED across merge iterations; each iteration then runs
    * over the compact (word, freq) vocab table, never the raw corpus.
    *
    * All counts are exact integers; top-10 via sort+limit
    * (TakeOrdered), ties broken by pair text.
    */
  def t15BpeMergeStep(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    words.filter(length(col("word")) >= 2) // guard: sequence(1,0) is DESCENDING
      .select(col("word"), col("freq"),
        explode(expr("sequence(1, length(word) - 1)")).as("i"))
      .select(expr("substring(word, i, 2)").as("pair"), col("freq"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(10)
  }

  private val t15Sql =
    """WITH w AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) word FROM documents),
      |f AS (SELECT word, COUNT(*) freq FROM w GROUP BY 1),
      |i AS (SELECT word, freq, unnest(range(1, length(word))) i
      |      FROM f WHERE length(word) >= 2),
      |p AS (SELECT substr(word, CAST(i AS INTEGER), 2) pair, freq FROM i),
      |c AS (SELECT pair, CAST(SUM(freq) AS BIGINT) cnt FROM p GROUP BY 1)
      |SELECT pair, cnt FROM c
      |ORDER BY cnt DESC, pair ASC LIMIT 10""".stripMargin

  /** t24 — BPE tokenizer TRAINING, three full merge rounds: count
    * frequency-weighted adjacent symbol pairs over the vocabulary, pick
    * the top pair, apply the merge corpus-wide, recount — the actual
    * iterated inner loop of byte-pair-encoding vocabulary induction
    * (t15 is a single round in isolation). Emits the three learned merge
    * rules with their pre-merge pair counts.
    *
    * Greedy left-to-right merge application (the tokenizers-library
    * semantics: "aaaa" + rule a+a → [aa][aa], not [a][aa][a]) is
    * re-expressed relationally: conflicts exist only between ADJACENT
    * match positions, so within each island of consecutive matches
    * (gaps-and-islands on position) greedy keeps exactly the odd-indexed
    * members. No sequential scan survives into the plan.
    *
    * Scale shape: after the one corpus-sized word-count shuffle, every
    * round runs over the COMPACT (word, freq, symbols) vocabulary —
    * Heaps'-law-sized, not corpus-sized. The top pair is a 1-row
    * TakeOrdered broadcast back into the merge join (never a driver
    * constant); each round's vocabulary is localCheckpoint'ed so round
    * N+1's plan starts from materialized blocks instead of re-deriving
    * N rounds of lineage (the lineage tree triples per round otherwise;
    * blocks are RDD-level and GC-collectable, unlike CacheManager
    * entries).
    */
  def t24BpeTrain(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame =
    spark.read.parquet(s"${bpeArtifact(spark, dir, rounds)}/merges")
      .orderBy(col("merge_round"))

  /** Storage-backed memo of the trainer evolution: ONE training per
    * corpus per JVM, shared by its two consumers (t24 reads the merge
    * table, t26 replays it) — the d01/d10/d12 stored-index convention.
    * A trained tokenizer IS an offline artifact: at 100 TB nobody
    * retrains per query; jobs read the stored merge rules. Keyed on the
    * corpus (length, mtime) fingerprint ([[Tables.artifactKey]]) so an
    * in-place testdata regeneration invalidates the stored rules.
    */
  private val bpeCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def bpeArtifact(spark: SparkSession, dir: String, rounds: Int): String =
    bpeCache.computeIfAbsent(
      Tables.artifactKey(dir, "documents") + s"#r$rounds", _ => {
        val out = graft.util.Scratch.dir("graft_bpe_")
        val (merges, _) = bpeEvolve(spark, dir, rounds)
        merges.write.mode("overwrite").parquet(s"$out/merges")
        out
      })

  /** The shared trainer loop: returns (merge table, final vocab) so
    * training (t24) and corpus encoding with the trained tokenizer (t26)
    * run the identical evolution.
    */
  private def bpeEvolve(spark: SparkSession, dir: String,
                        rounds: Int): (DataFrame, DataFrame) = {
    val words = Tables.documents(spark, dir)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    var vocab = words
      .select(col("word"), col("freq"),
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))").as("syms"))
      .localCheckpoint(true)
    var merges: DataFrame = null
    for (r <- 1 to rounds) {
      val exploded = explodeSyms(vocab)
      val top = exploded.filter(col("nxt").isNotNull)
        .groupBy(col("sym").as("tp1"), col("nxt").as("tp2"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("tp1").asc, col("tp2").asc)
        .limit(1)
      vocab = greedyMergeApply(exploded, top).localCheckpoint(true)
      val row = top.select(lit(r).as("merge_round"), col("tp1").as("p1"),
        col("tp2").as("p2"), concat(col("tp1"), col("tp2")).as("merged"), col("cnt"))
      merges = if (merges == null) row else merges.unionByName(row)
    }
    (merges, vocab)
  }

  /** Adjacent-pair view of a (word, freq, syms) vocabulary: one row per
    * symbol position with its successor (null at the word's end).
    */
  private def explodeSyms(vocab: DataFrame): DataFrame = vocab
    .select(col("word"), col("freq"), explode(expr("sequence(1, size(syms))")).as("i"),
            col("syms"))
    .select(col("word"), col("freq"), col("i"),
      expr("element_at(syms, i)").as("sym"),
      // ANSI mode: element_at past the end THROWS; try_ returns null
      expr("try_element_at(syms, CAST(i + 1 AS INT))").as("nxt"))

  /** Apply ONE merge rule (a 1-row (tp1, tp2) frame, broadcast) to an
    * exploded vocabulary, greedy left-to-right: conflicts exist only
    * between ADJACENT match positions, so within each island of
    * consecutive matches (gaps-and-islands on position) greedy keeps
    * exactly the odd-indexed members. Shared by the trainer (rule = the
    * recounted top pair) and the encoder (rule = a stored merge row).
    */
  private def greedyMergeApply(exploded: DataFrame, rule: DataFrame): DataFrame = {
    val wPos = Window.partitionBy(col("word")).orderBy(col("i"))
    val kept = exploded.crossJoin(broadcast(rule.select(col("tp1"), col("tp2"))))
      .filter(col("sym") === col("tp1") && col("nxt") === col("tp2"))
      .withColumn("island", col("i") - row_number().over(wPos))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("word"), col("island")).orderBy(col("i"))))
      .filter(col("rn") % 2 === 1)
      .select(col("word"), col("i"))
    exploded
      .join(kept.select(col("word"), col("i"), lit(true).as("start")),
            Seq("word", "i"), "left")
      .join(kept.select(col("word"), (col("i") + 1).as("i"), lit(true).as("drop")),
            Seq("word", "i"), "left")
      .filter(col("drop").isNull)
      .select(col("word"), col("freq"), col("i"),
        when(col("start").isNotNull, concat(col("sym"), col("nxt")))
          .otherwise(col("sym")).as("sym"))
      .groupBy(col("word"), col("freq"))
      .agg(expr("transform(array_sort(collect_list(struct(i, sym))), x -> x.sym)").as("syms"))
  }

  /** Encode every distinct corpus word with an already-trained merge
    * table: start from characters and replay each rule in merge order
    * through the SAME greedy-islands machinery the trainer uses. The
    * encoder reads ONLY (merge_round, p1, p2) — no trainer vocabulary —
    * so the identical replay tokenizes text the trainer never saw.
    */
  private[graft] def bpeEncodeWords(spark: SparkSession, dir: String,
                                    merges: DataFrame, rounds: Int): DataFrame = {
    val m = merges // stored rules — already lineage-free parquet
    var enc = Tables.documents(spark, dir)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .distinct()
      .select(col("word"), lit(1L).as("freq"),
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))").as("syms"))
      .localCheckpoint(true)
    for (r <- 1 to rounds) {
      val rule = m.filter(col("merge_round") === r)
        .select(col("p1").as("tp1"), col("p2").as("tp2"))
      enc = greedyMergeApply(explodeSyms(enc), rule).localCheckpoint(true)
    }
    enc.select(col("word"), col("syms"))
  }

  /** t26 — encode the corpus with the TRAINED tokenizer: run t24's
    * three-round training, then replay the learned merge rules greedily
    * over every distinct word and join the encoded lengths back to the
    * document word stream — per-doc token accounting (words, tokens,
    * chars, integer tokens-per-character rate in ppm), the throughput
    * question every tokenizer change has to answer before a run.
    *
    * Scale shape: merge replay runs over the compact distinct-word
    * table (Heaps'-law-sized, like training rounds); the corpus pays
    * one word-explode + one join against that vocabulary and a per-doc
    * aggregate — no corpus-sized state in the replay loop.
    */
  def t26BpeEncode(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame = {
    val merges =
      spark.read.parquet(s"${bpeArtifact(spark, dir, rounds)}/merges")
    val enc = bpeEncodeWords(spark, dir, merges, rounds)
      .select(col("word"), size(col("syms")).cast(LongType).as("n_sym"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .join(enc, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
           sum(col("n_sym")).as("n_tokens"),
           sum(length(col("word"))).cast(LongType).as("n_chars"))
      .withColumn("tok_ppm", expr("n_tokens * 1000000 div n_chars"))
      .orderBy(col("doc_id"))
  }

  /** The unrolled-CTE SQL mirror of [[bpeEvolve]]: word counting, the
    * character-split v0, and `rounds` copies of the loop body (pair
    * explode → top pair → greedy islands → re-vocab), each CTE suffixed
    * by its round. Shared by the t24 (merge table) and t26 (encode)
    * oracles so both replay the identical evolution.
    */
  private def bpeCtesSql(rounds: Int): String = {
    // one round of CTEs, parameterized by the previous vocab CTE name —
    // the SQL mirror of the loop body above, unrolled
    def round(r: Int, prev: String): String =
      s"""e$r AS (
         |  SELECT word, freq, CAST(i AS BIGINT) i,
         |    syms[CAST(i AS INTEGER)] sym, syms[CAST(i + 1 AS INTEGER)] nxt
         |  FROM $prev, LATERAL unnest(range(1, len(syms) + 1)) u(i)),
         |tp$r AS (
         |  SELECT sym tp1, nxt tp2, CAST(SUM(freq) AS BIGINT) cnt
         |  FROM e$r WHERE nxt IS NOT NULL
         |  GROUP BY 1, 2 ORDER BY cnt DESC, tp1 ASC, tp2 ASC LIMIT 1),
         |k$r AS (
         |  SELECT word, i FROM (
         |    SELECT word, i, ROW_NUMBER() OVER (PARTITION BY word, island ORDER BY i) rn
         |    FROM (
         |      SELECT e.word, e.i, e.i - ROW_NUMBER() OVER (PARTITION BY e.word ORDER BY e.i) island
         |      FROM e$r e, tp$r t WHERE e.sym = t.tp1 AND e.nxt = t.tp2))
         |  WHERE rn % 2 = 1),
         |v$r AS (
         |  SELECT word, freq, list(sym ORDER BY i) syms FROM (
         |    SELECT e.word, e.freq, e.i,
         |      CASE WHEN k.word IS NOT NULL THEN e.sym || e.nxt ELSE e.sym END sym
         |    FROM e$r e
         |    LEFT JOIN k$r k ON e.word = k.word AND e.i = k.i
         |    LEFT JOIN k$r d ON e.word = d.word AND e.i = d.i + 1
         |    WHERE d.word IS NULL)
         |  GROUP BY 1, 2)""".stripMargin
    s"""w AS (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) word FROM documents),
       |f AS (SELECT word, COUNT(*) freq FROM w GROUP BY 1),
       |v0 AS (
       |  SELECT word, freq,
       |    list_transform(range(1, length(word) + 1),
       |                   i -> substr(word, CAST(i AS INTEGER), 1)) syms
       |  FROM f),
       |${(1 to rounds).map(r => round(r, s"v${r - 1}")).mkString(",\n")}""".stripMargin
  }

  private val t24Sql =
    s"""WITH ${bpeCtesSql(3)}
       |SELECT merge_round, tp1 AS p1, tp2 AS p2, tp1 || tp2 AS merged, cnt FROM (
       |  SELECT 1 merge_round, * FROM tp1
       |  UNION ALL SELECT 2, * FROM tp2
       |  UNION ALL SELECT 3, * FROM tp3)
       |ORDER BY merge_round""".stripMargin

  /** Oracle for t26: the training CTEs' final vocab v3 IS the greedy
    * rule replay applied to every distinct corpus word, so the encode
    * side only joins the document word stream against it.
    */
  private val t26Sql =
    s"""WITH ${bpeCtesSql(3)},
       |enc AS (SELECT word, CAST(len(syms) AS BIGINT) n_sym FROM v3),
       |dw AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) word
       |       FROM documents),
       |agg AS (
       |  SELECT doc_id, COUNT(*) n_words, CAST(SUM(e.n_sym) AS BIGINT) n_tokens,
       |    CAST(SUM(length(dw.word)) AS BIGINT) n_chars
       |  FROM dw JOIN enc e USING (word) GROUP BY 1)
       |SELECT doc_id, n_words, n_tokens, n_chars,
       |  n_tokens * 1000000 // n_chars AS tok_ppm
       |FROM agg ORDER BY doc_id""".stripMargin

  /** t40 — tokenizer FERTILITY by language: the tokenizer-health audit
    * a multilingual corpus needs before a run. Fertility differences
    * (tokens per word, chars per token) across languages are the
    * standard signal that a tokenizer under-serves a language; the
    * third metric — the ppm of words still FULLY character-split after
    * replaying every trained merge rule — is the coverage complement
    * (a language the merges never fire on pays max sequence length).
    * All three are exact integer ppm ratios; the encode side reuses the
    * stored t24 merge artifact through [[bpeEncodeWords]], so the
    * corpus pays one word-explode + one vocabulary join + one |langs|-
    * row aggregate — the replay loop itself runs over the Heaps'-law
    * distinct-word table, never the corpus.
    */
  def t40TokenizerFertility(spark: SparkSession, dir: String,
                            rounds: Int = 3): DataFrame = {
    val merges =
      spark.read.parquet(s"${bpeArtifact(spark, dir, rounds)}/merges")
    val enc = bpeEncodeWords(spark, dir, merges, rounds)
      .select(col("word"), size(col("syms")).cast(LongType).as("n_sym"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .join(enc, Seq("word"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
           count(lit(1)).as("n_words"),
           sum(col("n_sym")).as("n_tokens"),
           sum(length(col("word"))).cast(LongType).as("n_chars"),
           sum(when(col("n_sym") === length(col("word")), 1L).otherwise(0L))
             .as("n_unmerged"))
      .withColumn("tokens_per_word_ppm", expr("n_tokens * 1000000 div n_words"))
      .withColumn("chars_per_token_ppm", expr("n_chars * 1000000 div n_tokens"))
      .withColumn("unmerged_word_ppm", expr("n_unmerged * 1000000 div n_words"))
      .orderBy(col("lang"))
  }

  private val t40Sql =
    s"""WITH ${bpeCtesSql(3)},
       |enc AS (SELECT word, CAST(len(syms) AS BIGINT) n_sym FROM v3),
       |dw AS (SELECT doc_id, lang,
       |         unnest(string_split_regex(lower(trim(text)), '\\s+')) word
       |       FROM documents),
       |agg AS (
       |  SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) n_docs,
       |    COUNT(*) n_words, CAST(SUM(e.n_sym) AS BIGINT) n_tokens,
       |    CAST(SUM(length(dw.word)) AS BIGINT) n_chars,
       |    CAST(SUM(CASE WHEN e.n_sym = length(dw.word) THEN 1 ELSE 0 END) AS BIGINT)
       |      n_unmerged
       |  FROM dw JOIN enc e USING (word) GROUP BY 1)
       |SELECT lang, n_docs, n_words, n_tokens, n_chars, n_unmerged,
       |  n_tokens * 1000000 // n_words AS tokens_per_word_ppm,
       |  n_chars * 1000000 // n_tokens AS chars_per_token_ppm,
       |  n_unmerged * 1000000 // n_words AS unmerged_word_ppm
       |FROM agg ORDER BY lang""".stripMargin

  /** t25 — the end-to-end curation FUNNEL with per-stage accounting:
    * ingest → language gate → length gate → exact dedup → eval-set
    * decontamination → sequence packing, one row of (docs, tokens) per
    * stage. This is the report every training-data pipeline prints
    * before a run — where did the mass go, and how many packed
    * sequences come out the other end. Two planted batches make every
    * stage live: verbatim copies of docs < 40 (+100000 — die at dedup)
    * and copies of the EXTERNAL eval set (+200001, tagged en — die at
    * decontamination with overlap 1.0).
    *
    * Decontamination uses the exact integer rule 2·shared ≥ own (3-gram
    * overlap fraction ≥ ½) — no float compare crosses an engine
    * boundary. Packing counts distinct prefix-sum buckets (t08's
    * boundary rule), so an oversized doc that spans budgets does not
    * inflate the pack count. Every stage is one aggregate over the
    * previous stage's frame; the funnel unions six 1-row aggregates.
    */
  def t25CurationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"), col("lang"))
    val dupPlant = base.filter(col("doc_id") < 40)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"), col("lang"))
    val evalPlant = base.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 200001).as("doc_id"), col("text"), lit("en").as("lang"))
    // r15 (guide §2.4): ingest and s3 are CHECKPOINTED — the funnel
    // below unions six aggregates, and without a materialized copy each
    // branch re-ran the scan+union+tokenize subtree (and every branch at
    // or past dedup re-ran the fingerprint window): 6 duplicated
    // subtrees in one plan, 25 driver jobs. The two checkpoints are
    // lazy; stage branches and the gram explode read the materialized
    // frames. Same rows, same funnel (oracle-pinned).
    val ingest = base.filter(col("doc_id") % 50 =!= 0)
      .unionByName(dupPlant).unionByName(evalPlant)
      .withColumn("n_tok", size(split(lower(trim(col("text"))), "\\s+")).cast("long"))
      .localCheckpoint(false)
    val s1 = ingest.filter(col("lang") === "en")
    val s2 = s1.filter(col("n_tok") >= 50)
    val wFp = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    val s3 = s2
      .withColumn("fp", md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))))
      .withColumn("rn", row_number().over(wFp)).filter(col("rn") === 1)
      .select(col("doc_id"), col("text"), col("n_tok"))
      .localCheckpoint(false)
    val grams3 = expr(
      "transform(sequence(1, size(w) - 2), i -> array_join(slice(w, i, 3), ' '))")
    def grams(df: DataFrame): DataFrame = df
      .withColumn("w", split(lower(trim(col("text"))), "\\s+"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(grams3).as("gram"))
    val evalGrams = grams(base.filter(col("doc_id") % 50 === 0))
      .select(col("gram")).distinct().withColumn("hit", lit(true))
    val overlap = grams(s3)
      .join(broadcast(evalGrams), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gram")).as("own"),
           countDistinct(when(col("hit"), col("gram"))).as("shared"))
    val s4 = s3.join(overlap, Seq("doc_id"))
      .filter(col("shared") * 2 < col("own"))
      .select(col("doc_id"), col("n_tok"))
    val packed = ScaleOps.prefixSum(s4, Seq("doc_id"), "n_tok", "cum")
      .select(expr("(cum - n_tok) div 512").as("pack_id"), col("n_tok"))
    def stage(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
             coalesce(sum(col("n_tok")), lit(0L)).cast(LongType).as("n_tokens"))
        .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))
    stage("0_ingest", ingest)
      .unionByName(stage("1_langid", s1))
      .unionByName(stage("2_length", s2))
      .unionByName(stage("3_dedup", s3))
      .unionByName(stage("4_decontam", s4))
      .unionByName(packed.agg(countDistinct(col("pack_id")).as("n_docs"),
          coalesce(sum(col("n_tok")), lit(0L)).cast(LongType).as("n_tokens"))
        .select(lit("5_packed").as("stage"), col("n_docs"), col("n_tokens")))
      .orderBy(col("stage"))
  }

  private val t25Sql =
    """WITH base AS (SELECT doc_id, text, lang FROM documents),
      |ingest AS (
      |  SELECT doc_id, text, lang,
      |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) n_tok
      |  FROM (
      |    SELECT doc_id, text, lang FROM base WHERE doc_id % 50 <> 0
      |    UNION ALL
      |    SELECT doc_id + 100000, text, lang FROM base WHERE doc_id < 40
      |    UNION ALL
      |    SELECT doc_id + 200001, text, 'en' FROM base WHERE doc_id % 50 = 0)),
      |s1 AS (SELECT * FROM ingest WHERE lang = 'en'),
      |s2 AS (SELECT * FROM s1 WHERE n_tok >= 50),
      |s3 AS (
      |  SELECT doc_id, text, n_tok FROM (
      |    SELECT *, ROW_NUMBER() OVER (
      |      PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
      |      ORDER BY doc_id) rn
      |    FROM s2) WHERE rn = 1),
      |eg AS (
      |  SELECT DISTINCT array_to_string(w[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' ') gram
      |  FROM (SELECT string_split_regex(lower(trim(text)), '\s+') w
      |        FROM base WHERE doc_id % 50 = 0),
      |    LATERAL unnest(range(1, len(w) - 1)) u(i) WHERE len(w) >= 3),
      |sg AS (
      |  SELECT doc_id, array_to_string(w[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' ') gram
      |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') w FROM s3),
      |    LATERAL unnest(range(1, len(w) - 1)) u(i) WHERE len(w) >= 3),
      |ov AS (
      |  SELECT sg.doc_id, COUNT(DISTINCT sg.gram) own,
      |    COUNT(DISTINCT sg.gram) FILTER (WHERE eg.gram IS NOT NULL) shared
      |  FROM sg LEFT JOIN eg ON sg.gram = eg.gram GROUP BY 1),
      |s4 AS (
      |  SELECT s3.doc_id, s3.n_tok FROM s3 JOIN ov USING (doc_id)
      |  WHERE ov.shared * 2 < ov.own),
      |packed AS (
      |  SELECT (cum - n_tok) // 512 pack_id, n_tok FROM (
      |    SELECT n_tok, SUM(n_tok) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum
      |    FROM s4)),
      |funnel AS (
      |  SELECT '0_ingest' stage, COUNT(*) n_docs,
      |    CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) n_tokens FROM ingest
      |  UNION ALL SELECT '1_langid', COUNT(*), CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s1
      |  UNION ALL SELECT '2_length', COUNT(*), CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s2
      |  UNION ALL SELECT '3_dedup', COUNT(*), CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s3
      |  UNION ALL SELECT '4_decontam', COUNT(*), CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s4
      |  UNION ALL SELECT '5_packed', COUNT(DISTINCT pack_id),
      |    CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM packed)
      |SELECT stage, n_docs, n_tokens FROM funnel ORDER BY stage""".stripMargin

  /** t16 — line-level duplication profile (the CCNet/RefinedWeb
    * boilerplate signal): split documents into sentence-ish lines,
    * fingerprint each line, count how many DISTINCT documents share it,
    * and report per document how much of it is corpus-common material.
    * Docs with a high common-line fraction are navigation chrome,
    * cookie banners, templates — removed line-wise in production; the
    * profile here is the decision input.
    *
    * Shape: one explode + one (fingerprint)-keyed partial/final distinct
    * count + one broadcast-back join + one doc-keyed aggregate. The
    * line-count table is Heaps'-bounded like a vocab; at open-web scale
    * drop the broadcast hint and the join shuffles on fingerprint.
    */
  def t16LineDedup(spark: SparkSession, dir: String): DataFrame = {
    val lines = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), "\\. ")).as("line"))
      .filter(length(trim(col("line"))) > 0)
      .select(col("doc_id"), md5(trim(col("line"))).as("fp"))
    val byLine = lines.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
    lines.join(broadcast(byLine), "fp")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        count(when(col("ndocs") >= 2, 1)).as("n_common"))
      .withColumn("common_frac",
        round(col("n_common").cast("double") / col("n_lines"), 4))
      .orderBy(col("doc_id"))
  }

  private val t16Sql =
    """WITH l AS (
      |  SELECT doc_id, md5(trim(line)) fp
      |  FROM (SELECT doc_id, unnest(string_split_regex(text, '\. ')) line FROM documents)
      |  WHERE length(trim(line)) > 0),
      |c AS (SELECT fp, COUNT(DISTINCT doc_id) ndocs FROM l GROUP BY 1)
      |SELECT doc_id, COUNT(*) AS n_lines,
      |  CAST(COUNT(CASE WHEN ndocs >= 2 THEN 1 END) AS BIGINT) AS n_common,
      |  ROUND(CAST(COUNT(CASE WHEN ndocs >= 2 THEN 1 END) AS DOUBLE) / COUNT(*), 4) AS common_frac
      |FROM l JOIN c USING (fp)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** f09 — URL canonicalization: the normalization pass every crawl
    * dedup keys on BEFORE any content dedup (d05's url_key assumes it):
    * lowercase scheme+host, drop the default port, strip fragments and
    * utm_* tracking params. Dirty URLs are synthesized in-query from
    * stable columns (t09's convention) so both engines see byte-equal
    * inputs; every rule is a plain regexp_replace chain — codegen'd,
    * no UDF.
    */
  def f09UrlCanonicalize(spark: SparkSession, dir: String): DataFrame = {
    val dirty = concat(
      lit("HTTPS://"),
      when(col("doc_id") % 2 === 0, lit("WWW.")).otherwise(lit("www.")),
      col("source"), lit(".Example.COM:443/"), col("lang"), lit("/"), col("doc_id"),
      when(col("doc_id") % 3 === 0,
        concat(lit("?utm_source=feed&id="), col("doc_id")))
        .otherwise(concat(lit("?id="), col("doc_id"))),
      when(col("doc_id") % 5 === 0, lit("#frag")).otherwise(lit("")))
    Tables.documents(spark, dir)
      .select(col("doc_id"), dirty.as("url"))
      .withColumn("c1", regexp_replace(col("url"), "#.*$", ""))
      .withColumn("c2", concat(
        lower(regexp_extract(col("c1"), "^([^/]*//[^/]+)", 1)),
        regexp_extract(col("c1"), "^[^/]*//[^/]+(.*)$", 1)))
      .withColumn("c3", regexp_replace(col("c2"), ":443/", "/"))
      // two rules: mid-position utm params (global) and a trailing utm
      // param with no following '&' — one rule alone misses the other
      .withColumn("c4", regexp_replace(col("c3"), "utm_[^&#]*&", ""))
      .withColumn("canon", regexp_replace(col("c4"), "[?&]utm_[^&#]*$", ""))
      .select(col("doc_id"), col("url"), col("canon"),
        (col("canon") =!= col("url")).as("changed"))
      .orderBy(col("doc_id"))
  }

  private val f09Sql =
    """WITH d AS (
      |  SELECT doc_id,
      |    'HTTPS://' || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE 'www.' END
      |      || source || '.Example.COM:443/' || lang || '/' || doc_id
      |      || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&id=' || doc_id
      |              ELSE '?id=' || doc_id END
      |      || CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END AS url
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, url, regexp_replace(url, '#.*$', '') c1 FROM d),
      |h AS (
      |  SELECT doc_id, url,
      |    lower(regexp_extract(c1, '^([^/]*//[^/]+)', 1))
      |      || regexp_extract(c1, '^[^/]*//[^/]+(.*)$', 1) c2
      |  FROM s),
      |p AS (SELECT doc_id, url, regexp_replace(c2, ':443/', '/') c3 FROM h),
      |q AS (SELECT doc_id, url,
      |        regexp_replace(regexp_replace(c3, 'utm_[^&#]*&', '', 'g'),
      |          '[?&]utm_[^&#]*$', '') AS canon
      |      FROM p)
      |SELECT doc_id, url, canon, canon <> url AS changed
      |FROM q ORDER BY doc_id""".stripMargin

  /** t17 — corpus-wide word-bigram top-20 by frequency: the counting
    * primitive behind n-gram language models, contamination screens
    * (t10 uses 3-gram shingles the same way) and collocation mining.
    * Bigrams are materialized per row with `transform(sequence(...))`
    * over the token array (`element_at` is 1-based on both engines'
    * surface here) and exploded straight into a partial+final hash
    * count — the explode never crosses a shuffle un-aggregated, so the
    * shuffled payload is one row per DISTINCT bigram per partition, not
    * per occurrence. The top-20 is a TakeOrdered (count desc, bigram
    * asc — deterministic tie-break), no global sort. At 100 TB this is
    * the exact shape you want: vocabulary-bounded shuffle, no skew
    * (bigram keys are near-uniform after partial agg), linear scan.
    */
  def t17NgramTopK(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(split(lower(trim(col("text"))), "\\s+").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ws) - 1), i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"))
        .as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram").asc)
      .limit(20)
  }

  private val t17Sql =
    """WITH d AS (
      |  SELECT string_split_regex(lower(trim(text)), '\s+') ws FROM documents),
      |b AS (
      |  SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
      |           i -> ws[i] || ' ' || ws[i + 1])) AS bigram
      |  FROM d WHERE len(ws) >= 2)
      |SELECT bigram, COUNT(*) AS cnt
      |FROM b GROUP BY bigram
      |ORDER BY cnt DESC, bigram ASC
      |LIMIT 20""".stripMargin

  /** t18 — overlapping token-window chunking: every document becomes
    * ceil((n-W)/S)+1 chunks of W=64 whitespace tokens at stride S=48
    * (16-token overlap) — the standard context-window packing/RAG
    * preprocessing step. Chunk text crosses the oracle boundary as md5
    * so the comparator never ships megabytes of text.
    *
    * Scale shape: pure per-row explode (1→k rows, k ≈ n/S) — no shuffle
    * at all except the presentation sort; at 100 TB this runs entirely
    * map-side. The chunk-count arithmetic is integer (ceil division via
    * (n-W+S-1) div S), so row counts are engine-exact.
    */
  def t18Chunking(spark: SparkSession, dir: String): DataFrame = {
    val W = 64
    val S = 48
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      .withColumn("n", size(col("toks")))
      // last chunk index: 0 when the doc fits one window, else exact
      // integer ceil((n-W)/S). S < W guarantees last*S < n (no empty chunk)
      .withColumn("last",
        when(col("n") > W, expr(s"(n - $W + ${S - 1}) div $S")).otherwise(lit(0)))
      .withColumn("chunk_idx", explode(sequence(lit(0), col("last"))))
      .select(col("doc_id"), col("chunk_idx").cast("int").as("chunk_idx"),
        expr(s"slice(toks, chunk_idx * $S + 1, $W)").as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).cast("long").as("n_tokens"),
        md5(array_join(col("chunk"), " ")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  private val t18Sql =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks,
      |         len(string_split_regex(trim(text), '\s+')) AS n
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, toks,
      |    unnest(generate_series(0,
      |      CASE WHEN n > 64 THEN (n - 64 + 47) // 48 ELSE 0 END)) AS chunk_idx
      |  FROM d)
      |SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
      |  CAST(len(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64]) AS BIGINT) AS n_tokens,
      |  md5(array_to_string(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ')) AS chunk_md5
      |FROM c
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** t19 — n-gram novelty of an incoming batch against the standing
    * corpus: docs with doc_id ≡ 0 (mod 10) are "the new batch", the rest
    * are the corpus; each batch document reports how many of its word
    * 3-gram instances are unseen in the corpus. The freshness /
    * information-gain signal used to prioritize crawl batches.
    *
    * Scale shape: corpus grams distinct-aggregate once, then ONE shuffle
    * join gram-to-gram (the same asymmetric batch-vs-corpus shape as
    * d08); everything after is a per-doc aggregate. At 100 TB the join
    * key would be xxhash64(gram) rather than the string — kept as the
    * string here so the oracle can join on identical values.
    */
  def t19NgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 2), i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1), element_at(t, i + 2)))"))
        .as("gram"))
    val corpusGrams = grams.filter(col("doc_id") % 10 =!= 0)
      .select(col("gram").as("cg")).distinct()
    val stats = grams.filter(col("doc_id") % 10 === 0)
      .join(corpusGrams, col("gram") === col("cg"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
           count(when(col("cg").isNull, 1)).as("n_novel"))
    Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        coalesce(expr("n_novel * 1000000 div n_grams"), lit(0L)).as("novelty_ppm"))
      .orderBy(col("doc_id"))
  }

  private val t19Sql =
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
      |g AS (
      |  SELECT doc_id, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS gram
      |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
      |        FROM tok WHERE len(t) >= 3)),
      |corpus AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 <> 0),
      |stats AS (
      |  SELECT b.doc_id, COUNT(*) AS n_grams,
      |    CAST(SUM(CASE WHEN corpus.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
      |  FROM g b LEFT JOIN corpus ON b.gram = corpus.gram
      |  WHERE b.doc_id % 10 = 0
      |  GROUP BY b.doc_id)
      |SELECT d.doc_id,
      |  COALESCE(s.n_grams, 0) AS n_grams,
      |  COALESCE(s.n_novel, 0) AS n_novel,
      |  COALESCE(CAST(s.n_novel * 1000000 // s.n_grams AS BIGINT), 0) AS novelty_ppm
      |FROM documents d LEFT JOIN stats s ON d.doc_id = s.doc_id
      |WHERE d.doc_id % 10 = 0
      |ORDER BY d.doc_id""".stripMargin

  /** t20 — per-source vocabulary statistics: token count, type count
    * (distinct words), hapax legomena (words seen once in the source),
    * and the type-token ratio in exact ppm. The Zipf-profile summary a
    * corpus audit reports per provenance bucket — low TTR or a thin
    * hapax tail flags template/boilerplate sources that repetition
    * filters (t07, t16) should then inspect.
    *
    * Scale shape: one (source, word) hash aggregate — vocabulary-
    * bounded like t17, with map-side partial counts absorbing the
    * per-document explosion — then a 20-row rollup. No distinct over
    * raw tokens, no per-document state.
    */
  def t20VocabStats(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("source"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
           count(lit(1)).as("n_types"),
           count(when(col("c") === 1, 1)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        expr("n_types * 1000000 div n_tokens").as("ttr_ppm"),
        expr("n_hapax * 1000000 div n_types").as("hapax_ppm"))
      .orderBy(col("source"))
  }

  private val t20Sql =
    """WITH wc AS (
      |  SELECT source, w, COUNT(*) AS c
      |  FROM (SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      |        FROM documents)
      |  GROUP BY source, w),
      |agg AS (
      |  SELECT source,
      |    CAST(SUM(c) AS BIGINT) AS n_tokens,
      |    COUNT(*) AS n_types,
      |    CAST(COUNT(CASE WHEN c = 1 THEN 1 END) AS BIGINT) AS n_hapax
      |  FROM wc GROUP BY source)
      |SELECT source, n_tokens, n_types, n_hapax,
      |  CAST(n_types * 1000000 // n_tokens AS BIGINT) AS ttr_ppm,
      |  CAST(n_hapax * 1000000 // n_types AS BIGINT) AS hapax_ppm
      |FROM agg
      |ORDER BY source""".stripMargin

  /** t21 — asymmetric CONTAINMENT detection: |A∩B| / |A| ≥ 0.9 over
    * word-bigram sets. Quote/excerpt/subset relationships — a short doc
    * embedded verbatim in a long one — have LOW Jaccard (the union is
    * dominated by the container), so the d01/d03 near-dup family
    * structurally misses them; containment is the right metric and
    * needs its own candidate generation. The corpus has no natural
    * quotes, so it is augmented in-query (the d04 convention) with the
    * first-30-word excerpt of every 10th document at id+300000 —
    * identically on both engines.
    *
    * Scale shape: an inverted gram index with a document-frequency cap
    * (df ≤ 50) generates candidates — a contained doc shares ALL its
    * grams with its container, so any of its rare grams suffices to
    * surface the pair; the exact |A∩B| count then comes from joining
    * the candidate list through A's postings against B's postings
    * (bounded: candidates × |A|, never df² on frequent grams).
    *
    * RECALL CONTRACT — approximate by construction, exact in value: a
    * pair whose EVERY shared gram is more frequent than the cap escapes
    * candidate generation (same architecture note as d04); every
    * emitted containment is exact integer arithmetic.
    */
  def t21Containment(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val quotes = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 300000).as("doc_id"),
        expr("array_join(slice(split(trim(text), '\\\\s+'), 1, 30), ' ')").as("text"))
    val corpus = base.unionByName(quotes)
    val postings = corpus
      .withColumn("ws", split(trim(col("text")), "\\s+"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, size(ws) - 1), i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1))))"))
        .as("g"))
    val sizes = postings.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val rare = postings.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 50).select(col("g"))
    val rarePost = postings.join(rare, "g")
    val candidates = rarePost.select(col("g"), col("doc_id").as("ida"))
      .join(rarePost.select(col("g"), col("doc_id").as("idb")), "g")
      .filter(col("ida") =!= col("idb"))
      .select(col("ida"), col("idb")).distinct()
    val shared = candidates
      .join(postings.select(col("doc_id").as("ida"), col("g")), "ida")
      .join(postings.select(col("doc_id").as("idb"), col("g")), Seq("idb", "g"))
      .groupBy(col("ida"), col("idb")).agg(count(lit(1)).as("n_shared"))
    shared.join(sizes.select(col("doc_id").as("ida"), col("n_grams")), "ida")
      .filter(col("n_shared") * 10 >= col("n_grams") * 9) // |A∩B|/|A| >= 0.9, integer form
      .select(col("ida").as("contained_id"), col("idb").as("container_id"),
        col("n_shared"), col("n_grams"),
        round(col("n_shared") / col("n_grams"), 6).as("containment"))
      .orderBy(col("contained_id"), col("container_id"))
  }

  private val t21Sql =
    """WITH base AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 300000,
      |    array_to_string(string_split_regex(trim(text), '\s+')[1:30], ' ')
      |  FROM documents WHERE doc_id % 10 = 0),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(ws)),
      |           i -> ws[CAST(i AS INTEGER)] || ' ' || ws[CAST(i AS INTEGER) + 1])) g
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM base)
      |  WHERE len(ws) >= 2),
      |p AS (
      |  SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
      |    CAST(len(list_intersect(a.g, b.g)) AS BIGINT) AS n_shared,
      |    CAST(len(a.g) AS BIGINT) AS n_grams
      |  FROM sh a, sh b WHERE a.doc_id <> b.doc_id)
      |SELECT contained_id, container_id, n_shared, n_grams,
      |  ROUND(CAST(n_shared AS DOUBLE) / n_grams, 6) AS containment
      |FROM p
      |WHERE n_shared * 10 >= n_grams * 9
      |ORDER BY contained_id, container_id""".stripMargin

  /** t27 — Good-Turing frequency spectrum per language: for each corpus
    * frequency r ≤ 10, the number of word-BIGRAM types seen exactly r
    * times (N_r), plus the Good-Turing adjusted count
    * r* = (r+1)·N_{r+1}/N_r in exact integer ppm. The count-of-counts
    * table is what unseen-mass estimation (N_1/N — how much of the
    * language the corpus has NOT seen yet) and LM smoothing read; for a
    * curation pipeline it is the per-language saturation gauge: a fat
    * hapax band means more data still buys coverage, a thin one means
    * the crawl is repeating itself. The unit is the bigram because this
    * corpus's unigram vocabulary is tiny and fully saturated (31 types,
    * min freq > 1 everywhere) — itself the signal the gauge exists to
    * read; the bigram tail is where the mass estimation has work to do.
    *
    * Scale shape: one corpus-sized bigram-count shuffle, then
    * everything runs over the vocabulary; the spectrum itself is ≤ 10
    * rows per language. N_{r+1} arrives by a self-join on r+1 (NOT
    * lead(): frequencies can skip values, and a missing N_{r+1} must
    * read 0-mass → −1 sentinel, not the next populated row).
    */
  def t27FreqSpectrum(spark: SparkSession, dir: String): DataFrame = {
    val freq = Tables.documents(spark, dir)
      .select(col("lang"), split(lower(trim(col("text"))), "\\s+").as("a"))
      .filter(size(col("a")) >= 2)
      .select(col("lang"), explode(expr("sequence(1, size(a) - 1)")).as("i"), col("a"))
      .select(col("lang"), concat(expr("element_at(a, i)"), lit(" "),
        expr("element_at(a, CAST(i + 1 AS INT))")).as("g"))
      .groupBy(col("lang"), col("g")).agg(count(lit(1)).as("r"))
    val spectrum = freq.groupBy(col("lang"), col("r"))
      .agg(count(lit(1)).as("n_types"))
    val next = spectrum.select(col("lang"), (col("r") - 1).as("r"),
      col("n_types").as("n_next"))
    spectrum.join(next, Seq("lang", "r"), "left")
      .filter(col("r") <= 10)
      .select(col("lang"), col("r").as("freq"), col("n_types"),
        coalesce(expr("(1000000 * (r + 1) * n_next) div n_types"), lit(-1L))
          .as("r_star_ppm"))
      .orderBy(col("lang"), col("freq"))
  }

  private val t27Sql =
    """WITH t AS (
      |  SELECT lang, string_split_regex(lower(trim(text)), '\s+') a
      |  FROM documents),
      |w AS (
      |  SELECT lang, a[CAST(i AS INTEGER)] || ' ' || a[CAST(i AS INTEGER) + 1] w
      |  FROM t, LATERAL unnest(range(1, len(a))) AS u(i)),
      |f AS (SELECT lang, w, COUNT(*) r FROM w GROUP BY 1, 2),
      |s AS (SELECT lang, r, COUNT(*) n_types FROM f GROUP BY 1, 2)
      |SELECT s.lang, s.r AS freq, s.n_types,
      |  COALESCE((1000000 * (s.r + 1) * nx.n_types) // s.n_types,
      |           CAST(-1 AS BIGINT)) AS r_star_ppm
      |FROM s LEFT JOIN s nx ON s.lang = nx.lang AND nx.r = s.r + 1
      |WHERE s.r <= 10
      |ORDER BY s.lang, freq""".stripMargin

  /** t28 — RAKE keyword extraction over the whole corpus: token runs
    * between stopwords ('a', 'the' — the corpus's function words)
    * become candidate phrases via gaps-and-islands segmentation, each
    * word w is scored by deg(w)/freq(w) (deg = summed length of every
    * phrase containing an occurrence of w — the co-occurrence degree;
    * freq = plain occurrence count), and a phrase scores the sum of its
    * words' ratios in integer ppm (floor div — both engines truncate
    * identically on the non-negative operands). Top-20 by score with
    * the phrase string as tiebreak.
    *
    * Scale shape: segmentation is one window over (doc, pos) — document
    * partitioned, no cross-doc traffic; word stats are a vocabulary-
    * sized aggregate (Heaps-law bounded, like t24's trainer state);
    * phrase scoring joins the DISTINCT phrase table (not the corpus)
    * against word stats on the word key. Headroom: deg·10⁶ needs
    * deg < 9·10¹² — past ~10¹² occurrences of one word, flip the score
    * to deg div greatest(freq div 10⁶, 1) (documented, not silent:
    * ANSI throws on the long overflow).
    */
  def t28RakeKeywords(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(split(lower(trim(col("text"))), "\\s+")).as(Seq("pos", "w")))
    val ns = tok.filter(!col("w").isin("a", "the"))
      .withColumn("island",
        col("pos") - row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    val withLen = ns.withColumn("plen",
      count(lit(1)).over(Window.partitionBy(col("doc_id"), col("island"))))
    val wordStats = withLen.groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
    val phrases = ns.groupBy(col("doc_id"), col("island"))
      .agg(expr("array_join(transform(array_sort(collect_list(struct(pos, w))), x -> x.w), ' ')")
        .as("phrase"))
      .groupBy(col("phrase")).agg(count(lit(1)).as("n_occ"))
    phrases
      .select(col("phrase"), col("n_occ"), explode(split(col("phrase"), " ")).as("w"))
      .join(wordStats, Seq("w"))
      .groupBy(col("phrase"), col("n_occ"))
      .agg(sum(expr("(deg * 1000000) div freq")).as("score_ppm"))
      .orderBy(col("score_ppm").desc, col("phrase"))
      .limit(20)
  }

  private val t28Sql =
    """WITH tok AS (
      |  SELECT doc_id, i AS pos, a[i] AS w
      |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') a
      |        FROM documents),
      |       LATERAL unnest(range(1, len(a) + 1)) AS u(i)),
      |ns AS (SELECT doc_id, pos, w FROM tok WHERE w NOT IN ('a', 'the')),
      |isl AS (SELECT doc_id, pos, w,
      |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) island
      |        FROM ns),
      |wl AS (SELECT w, COUNT(*) OVER (PARTITION BY doc_id, island) plen FROM isl),
      |ws AS (SELECT w, COUNT(*) freq, SUM(plen) deg FROM wl GROUP BY 1),
      |occ AS (SELECT doc_id, island, string_agg(w, ' ' ORDER BY pos) phrase
      |        FROM isl GROUP BY 1, 2),
      |ph AS (SELECT phrase, COUNT(*) n_occ FROM occ GROUP BY 1),
      |pw AS (SELECT phrase, n_occ, unnest(string_split(phrase, ' ')) w FROM ph)
      |SELECT phrase, CAST(n_occ AS BIGINT) AS n_occ,
      |       CAST(SUM((deg * 1000000) // freq) AS BIGINT) AS score_ppm
      |FROM pw JOIN ws USING (w)
      |GROUP BY phrase, n_occ
      |ORDER BY score_ppm DESC, phrase LIMIT 20""".stripMargin

  /** t29 — perplexity-filter calibration sweep: before a curation run
    * commits to a surprisal cutoff, replay the corpus against a GRID of
    * candidate thresholds and report what each would retain, per
    * language — the volume-vs-quality trade every filter threshold is
    * chosen by (the st09 pattern applied to quality filtering). Doc
    * score is t14's unigram surprisal reduced to an exact integer mean
    * (micro-nats, floor division); thresholds bracket the corpus's
    * observed quartiles so the curve actually bends.
    *
    * Scale shape: token counting + the doc aggregate are t14's plan
    * (vocab broadcast, 1-row total broadcast); the sweep explodes 5
    * threshold rows per DOC (not per token) map-side, and the final
    * groupBy on (lang, threshold) is a ≤5·|langs|-cell aggregate.
    */
  def t29PplThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
    val counts = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).as("t"))
    val docs = toks.join(broadcast(counts), "term")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        expr("CAST(round(ln(CAST(t AS DOUBLE) / c) * 1000000) AS BIGINT)").as("nll_micro"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("nll_micro")).as("sum_micro"))
      .withColumn("mean_micro", expr("sum_micro div n_tokens"))
    docs.join(Tables.documents(spark, dir).select(col("doc_id"), col("lang")), "doc_id")
      .select(col("lang"), col("mean_micro"), col("n_tokens"),
        explode(expr("array(CAST(3395000 AS BIGINT), 3400000, 3405000, " +
          "3420000, 3720000)")).as("thr_micro"))
      .groupBy(col("lang"), col("thr_micro"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("mean_micro") <= col("thr_micro"), 1L).otherwise(0L))
             .as("n_kept"),
           sum(when(col("mean_micro") <= col("thr_micro"), col("n_tokens"))
             .otherwise(0L)).as("tokens_kept"))
      .withColumn("kept_ppm", expr("(1000000 * n_kept) div n_docs"))
      .orderBy(col("lang"), col("thr_micro"))
  }

  private val t29Sql =
    """WITH x AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) term FROM documents),
      |c AS (SELECT term, COUNT(*) c FROM x GROUP BY 1),
      |t AS (SELECT CAST(SUM(c) AS BIGINT) t FROM c),
      |s AS (SELECT doc_id, CAST(round(ln(CAST(t.t AS DOUBLE) / c.c) * 1000000) AS BIGINT) nll_micro
      |      FROM x JOIN c USING (term) CROSS JOIN t),
      |d AS (SELECT doc_id, COUNT(*) n_tokens,
      |        CAST(SUM(nll_micro) AS BIGINT) // COUNT(*) mean_micro
      |      FROM s GROUP BY doc_id),
      |g AS (SELECT lang, mean_micro, n_tokens,
      |        unnest([CAST(3395000 AS BIGINT), 3400000, 3405000, 3420000, 3720000]) thr_micro
      |      FROM d JOIN documents USING (doc_id))
      |SELECT lang, thr_micro, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN mean_micro <= thr_micro THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN mean_micro <= thr_micro THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept,
      |  (1000000 * CAST(SUM(CASE WHEN mean_micro <= thr_micro THEN 1 ELSE 0 END) AS BIGINT)) // COUNT(*) AS kept_ppm
      |FROM g GROUP BY lang, thr_micro
      |ORDER BY lang, thr_micro""".stripMargin

  /** t30 — classifier evaluation of t03's language-ID against the true
    * labels: the confusion matrix plus per-true-language precision
    * denominators — the table every heuristic classifier ships with,
    * here as exact integers (cell counts, per-label totals, floored
    * recall ppm per diagonal cell). zh has no stopword list in t03 by
    * design, so its row is ALL error — the audit makes that coverage
    * hole a number instead of a surprise.
    *
    * Scale shape: prediction is t03's one map-side pass (four
    * integer hit counters, argmax); the matrix is a ≤ |langs|²-cell
    * aggregate with the per-label total riding a window over the tiny
    * aggregate — no second scan.
    */
  def t30LangidConfusion(spark: SparkSession, dir: String): DataFrame = {
    val cells = t03LangId(spark, dir)
      .groupBy(col("labeled_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))
    cells
      .withColumn("n_label",
        sum(col("n")).over(Window.partitionBy(col("labeled_lang"))))
      .select(col("labeled_lang"), col("predicted_lang"), col("n"),
        col("n_label"),
        expr("(1000000 * n) div n_label").as("cell_ppm"),
        (col("labeled_lang") === col("predicted_lang")).as("is_correct"))
      .orderBy(col("labeled_lang"), col("predicted_lang"))
  }

  private val t30Sql =
    """WITH f AS (
      |  SELECT doc_id, lang,
      |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> w IN ('the','and','of','to','in','is'))) AS en,
      |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> w IN ('el','la','de','que','y','los'))) AS es,
      |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> w IN ('le','la','de','et','les','des'))) AS fr,
      |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> w IN ('der','die','und','das','ist','ein'))) AS de
      |  FROM documents),
      |p AS (
      |  SELECT lang AS labeled_lang,
      |    CASE WHEN GREATEST(en, es, fr, de) = 0 THEN 'und'
      |         WHEN en = GREATEST(en, es, fr, de) THEN 'en'
      |         WHEN es = GREATEST(en, es, fr, de) THEN 'es'
      |         WHEN fr = GREATEST(en, es, fr, de) THEN 'fr'
      |         ELSE 'de' END AS predicted_lang
      |  FROM f),
      |c AS (SELECT labeled_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) n
      |      FROM p GROUP BY 1, 2)
      |SELECT labeled_lang, predicted_lang, n,
      |  CAST(SUM(n) OVER (PARTITION BY labeled_lang) AS BIGINT) AS n_label,
      |  (1000000 * n) // CAST(SUM(n) OVER (PARTITION BY labeled_lang) AS BIGINT) AS cell_ppm,
      |  labeled_lang = predicted_lang AS is_correct
      |FROM c
      |ORDER BY labeled_lang, predicted_lang""".stripMargin

  /** t31 — word co-occurrence lift (PMI's ratio, kept RATIONAL): for
    * word pairs sharing a document, lift = P(xy)/(P(x)P(y)) emitted as
    * the exact integer ppm (1e6·n_xy·N) div (n_x·n_y) — no logarithm,
    * so no libm-boundary risk at all (the a42 quantization exists for
    * SUMS of logs; a ranking only needs the monotone ratio). Support
    * floor 25 docs, top-20 by (lift_ppm desc, w1, w2) — the
    * phrase-mining/keyword-association signal next to t28's RAKE.
    *
    * Scale shape: pairs explode per doc over DISTINCT tokens (word-soup
    * docs have Heaps'-bounded distinct terms; a pathological doc would
    * need the g07-style per-doc term cap, documented here as the scale
    * contract), aggregate on the pair key, doc-frequency margins join
    * as broadcasts, and the top-20 goes through sort+limit (distributed
    * TakeOrdered — the a24 rule).
    */
  def t31PmiPairs(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .distinct()
    val df = toks.groupBy(col("w")).agg(count(lit(1)).as("dfreq"))
    val nDocs = Tables.documents(spark, dir).agg(count(lit(1)).as("nd"))
    toks.select(col("doc_id"), col("w").as("w1"))
      .join(toks.select(col("doc_id"), col("w").as("w2")), Seq("doc_id"))
      .filter(col("w1") < col("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("nxy"))
      .filter(col("nxy") >= 25)
      .join(broadcast(df.select(col("w").as("w1"), col("dfreq").as("nx"))), Seq("w1"))
      .join(broadcast(df.select(col("w").as("w2"), col("dfreq").as("ny"))), Seq("w2"))
      .crossJoin(broadcast(nDocs))
      .withColumn("lift_ppm", expr("(1000000 * nxy * nd) div (nx * ny)"))
      .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
      .limit(20)
      .select(col("w1"), col("w2"), col("nxy"), col("nx"), col("ny"),
        col("lift_ppm"))
  }

  private val t31Sql =
    """WITH toks AS (
      |  SELECT DISTINCT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) w
      |  FROM documents),
      |df AS (SELECT w, CAST(COUNT(*) AS BIGINT) dfreq FROM toks GROUP BY w),
      |nd AS (SELECT CAST(COUNT(*) AS BIGINT) nd FROM documents),
      |p AS (
      |  SELECT a.w w1, b.w w2, CAST(COUNT(*) AS BIGINT) nxy
      |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.w < b.w
      |  GROUP BY a.w, b.w HAVING COUNT(*) >= 25)
      |SELECT w1, w2, nxy, dx.dfreq AS nx, dy.dfreq AS ny,
      |  (1000000 * nxy * nd.nd) // (dx.dfreq * dy.dfreq) AS lift_ppm
      |FROM p JOIN df dx ON p.w1 = dx.w JOIN df dy ON p.w2 = dy.w
      |  CROSS JOIN nd
      |ORDER BY lift_ppm DESC, w1, w2
      |LIMIT 20""".stripMargin

  /** t32 — the batch document gate: every curation pipeline ends in a
    * per-document verdict table (kept/rejected + WHY), and the rules
    * here are the exact-integer forms of the classic heuristics —
    * too_short (token count < 10), repetitive (top token holds > 20 %
    * of tokens: 5·max_tf > n, no ratio computed), lang_mismatch (t03's
    * prediction ≠ the label — zh always mismatches by t03's coverage
    * hole, making the gate's interaction with classifier blind spots
    * visible). The verdict row per doc is what downstream mix/dedup
    * stages consume; st06 is this gate's streaming dual on events.
    *
    * Scale shape: token stats and the argmax token share one groupBy
    * per doc (partial-aggregated); the language features are t03's
    * single map-side pass; one join on doc_id puts the verdict
    * together — no corpus-scale shuffle beyond the per-doc aggregate.
    */
  def t32DocGate(spark: SparkSession, dir: String): DataFrame = {
    val stats = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"), max(col("tf")).as("max_tf"))
    t03LangId(spark, dir)
      .select(col("doc_id"), col("labeled_lang"), col("predicted_lang"))
      .join(stats, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("max_tf"),
        (col("n_tokens") < 10).as("too_short"),
        (col("max_tf") * 5 > col("n_tokens")).as("repetitive"),
        (col("labeled_lang") =!= col("predicted_lang")).as("lang_mismatch"))
      .withColumn("pass",
        !col("too_short") && !col("repetitive") && !col("lang_mismatch"))
      .orderBy(col("doc_id"))
  }

  private val t32Sql =
    """WITH tf AS (
      |  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) tf FROM (
      |    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) w
      |    FROM documents) GROUP BY doc_id, w),
      |stats AS (
      |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) n_tokens,
      |    CAST(MAX(tf) AS BIGINT) max_tf
      |  FROM tf GROUP BY doc_id),
      |f AS (
      |  SELECT doc_id, lang,
      |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> w IN ('the','and','of','to','in','is'))) AS en,
      |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> w IN ('el','la','de','que','y','los'))) AS es,
      |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> w IN ('le','la','de','et','les','des'))) AS fr,
      |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> w IN ('der','die','und','das','ist','ein'))) AS de
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, lang labeled_lang,
      |    CASE WHEN GREATEST(en, es, fr, de) = 0 THEN 'und'
      |         WHEN en = GREATEST(en, es, fr, de) THEN 'en'
      |         WHEN es = GREATEST(en, es, fr, de) THEN 'es'
      |         WHEN fr = GREATEST(en, es, fr, de) THEN 'fr'
      |         ELSE 'de' END predicted_lang
      |  FROM f)
      |SELECT p.doc_id, n_tokens, max_tf,
      |  n_tokens < 10 AS too_short,
      |  max_tf * 5 > n_tokens AS repetitive,
      |  labeled_lang <> predicted_lang AS lang_mismatch,
      |  NOT (n_tokens < 10) AND NOT (max_tf * 5 > n_tokens)
      |    AND NOT (labeled_lang <> predicted_lang) AS pass
      |FROM p JOIN stats ON p.doc_id = stats.doc_id
      |ORDER BY p.doc_id""".stripMargin

  /** t33 — winnowing fingerprints (Schleimer/Wilkerson/Aiken '03, the
    * MOSS algorithm): per document, hash every char-5-gram (the
    * engine-neutral 60-bit md5 image), slide a window of w=8 hashes and
    * keep each window's MINIMUM — the local-min selection guarantees
    * any shared substring of length ≥ k+w−1 contributes at least one
    * SHARED fingerprint between two documents, which is what makes
    * winnowed fingerprints the standard local signature for
    * plagiarism / containment detection at corpus scale (a guarantee
    * MinHash, a GLOBAL sketch, does not give). Emitted per doc:
    * fingerprint count, k-gram count, an order-independent XOR
    * checksum (60-bit values would overflow an int64 SUM), and the
    * selection density — winnowing's expected density is 2/(w+1) ≈
    * 222k ppm, so the column doubles as a self-audit.
    *
    * Scale shape: entirely per-row lambda work over each doc's own
    * hash array (no explode, no join, no shuffle except the final
    * sort) — the narrowest possible corpus pass; fingerprint storage
    * is ~2/(w+1) of the k-gram count by construction.
    */
  /** The winnowing frame itself — (doc_id, hs, fps) over any
    * (doc_id, text) input; public so the guarantee is property-testable
    * on crafted documents. */
  def winnow(docs: DataFrame, w: Int = 8): DataFrame = {
    docs
      // native one-pass md5 shingle hashing; semantically identical to
      // transform(sequence(1, greatest(1, length(text) - 4)),
      //   i -> CAST(conv(substring(md5(substring(text, i, 5)), 1, 15), 16, 10) AS BIGINT))
      // — see [[graft.functions.ShingleHashes]]
      .withColumn("hs", expr("shingle_hashes(text, 5)"))
      // native O(n) monotonic-deque window minima; semantically identical
      // to array_distinct(transform(..., i -> array_min(slice(hs, i, w))))
      // — see [[graft.functions.WinnowMins]]
      .withColumn("fps", expr(s"winnow_mins(hs, $w)"))
  }

  def t33Winnowing(spark: SparkSession, dir: String, w: Int = 8): DataFrame = {
    winnow(Tables.documents(spark, dir).select(col("doc_id"), col("text")), w)
      .select(col("doc_id"),
        expr("CAST(size(fps) AS BIGINT)").as("n_fingerprints"),
        expr("CAST(size(hs) AS BIGINT)").as("n_kgrams"),
        expr("aggregate(fps, CAST(0 AS BIGINT), (a, x) -> a ^ x)").as("fp_xor"),
        expr("(1000000 * size(fps)) div size(hs)").as("density_ppm"))
      .orderBy(col("doc_id"))
  }

  private val t33Sql =
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_transform(range(1, greatest(2, length(text) - 3)),
      |      i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
      |             list_transform(range(1, 16),
      |               j -> CAST(strpos('0123456789abcdef',
      |                      substr(md5(substr(text, CAST(i AS INTEGER), 5)),
      |                             CAST(j AS INTEGER), 1)) - 1 AS BIGINT))),
      |             (a, b) -> a * 16 + b)) hs
      |  FROM documents),
      |fp AS (
      |  SELECT doc_id, hs,
      |    list_distinct(list_transform(range(1, greatest(2, len(hs) - 6)),
      |      i -> list_min(hs[CAST(i AS INTEGER) : CAST(i + 7 AS INTEGER)]))) fps
      |  FROM sh)
      |SELECT doc_id,
      |  CAST(len(fps) AS BIGINT) AS n_fingerprints,
      |  CAST(len(hs) AS BIGINT) AS n_kgrams,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), fps), (a, b) -> xor(a, b)) AS fp_xor,
      |  (1000000 * len(fps)) // len(hs) AS density_ppm
      |FROM fp ORDER BY doc_id""".stripMargin

  /** t34 — vocabulary growth curve (Heaps' law observation): at 10 equal
    * doc-id checkpoints, how many tokens have been seen in total and how
    * many DISTINCT tokens exist so far. The curve's flattening is the
    * classic signal that a corpus slice stops contributing new vocabulary
    * — the "more data vs more of the same" call a 100 TB ingest makes per
    * source. Scale shape: one explode + one (token → min doc_id)
    * aggregate — the cumulative-distinct answer at EVERY checkpoint falls
    * out of first-occurrence positions, with NO per-checkpoint rescan and
    * no global window; the 10 thresholds are pure arithmetic on the
    * (min,max) extent, broadcast as a 10-row dimension.
    */
  def t34VocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val deciles = docs.agg(min(col("doc_id")).as("dmin"), max(col("doc_id")).as("dmax"))
      .select(explode(expr("sequence(1, 10)")).as("k"), col("dmin"), col("dmax"))
      .select(col("k").cast("int").as("decile"),
        expr("dmin - 1 + ((dmax - dmin + 1) * k) div 10").as("thr"))
    val firstSeen = docs
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      .groupBy(col("tok")).agg(min(col("doc_id")).as("fd"))
    val vocab = firstSeen.crossJoin(broadcast(deciles))
      .filter(col("fd") <= col("thr"))
      .groupBy(col("decile")).agg(count(lit(1)).as("vocab_size"))
    val seen = docs
      .select(col("doc_id"), size(split(trim(col("text")), "\\s+")).cast("long").as("n"))
      .crossJoin(broadcast(deciles))
      .filter(col("doc_id") <= col("thr"))
      .groupBy(col("decile"), col("thr"))
      .agg(count(lit(1)).as("docs_seen"), sum(col("n")).as("tokens_seen"))
    seen.join(vocab, Seq("decile"))
      .select(col("decile"), col("thr"), col("docs_seen"),
              col("tokens_seen"), col("vocab_size"))
      .orderBy(col("decile"))
  }

  private val t34Sql =
    """WITH ext AS (SELECT MIN(doc_id) dmin, MAX(doc_id) dmax FROM documents),
      |thr AS (
      |  SELECT CAST(k AS INTEGER) decile,
      |    dmin - 1 + ((dmax - dmin + 1) * k) // 10 AS thr
      |  FROM ext, (SELECT unnest(range(1, 11)) k)),
      |fs AS (
      |  SELECT tok, MIN(doc_id) fd FROM (
      |    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) tok
      |    FROM documents) GROUP BY tok),
      |va AS (
      |  SELECT decile, COUNT(*) vocab_size
      |  FROM fs, thr WHERE fd <= thr GROUP BY decile),
      |da AS (
      |  SELECT decile, thr, COUNT(*) docs_seen,
      |    CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) tokens_seen
      |  FROM documents, thr WHERE doc_id <= thr GROUP BY decile, thr)
      |SELECT da.decile, da.thr, da.docs_seen, da.tokens_seen, va.vocab_size
      |FROM da JOIN va ON da.decile = va.decile
      |ORDER BY da.decile""".stripMargin

  /** t35 — Flesch reading-ease scoring, exact integer milli-units. The
    * standard readability gate in text curation (keep FRE in a band,
    * drop gibberish/legalese tails). Syllables are the conventional
    * vowel-group heuristic ([aeiouy]+ runs), sentences split on [.!?]
    * runs, both floor-guarded at 1 so the integer divisions are total.
    * fre_milli = 206835 - (1015*words) div sents - (84600*syll) div
    * words — both divisions on positive operands, so Spark's truncating
    * `div` and DuckDB's flooring `//` agree. Pure per-row projection:
    * no shuffle until the output sort.
    */
  def t35Readability(spark: SparkSession, dir: String): DataFrame = {
    val words = size(expr("regexp_extract_all(text, '[A-Za-z]+', 0)")).cast("long")
    val sents = size(expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("long")
    val sylls = size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")).cast("long")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        words.as("n_words"),
        greatest(sents, lit(1L)).as("n_sentences"),
        sylls.as("n_syllables"))
      .withColumn("w", greatest(col("n_words"), lit(1L)))
      .withColumn("fre_milli",
        expr("206835 - (1015 * w) div n_sentences - (84600 * n_syllables) div w"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
        col("fre_milli"),
        when(col("fre_milli") >= 90000, "very_easy")
          .when(col("fre_milli") >= 60000, "standard")
          .when(col("fre_milli") >= 30000, "difficult")
          .otherwise("very_confusing").as("band"))
      .orderBy(col("doc_id"))
  }

  private val t35Sql =
    """WITH m AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) n_words,
      |    greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1) n_sentences,
      |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) n_syllables
      |  FROM documents),
      |f AS (
      |  SELECT *, greatest(n_words, 1) w FROM m),
      |s AS (
      |  SELECT doc_id, n_words, n_sentences, n_syllables,
      |    206835 - (1015 * w) // n_sentences - (84600 * n_syllables) // w AS fre_milli
      |  FROM f)
      |SELECT doc_id, n_words, n_sentences, n_syllables, fre_milli,
      |  CASE WHEN fre_milli >= 90000 THEN 'very_easy'
      |       WHEN fre_milli >= 60000 THEN 'standard'
      |       WHEN fre_milli >= 30000 THEN 'difficult'
      |       ELSE 'very_confusing' END AS band
      |FROM s ORDER BY doc_id""".stripMargin

  /** t36 — tokenizer vocabulary-coverage (OOV) sweep: for candidate
    * vocabulary budgets {4,8,16,32,64}, keep the budget's most frequent
    * word types (count desc, token asc tiebreak) and report how much of
    * the corpus token mass falls OUTSIDE the vocabulary. This is the
    * sizing curve a tokenizer design actually reads — where OOV ppm
    * flattens is where extra vocab stops paying — and the complement to
    * t14's per-token surprisal (mass view, not information view).
    *
    * Scale shape: one explode + one token-count aggregate; the global
    * frequency rank comes from [[ScaleOps.prefixSum]] (range
    * repartition + per-partition offsets — NO single-partition window),
    * and the 5 budgets join in as a broadcast dimension. The count
    * table is Heaps'-bounded, so the ranked frame stays far smaller
    * than the corpus at any scale.
    */
  def t36VocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val ranked = ScaleOps.prefixSum(
      counts.withColumn("negc", -col("cnt")).withColumn("one", lit(1L)),
      Seq("negc", "tok"), "one", "rank")
    val budgets = spark.sql(
      "SELECT CAST(b AS BIGINT) AS budget FROM (SELECT explode(array(4, 8, 16, 32, 64)) b)")
    ranked.crossJoin(broadcast(budgets))
      .groupBy(col("budget"))
      .agg(count(lit(1)).as("total_types"),
           sum(col("cnt")).as("total_tokens"),
           sum(when(col("rank") > col("budget"), 1L).otherwise(0L)).as("oov_types"),
           sum(when(col("rank") > col("budget"), col("cnt")).otherwise(0L)).as("oov_tokens"))
      .withColumn("oov_ppm", expr("(1000000 * oov_tokens) div total_tokens"))
      .orderBy(col("budget"))
  }

  private val t36Sql =
    """WITH c AS (
      |  SELECT tok, CAST(COUNT(*) AS BIGINT) cnt FROM (
      |    SELECT unnest(string_split_regex(trim(text), '\s+')) tok
      |    FROM documents) GROUP BY tok),
      |r AS (
      |  SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC) rank
      |  FROM c),
      |b AS (SELECT CAST(unnest([4, 8, 16, 32, 64]) AS BIGINT) budget)
      |SELECT budget, COUNT(*) AS total_types,
      |  CAST(SUM(cnt) AS BIGINT) AS total_tokens,
      |  CAST(SUM(CASE WHEN rank > budget THEN 1 ELSE 0 END) AS BIGINT) AS oov_types,
      |  CAST(SUM(CASE WHEN rank > budget THEN cnt ELSE 0 END) AS BIGINT) AS oov_tokens,
      |  CAST((1000000 * SUM(CASE WHEN rank > budget THEN cnt ELSE 0 END))
      |       // SUM(cnt) AS BIGINT) AS oov_ppm
      |FROM r CROSS JOIN b GROUP BY budget ORDER BY budget""".stripMargin

  /** t37 — OCR/mojibake garbage detection: the encoding-damage screen a
    * crawl-ingest pipeline runs before any model-based quality scoring.
    * Per doc: U+FFFD replacement-character count (the universal "decode
    * went wrong" tracer), non-alphanumeric density, and the longest
    * consonant run (OCR column-merge / base64-spill tracer);
    * a doc is garbage when any tracer trips its threshold. Reported per
    * source so a bad feed is visible as a feed. Like t07, the contract
    * plants deterministically-damaged copies (same SQL on both engines:
    * vowels → U+FFFD plus a consonant/symbol tail, under source
    * 'garbage_probe') so the tracers demonstrably FIRE — the clean
    * corpus alone would exercise nothing.
    *
    * All-ratio integer arithmetic; per-row projections + one
    * map-combined groupBy — linear, shuffle only on the tiny source key.
    */
  def t37GarbageScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"), col("source"))
    val planted = docs.filter(col("doc_id") < 30)
      .select((col("doc_id") + 200000).as("doc_id"),
        expr("concat(replace(substring(text, 1, 80), 'e', '�'), " +
          "' bcdfghjklmnp 4711 @@##%%')").as("text"),
        lit("garbage_probe").as("source"))
    docs.unionByName(planted)
      .withColumn("len", length(col("text")))
      .withColumn("fffd_cnt",
        col("len") - length(regexp_replace(col("text"), "�", "")))
      // stripping [A-Za-z0-9 ] LEAVES the non-alphanumeric chars
      .withColumn("nonalnum_ppm", expr(
        "(1000000 * length(regexp_replace(text, '[A-Za-z0-9 ]', ''))) div greatest(len, 1)"))
      .withColumn("max_consonant_run", expr(
        "coalesce(array_max(transform(regexp_extract_all(lower(text), " +
          "'[bcdfghjklmnpqrstvwxz]+', 0), x -> length(x))), 0)"))
      .withColumn("garbage",
        (col("fffd_cnt") > 0 || col("nonalnum_ppm") > 150000 ||
          col("max_consonant_run") >= 8).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("garbage")).as("n_garbage"),
        sum(col("fffd_cnt").cast("long")).as("fffd_total"),
        max(col("max_consonant_run")).cast(LongType).as("worst_consonant_run"))
      .withColumn("garbage_ppm", expr("(1000000 * n_garbage) div n_docs"))
      .orderBy(col("source"))
  }

  private val t37Sql =
    """WITH docs AS (
      |  SELECT doc_id, text, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 200000,
      |    concat(replace(substr(text, 1, 80), 'e', chr(65533)),
      |           ' bcdfghjklmnp 4711 @@##%%'),
      |    'garbage_probe'
      |  FROM documents WHERE doc_id < 30),
      |m AS (
      |  SELECT source, length(text) AS len,
      |    length(text) - length(replace(text, chr(65533), '')) AS fffd_cnt,
      |    (1000000 * length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')))
      |      // greatest(length(text), 1) AS nonalnum_ppm,
      |    COALESCE(list_max(list_transform(
      |      regexp_extract_all(lower(text), '[bcdfghjklmnpqrstvwxz]+'),
      |      x -> length(x))), 0) AS run
      |  FROM docs),
      |g AS (
      |  SELECT source, fffd_cnt,  run,
      |    CASE WHEN fffd_cnt > 0 OR nonalnum_ppm > 150000 OR run >= 8
      |         THEN 1 ELSE 0 END AS garbage
      |  FROM m)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(garbage) AS BIGINT) AS n_garbage,
      |  CAST(SUM(fffd_cnt) AS BIGINT) AS fffd_total,
      |  CAST(MAX(run) AS BIGINT) AS worst_consonant_run,
      |  CAST((1000000 * SUM(garbage)) // COUNT(*) AS BIGINT) AS garbage_ppm
      |FROM g GROUP BY source ORDER BY source""".stripMargin

  /** t38 — per-source domain-shift divergence: how far each source's
    * unigram distribution sits from the corpus-wide distribution — the
    * number a data-mixing run watches when deciding whether a new feed
    * changes the blend ("is source X just more of the same, or a
    * different domain?"). The statistic is the χ²-style divergence
    * Σ_t (obs_ppm − exp_ppm)²/max(exp_ppm,1) over floor-quantized ppm
    * shares — exact integer end to end (an information-theoretic JSD
    * needs ln; the χ² form is its second-order Taylor twin and needs
    * only division), with per-source token/vocab mass alongside.
    *
    * Scale shape: one token explode → two partial-aggregated groupBys
    * ((source,term) and (term)); the per-term join is a shuffle join on
    * the term key — corpus-vocabulary sized, deliberately NOT broadcast
    * (vocab grows with the corpus; the t22 argument); source totals are
    * a tiny broadcast.
    */
  def t38SourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("source"), explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
    val st = toks.groupBy(col("source"), col("term")).agg(count(lit(1)).as("c_st"))
    val t = st.groupBy(col("term")).agg(sum(col("c_st")).as("c_t"))
    val ts = st.groupBy(col("source")).agg(sum(col("c_st")).as("t_s"))
    val tot = t.agg(sum(col("c_t")).as("t_all"))
    st.join(t, "term")
      .join(broadcast(ts), "source")
      .crossJoin(broadcast(tot))
      .withColumn("obs_ppm", expr("(1000000 * c_st) div t_s"))
      .withColumn("exp_ppm", expr("(1000000 * c_t) div t_all"))
      .withColumn("contrib", expr(
        "((obs_ppm - exp_ppm) * (obs_ppm - exp_ppm)) div greatest(exp_ppm, 1)"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms"),
        max(col("t_s")).as("n_tokens"),
        sum(col("contrib")).as("chi2_divergence"))
      .orderBy(col("source"))
  }

  private val t38Sql =
    """WITH toks AS (
      |  SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) term
      |  FROM documents),
      |st AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) c_st
      |       FROM toks GROUP BY 1, 2),
      |t AS (SELECT term, CAST(SUM(c_st) AS BIGINT) c_t FROM st GROUP BY 1),
      |ts AS (SELECT source, CAST(SUM(c_st) AS BIGINT) t_s FROM st GROUP BY 1),
      |tot AS (SELECT CAST(SUM(c_t) AS BIGINT) t_all FROM t),
      |j AS (
      |  SELECT st.source,
      |    (1000000 * c_st) // t_s AS obs_ppm,
      |    (1000000 * c_t) // t_all AS exp_ppm,
      |    t_s
      |  FROM st JOIN t USING (term) JOIN ts ON st.source = ts.source, tot)
      |SELECT source, COUNT(*) AS n_terms, MAX(t_s) AS n_tokens,
      |  CAST(SUM(((obs_ppm - exp_ppm) * (obs_ppm - exp_ppm))
      |           // greatest(exp_ppm, 1)) AS BIGINT) AS chi2_divergence
      |FROM j GROUP BY source ORDER BY source""".stripMargin

  /** t39 — interpolated Kneser–Ney bigram perplexity: the modern-LM
    * smoother, scored per document in integer micro-nats. Where
    * [[t22BigramLm]] backs off to RAW unigram frequency
    * (Jelinek–Mercer), KN backs off to the CONTINUATION probability —
    * how many distinct contexts a word follows, not how often it
    * occurs — which is the fix for the "San Francisco" pathology
    * (frequent-but-bound words like "Francisco" stop inflating unseen
    * contexts). A genuinely different dataflow, not different
    * constants: the backoff model is built from the distinct-bigram
    * TYPE table (one distinct + two type-count aggregates), a shuffle
    * t22 never runs.
    *
    * With absolute discount D = 3/4 (exactly dyadic) every probability
    * is the rational (4·B·c12 − 3·B + 3·Nf·Nr) / (4·B·c1): c12 the
    * bigram token count, c1 the context token count, Nf = |{w: c(v,w)>0}|,
    * Nr = |{v: c(v,w)>0}|, B = total distinct bigrams. Numerator and
    * denominator are exact int64 (|num| < 8·B·max(c12) ≈ 2⁵² at sf0.1 —
    * int64→double conversion stays exact; at larger corpora lift to
    * DECIMAL, the w16 rule), the division is one IEEE op identical in
    * both engines, and only ln() crosses libm — quantized to micro-nats
    * with the t12/t14 boundary-margin audit in the suite.
    *
    * Scale shape: identical to t22 — map-side bigram extraction, one
    * shuffle join on the (w1, w2) bigram key (corpus-linear vocab,
    * never broadcast), Heaps'-law-bounded unigram-level tables
    * broadcast, the discount scoring codegen'd per row.
    */
  def t39KneserNey(spark: SparkSession, dir: String): DataFrame = {
    val arr = Tables.documents(spark, dir)
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("a"))
    val bigrams = arr
      .filter(size(col("a")) >= 2)
      .select(col("doc_id"), col("a"),
        explode(expr("sequence(2, size(a))")).as("i"))
      .select(col("doc_id"),
        expr("element_at(a, i - 1)").as("w1"), expr("element_at(a, i)").as("w2"))
    val bi = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val ctx = bi.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("nf"))
    val cont = bi.groupBy(col("w2")).agg(count(lit(1)).as("nr"))
    val btypes = bi.agg(count(lit(1)).as("b"))
    bigrams
      .join(bi, Seq("w1", "w2"))
      .join(broadcast(ctx), Seq("w1"))
      .join(broadcast(cont), Seq("w2"))
      .crossJoin(broadcast(btypes))
      .select(col("doc_id"),
        expr("CAST(round(-ln(CAST(4 * b * c12 - 3 * b + 3 * nf * nr AS DOUBLE)" +
             " / CAST(4 * b * c1 AS DOUBLE)) * 1000000) AS BIGINT)")
          .as("nll_micro"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll_micro")).as("nll_micronats"))
      .withColumn("mean_nats",
        round(col("nll_micronats").cast("double") / col("n_bigrams") / 1000000, 4))
      .orderBy(col("doc_id"))
  }

  private val t39Sql =
    """WITH a AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') a FROM documents),
      |bg AS (SELECT doc_id, a[CAST(i - 1 AS INTEGER)] w1, a[CAST(i AS INTEGER)] w2
      |       FROM a, LATERAL unnest(range(2, len(a) + 1)) AS u(i)),
      |bi AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) c12 FROM bg GROUP BY 1, 2),
      |ctx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) c1, CAST(COUNT(*) AS BIGINT) nf
      |        FROM bi GROUP BY 1),
      |cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) nr FROM bi GROUP BY 1),
      |bt AS (SELECT CAST(COUNT(*) AS BIGINT) b FROM bi),
      |s AS (
      |  SELECT bg.doc_id,
      |    CAST(round(-ln(CAST(4 * bt.b * bi.c12 - 3 * bt.b + 3 * ctx.nf * cont.nr AS DOUBLE)
      |      / CAST(4 * bt.b * ctx.c1 AS DOUBLE)) * 1000000) AS BIGINT) nll_micro
      |  FROM bg JOIN bi USING (w1, w2)
      |          JOIN ctx USING (w1)
      |          JOIN cont USING (w2)
      |          CROSS JOIN bt)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |  CAST(SUM(nll_micro) AS BIGINT) AS nll_micronats,
      |  ROUND(CAST(SUM(nll_micro) AS DOUBLE) / COUNT(*) / 1000000, 4) AS mean_nats
      |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** t41 — DSIR-style importance weights (Xie et al., "Data Selection
    * for Language Models via Importance Resampling", NeurIPS'23): score
    * every document by how target-domain-like it is, as the log-ratio
    * between two hashed-unigram language models — one fit on the TARGET
    * slice (here: the lexicographically first `source`, a
    * corpus-derived parameter both engines compute identically), one on
    * the RAW corpus. Tokens hash into V = 4096 buckets through the
    * shared md5-int64 image (the d10 shared-collision rule: a bucket
    * clash is the SAME clash in both engines — hashed features are the
    * actual DSIR recipe, not a shortcut), each model is add-one
    * smoothed, and a doc's weight is Σ_tokens [ln p_t(b) − ln p_r(b)].
    * The ln is rounded to integer MICRO-NATS once per bucket (≤ 2·4096
    * roundings per corpus, the t22 determinism convention) and summed
    * exactly, so per-doc scores are bit-identical across engines.
    * `target_like` (weight > 0) is the resampling gate s09/s12 would
    * consume.
    *
    * Scale shape: the two models are ≤ V-row tables built by one
    * partial-aggregated pass each; scoring is a BROADCAST join of the
    * token stream against the 4096-row score table plus one per-doc
    * sum — no shuffle ever carries more than (doc_id, token-bucket).
    */
  def t41DsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = docs
      .select(col("doc_id"), col("source"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .withColumn("b",
        expr("pmod(CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT), 4096)"))
    val tgtSrc = docs.agg(min(col("source")).as("tgt_src"))
    val withTgt = toks.crossJoin(broadcast(tgtSrc))
    val raw = withTgt.groupBy(col("b")).agg(count(lit(1)).as("cr"),
      sum(when(col("source") === col("tgt_src"), 1L).otherwise(0L)).as("ct"))
    val totals = raw.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
    val scores = raw.crossJoin(broadcast(totals))
      .select(col("b"),
        expr("CAST(round(ln(CAST(ct + 1 AS DOUBLE) / (nt + 4096)) * 1000000) AS BIGINT) - " +
          "CAST(round(ln(CAST(cr + 1 AS DOUBLE) / (nr + 4096)) * 1000000) AS BIGINT)")
          .as("delta_micro"))
    toks.join(broadcast(scores), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("delta_micro")).as("dsir_micronats"))
      .withColumn("target_like", col("dsir_micronats") > 0)
      .orderBy(col("doc_id"))
  }

  private val t41Sql =
    """WITH tk AS (
      |  SELECT doc_id, source,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, 16),
      |        i -> CAST(strpos('0123456789abcdef',
      |               substr(md5(tok), CAST(i AS INTEGER), 1)) - 1 AS BIGINT))),
      |      (a, b) -> a * 16 + b) % 4096 b
      |  FROM (SELECT doc_id, source,
      |          unnest(string_split_regex(lower(trim(text)), '\s+')) tok
      |        FROM documents)
      |  WHERE tok <> ''),
      |tgt AS (SELECT MIN(source) s FROM documents),
      |raw AS (
      |  SELECT b, CAST(COUNT(*) AS BIGINT) cr,
      |    CAST(SUM(CASE WHEN source = (SELECT s FROM tgt) THEN 1 ELSE 0 END) AS BIGINT) ct
      |  FROM tk GROUP BY b),
      |tot AS (SELECT CAST(SUM(cr) AS BIGINT) nr, CAST(SUM(ct) AS BIGINT) nt FROM raw),
      |sc AS (
      |  SELECT b,
      |    CAST(round(ln(CAST(ct + 1 AS DOUBLE) / ((SELECT nt FROM tot) + 4096)) * 1000000) AS BIGINT)
      |    - CAST(round(ln(CAST(cr + 1 AS DOUBLE) / ((SELECT nr FROM tot) + 4096)) * 1000000) AS BIGINT)
      |      delta_micro
      |  FROM raw)
      |SELECT tk.doc_id, CAST(COUNT(*) AS BIGINT) n_tokens,
      |  CAST(SUM(sc.delta_micro) AS BIGINT) dsir_micronats,
      |  CAST(SUM(sc.delta_micro) AS BIGINT) > 0 AS target_like
      |FROM tk JOIN sc ON tk.b = sc.b
      |GROUP BY tk.doc_id ORDER BY tk.doc_id""".stripMargin

  /** t42 — boilerplate/HTML strip (the C4/CommonCrawl cleaning stage):
    * script and style BLOCKS go (content included — that's where the
    * `1 < 2` javascript that breaks naive tag regexes lives), comments
    * go, tags go, the five standard entities decode (&amp; LAST, the
    * classic double-decode trap), and whitespace collapses. Because the
    * synthetic corpus contains no markup characters (checked across all
    * sfs), the operator can prove itself by ROUND-TRIP: every fifth doc
    * is wrapped in a full planted template in-query, and the contract
    * counts docs whose cleaned form equals the whitespace-normalized
    * original — n_ok == n_docs means the strip removed exactly the
    * boilerplate and nothing else, and the emitted md5-XOR of cleaned
    * text pins every byte cross-engine.
    *
    * Scale shape: pure per-row projection (regex + replace chain), no
    * shuffle before the bounded per-lang rollup — the embarrassingly
    * parallel shape a 100 TB cleaning pass needs.
    */
  /** The t42 cleaning pipeline as a SQL expression over column `c` —
    * exposed for the spec's adversarial unit probes (entity decode
    * order, script-content removal). */
  private[graft] def stripExpr(c: String): String = {
    val tagPat = "(?s)(<script[^>]*>.*?</script>|<style[^>]*>.*?</style>|<!--.*?-->|<[^>]*>)"
    s"""trim(regexp_replace(
       |  replace(replace(replace(replace(replace(
       |    regexp_replace($c, '$tagPat', ' '),
       |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&amp;', '&'),
       |  '\\\\s+', ' '))""".stripMargin
  }

  /** The synthetic HTML wrapper t42 and ep01 plant around every 5th
    * document — script/style/comment/tag/entity material [[stripExpr]]
    * must remove exactly. */
  private[graft] val templateOpen: String = "<html><head><title></title>" +
    "<script type=\"text/javascript\">var x = 1 < 2;</script>" +
    "<style>p { color: red; }</style></head><body><div class=\"content\">&nbsp;"
  private[graft] val templateClose: String = "&nbsp;</div><!-- footer --></body></html>"

  def t42BoilerplateStrip(spark: SparkSession, dir: String): DataFrame = {
    val template_open = templateOpen
    val template_close = templateClose
    val cleaned = stripExpr("raw")
    Tables.documents(spark, dir)
      .withColumn("is_wrapped", col("doc_id") % 5 === 0)
      .withColumn("raw",
        when(col("is_wrapped"),
          concat(lit(template_open), col("text"), lit(template_close)))
          .otherwise(col("text")))
      .withColumn("cleaned", expr(cleaned))
      .withColumn("norm", expr("trim(regexp_replace(text, '\\\\s+', ' '))"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_wrapped"), 1L).otherwise(0L)).as("n_wrapped"),
        sum(when(col("cleaned") === col("norm"), 1L).otherwise(0L)).as("n_ok"),
        expr("bit_xor(CAST(conv(substring(md5(cleaned), 1, 15), 16, 10) AS BIGINT))")
          .as("cleaned_checksum"))
      .orderBy(col("lang"))
  }

  private val t42Sql =
    """WITH w AS (
      |  SELECT lang, text, doc_id % 5 = 0 is_wrapped,
      |    CASE WHEN doc_id % 5 = 0 THEN
      |      '<html><head><title></title><script type="text/javascript">var x = 1 < 2;</script><style>p { color: red; }</style></head><body><div class="content">&nbsp;'
      |      || text ||
      |      '&nbsp;</div><!-- footer --></body></html>'
      |    ELSE text END raw
      |  FROM documents),
      |c AS (
      |  SELECT lang, is_wrapped,
      |    trim(regexp_replace(
      |      replace(replace(replace(replace(replace(
      |        regexp_replace(raw,
      |          '(?s)(<script[^>]*>.*?</script>|<style[^>]*>.*?</style>|<!--.*?-->|<[^>]*>)',
      |          ' ', 'g'),
      |        '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&amp;', '&'),
      |      '\s+', ' ', 'g')) cleaned,
      |    trim(regexp_replace(text, '\s+', ' ', 'g')) norm
      |  FROM w)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) n_docs,
      |  CAST(SUM(CASE WHEN is_wrapped THEN 1 ELSE 0 END) AS BIGINT) n_wrapped,
      |  CAST(SUM(CASE WHEN cleaned = norm THEN 1 ELSE 0 END) AS BIGINT) n_ok,
      |  CAST(bit_xor(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(range(1, 16),
      |      i -> CAST(strpos('0123456789abcdef',
      |             substr(md5(cleaned), CAST(i AS INTEGER), 1)) - 1 AS BIGINT))),
      |    (a, b) -> a * 16 + b)) AS BIGINT) cleaned_checksum
      |FROM c GROUP BY 1 ORDER BY lang""".stripMargin

  /** t43 — checksum-validated card-number PII: the curation rule where
    * a regex alone over-redacts. Card-shaped 16-digit runs are cheap to
    * match; real detectors validate the Luhn checksum before redacting,
    * killing the false positives (order ids, timestamps, hashes) that
    * would otherwise punch [CARD] holes into clean text. Planted
    * deterministically from doc_id: docs ≡ 0 (mod 9) get a VALID card
    * (15 payload digits + the computed Luhn check digit), docs ≡ 0
    * (mod 11) an INVALID one (check digit shifted by 5) — the emitted
    * per-doc (card_shaped, luhn_valid) counts and the
    * valid-only-redaction fingerprint show the checksum rejecting every
    * planted fake while every planted real card is caught and masked.
    *
    * Scale shape: pure per-row projection — regex extraction plus a
    * 16-step integer fold per candidate (bounded: candidates per doc
    * are rare by construction); no shuffle at all before the ORDER BY.
    * The Luhn fold and the digit strings are identical integer/string
    * expression trees on both engines.
    */
  def t43LuhnPii(spark: SparkSession, dir: String): DataFrame = {
    // Luhn sum of a 16-char digit string s (position 16 = check digit):
    // doubling every second digit from the right
    def luhnSum(s: String): String =
      s"""aggregate(sequence(1, 16), 0L, (acc, i) -> acc +
         |  CAST(CASE WHEN (17 - i) % 2 = 0
         |    THEN IF(2 * CAST(substring($s, i, 1) AS INT) > 9,
         |            2 * CAST(substring($s, i, 1) AS INT) - 9,
         |            2 * CAST(substring($s, i, 1) AS INT))
         |    ELSE CAST(substring($s, i, 1) AS INT) END AS BIGINT))""".stripMargin
    // 15 deterministic payload digits from doc_id
    val payload = "concat(lpad(CAST(doc_id * doc_id % 1000000000 AS STRING), 9, '0'), " +
      "lpad(CAST(doc_id % 1000000 AS STRING), 6, '0'))"
    val aug = Tables.documents(spark, dir)
      .withColumn("pay", expr(payload))
      // Luhn sum of payload+'0' has the check digit slot zeroed; the
      // real check digit is its 10-complement
      .withColumn("chk", expr(
        s"(10 - ${luhnSum("concat(pay, '0')")} % 10) % 10"))
      .withColumn("aug",
        when(col("doc_id") % 9 === 0,
          expr("concat(text, ' pay ', pay, CAST(chk AS STRING), ' now')"))
        .when(col("doc_id") % 11 === 0,
          expr("concat(text, ' ref ', pay, CAST((chk + 5) % 10 AS STRING), ' x')"))
        .otherwise(col("text")))
    aug
      .withColumn("cands", expr("regexp_extract_all(aug, '[0-9]{16}', 0)"))
      .filter(size(col("cands")) > 0)
      .withColumn("valid", expr(
        s"filter(cands, c -> ${luhnSum("c")} % 10 = 0)"))
      .select(col("doc_id"),
        size(col("cands")).cast("long").as("card_shaped"),
        size(col("valid")).cast("long").as("luhn_valid"),
        md5(expr("aggregate(valid, aug, (acc, c) -> replace(acc, c, '[CARD]'))"))
          .as("redacted_fp"))
      .orderBy(col("doc_id"))
  }

  private val t43Sql = {
    def luhnSum(s: String): String =
      s"""list_sum(list_transform(range(1, 17), i ->
         |  CAST(CASE WHEN (17 - i) % 2 = 0
         |    THEN CASE WHEN 2 * CAST(substr($s, CAST(i AS INTEGER), 1) AS INTEGER) > 9
         |      THEN 2 * CAST(substr($s, CAST(i AS INTEGER), 1) AS INTEGER) - 9
         |      ELSE 2 * CAST(substr($s, CAST(i AS INTEGER), 1) AS INTEGER) END
         |    ELSE CAST(substr($s, CAST(i AS INTEGER), 1) AS INTEGER) END AS BIGINT)))""".stripMargin
    s"""WITH p AS (
       |  SELECT doc_id, text,
       |    lpad(CAST(doc_id * doc_id % 1000000000 AS VARCHAR), 9, '0') ||
       |    lpad(CAST(doc_id % 1000000 AS VARCHAR), 6, '0') pay
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, text, pay,
       |    (10 - ${luhnSum("(pay || '0')")} % 10) % 10 chk
       |  FROM p),
       |a AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 9 = 0
       |      THEN text || ' pay ' || pay || CAST(chk AS VARCHAR) || ' now'
       |    WHEN doc_id % 11 = 0
       |      THEN text || ' ref ' || pay || CAST((chk + 5) % 10 AS VARCHAR) || ' x'
       |    ELSE text END aug
       |  FROM c),
       |e AS (
       |  SELECT doc_id, aug, regexp_extract_all(aug, '[0-9]{16}') cands
       |  FROM a),
       |v AS (
       |  SELECT doc_id, aug, cands,
       |    list_filter(cands, cd -> ${luhnSum("cd")} % 10 = 0) vv
       |  FROM e WHERE len(cands) > 0)
       |SELECT doc_id, CAST(len(cands) AS BIGINT) card_shaped,
       |  CAST(len(vv) AS BIGINT) luhn_valid,
       |  md5(list_reduce(list_prepend(aug, vv),
       |    (acc, cd) -> replace(acc, cd, '[CARD]'))) redacted_fp
       |FROM v ORDER BY doc_id""".stripMargin
  }

  /** t44 — contaminated-SPAN geometry: where t10 answers *whether* a
    * document shares eval-set 3-grams, this answers *where and how
    * much* — the decision input for span-level scrubbing (cut the leaked
    * passage, keep the document) vs whole-doc drops. Each eval-matching
    * 3-gram at token position i covers tokens [i, i+2]; overlapping and
    * token-adjacent covers merge into MAXIMAL spans (gaps-and-islands:
    * a new island starts when i > prev_max_end + 1, islands numbered by
    * a running flag sum — the w08/w13 pattern applied WITHIN documents).
    * Per contaminated doc: span count, longest span, contaminated token
    * mass (exact union, overlaps never double-counted), doc length, and
    * the floored contamination share in ppm.
    *
    * Scale shape: identical to t10 up to the hit list (eval grams
    * broadcast, corpus exploded once, hits sparse); the island windows
    * partition by doc_id over HIT rows only — bounded by contamination,
    * not corpus size — and everything after is a two-level bounded agg.
    */
  def t44ContaminatedSpans(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val planted = base.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 200001).as("doc_id"), col("text"))
    val corpus = base.unionByName(planted)
    def toks(df: DataFrame): DataFrame =
      df.withColumn("w", split(lower(trim(col("text"))), "\\s+"))
    val evalGrams = toks(corpus.filter(col("doc_id") % 50 === 0))
      .select(explode(grams3).as("gram")).distinct()
    val hits = toks(corpus.filter(col("doc_id") % 50 =!= 0))
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
        posexplode(grams3).as(Seq("p", "gram")))
      .select(col("doc_id"), col("n_tokens"), (col("p") + 1).cast("long").as("i"),
        col("gram"))
      .join(broadcast(evalGrams), "gram")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val spans = hits
      .withColumn("prev_end",
        max(col("i") + 2).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("flag",
        when(col("prev_end").isNull || col("i") > col("prev_end") + 1, 1L).otherwise(0L))
      .withColumn("island",
        sum(col("flag")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("n_tokens"), col("island"))
      .agg((max(col("i")) + 2 - min(col("i")) + 1).as("len"))
    spans.groupBy(col("doc_id"), col("n_tokens"))
      .agg(count(lit(1)).as("n_spans"), max(col("len")).as("longest_span"),
        sum(col("len")).as("contaminated_tokens"))
      .select(col("doc_id"), col("n_spans"), col("longest_span"),
        col("contaminated_tokens"), col("n_tokens"),
        expr("1000000 * contaminated_tokens div n_tokens").as("share_ppm"))
      .orderBy(col("doc_id"))
  }

  private val t44Sql =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 200001 AS doc_id, text FROM documents WHERE doc_id % 50 = 0),
      |toks AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM corpus),
      |pos AS (
      |  SELECT doc_id, CAST(len(w) AS BIGINT) n_tokens,
      |    CAST(unnest(range(1, greatest(1, len(w) - 1))) AS BIGINT) i, w
      |  FROM toks),
      |g AS (
      |  SELECT doc_id, n_tokens, i,
      |    array_to_string(w[CAST(i AS INTEGER):CAST(i AS INTEGER) + 2], ' ') gram
      |  FROM pos),
      |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
      |hits AS (
      |  SELECT g.doc_id, g.n_tokens, g.i FROM g JOIN ev USING (gram)
      |  WHERE g.doc_id % 50 <> 0),
      |isl AS (
      |  SELECT doc_id, n_tokens, i,
      |    MAX(i + 2) OVER (PARTITION BY doc_id ORDER BY i
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) prev_end
      |  FROM hits),
      |fl AS (
      |  SELECT doc_id, n_tokens, i,
      |    CASE WHEN prev_end IS NULL OR i > prev_end + 1 THEN 1 ELSE 0 END flag
      |  FROM isl),
      |cs AS (
      |  SELECT doc_id, n_tokens, i,
      |    SUM(flag) OVER (PARTITION BY doc_id ORDER BY i
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) island
      |  FROM fl),
      |sp AS (
      |  SELECT doc_id, n_tokens, island,
      |    MAX(i) + 2 - MIN(i) + 1 len
      |  FROM cs GROUP BY 1, 2, 3)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_spans,
      |  CAST(MAX(len) AS BIGINT) longest_span,
      |  CAST(SUM(len) AS BIGINT) contaminated_tokens, n_tokens,
      |  CAST(1000000 * SUM(len) // n_tokens AS BIGINT) share_ppm
      |FROM sp GROUP BY doc_id, n_tokens
      |ORDER BY doc_id""".stripMargin

  /** t45 — TextRank keyword extraction (Mihalcea & Tarau, EMNLP'04):
    * PageRank over the word CO-OCCURRENCE graph — adjacent-token pairs
    * across the corpus become weighted undirected edges, and two damped
    * power iterations in the [[LinkRank]] g01 micro-integer convention
    * (r₀ = 10⁶, per-edge contribution (r·e) div wdeg, damp
    * 150000 + (850·s) div 1000 — every quantization deterministic and
    * engine-replayable) rank words by graph centrality rather than raw
    * frequency. Distinct from [[t28RakeKeywords]] (degree/frequency
    * scoring inside stopword-delimited phrases) and from
    * [[t12Tfidf]] (document-relative term weighting): TextRank is the
    * corpus-global, recursive-importance member of the keyword family —
    * a word ranks high because it neighbors words that rank high.
    *
    * Scale shape: tokenization explodes once; the pair frame is one
    * lead() window partitioned by doc (shuffle on doc_id); edges and
    * degrees aggregate to VOCABULARY scale, and both iterations run on
    * the bounded vocab graph — fact-scale data is touched exactly once.
    */
  def t45TextrankKeywords(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(split(lower(trim(col("text"))), "\\s+")).as(Seq("pos", "w")))
    val nxt = tok
      .withColumn("w2", lead(col("w"), 1).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .filter(col("w2").isNotNull && col("w") =!= col("w2"))
    val edges = nxt
      .select(least(col("w"), col("w2")).as("u"),
        greatest(col("w"), col("w2")).as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("e"))
    val directed = edges.select(col("u"), col("v"), col("e"))
      .unionByName(edges.select(col("v").as("u"), col("u").as("v"), col("e")))
    val wdeg = directed.groupBy(col("u")).agg(sum(col("e")).as("wdeg"))
    val vocab = tok.groupBy(col("w")).agg(count(lit(1)).as("freq"))
    def step(r: DataFrame): DataFrame = {
      val s = directed
        .join(r.select(col("w").as("u"), col("r")), "u")
        .join(wdeg, "u")
        .select(col("v"), expr("(r * e) div wdeg").as("c"))
        .groupBy(col("v")).agg(sum(col("c")).as("s"))
      vocab.join(s, vocab("w") === s("v"), "left")
        .select(col("w"), col("freq"),
          (lit(150000L) + expr("coalesce((850 * s) div 1000, CAST(0 AS BIGINT))")).as("r"))
    }
    val r0 = vocab.select(col("w"), col("freq"), lit(1000000L).as("r"))
    step(step(r0))
      .withColumn("rank",
        row_number().over(Window.orderBy(col("r").desc, col("w").asc)))
      .filter(col("rank") <= 20)
      .select(col("rank").cast("int").as("rank"), col("w").as("word"),
        col("freq").as("corpus_freq"), col("r").as("rank_micro"))
      .orderBy(col("rank"))
  }

  private val t45Sql =
    """WITH tok AS (
      |  SELECT doc_id, i AS pos, a[i] AS w
      |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') a
      |        FROM documents),
      |       LATERAL unnest(range(1, len(a) + 1)) AS u(i)),
      |nxt AS (
      |  SELECT w, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) w2
      |  FROM tok),
      |ed AS (
      |  SELECT least(w, w2) u, greatest(w, w2) v, CAST(COUNT(*) AS BIGINT) e
      |  FROM nxt WHERE w2 IS NOT NULL AND w <> w2 GROUP BY 1, 2),
      |dir AS (
      |  SELECT u, v, e FROM ed UNION ALL SELECT v, u, e FROM ed),
      |wd AS (SELECT u, CAST(SUM(e) AS BIGINT) wdeg FROM dir GROUP BY 1),
      |vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) freq FROM tok GROUP BY 1),
      |r0 AS (SELECT w, CAST(1000000 AS BIGINT) r FROM vocab),
      |s1 AS (
      |  SELECT dir.v, SUM((r0.r * dir.e) // wd.wdeg) s
      |  FROM dir JOIN r0 ON dir.u = r0.w JOIN wd ON dir.u = wd.u
      |  GROUP BY 1),
      |r1 AS (
      |  SELECT vocab.w, 150000 + COALESCE((850 * s1.s) // 1000, 0) r
      |  FROM vocab LEFT JOIN s1 ON vocab.w = s1.v),
      |s2 AS (
      |  SELECT dir.v, SUM((r1.r * dir.e) // wd.wdeg) s
      |  FROM dir JOIN r1 ON dir.u = r1.w JOIN wd ON dir.u = wd.u
      |  GROUP BY 1),
      |r2 AS (
      |  SELECT vocab.w, vocab.freq, 150000 + COALESCE((850 * s2.s) // 1000, 0) r
      |  FROM vocab LEFT JOIN s2 ON vocab.w = s2.v),
      |rk AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY r DESC, w ASC) rank, w, freq, r
      |  FROM r2)
      |SELECT CAST(rank AS INTEGER) rank, w word, freq corpus_freq,
      |  CAST(r AS BIGINT) rank_micro
      |FROM rk WHERE rank <= 20 ORDER BY rank""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("t45_textrank_keywords",
      "TextRank keywords: damped power iteration over the word co-occurrence graph, g01 micro-integer convention",
      t45TextrankKeywords, Some(t45Sql)),
    QueryDef("t44_contaminated_spans",
      "span-level decontamination: eval-gram covers merged into maximal token spans, exact mass + ppm share",
      t44ContaminatedSpans, Some(t44Sql)),
    QueryDef("t43_luhn_pii",
      "checksum-validated card PII: Luhn rejects planted fakes the regex alone would redact",
      t43LuhnPii, Some(t43Sql)),
    QueryDef("t42_boilerplate_strip",
      "C4-style HTML/boilerplate strip proven by planted-template round-trip per lang",
      t42BoilerplateStrip, Some(t42Sql)),
    QueryDef("t41_dsir_weights",
      "DSIR importance weights: hashed-unigram target/raw LM log-ratio per doc",
      t41DsirWeights, Some(t41Sql)),
    QueryDef("t39_kneser_ney",
      "interpolated Kneser-Ney bigram perplexity (continuation-count backoff, micro-nat exact)",
      t39KneserNey, Some(t39Sql)),
    QueryDef("t38_source_divergence",
      "per-source chi2 domain-shift divergence vs the corpus unigram blend",
      t38SourceDivergence, Some(t38Sql)),
    QueryDef("t37_garbage_score",
      "OCR/mojibake tracers per source: U+FFFD, density ratios, consonant runs",
      t37GarbageScore, Some(t37Sql)),
    QueryDef("t36_vocab_coverage",
      "OOV token-mass sweep over vocab budgets (tokenizer sizing curve)",
      t36VocabCoverage, Some(t36Sql)),
    QueryDef("t35_readability",
      "Flesch reading-ease gate, exact integer milli-units + band label",
      t35Readability, Some(t35Sql)),
    QueryDef("t34_vocab_growth",
      "Heaps-law vocabulary growth at 10 checkpoints via first-occurrence agg",
      t34VocabGrowth, Some(t34Sql)),
    QueryDef("t33_winnowing",
      "winnowed k-gram fingerprints (MOSS), per-doc counts + XOR checksum",
      t33Winnowing(_, _), Some(t33Sql)),
    QueryDef("t32_doc_gate",
      "per-doc curation verdicts: exact-integer quality rules + reasons",
      t32DocGate, Some(t32Sql)),
    QueryDef("t31_pmi_pairs",
      "word co-occurrence lift top-20, exact rational ppm (no logs)",
      t31PmiPairs, Some(t31Sql)),
    QueryDef("t30_langid_confusion",
      "language-ID confusion matrix vs true labels, exact recall ppm",
      t30LangidConfusion, Some(t30Sql)),
    QueryDef("t29_ppl_threshold_sweep",
      "surprisal-filter calibration: retention curve over 5 thresholds x lang",
      t29PplThresholdSweep, Some(t29Sql)),
    QueryDef("t28_rake_keywords",
      "RAKE stopword-islands phrase extraction, deg/freq ppm scoring, top-20",
      t28RakeKeywords, Some(t28Sql)),
    QueryDef("t27_freq_spectrum", "Good-Turing count-of-counts spectrum per language",
      t27FreqSpectrum, Some(t27Sql)),
    QueryDef("t01_token_stats", "whitespace + BPE-ish token counting", t01TokenStats, Some(t01Sql)),
    QueryDef("t21_containment", "asymmetric containment (quote detection) via rare-gram index",
      t21Containment, Some(t21Sql)),
    QueryDef("t20_vocab_stats", "per-source Zipf profile: types, hapax, TTR",
      t20VocabStats, Some(t20Sql)),
    QueryDef("t18_chunking", "overlapping token-window chunking (pure map-side explode)",
      t18Chunking, Some(t18Sql)),
    QueryDef("t19_ngram_novelty", "batch-vs-corpus 3-gram novelty (asymmetric gram join)",
      t19NgramNovelty, Some(t19Sql)),
    QueryDef("t17_ngram_topk", "corpus-wide bigram top-20 (vocabulary-bounded shuffle)",
      t17NgramTopK, Some(t17Sql)),
    QueryDef("t02_quality_score", "length/punct/stopword quality scoring", t02QualityScore, Some(t02Sql)),
    QueryDef("t03_langid", "marker-word language ID heuristic", t03LangId, Some(t03Sql)),
    QueryDef("t04_fingerprint", "md5 + 60-bit + rolling-hash fingerprints", t04Fingerprint, Some(t04Sql)),
    QueryDef("t05_json_extract", "JSON property extraction + typed agg", t05JsonExtract, Some(t05Sql)),
    QueryDef("t06_corpus_pipeline",
      "composed corpus clean: langid -> quality gate -> exact dedup -> accounting",
      t06CorpusPipeline, Some(t06Sql)),
    QueryDef("t07_repetition_filters",
      "Gopher/C4 repetition + symbol quality rules per document",
      t07RepetitionFilters, Some(t07Sql)),
    QueryDef("t09_domain_stats",
      "URL parse -> per-domain corpus accounting (blocklist shape)",
      t09DomainStats, Some(t09Sql)),
    QueryDef("t10_decontam",
      "eval-set 3-gram decontamination via broadcast gram join",
      t10Decontam, Some(t10Sql)),
    QueryDef("t11_pii_redact",
      "PII detection + regex redaction (planted emails/phones)",
      t11PiiRedact, Some(t11Sql)),
    QueryDef("t12_tfidf",
      "per-source TF-IDF top terms (corpus characterization)",
      t12Tfidf, Some(t12Sql)),
    QueryDef("t13_nfc_normalize",
      "Unicode NFC + control strip via native codegen expression",
      t13NfcNormalize, Some(t13Sql)),
    QueryDef("t14_surprisal",
      "unigram LM log-perplexity scoring (micro-nat exact aggregation)",
      t14Surprisal, Some(t14Sql)),
    QueryDef("t22_bigram_lm",
      "interpolated bigram LM perplexity (map-side bigrams, shuffle-joined counts)",
      t22BigramLm, Some(t22Sql)),
    QueryDef("t23_repeated_spans",
      "exact-substring duplication mass per doc (8-gram islands)",
      t23RepeatedSpans, Some(t23Sql)),
    QueryDef("t15_bpe_merge",
      "one BPE merge step: frequency-weighted adjacent-pair counts",
      t15BpeMergeStep, Some(t15Sql)),
    QueryDef("t24_bpe_train",
      "iterated BPE training: three merge rounds with greedy-apply semantics",
      t24BpeTrain(_, _), Some(t24Sql)),
    QueryDef("t26_bpe_encode",
      "corpus encoding with the trained BPE tokenizer (merge-rule replay)",
      t26BpeEncode(_, _), Some(t26Sql)),
    QueryDef("t40_tokenizer_fertility",
      "per-language tokenizer fertility + unmerged-coverage audit (ppm exact)",
      t40TokenizerFertility(_, _), Some(t40Sql)),
    QueryDef("t25_curation_funnel",
      "end-to-end curation funnel: lang -> length -> dedup -> decontam -> pack",
      t25CurationFunnel, Some(t25Sql)),
    QueryDef("t16_line_dedup",
      "line-level duplication profile (boilerplate signal)",
      t16LineDedup, Some(t16Sql)),
    QueryDef("f09_url_canonicalize",
      "URL canonicalization: host case, default port, fragment, utm params",
      f09UrlCanonicalize, Some(f09Sql))
  )
}
