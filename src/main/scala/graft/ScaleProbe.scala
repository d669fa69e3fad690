package graft

import scala.util.{Failure, Success}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-probe harness: replicate the sf0.1 tables K× (default 10) under
  * /tmp with id-space remapping, then time the HEAVY query families at
  * 1× and K× in the SAME JVM and print per-query ratios. The contract
  * scales verify correctness; this main produces the measured evidence
  * that the heavy plans grow ~linearly (modulo shuffle growth) instead
  * of super-linearly — the one datapoint a plan-shape review cannot
  * give. Run:
  *
  *   sbt "runMain graft.ScaleProbe"            # 10x, /tmp/graft_scale_x10
  *   sbt "runMain graft.ScaleProbe <base> <k>"
  *
  * Replication remaps every key space (doc_id/vec_id/orderkey/custkey
  * shift per copy) so joins stay consistent; document text is passed
  * through a per-copy letter substitution so cross-copy shingle sets
  * are disjoint and near-dup DENSITY stays constant (10 verbatim copies
  * would quadratically inflate each duplicate family instead of scaling
  * the corpus); embeddings get a per-copy epsilon so exact ties do not
  * explode. Dimension tables (region/nation/supplier/part) stay fixed —
  * the realistic shape of a fact-side scale-up.
  */
object ScaleProbe {

  /** The bench heavies called out by the r5 review, plus the round-7
    * additions whose cost is corpus-shaped (iterative joins, LSH
    * sweeps, per-row HOF scans, full-width window passes). Most guarded
    * exact-eval ops are deliberately absent: their guards trip at 10×
    * BY DESIGN and route to the index paths. v19 is probed (r14): its
    * 8×-priced bound ADMITS the 10× corpus (1.28e8 of 2.68e8) and
    * REFUSES the 100× one — both outcomes are artifact rows now that
    * refusals are classified structurally, which is the punch-list
    * answer for "v19's linearity is argued, not measured": its past-
    * bound path is a refusal routing to v12/v05 shortlist scoring.
    */
  val probes: Seq[String] = Seq(
    "d12_lsh_index", "d10_lsh_audit", "d01_minhash_lsh",
    "g03_component_profile", "g04_contamination_spread", "g05_hits",
    "g06_kcore", "g08_lpa_communities",
    "v09_pq_rerank", "v12_binary_topk", "v18_ivf_pq_rerank",
    "t25_curation_funnel", "j14_bucketed_join",
    "g10_personalized_rank", "d13_threshold_sweep", "t34_vocab_growth",
    "t07_repetition_filters", "t33_winnowing", "w27_bollinger_breach",
    "d14_template_dedup", "t38_source_divergence", "v20_rrf_fusion",
    "m13_shard_manifest", "g12_degree_profile",
    // r8 additions (VERDICT r7 #3): the bench top-20 / r7 spike set and
    // the new ops — events now SCALES with the fact side (it was copied
    // verbatim before, which made any events-shaped probe vacuous)
    "a25_grouping_sets", "a27_quantile_bins", "w25_lag_autocorr",
    "j02_fact_fact_revenue", "io08_codec_roundtrip", "m10_avghash_pairs",
    "a50_cvm_drift", "a51_seasonality_strength",
    // r8 second-wave additions: the new contract ops whose cost is
    // corpus-shaped (a52/a54 prefix-sum ranking, t39's bigram-type
    // shuffle, v22's filtered funnel, io09's write+probe, w30/a53 pure
    // aggregation passes, t26 replaying the stored BPE rules)
    "a52_kruskal_wallis", "a53_contract_audit", "a54_trimmed_mean",
    "t39_kneser_ney", "v22_filtered_ivf", "io09_bloom_lookup",
    "w30_trend_slope", "t26_bpe_encode", "a55_l_diversity",
    "v23_nprobe_sweep", "g13_clustering_coeff", "l06_retractable_refresh",
    "a56_effective_sample_size", "v24_pq_distortion", "io10_corrupt_jsonl",
    "v25_lsh_ann", "d15_source_similarity", "t40_tokenizer_fertility",
    "s14_epoch_shuffle", "st13_ingest_dedup", "g14_neighborhood_function",
    "a57_t_closeness", "l07_time_travel", "a58_table_stats",
    "io11_partition_pruning", "t41_dsir_weights", "st14_manifest_sink",
    "v27_rq_topk", "s15_stratified_kfold", "w31_mann_kendall",
    "g15_random_walks", "t42_boilerplate_strip",
    "a59_ams_f2", "w32_runs_test", "l08_write_audit_publish",
    "w33_rescaled_range", "s16_universe_sample", "j21_full_reducer",
    "v28_mmr_diversify", "st15_stateful_ledger", "io12_agg_pushdown",
    "a60_ab_proportion", "l09_partition_evolution", "l10_deletion_vectors",
    "t43_luhn_pii", "a61_column_correlation", "io13_file_sizing",
    // r8 fourth-session additions
    "d16_prefix_filter_join", "g16_modularity", "w34_ljung_box", "l11_snapshot_diff", "t44_contaminated_spans", "v29_farthest_init", "s17_systematic_resample", "w35_theil_sen", "w36_cusum_alarm", "m14_replica_repair", "io14_runtime_pruning", "v30_ndcg_eval",
    "l12_atomic_multi_table", "v31_adaptive_probe", "w37_kendall_tau",
    "j22_asof_tolerance", "v32_multiprobe_lsh", "w38_mase",
    // r9 additions
    "a62_poisson_bootstrap", "j23_join_size_sketch", "m15_merkle_audit",
    "l13_manifest_pruning", "d17_bbit_minhash",
    "io15_nested_pruning", "io16_bucket_pruning", "g17_katz_centrality",
    "t45_textrank_keywords", "v33_nndescent", "st16_atomic_dual_sink",
    "m16_cdc_dedup_ratio", "a63_survival_lifetable", "s18_neyman_allocation",
    "d18_incremental_components", "io17_footer_stats",
    // r11 additions
    "ep01_corpus_build", "d19_lsh_retune", "ep02_incremental_build",
    // r12 additions
    "st17_incremental_stream", "ep03_shard_compaction",
    "d20_retune_migration",
    // r13 additions: the IVF SERVING row (fixed query count — the
    // √n-per-query cost law v18's batch-eval can't show)
    "v34_ivf_serve", "m17_widehash_pairs",
    // r14 addition (VERDICT r13 #4): the 8×-priced exact MaxSim —
    // measured at 10× (under its bound), refused at 100× (over it)
    "v19_maxsim_topk")

  /** By-design refusals come in exactly two structured shapes — the
    * data-priced guards (d16/m10/m17: `<op> refused: priced candidate
    * volume …`) and the metadata-priced exact-eval bounds (the v-family
    * `requirePairsBounded`: `… scored pairs exceeds the <bound> bound`).
    * Match those prefixes, not the bare substring "refused" (ADVICE
    * r13: a genuine failure whose message merely contains the word must
    * be recorded as a crash, not a by-design refusal).
    */
  private[graft] def isPricedRefusal(msg: String): Boolean =
    msg != null && (msg.contains("refused: priced candidate volume") ||
      msg.contains("scored pairs exceeds the"))

  /** One probe's measurement. `jobBytes` is the listener-level
    * shuffle-write total ([[QueryMetrics]]): EVERY completed stage
    * while a query constructs and runs — including construction-time
    * jobs (localCheckpoint materialization, prefix-sum offset
    * collects, staged index builds) and RDD-level jobs that the
    * executed-plan walk in `planBytes` cannot see. This closes the g04
    * blind spot (its recursive-CTE work runs against a checkpointed
    * RDD, so the final plan reported shuffle 0 for two rounds).
    * `byTag` splits it by job description (ep02 tags each pipeline
    * stage). `refused` marks a priced-guard refusal (d16/m10 class) —
    * an ACTION-FREE by-design outcome the artifact must distinguish
    * from a crash: the guard firing IS the scale evidence (r13: m10
    * refuses past its band-space saturation budget instead of
    * measuring 575x).
    */
  private final case class Probe(wallS: Double, planBytes: Long, jobBytes: Long,
      refused: Boolean, byTag: Map[String, Long])
  private val failed = Probe(-1.0, -1L, -1L, false, Map.empty)

  private val copiedTables = Seq("region", "nation", "supplier", "part")

  /** Injective per-copy character substitution for the replicator:
    * independent AFFINE maps on the lowercase, uppercase and digit
    * rings (σ(p) = a·p + b mod |ring|, a coprime to the ring size) —
    * 312 distinct letter maps and 40 digit maps, identity at i = 0.
    * Cross-copy shingle sets must be DISJOINT (modulo punctuation-only
    * shingles) or replication inflates every duplicate family instead
    * of scaling the corpus. The r11 generator rotated only
    * 'etaoinshrd': shingles made of digits or rare letters were SHARED
    * across copies — at 10× that inflated band-collision candidates
    * ~2× over linear, and at 100× (where the 10-rotation cycle also
    * repeated EXACTLY, duplicating every doc's full text ten times) it
    * produced the measured d01 "phase transition" — largely a
    * replication artifact, not a property of the plan.
    */
  private def substFor(i: Int): (String, String) = {
    val lo = "abcdefghijklmnopqrstuvwxyz"
    val up = lo.map(_.toUpper)
    val dg = "0123456789"
    def affine(ring: String, a: Int, b: Int): String =
      ring.indices.map(p => ring((a * p + b) % ring.length)).mkString
    val la = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)((i / 26) % 12)
    val da = Seq(1, 3, 7, 9)((i / 10) % 4)
    (lo + up + dg,
      affine(lo, la, i % 26) + affine(up, la, i % 26) + affine(dg, da, i % 10))
  }

  def buildScaled(spark: SparkSession, baseDir: String, outDir: String, k: Int): Unit = {
    // generation-versioned marker: a _READY dir built by an older
    // generator (e.g. pre-r8, when events was copied verbatim instead of
    // scaled) must NOT be silently reused — it would quietly measure the
    // new probes against stale data. Bump the suffix on any layout change.
    val ready = java.nio.file.Paths.get(outDir, "_READY_v3")
    if (java.nio.file.Files.exists(ready)) return
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1

    val docs = Tables.documents(spark, baseDir)
    // stride ≥ 1M: the d/ep plant conventions add fixed offsets up to
    // +500001 to doc ids — with an nDoc-sized stride those planted ids
    // ALIAS real ids of higher copies once k·nDoc passes the offsets
    // (at 100× from sf0.1 they landed inside copies 20-100), quietly
    // corrupting the scaled-corpus semantics the probe times
    val nDoc = math.max(maxOf(docs, "doc_id"), 1000000L)
    (0 until k).map { i =>
      val (src, dst) = substFor(i)
      docs.select(
        (col("doc_id") + lit(i * nDoc)).as("doc_id"),
        expr(s"translate(text, '$src', '$dst')").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = Tables.embeddings(spark, baseDir)
    val nVec = maxOf(emb, "vec_id")
    (0 until k).map { i =>
      emb.select(
        (col("vec_id") + lit(i * nVec)).as("vec_id"),
        expr(s"transform(embedding, x -> CAST(x + ${i}e-4 AS FLOAT))").as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    val ord = Tables.orders(spark, baseDir)
    val li = Tables.lineitem(spark, baseDir)
    val cust = Tables.customer(spark, baseDir)
    val nOrd = maxOf(ord, "o_orderkey")
    val nCust = maxOf(cust, "c_custkey")
    (0 until k).map { i =>
      ord.withColumn("o_orderkey", col("o_orderkey") + lit(i * nOrd))
        .withColumn("o_custkey", col("o_custkey") + lit(i * nCust))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    (0 until k).map { i =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(i * nOrd))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    (0 until k).map { i =>
      // bracket names with a per-copy char (lev >= 2 between copies):
      // keeps WITHIN-copy edit-distance structure identical while
      // cross-copy name clusters stay apart — verbatim copies would
      // multiply every lev<=1 cluster by k and inflate g04/d09
      // quadratically, which is replication artifact, not scale
      cust.withColumn("c_custkey", col("c_custkey") + lit(i * nCust))
        .withColumn("c_name",
          concat(lit(('a' + i).toChar.toString), col("c_name"),
                 lit(('a' + i).toChar.toString)))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/customer.parquet")

    // events: k× the traffic in the SAME time window (the realistic
    // shape of an event-volume scale-up) — event ids and users shift per
    // copy so per-user event densities and dedup structure stay constant
    val ev = Tables.events(spark, baseDir)
    val nEvt = maxOf(ev, "event_id")
    val nUsr = maxOf(ev, "user_id")
    (0 until k).map { i =>
      ev.withColumn("event_id", col("event_id") + lit(i * nEvt))
        .withColumn("user_id", col("user_id") + lit(i * nUsr))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")

    copiedTables.foreach { t =>
      spark.read.parquet(s"$baseDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    java.nio.file.Files.createFile(ready)
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val outDir = args.lift(2).getOrElse(s"/tmp/graft_scale_x$factor")
    val spark = GraftSession.local()

    val t0 = System.nanoTime()
    buildScaled(spark, baseDir, outDir, factor)
    System.err.println(f"[probe] build/verify ${factor}x data ${(System.nanoTime() - t0) / 1e9}%.1f s")

    /** Total "shuffle bytes written" across the executed (AQE-final)
      * plan — the byte-level scale evidence wall-clock can't give: a
      * probe ratio can hide in JVM noise, but a shuffle-bytes ratio at
      * 10× data is a property of the PLAN. ReusedExchange subtrees are
      * deliberately NOT expanded (the reuse means those bytes were
      * written once). Subquery plans (scalar broadcasts) are included.
      */
    def shuffleBytes(df: DataFrame): Long = {
      import org.apache.spark.sql.execution._
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def walk(p: SparkPlan): Long = {
        val own = p.metrics.get("shuffleBytesWritten").map(_.value).getOrElse(0L)
        val sub = p.subqueries.map(walk).sum
        own + sub + (p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case s: QueryStageExec        => walk(s.plan)
          case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => 0L
          case other => other.children.map(walk).sum
        })
      }
      walk(df.queryExecution.executedPlan)
    }

    def measure(label: String, build: () => DataFrame): Probe = {
      val (out, cost) = QueryMetrics(spark) {
        val d = build()
        d.queryExecution.toRdd.count()
        d
      }
      out match {
        case Success(df) =>
          Probe(cost.wallS, try shuffleBytes(df) catch { case _: Throwable => -1L },
            cost.shuffleBytes, false, cost.shuffleBytesByTag)
        case Failure(e) =>
          val refused = isPricedRefusal(e.getMessage)
          if (refused)
            System.err.println(s"[probe] $label REFUSED by priced guard: " +
              e.getMessage.takeWhile(_ != '\n'))
          else
            System.err.println(s"[probe] $label FAILED: ${e.getMessage}")
          failed.copy(refused = refused)
      }
    }
    def measureAt(name: String, dir: String): Probe =
      measure(s"$name at $dir", () => Registry.byName(name).fn(spark, dir))
    GraftSession.warmUp(spark, baseDir)
    // Warm the once-per-JVM shared artifact caches (stored LSH index,
    // d19 chooser decision, IVF assignment memo) for BOTH dirs BEFORE
    // any probe is measured: otherwise whichever probed query first
    // touches a cache absorbs the build's stages into its job_mb and
    // skews that row's base->scaled ratio (ADVICE r11). The builds are
    // probe-visible on their own terms via d12/d19's rows.
    Seq(baseDir, outDir).foreach { d =>
      try {
        graft.operators.Dedup.chosenRowsPerBand(spark, d) // builds the index too
        // construction alone populates the memoized IVF assignment
        // (its checkpoint is eager)
        Registry.byName.get("v18_ivf_pq_rerank").foreach(q => q.fn(spark, d))
        // m17's stored perceptual-hash table (r14): built once per
        // corpus at ingest in production; its probe row measures the
        // banded pair job over the store, not the hash build
        graft.operators.Multimodal.m17WarmHashStore(spark, d)
        ()
      } catch { case e: Throwable =>
        System.err.println(s"[probe] cache warm at $d failed: ${e.getMessage}")
      }
    }

    // optional scoped re-run (env GRAFT_PROBE_FILTER = regex): probe only
    // matching queries — used to extend an existing artifact with freshly
    // added ops without re-timing the whole standing list
    val keep: String => Boolean = sys.env.get("GRAFT_PROBE_FILTER") match {
      case Some(re) => val r = re.r; (n: String) => r.findFirstIn(n).isDefined
      case None => _ => true
    }
    // Ops that RE-STAGE their corpus inside the query by design (their
    // wall at k× is dominated by the k×-bigger staging write, not the
    // measured read path): tagged so the artifact separates "slow plan"
    // from "the demo IS the write". io12/io13 mint text/parquet layouts;
    // l08/l09/l10/l11/l12 run multi-version write+audit lifecycles.
    val stagingOps = Set("io12_agg_pushdown", "io13_file_sizing",
      "io14_runtime_pruning", "io17_footer_stats",
      "l08_write_audit_publish", "l09_partition_evolution",
      "l10_deletion_vectors", "l11_snapshot_diff", "l12_atomic_multi_table",
      "l13_manifest_pruning", "io15_nested_pruning", "io16_bucket_pruning",
      "st16_atomic_dual_sink", "st17_incremental_stream",
      "d20_retune_migration")
    def js(t: String): String = t.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }
    def formatRow(name: String, tagOpt: Option[String], b: Probe, s: Probe): String = {
      val ratio = if (b.wallS > 0 && s.wallS > 0) s.wallS / b.wallS else -1.0
      val bytesRatio =
        if (b.planBytes > 0 && s.planBytes >= 0) s.planBytes.toDouble / b.planBytes
        else -1.0
      val jobRatio =
        if (b.jobBytes > 0 && s.jobBytes >= 0) s.jobBytes.toDouble / b.jobBytes
        else -1.0
      val tag = tagOpt.fold("")(t => s",\"tag\":\"$t\"")
      val refused =
        (if (b.refused) ",\"refused_base\":true" else "") +
          (if (s.refused) ",\"refused_scaled\":true" else "")
      System.err.println(f"[probe] $name%-28s base ${b.wallS}%6.1f s  ${factor}x ${s.wallS}%7.1f s  ratio ${ratio}%5.1f  shuffleMB ${b.planBytes / 1e6}%8.1f -> ${s.planBytes / 1e6}%8.1f (x$bytesRatio%.1f)  jobMB ${b.jobBytes / 1e6}%8.1f -> ${s.jobBytes / 1e6}%8.1f (x$jobRatio%.1f)${tagOpt.fold("")(t => s"  [$t]")}${if (s.refused) "  [refused]" else ""}")
      // per-stage job bytes, when the query tags its stages with job
      // descriptions (ep02): localizes a bad job_mb ratio to the
      // pipeline stage that caused it (VERDICT r11 #1)
      val stages = (b.byTag.keySet ++ s.byTag.keySet).toSeq.sorted
      val byTag = if (stages.forall(_ == QueryMetrics.untagged)) "" else {
        def row(stage: String, bb: Long, sb: Long): Unit = System.err.println(
          f"$stage%-28s ${bb / 1e6}%8.3f ${sb / 1e6}%10.3f ${if (bb > 0) sb.toDouble / bb else -1.0}%6.1f")
        System.err.println("stage                        base_mb  scaled_mb  ratio")
        stages.foreach(t => row(t, b.byTag.getOrElse(t, 0L), s.byTag.getOrElse(t, 0L)))
        row("TOTAL", b.byTag.values.sum, s.byTag.values.sum)
        stages.map { t =>
          f"\"${js(t)}\":{\"base\":${b.byTag.getOrElse(t, 0L) / 1e6}%.3f,\"scaled\":${s.byTag.getOrElse(t, 0L) / 1e6}%.3f}"
        }.mkString(",\"job_mb_by_tag\":{", ",", "}")
      }
      f"""\"$name\":{\"base_s\":${b.wallS}%.2f,\"scaled_s\":${s.wallS}%.2f,\"ratio\":$ratio%.2f,\"shuffle_mb_base\":${b.planBytes / 1e6}%.1f,\"shuffle_mb_scaled\":${s.planBytes / 1e6}%.1f,\"shuffle_ratio\":$bytesRatio%.2f,\"job_mb_base\":${b.jobBytes / 1e6}%.1f,\"job_mb_scaled\":${s.jobBytes / 1e6}%.1f,\"job_ratio\":$jobRatio%.2f$tag$refused$byTag}"""
    }
    val rows = probes.filter(keep).map { name =>
      formatRow(name, if (stagingOps(name)) Some("staging") else None,
        measureAt(name, baseDir), measureAt(name, outDir))
    }
    // Routed-fallback evidence: the registered v09/v12 pair bounds trip
    // near sf≈30 for this corpus, far past the probe scale — force the
    // route here so the probe RECORDS what the past-the-bound path costs
    // at the scaled corpus (it should sit near v18's cost, not the flat
    // scan's super-linear one).
    val routedDefs: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      ("v09_pq_rerank_routed",
        () => graft.operators.Similarity.v09PqRerank(spark, outDir, maxPairs = 1L)),
      ("v12_binary_topk_routed",
        () => graft.operators.Similarity.v12BinaryTopK(spark, outDir, maxPairs = 1L)),
      ("v20_rrf_fusion_routed",
        () => graft.operators.Similarity.v20RrfFusion(spark, outDir, maxPairs = 1L)),
      // the r9-flagged exact-family walls, forced onto their at-scale
      // paths: v28's shortlist routed through the IVF assignment; v30
      // explicitly evaluating the IVF retriever's NDCG (an eval metric
      // never routes silently — the caller names the retriever)
      ("v28_mmr_diversify_routed",
        () => graft.operators.Similarity.v28MmrDiversify(spark, outDir, maxPairs = 1L)),
      ("v30_ndcg_eval_routed",
        () => graft.operators.Similarity.v30NdcgEval(spark, outDir, evalIvfFunnel = true)),
      // the d19 chooser driving d01's re-banded candidate route at the
      // scaled corpus: the evidence that a data-driven (r,b) keeps
      // candidate volume ~linear where the fixed 12x5 layout measured
      // 20.7x candidate growth at 10x (d17, r9 artifact)
      ("d01_minhash_lsh_retuned",
        () => {
          val chosen = graft.operators.Dedup.d19LshRetune(spark, outDir)
            .collect().find(_.getBoolean(5)).map(_.getInt(0)).getOrElse(5)
          System.err.println(s"[probe] d19 chooser picked r=$chosen at ${factor}x")
          graft.operators.Dedup.d01MinHashLsh(spark, outDir, rowsPerBand = chosen)
        }))
    val routed = routedDefs.filter { case (n, _) => keep(n) }
      .map { case (n, f) =>
        val p = measure(n, f)
        System.err.println(f"[probe] $n%-28s ${factor}x ${p.wallS}%7.1f s (forced past pair bound)")
        f"""\"$n\":{\"scaled_s\":${p.wallS}%.2f}"""
      }
    // Steady-state rows (VERDICT r12 #5): st17's and d20's probed demo
    // rows are staging-tagged — they measure their own store build/
    // rewrite. These rows measure the MARGINAL cadence cost: the prep
    // thunk warms the state untimed (full stream over a persistent
    // checkpoint + one freshly staged arrival wave; the memoized index
    // migration), then the timed thunk pays exactly what production
    // pays per arrival / per served probe.
    val steadyDefs: Seq[(String, String => () => DataFrame)] = Seq(
      ("st17_marginal_wave", (d: String) => {
        val root = graft.operators.CorpusBuild.st17PrepareMarginal(spark, d)
        () => graft.operators.CorpusBuild.st17MarginalWave(spark, d, root)
      }),
      ("d20_serve_warm", (d: String) => {
        graft.operators.Dedup.d20RetuneMigration(spark, d)
          .queryExecution.toRdd.count()
        () => graft.operators.Dedup.d20RetuneMigration(spark, d)
      }))
    val steady = steadyDefs.filter { case (n, _) => keep(n) }.map { case (name, prep) =>
      def at(d: String): Probe =
        try { val thunk = prep(d); measure(s"$name at $d", thunk) }
        catch { case e: Throwable =>
          System.err.println(s"[probe] $name prep at $d FAILED: ${e.getMessage}")
          failed
        }
      formatRow(name, Some("steady"), at(baseDir), at(outDir))
    }
    println(s"""{"factor":$factor,"base":"$baseDir","queries":{${rows.mkString(",")}},"routed":{${routed.mkString(",")}},"steady":{${steady.mkString(",")}}}""")
    spark.stop()
  }
}
