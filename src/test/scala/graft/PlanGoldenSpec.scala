package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape goldens for the flagship queries: a committed fingerprint
  * of each final physical plan (operator names only — no ids, sizes, or
  * codegen stage numbers), so a regression that drops a pushdown,
  * broadcast, or codegen stage — or introduces a cartesian product —
  * fails CI instead of only showing up in bench numbers.
  *
  * Regenerate intentionally with:
  *   GRAFT_REGEN_PLANS=1 sbt "testOnly graft.PlanGoldenSpec"
  * and review the diff like any other golden change.
  */
class PlanGoldenSpec extends AnyFunSuite {
  import SparkTestSession._

  private val goldenDir = Paths.get("src/test/resources/golden_plans")
  private val regen = sys.env.get("GRAFT_REGEN_PLANS").contains("1")

  private val flagships = Seq(
    "a01_pricing_summary", "p01_project_filter", "j01_broadcast_star",
    "j03_semi_join", "w01_topn_per_group", "a12_iqr_clip",
    "d01_minhash_lsh", "d04_embedding_neardup", "v02_ivf_topk",
    "st01_tumbling_counts", "t06_corpus_pipeline", "t07_repetition_filters",
    "t08_sequence_packing", "v03_kmeans_step",
    "t10_decontam", "t12_tfidf", "j11_bloom_join", "j12_upsert",
    "w08_sessionize", "s05_stratified_sample", "d05_keep_best",
    "st05_attribution_join", "t13_nfc_normalize", "m05_payload_dedup",
    "t14_surprisal", "v04_int8_topk", "d07_semantic_dedup",
    "d08_incremental_dedup", "l01_zorder", "a24_skew_stats",
    "t15_bpe_merge", "g01_link_rank", "t16_line_dedup", "a25_grouping_sets",
    "a26_correlated_subquery", "w09_range_frame", "j13_nullsafe_join",
    "f10_collections",
    "t17_ngram_topk", "g02_triangle_count", "s09_weighted_sample",
    "v06_mips_topk", "w10_locf_fill", "io05_partition_overwrite",
    "w11_cohort_retention", "a27_quantile_bins", "t18_chunking",
    "t19_ngram_novelty", "v07_recall_eval", "j15_asof_join",
    "j16_dynamic_pruning", "w12_funnel_steps", "v08_pq_topk",
    "t20_vocab_stats", "io06_lines_source", "d09_fuzzy_pairs",
    "a28_running_distinct", "a29_mad_outliers", "w13_longest_streak",
    "m07_cdc_chunks", "t21_containment",
    "v09_pq_rerank", "t22_bigram_lm", "t23_repeated_spans",
    "a30_weighted_median", "m08_manifest_pairing", "st08_new_users",
    "w14_twap", "v10_filtered_topk", "a31_histogram",
    "t24_bpe_train", "t25_curation_funnel", "a32_market_basket", "w15_ohlc_bars",
    "a33_incremental_agg", "w16_seasonal_anomaly", "m09_payload_entropy",
    "t26_bpe_encode", "j17_interval_bin_join", "d10_lsh_audit",
    "v11_prefix_rerank", "w17_decay_score", "a35_sketch_rollup",
    "t27_freq_spectrum", "m10_avghash_pairs", "a36_cms_heavy_hitters",
    "a37_kmv_set_ops", "g05_hits", "w18_interpolate_fill", "t28_rake_keywords",
    "a38_ks_drift", "g06_kcore", "m11_audio_energy",
    "v18_ivf_pq_rerank", "t33_winnowing", "s12_temperature_mix",
    "a45_entropy_profile", "sql03_access_by_country",
    "w26_max_drawdown", "t34_vocab_growth", "t35_readability",
    "g10_personalized_rank", "a46_chi_square", "v19_maxsim_topk",
    "st10_redelivery_dedup",
    "a47_welch_ttest", "w27_bollinger_breach", "g11_reciprocity",
    "t36_vocab_coverage", "d13_threshold_sweep", "st11_static_enrich",
    "w28_rolling_corr", "a48_benford_audit", "a49_gini_concentration",
    "t37_garbage_score", "f12_confusable_audit", "st12_cdc_apply",
    "w29_topk_churn", "t38_source_divergence", "d14_template_dedup",
    "m13_shard_manifest", "v20_rrf_fusion", "s13_time_split",
    "g12_degree_profile", "v21_centroid_drift", "a51_seasonality_strength",
    "a50_cvm_drift", "a52_kruskal_wallis", "a53_contract_audit",
    "a54_trimmed_mean", "a55_l_diversity", "t39_kneser_ney",
    "v22_filtered_ivf", "v23_nprobe_sweep", "g13_clustering_coeff",
    "w30_trend_slope", "l06_retractable_refresh",
    "a56_effective_sample_size", "v24_pq_distortion", "io10_corrupt_jsonl",
    "v25_lsh_ann", "d15_source_similarity", "t40_tokenizer_fertility",
    "v26_lsh_recall", "s14_epoch_shuffle", "st13_ingest_dedup",
    "g14_neighborhood_function", "a57_t_closeness", "l07_time_travel",
    "a58_table_stats", "io11_partition_pruning", "t41_dsir_weights",
    "st14_manifest_sink", "v27_rq_topk", "s15_stratified_kfold",
    "w31_mann_kendall", "g15_random_walks", "t42_boilerplate_strip",
    "a59_ams_f2", "w32_runs_test", "l08_write_audit_publish",
    "w33_rescaled_range", "s16_universe_sample", "j21_full_reducer",
    "v28_mmr_diversify", "st15_stateful_ledger", "io12_agg_pushdown",
    "a60_ab_proportion", "l09_partition_evolution", "l10_deletion_vectors",
    "t43_luhn_pii", "a61_column_correlation", "io13_file_sizing",
    "d16_prefix_filter_join", "g16_modularity", "w34_ljung_box",
    "l11_snapshot_diff", "t44_contaminated_spans", "v29_farthest_init",
    "s17_systematic_resample", "w35_theil_sen", "w36_cusum_alarm",
    "m14_replica_repair", "io14_runtime_pruning", "v30_ndcg_eval",
    "l12_atomic_multi_table", "v31_adaptive_probe", "w37_kendall_tau",
    "j22_asof_tolerance", "v32_multiprobe_lsh", "w38_mase",
    "a62_poisson_bootstrap", "j23_join_size_sketch", "m15_merkle_audit",
    "l13_manifest_pruning", "d17_bbit_minhash",
    "io15_nested_pruning", "io16_bucket_pruning", "g17_katz_centrality",
    "t45_textrank_keywords", "v33_nndescent", "st16_atomic_dual_sink",
    "m16_cdc_dedup_ratio", "a63_survival_lifetable", "s18_neyman_allocation",
    "d18_incremental_components", "io17_footer_stats",
    // the composed capstone: its golden pins that the final plan reads
    // each stage as ONE materialized RDD scan — zero parquet re-scans of
    // the corpus across the ten accounting branches
    "ep01_corpus_build", "d19_lsh_retune", "ep02_incremental_build",
    "st17_incremental_stream", "ep03_shard_compaction",
    "d20_retune_migration",
    // r13: the IVF serving-path contract — its golden pins the map-side
    // shape (fixed probe set broadcast into homes, candidate list
    // broadcast into the corpus scan; the only shuffle is the top-k)
    "v34_ivf_serve",
    // r13: the wide perceptual hash (the route m10's guard names)
    "m17_widehash_pairs",
    // the rest of the v-family: with these, every query that builds on
    // the shared embedding-search fragments has its plan pinned
    "v01_cosine_topk", "v05_ivf_index", "v12_binary_topk", "v13_mrr_eval",
    "v14_centroid_outliers", "v15_prf_rerank", "v16_dim_variance",
    "v17_shortlist_sweep",
    // the lake lifecycle queries that had no golden before their file
    // listing moved behind graft.util.Lake
    "l04_compaction_exec", "l05_retention_vacuum")

  /** Final-plan operator fingerprint: one op name per tree node in
    * preorder, AQE final-plan only, whole-stage-codegen wrappers and node
    * ids stripped. Every ReusedExchange/ReusedSubquery is EXPANDED into
    * the subtree it references: which of two identical exchanges AQE
    * materializes first (and which becomes the Reused pointer) is a
    * thread race, so the raw plan string is nondeterministic — after
    * expansion both runs print the identical canonical tree. Changes
    * exactly when the plan SHAPE changes.
    */
  private def fingerprint(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    df.collect() // materialize so AQE finalizes the physical plan
    // BroadcastQueryStage/BroadcastExchange are SILENT: when the same
    // broadcast subtree feeds two joins, WHICH copy AQE materializes
    // and which becomes the ReusedExchange pointer is a thread race,
    // and after reuse-expansion the two forms would print differently
    // (wrapper nodes present vs absent) — the w29 golden-flap class,
    // which resurfaced on v23/v28 (multi-step funnels reusing one
    // shortlist). The broadcast SEMANTICS stay asserted by the join
    // node names (BroadcastHashJoin / BroadcastNestedLoopJoin); shuffle
    // Exchange stays a first-class fingerprint signal.
    val silent = Set("AQEShuffleRead", "ReusedSubquery", "ColumnarToRow",
      "InputAdapter", "ResultQueryStage", "ShuffleQueryStage",
      "BroadcastQueryStage", "BroadcastExchange")
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case w: WholeStageCodegenExec => walk(w.child)
      case r: ReusedExchangeExec    => walk(r.child)
      // ORDER-BY range exchanges are SILENT too: when the child stage
      // happens to coalesce to a single partition, AQE's re-planning
      // drops the range shuffle entirely (a trivially-satisfied
      // distribution) — a byte-size-borderline, run-to-run flap with
      // zero shape information (every contract query ends in orderBy).
      // Hash exchanges — the actual scale signal — stay first-class.
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] =>
        e.children.flatMap(walk)
      case s: QueryStageExec =>
        val name = s.nodeName.takeWhile(_.isLetterOrDigit)
        (if (silent(name)) Seq.empty else Seq(name)) ++ walk(s.plan)
      case other =>
        val name = other.nodeName.takeWhile(_.isLetterOrDigit)
        (if (silent(name) || name.isEmpty) Seq.empty else Seq(name)) ++
          other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  flagships.foreach { name =>
    test(s"$name plan shape matches golden") {
      // FRESH construction per test, never the shared memo: goldens are
      // pinned against freshly-built plans. localCheckpoint()-based
      // frames (d18, g04 convention) carry runtime size stats collected
      // at construction time; built inside a bulk pass those stats
      // differ and can flip join strategies (ADVICE r10: d18
      // BroadcastHashJoin → SortMergeJoin under the r10 eager cache).
      val d = Registry.all.find(_.name == name)
        .getOrElse(fail(s"unknown query $name"))
      val fp = fingerprint(d.fn(spark, sf))
      val file = goldenDir.resolve(s"$name.txt")
      if (regen) {
        Files.createDirectories(goldenDir)
        Files.write(file, fp.mkString("\n").getBytes(StandardCharsets.UTF_8))
        info(s"regenerated ${file}")
      } else {
        assert(Files.exists(file),
          s"missing golden $file — run with GRAFT_REGEN_PLANS=1 to create")
        val want = new String(Files.readAllBytes(file), StandardCharsets.UTF_8)
          .linesIterator.toSeq
        assert(fp == want,
          s"plan shape drifted for $name:\n  got : ${fp.mkString(" / ")}\n  want: ${want.mkString(" / ")}")
      }
      // structural invariants that must hold regardless of golden updates
      val joined = fp.mkString(" ")
      assert(!joined.contains("CartesianProduct"), s"cartesian product in $name")
    }
  }
}
