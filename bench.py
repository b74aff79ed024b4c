#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO_ROOT = str(Path(__file__).resolve().parent)
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from mapreduce_rust_spark import memo  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline queries: one per capability pillar (wordcount/MapReduce,
# relational agg, join, window, dedup, similarity, text analysis).
HEADLINE = [
    "word_count",
    "word_count_sorted",
    "q1_pricing_summary",
    "join_revenue_by_nation",
    "window_topk_orders",
    "sessionize_events",
    "tumbling_event_counts",
    "minhash_lsh_pairs",
    "simhash_docs",
    "knn_bruteforce",
    "exact_dedup_docs",
    "quality_score_docs",
    "lang_id_docs",
    "multimodal_features",
    "asof_last_error",
    "stream_tumbling_counts",
    "curation_pipeline",
    "interval_join_click_purchase",
    # round 2: the LLM/streaming surface the round-1 bench didn't time,
    # so regressions in the df-cap / vocab top-k / LSH-literal /
    # convergence-loop changes stay measurable round-over-round
    "ngram_jaccard_pairs",
    "build_vocab",
    "tf_df_docs",
    "knn_lsh",
    "neardup_clusters",
    "stream_session_windows",
    # round 2b: curation-quality + skew-proof sessionization surface
    "repetition_stats_docs",
    "gopher_rules_docs",
    "contamination_docs",
    "pack_sequences_docs",
    "heavy_hitter_tokens",
    "sessionize_events_scalable",
    # round 2c: TPC-H compound shapes + sharding/embedding + stream-static
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q10_returned_items",
    "window_range_hour_events",
    "dup_ngram_fraction_docs",
    "shuffle_shard_docs",
    "embedding_normalize_quantize",
    "stream_static_enrich",
    # round 2d: OLAP composites
    "funnel_conversion_events",
    "cohort_retention_events",
    "gapfill_hourly_events",
    "stats_agg_lineitem",
    # round 2e: sub-document dedup, quantized ANN, temporal means
    "segment_dedup_docs",
    "knn_quantized",
    "twa_user_value",
    "stateful_session_flush",
    # round 2f: the TPC-H remainder (all 22 classic shapes now present)
    "q4_order_priority",
    "q7_volume_shipping",
    "q9_product_profit",
    "q13_customer_distribution",
    "q16_supplier_diversity",
    "q18_large_volume",
    "q19_disjunctive_revenue",
    "q21_waiting_supplier",
    # round 2g: merge/quality/decay/BPE surface
    "merge_upsert_customers",
    "dq_check_orders_lineitem",
    "winsorize_prices",
    "decay_weighted_user_value",
    "bpe_pair_counts",
    # round 3: graph analytics, robust outliers, iterative BPE training,
    # and the last two TPC-H shapes (all 22 now present)
    "triangle_count_copurchase",
    "mad_outlier_orders",
    "bpe_train_merges",
    "q2_min_cost_supplier",
    "q20_excess_stock",
    "unigram_logprob_docs",
    "reachable_parts_2hop",
    "snapshot_diff_orders",
    "pps_sample_docs",
    # round 4: mixture balancing + model-based quality filtering
    "domain_mix_sample",
    "quality_classifier_score",
    "domain_upsample_docs",
    # round 4b: lossless prefix-filtered similarity join, substring
    # spans, strided chunking, anomaly/drift monitoring
    "ppjoin_jaccard_pairs",
    "dup_span_docs",
    "chunk_stride_docs",
    "zscore_anomaly_events",
    "tv_drift_sources",
    "normalize_text_docs",
    "dedup_normalized_docs",
    "event_trigrams",
    "stream_zscore_anomaly",
    "funnel_timebound_events",
    "interevent_gap_stats",
    "allknn_within_label",
    # round 4c: bloom runtime-filter join, curriculum phases, DSIR
    # importance weights, JVM-side media dedup
    "bloom_semijoin_revenue",
    "curriculum_phase_docs",
    "dsir_importance_docs",
    "multimodal_dedup_payload",
    # round 4d: incremental MV maintenance, conjunctive search,
    # tokenizer application (train->encode)
    "incremental_mv_orders",
    "boolean_search_docs",
    "bpe_encode_docs",
    "bloom_crawl_dedup",
    "domain_keywords_docs",
    "bucket_pad_stats_docs",
    "trend_ols_events",
    "cusum_changepoint_events",
    "multimodal_resize",
    "stream_trend_ols",
    # round 5: scalable-rank equi-depth histogram, session path mining,
    # seasonality/chi-square monitoring (+ streaming twins), lexical
    # diversity, bigram LM head, graph degree profile
    "equidepth_hist_totalprice",
    "session_path_counts",
    "dow_seasonality_events",
    "chisq_cells_events",
    "stream_dow_profile",
    "stream_chisq_cells",
    "ttr_docs",
    "bigram_lm_docs",
    "copurchase_degree_hist",
    # round 5 second crop: behavioral analytics (Markov, interp
    # gapfill, rolling median), DQ screens (Benford, checksum),
    # retrieval/corpus analysis (BM25, PMI, Simpson, vocab overlap),
    # order-sensitive EWMA + stateful twin
    "markov_transitions_events",
    "interp_gapfill_events",
    "rolling_median_orders",
    "benford_orders",
    "table_checksum_orders",
    "bm25_search_docs",
    "collocations_pmi_docs",
    "simpson_diversity_sources",
    "source_vocab_overlap",
    "ewma_user_value",
    "stream_ewma_user_value",
    # round 5 third crop: market-basket rules, Pareto/RFM/attribution,
    # semantic dedup keep-list, Markov stateful twin
    "assoc_rules_parts",
    "abc_pareto_parts",
    "rfm_segments",
    "attribution_last_touch",
    "semantic_dedup_embeddings",
    "stream_markov_transitions",
    "quantile_normalize_docs",
    "containment_pairs_docs",
    "dedup_eval_lsh",
    "labelprop_components",
    "active_streaks_users",
    "active_users_7d",
    "seasonal_outlier_events",
    "kwic_snippets_docs",
    "winnow_pairs_docs",
    "stream_attribution",
    "stream_active_users_7d",
    "temperature_mix_docs",
    "cluster_keywords_embeddings",
    "lagged_corr_events",
    "weighted_median_price",
    "life_table_reorders",
    "did_estimate_events",
    "cuped_adjusted_events",
    "forecast_backtest_events",
    "k_anonymity_orders",
    # round 5 fourth crop: classifier-eval readouts (exact AUC via
    # the bucketed prefix decomposition, fixed-width calibration)
    "auc_quality_docs",
    "calibration_bins_docs",
    "retrieval_eval_bm25",
    "key_skew_stats",
    "l_diversity_orders",
    "readability_docs",
    # round 5 fifth crop: skyline frontier, per-node clustering
    # coefficient, first-seen cumulative distinct, conformal
    # intervals + Theil-Sen robust trend over the shared daily grid
    "skyline_parts",
    "clustering_coeff_parts",
    "cumulative_distinct_users",
    "conformal_interval_events",
    "theil_sen_trend_events",
    "holt_user_value",
    "stream_holt_user_value",
    "embedding_covariance",
    "embedding_pca_topk",
    "hard_negatives",
    "funnel_time_to_convert",
    # round 6: chunked-carry recurrence decompositions, in-kernel PNG
    # codec round-trip
    "ewma_user_value_chunked",
    "holt_user_value_chunked",
    "multimodal_png_roundtrip",
    "pagerank_exact_parts",
    # round 6 crop: KS drift, rank-sum test, lift table, phrase
    # search, item CF, k-core, CDC apply, regex funnel, label noise
    "ks_drift_sources",
    "mannwhitney_events",
    "lift_table_docs",
    "phrase_search_docs",
    "item_cf_neighbors",
    "kcore_parts",
    "cdc_apply_orders",
    "event_pattern_funnel",
    "knn_label_consensus",
    "stream_event_pattern",
    "bounce_rate_daily",
    "corr_matrix_lineitem",
    "ppr_seeded_parts",
    "stream_mannwhitney",
    "stl_lite_events",
    "fano_burstiness_events",
    "heaps_curve_docs",
    "stream_fano_burstiness",
    "record_high_orders",
    "assortativity_copurchase",
    "linkpred_common_neighbors",
    "token_budget_epochs",
    "strat_effect_events",
    "dedup_multiplicity_hist",
    "source_trigram_cosine",
    "longest_run_docs",
    "leakage_safe_split_docs",
    "editdist1_name_pairs",
    "stream_strat_effect",
    "two_proportion_test_events",
    "open_lines_backlog_daily",
    "xyz_variability_parts",
    "stream_two_proportion",
    "recsys_eval_hitrate",
    # round 7: real baseline-JPEG codec round-trip, oracled near-dup
    # cluster family (recursive-CTE closure oracles)
    "jpeg_gray_roundtrip",
    "neardup_keep_best",
    # round 7 crop: retention triangle (+ stream twin), robust effect
    # estimation, propensity strata, corpus-quality audits, isotonic
    # calibration, MMR diversified retrieval, glyph rasterization
    "retention_triangle_orders",
    "stream_retention_triangle",
    "winsorized_mean_delta",
    "stream_winsorized_delta",
    "propensity_strata_events",
    "ngram_novelty_docs",
    "dupfree_epoch_plan",
    "shuffle_quality_stats",
    "isotonic_calibration_docs",
    "mmr_diverse_topk",
    "rasterize_glyph_metrics",
    # round 7 second wave: twelfth kappa twin, U-shaped attribution,
    # ANN-tuning distance audit, business-day SLA closed form
    "stream_isotonic_calibration",
    "attribution_position_based",
    "cosine_hist_embeddings",
    "sla_business_days_lineitem",
    "stream_sla_business_days",
    "stream_shuffle_quality",
    # round 7 third wave: composed ABC-XYZ matrix, AP-audit screen,
    # seasonal-naive forecast baseline
    "abc_xyz_matrix_parts",
    "dup_payment_screen_orders",
    "mase_baseline_events",
    "pps_fixed_k_sample_docs",
    "kmeans_exact_embeddings",
    "harmonic_centrality_seeds",
    # round 8: ANN recall promoted to an oracled evaluation operator;
    # video-shaped multi-frame container parse + stride-sample + decode;
    # cross-source contamination matrix, centroid label-noise screen,
    # fixed-quota stratum exemplars
    "knn_eval_recall",
    "multimodal_video_frames",
    "cross_source_dup_matrix",
    "label_centroid_outliers",
    "stratum_exemplar_docs",
    # round 8 second wave: t-closeness privacy gate + fifteenth kappa
    # twin, bot gap-regularity screen, per-component structure stats
    "t_closeness_orders",
    "stream_t_closeness",
    "bot_gap_regularity_events",
    "component_stats_parts",
    # round 8 third wave: Mood's median test + sixteenth kappa twin,
    # exact integer Gini concentration
    "median_sign_test_events",
    "stream_median_sign_test",
    "revenue_gini_parts",
    # round 8 fourth wave: exact per-priority delay percentiles +
    # seventeenth kappa twin (stream-static join), LSH occupancy audit
    "ship_delay_percentiles_priority",
    "stream_ship_delay_percentiles",
    "lsh_bucket_stats",
    "edge_support_hist_parts",
    # round 9: k-truss iterative peel (closes the truss wing) + real
    # RIFF/PCM audio decode stats (closes the audio gate)
    "ktruss_edges_parts",
    "multimodal_audio_pcm_stats",
    "stream_audio_pcm_stats",
    # round 9 second wave: degree-discounted link prediction,
    # nonparametric trend + SRM guardrail kappa pairs, Good-Turing
    "linkpred_resource_allocation",
    "mann_kendall_events",
    "stream_mann_kendall",
    "srm_check_events",
    "stream_srm_check",
    "good_turing_counts_docs",
    # round 9 third wave: SPC zone rules (+twin), concentration +
    # hub-wiring readouts
    "weco_rules_events",
    "stream_weco_rules",
    "hhi_revenue_nations",
    "rich_club_copurchase",
    "stream_bot_gap_regularity",
    # round 8 fifth wave: corpus-profile audits
    "len_quantiles_sources",
    "stream_len_quantiles",
    "char_class_profile_docs",
    # round 9 fourth wave: rank-statistics family (k-sample +
    # dispersion tests with their kappa twins, monotone association)
    "kruskal_wallis_events",
    "stream_kruskal_wallis",
    "brown_forsythe_events",
    "stream_brown_forsythe",
    "spearman_corr_events",
    "contribution_cap_events",
    "rrf_hybrid_search",
    # round 9 fifth wave: rank changepoint (+twin), perceptual image
    # near-dup
    "pettitt_changepoint_events",
    "stream_pettitt_changepoint",
    "image_dhash_neardup",
    # round 9 sixth wave: dose-response trend (+twin), embedding drift
    "ca_trend_events",
    "stream_ca_trend",
    "embedding_drift_sources",
    "seasonal_kendall_events",
    "stream_seasonal_kendall",
    "video_scene_cuts",
    "zipf_fit_sources",
    # round 10: IMA-ADPCM decode (+ stateless twin), the knn_ivf
    # exact-grid oracle promotion, MinHash estimator audit, and the
    # rank/robust effect + drift/randomness/inequality wave
    "multimodal_audio_adpcm_stats",
    "stream_audio_adpcm_stats",
    "knn_ivf",
    "dedup_minhash_jaccard_est",
    "rank_biserial_events",
    "hodges_lehmann_events",
    "page_hinkley_events",
    "stream_page_hinkley",
    "runs_test_events",
    "tukey_fences_orders",
    "palma_ratio_nations",
    "qte_events",
    "label_centroid_distances",
    "lang_id_kappa_docs",
    "capture_recapture_sources",
    "kish_ess_sources",
    "stream_rank_biserial",
    "stream_qte",
    "stream_runs_test",
    "stream_tukey_fences",
    # round 11: effect sizes + paired/ordered/blocked tests, the
    # serial-randomness/robust-outlier monitors, the inequality
    # curve family, LLM-curation text screens, Matryoshka recall,
    # µ-law decode, aHash, the HOF/GROUPING surface, the k-anon
    # ladder, and the left-outer stream-stream join
    "cohens_d_events",
    "stream_cohens_d",
    "mcnemar_events",
    "stream_mcnemar",
    "jonckheere_events",
    "stream_jonckheere",
    "odds_ratio_events",
    "stream_odds_ratio",
    "friedman_events",
    "stream_friedman",
    "mood_median_k_events",
    "stream_mood_median_k",
    "cramers_v_events",
    "stream_cramers_v",
    "bartels_rank_events",
    "stream_bartels_rank",
    "cox_stuart_events",
    "stream_cox_stuart",
    "hampel_outliers_events",
    "stream_hampel",
    "stream_hodges_lehmann",
    "lorenz_curve_nations",
    "cr_concentration_suppliers",
    "gini_mean_difference_orders",
    "stream_gmd",
    "token_burstiness_docs",
    "encoding_quality_docs",
    "knn_prefix_dim_recall",
    "multimodal_audio_ulaw_stats",
    "stream_audio_ulaw_stats",
    "image_ahash_neardup",
    "grouping_id_rollup_qty",
    "hof_funcs_docs",
    "k_anon_generalize_orders",
    "stream_interval_join_left",
    "stream_tumbling_append",
    "kendall_tau_events",
    "stream_kendall_tau",
    # round 12: IVF recall evaluator (the recall number the bench
    # watches), the A-law kappa pair completing G.711, and the
    # deterministic-HLL conversion
    "ivf_eval_recall",
    "multimodal_audio_alaw_stats",
    "stream_audio_alaw_stats",
    "sketch_distinct_parts",
    "sketch_hll_mergeable",
    "stream_approx_distinct_users",
    "jpeg_color_roundtrip",
    "multimodal_audio_float_stats",
    "stream_audio_float_stats",
    "sketch_quantile_price",
    "sketch_quantile_by_partkey",
    "grid_median_event_value",
    "stream_grid_median",
    "pq_assign_embeddings",
    "knn_pq_adc",
]


_TAIL_BUDGET = 1900   # < the driver's ~2000-char stdout tail


def compact_tail_line(payload: dict, timings: dict, record: str,
                      common_prev: dict | None) -> dict:
    """The FINAL stdout line (the one the driver parses): the summary
    plus a "queries" map filled slowest-first up to ``_TAIL_BUDGET``
    serialized bytes (see the contract comment in main)."""
    compact = {k: v for k, v in payload.items()
               if k not in ("queries", "stream_detail", "memo_counts")}
    compact["n_queries"] = len(timings)
    compact["full_record"] = record
    if common_prev is not None:
        compact["common_prev"] = common_prev
    compact["queries_note"] = ("slowest-first subset; "
                               "full map in full_record")
    # an over-long summary (e.g. a deep full_record path) must not push
    # the line past the budget either: shed the optional keys in order
    for optional in ("queries_note", "common_prev"):
        if len(json.dumps({**compact, "queries": {}})) <= _TAIL_BUDGET:
            break
        compact.pop(optional, None)
    compact["queries"] = {}
    for name, sec in sorted(timings.items(),
                            key=lambda kv: (-kv[1], kv[0])):
        compact["queries"][name] = sec
        if len(json.dumps(compact)) > _TAIL_BUDGET:
            del compact["queries"][name]
            break
    return compact


def timed_run(query, spark, sf_dir: str) -> float:
    """Seconds to build ``query`` and fully execute it. Result memos
    are cleared first, so every timed rep charges the derived tables
    it reads; plan memos (scan plans, schemas) stay."""
    memo.clear_results()
    t0 = time.perf_counter()
    n = query(spark, sf_dir).count()  # force full execution
    sec = time.perf_counter() - t0
    assert n >= 0
    return sec


def main() -> None:
    from mapreduce_rust_spark import registry
    from mapreduce_rust_spark.session import get_spark

    spark = get_spark("mapreduce_rust_spark-bench")
    qs = registry.queries()
    # Two tiers (VERDICT r9 item 5): the default HEADLINE tier is the
    # per-round driver record; TIER=longtail times every registered
    # query NOT in HEADLINE (the round-1/2 relational surface — TPC-H
    # remainder, set ops, subqueries, join variants, mr_* compat) so a
    # regression there has a recorded number to diff against. The
    # long-tail record lives in its own file and never perturbs the
    # round-over-round headline contract.
    tier = os.environ.get("SPARK_GRAFT_BENCH_TIER", "headline")
    if tier == "longtail":
        names = [n for n in qs if n not in HEADLINE]
        metric, record = "longtail_queries_total", "BENCH_LONGTAIL.json"
    else:
        names = [n for n in HEADLINE if n in qs]
        metric, record = "headline_queries_total", "BENCH_LOCAL.json"
    # warm the JVM + parquet footers once with the cheapest query
    qs[names[0]](spark, SF_DIR).count()

    # min over REPS runs per query: wall-clock noise (GC, page cache,
    # a concurrent process) shows up as one-sided spikes, and the min
    # is the stable estimator of the plan's actual cost. Queries under
    # ~3 s are the noisiest relative to their size (a 0.3 s plan can
    # read 0.6 s under one GC pause; the r8 regression list was half
    # single-run noise in the 1.5–3 s band — VERDICT r8 item 5), so
    # they are topped up to ≥3 runs and report the median — one spike
    # can no longer move the recorded number. Keyed on the timing
    # cutoff alone, independent of SPARK_GRAFT_BENCH_REPS (r8 advice).
    # Round 12: STREAM queries get the ≥3-rep median UNCONDITIONALLY
    # — their wall time is dominated by harness/state-store setup
    # whose stalls are one-sided and land on whole runs, so a noisy
    # day pushes them over the 3 s cutoff and (before this change)
    # demoted them to min-of-2, which two same-day runs showed is
    # irreproducible per query (22/61 within ±30%) even while the
    # stream-family SUM agrees within 4%. Per-query stream rows are
    # therefore medians; regression triage on stream rows should use
    # the family sum (recorded as stream_sum) or trigger_ms_sum.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    noisy_cutoff = 3.0
    timings: dict[str, float] = {}
    stream_detail: dict[str, dict] = {}
    from mapreduce_rust_spark.streaming import windows as _sw
    for name in names:
        is_stream = name.startswith("stream")
        runs = [timed_run(qs[name], spark, SF_DIR) for _ in range(reps)]
        while (min(runs) < noisy_cutoff or is_stream) and len(runs) < 3:
            runs.append(timed_run(qs[name], spark, SF_DIR))
        if min(runs) < noisy_cutoff or is_stream:
            # lower-middle median (robust for any rep count)
            timings[name] = round(sorted(runs)[(len(runs) - 1) // 2], 3)
        else:
            timings[name] = round(min(runs), 3)
        # micro-batch cost accounting (VERDICT r9 item 6): the wall
        # time above conflates fixed harness setup with per-batch
        # plan cost; record the split for the LAST run of each twin
        if name.startswith("stream") and _sw.LAST_STREAM_STATS:
            stream_detail[name] = dict(_sw.LAST_STREAM_STATS)
            _sw.LAST_STREAM_STATS = None
    try:
        sf = float(os.path.basename(SF_DIR.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None
    payload = {
        "metric": metric,
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    stream_total = sum(v for k, v in timings.items()
                       if k.startswith("stream"))
    if stream_total:
        # the reproducible stream statistic (see the reps comment):
        # same-day runs agree on this sum within a few percent while
        # individual rows swing ±4x
        payload["stream_sum"] = round(stream_total, 3)
    if stream_detail:
        payload["stream_detail"] = stream_detail
    # session memo hits/misses over the whole run (warm-up included)
    payload["memo_counts"] = {f"{memo_name}.{outcome}": n for
                              (memo_name, outcome), n
                              in sorted(memo.COUNTS.items())}
    # Round-over-round triage needs only the BENCH artifacts: compare
    # this run to the previous ROUND-ARTIFACT record over the query
    # set common to both. BENCH_ANCHOR.json is a snapshot of
    # BENCH_LOCAL.json at the last round's artifact commit, refreshed
    # once per round boundary — comparing against the live
    # BENCH_LOCAL.json (overwritten every run) made common_prev drift
    # against mid-round refreshes (VERDICT r8 item 5).
    if tier == "longtail":
        prev_path = os.path.join(REPO_ROOT, "BENCH_LONGTAIL.json")
    else:
        prev_path = os.path.join(REPO_ROOT, "BENCH_ANCHOR.json")
        if not os.path.exists(prev_path):
            prev_path = os.path.join(REPO_ROOT, "BENCH_LOCAL.json")
    common_prev = None
    try:
        with open(prev_path) as fh:
            prev_q = json.load(fh).get("queries", {})
        common = sorted(set(prev_q) & set(timings))
        if common:
            common_prev = {
                "n": len(common),
                "prev_s": round(sum(prev_q[n] for n in common), 3),
                "now_s": round(sum(timings[n] for n in common), 3),
            }
    except (OSError, ValueError):
        pass
    # The driver tail-truncates captured stdout to the LAST ~2000 chars
    # and parses the FINAL line (BENCH_r03/r04.json kept only the tail
    # of one giant line, leaving "parsed": null; BENCH_r05-r12 parsed a
    # compact line that had NO "queries" map, so PERF_r12's per_query
    # and scaling blocks came up empty — VERDICT r12 item 2). A full
    # 347-entry map is ~12 KB and can never fit through that channel,
    # so: (1) the full payload is always committed as BENCH_LOCAL.json;
    # (2) the complete per-query lines go FIRST so truncation consumes
    # them; (3) the FINAL line is a compact summary whose "queries" map
    # holds as many per-query timings as fit a conservative byte
    # budget, filled SLOWEST-FIRST (the rows regression/scaling triage
    # needs; the two same-round cpu runs' slow sets overlap, so the
    # driver's scaling comparison gets a large common set). This
    # replaces the old "slowest10" field with a strictly larger map;
    # no query is dropped from the bench — "n_queries" is the full
    # count and the omitted (fast) rows are all in full_record.
    with open(os.path.join(REPO_ROOT, record), "w") as fh:
        json.dump(payload, fh, indent=1)
        fh.write("\n")
    for name, sec in timings.items():
        print(json.dumps({"query": name, "sec": sec}))
    print(json.dumps(compact_tail_line(payload, timings, record,
                                       common_prev)))
    spark.stop()


if __name__ == "__main__":
    main()
