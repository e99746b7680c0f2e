"""Benchmark runner: times the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.

Each query is fully materialized (count of the result) so the timing
covers scan → shuffle → action, not plan construction.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO_ROOT)

#: headline set: one per operator family (join+agg, topk, windows,
#: sessionization, rolling, dedup, asof, json) — extend as operators land.
HEADLINE = [
    "pricing_summary",
    "revenue_by_nation",
    "top_orders_by_revenue",
    "customer_order_distribution",
    "hourly_event_aggregate",
    "sessionize_events",
    "rolling_5min_event_count",
    "latest_event_per_user",
    "json_extract_events",
    "asof_latest_order_before_event",
    "text_quality_scores",
    "minhash_lsh_near_dup",
    "simhash_documents",
    "cosine_topk_bruteforce",
    "cosine_topk_lsh",
    # round 2: TPC-H-shape breadth + iterative clustering
    "returned_items_topk",
    "small_qty_order_revenue",
    "priority_exists_orders",
    "market_share_ratio",
    "window_value_functions",
    "dedup_cluster_sizes",
    "deterministic_split_counts",
    # round 2b: remaining TPC-H shapes + function surfaces
    "shipping_priority_topk",
    "local_supplier_volume",
    "profit_by_nation_year",
    "sole_fault_suppliers",
    "stat_moments_by_returnflag",
    "token_explode_topk",
    "array_function_battery",
    "cosine_topk_arrow",
    "winnowing_collision_pairs",
    "token_diversity_flags",
    # round 2c: scalar-subquery threshold, unpivot, map/struct surface
    "important_parts_value_threshold",
    "unpivot_order_status_counts",
    "map_struct_event_stats",
    "doc_chunking_stats",
    "embedding_quantization_error",
    "tfidf_top_terms",
    "cogroup_user_activity",
    "dedup_survivor_stats",
    "bm25_top_docs",
    "funnel_view_click_purchase",
    # round 2c: formerly too slow for the headline set; now included
    # after the rarest-first prefix filter and nibble-projected simhash
    "ngram_jaccard_near_dup",
    "simhash_near_dup",
    # round 3: time-series tier (hash-agg OHLC, shared-shuffle TWA,
    # spine-bounded LOCF gapfill)
    "ohlc_bars_events",
    "time_weighted_avg_users",
    "gapfill_locf_hourly",
    # round 3: curation tier (decontamination, chunk dedup, unigram LM,
    # token-budget selection)
    "decontamination_overlap",
    "bloom_decontamination_audit",
    "chunk_dedup_stats",
    "unigram_logprob_quality",
    "token_budget_topp",
    "duplicated_span_coverage",
    "leakage_safe_split_audit",
    "padding_waste_audit",
    "incremental_ingest_dedup",
    "dim_truncation_recall",
    "streaming_ingest_dedup_stats",
    "cube_status_priority",
    "pmi_collocations",
    "lateral_top2_customers",
    "expectations_audit",
    "training_export_pipeline",
    "hinted_join_strategies",
    "schema_drift_union_stats",
    "geo_cell_density",
    "nearest_dc_assignment",
    "geo_hotspot_clusters",
    # round 3: SCD2 islands, rolling distinct cardinality, Gopher bigram
    "scd2_user_event_intervals",
    "rolling_distinct_users",
    "bigram_repetition_flags",
    "token_entropy_quality",
    "naive_bayes_langid_confusion",
    # round 3: iterative graph analytics on an aggregate-compressed graph
    "nation_trade_pagerank",
    # round 3: product analytics (cohorts, sequence modeling)
    "cohort_retention_matrix",
    "event_transition_matrix",
    # round 3: fuzzy entity resolution + VARIANT ingestion
    "fuzzy_name_match_stats",
    "variant_props_stats",
    # round 3: training-export tier (packing, sharding, kNN triangles,
    # DSIR importance weights)
    "sequence_packing_stats",
    "shard_assignment_stats",
    "supplier_knn_triangles",
    "dsir_importance_weights",
    "bpe_merge_table",
    "bpe_encode_stats",
    "semdedup_survivors",
    "skew_profile_events",
    # round 3: Spark 4 SQL/UDF surface (recursive CTE, UDTF, grouped-agg
    # pandas UDF)
    "recursive_knn_bfs_levels",
    "udtf_token_spans",
    "grouped_agg_pandas_gmean",
    # round 3b: data-quality / profiling tier
    "column_profile_lineitem",
    "referential_integrity_audit",
    "heavy_hitter_tokens",
    "count_min_sketch_audit",
    "vocab_growth_audit",
    "knn_clustering_coefficient",
    "max_concurrent_shipments",
    # round 3b: regr_* OLS surface, readability, PQ-ADC ANN
    "regression_battery",
    "readability_scores",
    "cosine_topk_pq",
    "cosine_topk_ivfpq",
    "cosine_topk_ivfpq_rerank",  # r8 IVFADC+R (secondary: ivfpq sibling)
    "session_relative_features",
    "iqr_outlier_audit",
    "association_rules_parts",
    "minhash_calibration",
    "weighted_sample_audit",
    "equi_depth_histogram_orders",
    "listagg_bitwise_battery",
    "quarterly_growth_by_priority",
    "null_safe_join_battery",
    "batch_session_window_stats",
    "table_content_digest",
    # round 4: approx-percentile scale twins, builtin zscore window twin,
    # the oracle-checked composed ELB pipeline, bounded-IVF
    "equi_depth_histogram_orders_approx",
    "iqr_outlier_audit_approx",
    "zscore_outlier_events_builtin",
    "elb_pipeline_hourly",
    "cosine_topk_ivf",
    "cosine_topk_ivf_bucketed",  # r10 layout-served sibling (secondary)
    "multimodal_sniff_stats",
    # round 5: deterministic sampling, privacy tier, JSONL round-trip
    "deterministic_uniform_sample",
    "stratified_sample_audit",
    "leakproof_customer_split",
    "per_nation_deterministic_sample",
    "pii_redaction_audit",
    "k_anonymity_audit",
    "jsonl_roundtrip_stats",
    "snapshot_diff_orders",
    "format_matrix_roundtrip",
    "incremental_hourly_rollup",
    "partition_backfill_stats",
    "bucketed_join_agg",
    "ab_welch_ttest",
    "cuped_adjusted_lift",
    "ewma_control_chart",
    "cusum_changepoint",
    "seasonal_naive_backtest",
    "pareto_concentration",
    "embedding_dim_profile",
    "embedding_pca_variance",
    "ols_order_value_regression",
    "streaming_view_purchase_outer",
    "lpa_communities",
    "value_drift_audit",
    "multi_horizon_backtest",
    "shingle_containment_pairs",
    "mann_whitney_u",
    "kruskal_wallis_value_by_type",
    "srm_balance_audit",
    "ab_conversion_ztest",
    "streaming_timeout_sessions",
    # --- round 3 ---
    "elb_error_report",
    "large_volume_customers",
    "disjunctive_bracket_revenue",
    "gopher_quality_battery",
    "source_mixing_weights",
    "curation_funnel_by_source",
    "vocab_growth_audit_approx",
    # --- round 3: physical-layout / cost-estimation tier ---
    "zorder_layout_audit",
    "compaction_binpack_plan",
    "mergeable_histogram_quantiles",
    "join_cardinality_estimate",
    "chi_square_independence",
    "temporal_embargo_split_audit",
    "incremental_join_rollup",
    "write_audit_publish_stats",
    "parquet_footer_stats",
    "feature_hashing_vectors",
    "streaming_wap_publish_stats",
    "dynamic_gap_sessions",
    "elb_template_mining",
    "segment_digest_reconcile",
    "shard_rebalance_audit",
    "activity_bitmap_stats",
    "watermark_lateness_profile",
    "forget_entity_audit",
    "l_diversity_audit",
    "column_encryption_roundtrip",
    "exact_median_two_pass",
    "range_lookup_join",
    "seasonal_residual_anomalies",
    "rfm_segment_counts",
    "embedding_centroid_drift",
    "knn_label_agreement",
    # --- round 4: signature-scheme audit (computes BOTH simhash schemes) ---
    "simhash_block_bias_audit",
    "streaming_neardup_ingest_stats",
    "multimodal_pixel_roundtrip_stats",
    "multimodal_wav_roundtrip_stats",
    "multimodal_video_frame_sample_stats",
    "multimodal_image_resize_stats",
    "multimodal_audio_frame_features",
    "multimodal_video_motion_stats",
    # --- round 5: batch/stream parity on the reference's own workload ---
    "streaming_elb_pipeline_hourly",
    # --- round 6: min_by dedup path for map-typed frames; the UA
    # device axis over the ELB fixture ---
    "exact_dedup_map_payload",
    "elb_device_report",
]

#: VERDICT r05 item 8: the headline set had grown to 190 entries —
#: a smoke test of everything rather than a signal. These entries are
#: SHAPE-REDUNDANT variants of a kept primary representative (approx
#: twins, same-family siblings, subsumed codec rungs); they still run
#: every bench invocation, but in a SECONDARY sweep reported apart so
#: the primary total stays a pinned ~120-query round-over-round
#: comparable. Membership is pinned — grow the registry without
#: growing the primary set unless a NEW family lands.
SECONDARY_SET = {
    # TPC-H shape twins (primary keeps pricing_summary, revenue_by_nation,
    # shipping_priority_topk, profit_by_nation_year, market_share_ratio)
    "top_orders_by_revenue", "customer_order_distribution",
    "hourly_event_aggregate", "returned_items_topk",
    "small_qty_order_revenue", "priority_exists_orders",
    "local_supplier_volume", "sole_fault_suppliers",
    "important_parts_value_threshold", "quarterly_growth_by_priority",
    "large_volume_customers", "disjunctive_bracket_revenue",
    # approx / builtin twins of kept exact entries
    "equi_depth_histogram_orders_approx", "iqr_outlier_audit_approx",
    "vocab_growth_audit_approx", "zscore_outlier_events_builtin",
    # ANN family (primary keeps bruteforce, lsh, pq, ivfpq)
    "cosine_topk_arrow", "cosine_topk_ivf", "cosine_topk_ivfpq_rerank",
    "cosine_topk_ivf_bucketed",
    # near-dup signature siblings (primary keeps minhash_lsh, ngram_jaccard,
    # simhash_block_bias_audit which computes BOTH schemes)
    "simhash_documents", "simhash_near_dup", "minhash_calibration",
    # linalg siblings (primary keeps pca_variance, centroid_drift,
    # quantization_error)
    "embedding_dim_profile",
    # function batteries (primary keeps array + regression)
    "listagg_bitwise_battery", "null_safe_join_battery",
    "unpivot_order_status_counts",
    # stats tier (primary keeps welch, cusum, seasonal_naive, mann_whitney,
    # chi_square, ols, value_drift)
    "cuped_adjusted_lift", "ewma_control_chart", "pareto_concentration",
    "multi_horizon_backtest", "kruskal_wallis_value_by_type",
    "srm_balance_audit", "ab_conversion_ztest",
    # sampling (primary keeps uniform, stratified, per_nation)
    "leakproof_customer_split", "weighted_sample_audit",
    "deterministic_split_counts",
    # geo (primary keeps cell_density + hotspot_clusters)
    "nearest_dc_assignment",
    # privacy (primary keeps k_anonymity, forget_entity, column_encryption)
    "pii_redaction_audit", "l_diversity_audit",
    # profiling (primary keeps column_profile, count_min, vocab_growth,
    # max_concurrent, skew_profile)
    "referential_integrity_audit", "heavy_hitter_tokens",
    # time-series (primary keeps ohlc, gapfill, incremental_hourly_rollup,
    # rolling_distinct)
    "time_weighted_avg_users", "scd2_user_event_intervals",
    "seasonal_residual_anomalies",
    # curation (primary keeps bloom, duplicated_span, padding_waste,
    # training_export, semdedup, dsir, incremental_ingest)
    "decontamination_overlap", "chunk_dedup_stats",
    "unigram_logprob_quality", "token_budget_topp",
    "leakage_safe_split_audit", "dim_truncation_recall",
    "sequence_packing_stats", "shard_assignment_stats",
    "source_mixing_weights", "curation_funnel_by_source",
    "temporal_embargo_split_audit",
    # text/quality (primary keeps tfidf, gopher, naive_bayes, pmi,
    # fuzzy_name, elb_template, token_explode_topk)
    "text_quality_scores", "token_diversity_flags", "bm25_top_docs",
    "bigram_repetition_flags", "token_entropy_quality",
    "readability_scores",
    # layout (primary keeps zorder, mergeable_histogram, write_audit,
    # bucketed_join_agg, shard_rebalance)
    "compaction_binpack_plan", "join_cardinality_estimate",
    "incremental_join_rollup", "parquet_footer_stats",
    "partition_backfill_stats", "table_content_digest",
    "segment_digest_reconcile",
    # streaming (primary keeps neardup+digest ingest, elb_pipeline,
    # view_purchase_outer, timeout_sessions)
    "streaming_wap_publish_stats", "watermark_lateness_profile",
    "batch_session_window_stats",
    # multimodal (primary keeps sniff + the three superset rungs:
    # image_resize, audio_frame, video_motion)
    "multimodal_pixel_roundtrip_stats", "multimodal_wav_roundtrip_stats",
    "multimodal_video_frame_sample_stats",
    # graph (primary keeps pagerank, clustering_coefficient,
    # label_agreement, recursive_bfs)
    "lpa_communities", "supplier_knn_triangles",
    # BPE (primary keeps encode_stats, which replays the merge table)
    "bpe_merge_table",
    # sinks (primary keeps jsonl round-trip)
    "format_matrix_roundtrip",
    # dedup reporting twins (primary keeps cluster_sizes)
    "dedup_survivor_stats", "exact_dedup_map_payload",
    # plan-hint surface (cheap no-op shape at scale)
    "hinted_join_strategies", "schema_drift_union_stats",
}


def _stale_steady_entries(steady_book: dict) -> list[str]:
    """Names measured before the last commit that touched ENGINE code
    (VERDICT r06 item 5): their stamps describe code that may no
    longer run. Granularity is the whole package — a registry query
    executes operators/functions/sources/streaming code far beyond its
    defining plans module (code-review r7: per-module resolution
    missed exactly that — graph.py changed while the queries stamped
    against it lived in other files), and a steady re-time is cheap
    while a wrong steady number is not. Any git/lookup failure marks
    the entry stale for the same reason."""
    import subprocess

    from elb_log_etl_enrichment_spark.plans.queries import REGISTRY

    stale: list[str] = []
    changed_cache: dict[str, bool] = {}
    for name, rec in steady_book.items():
        commit = rec.get("commit", "")
        if not commit or name not in REGISTRY:
            stale.append(name)
            continue
        if commit not in changed_cache:
            try:
                # diff against the WORKING TREE, not commit..HEAD:
                # uncommitted engine edits must also mark stamps stale
                # — the running code is what matters, not HEAD
                # (code-review r7). `git diff` misses UNTRACKED files
                # (a brand-new engine module an existing query
                # imports), so untracked engine paths count too
                # (code-review r7b).
                out = subprocess.run(
                    [
                        "git", "diff", "--name-only", commit,
                        "--", "elb_log_etl_enrichment_spark",
                    ],
                    cwd=REPO_ROOT,
                    capture_output=True,
                    text=True,
                    check=True,
                )
                untracked = subprocess.run(
                    [
                        "git", "ls-files", "--others",
                        "--exclude-standard",
                        "elb_log_etl_enrichment_spark",
                    ],
                    cwd=REPO_ROOT,
                    capture_output=True,
                    text=True,
                    check=True,
                )
                changed_cache[commit] = bool(
                    out.stdout.strip() or untracked.stdout.strip()
                )
            except Exception:
                changed_cache[commit] = True
        if changed_cache[commit]:
            stale.append(name)
    return stale


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)

    from elb_log_etl_enrichment_spark.plans.queries import REGISTRY, all_queries
    from elb_log_etl_enrichment_spark.session import get_spark

    all_queries()  # load extension registries
    missing = [n for n in HEADLINE if n not in REGISTRY]
    if missing:  # never silently shrink the bench set
        raise SystemExit(f"headline queries missing from registry: {missing}")
    stray = [n for n in SECONDARY_SET if n not in HEADLINE]
    if stray:  # a secondary mark must demote a REAL headline entry
        raise SystemExit(f"SECONDARY_SET names not in HEADLINE: {stray}")

    spark = get_spark(app_name="engine-bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    # guess sf from the directory name for the report
    sf = None
    base = os.path.basename(sf_dir.rstrip("/"))
    if base.startswith("sf"):
        try:
            sf = float(base[2:])
        except ValueError:
            pass

    primary = [n for n in HEADLINE if n in REGISTRY and n not in SECONDARY_SET]
    secondary = [n for n in HEADLINE if n in REGISTRY and n in SECONDARY_SET]
    # warm-up: JVM/codegen/parquet-footer caches on the smallest query
    REGISTRY["pricing_summary"].fn(spark, sf_dir).count()

    def _sweep(names: list[str]) -> dict[str, float]:
        out: dict[str, float] = {}
        for name in names:
            start = time.perf_counter()
            REGISTRY[name].fn(spark, sf_dir).count()
            out[name] = round(time.perf_counter() - start, 3)
        return out

    timings = _sweep(primary)
    sec_timings = _sweep(secondary)

    total = round(sum(timings.values()), 3)
    sec_total = round(sum(sec_timings.values()), 3)
    report = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # shape-redundant variants still run every invocation, but in
        # a secondary sweep so the pinned primary total stays
        # round-over-round comparable (VERDICT r05 item 8).
        # combined_total (= value + secondary_total) is the number
        # comparable to the r01-r05 190-query totals.
        "secondary": sec_timings,
        "secondary_total": sec_total,
        "combined_total": round(total + sec_total, 3),
        "sf": sf,
    }
    # steal-proof comparisons (VERDICT r04 item 8): attach the solo
    # steady-state map (scripts/query_runner.py steady — fresh JVM, 1 cold +
    # 2 warm, steady = min warm; re-measured on code change, commit
    # recorded in BENCH.steady.json). In-suite numbers above swing
    # with host CPU steal; the steady map is the per-query signal.
    steady_path = os.path.join(REPO_ROOT, "BENCH.steady.json")
    if os.path.exists(steady_path):
        with open(steady_path) as fh:
            steady_book = json.load(fh)
        # only entries measured at THIS run's sf_dir and core count: a
        # steady number from a different scale or local[N] next to these
        # timings would send perf triage comparing unlike runs (the
        # runner's core default is the host's, this CLI's is 32)
        steady_book = {
            n: rec for n, rec in steady_book.items()
            if (n in timings or n in sec_timings)
            and rec.get("sf_dir") == sf_dir and rec.get("cpus") == cpus
        }
        # staleness rule (VERDICT r06 item 5): a steady stamp is only
        # trustworthy while the query's defining module is unchanged
        # since it was measured. Entries whose module has commits after
        # their recorded measuring commit move to `steady_stale` —
        # regression hunts must re-time those (query_runner.py steady)
        # instead of reading a number the current code never produced.
        stale = _stale_steady_entries(steady_book)
        report["steady"] = {
            n: rec["steady"]
            for n, rec in steady_book.items()
            if n not in stale
        }
        report["steady_commit"] = {
            n: rec.get("commit", "?")
            for n, rec in steady_book.items()
            if n not in stale
        }
        if stale:
            report["steady_stale"] = stale
    # The driver stores a bounded stdout tail KEPT FROM THE END (r01's
    # recorded tail is front-truncated), so the multi-KB full-report line
    # must NOT be last: its leading "metric" key would be cut and the
    # whole line would parse as nothing. Print the full contract line
    # first, persist it to BENCH.local.json, and print a compact totals
    # line LAST — the final complete line in any end-retained tail is
    # then always parseable.
    compact = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "secondary_total": sec_total,
        "n_secondary": len(sec_timings),
        "combined_total": report["combined_total"],
        "sf": sf,
        "detail": "BENCH.local.json",
    }
    # r11 (VERDICT r10 item 1): per-query timings must reach the driver
    # through the SAME end-retained ~2000-char stdout tail the compact
    # line survives in (r01's oversized final line parsed as null —
    # PERF had `per_query: {}` every round since because only totals
    # fit). Additions only — every r10 key above is unchanged:
    #   q / qs    — the full primary/secondary per-query seconds (2 dp)
    #               as ARRAYS in the committed bench.py order (primary =
    #               HEADLINE minus SECONDARY_SET in HEADLINE order, qs =
    #               the SECONDARY_SET members in HEADLINE order): names
    #               are recoverable by zipping against this file at the
    #               measuring commit, and the arrays always fit (~1.1 KB
    #               for 194 queries vs 3.4 KB name-keyed).
    #   queries   — a name-keyed map packed most-expensive-first until
    #               the line reaches the tail budget (~20-30 entries):
    #               the heavy tier carries the perf signal; the
    #               sub-second tail sits on the local job floor. The
    #               FULL name-keyed map still prints as the first line
    #               and persists to BENCH.local.json.
    tail_budget = 1900  # < the driver's 2000-char tail, newline margin
    compact["q_order"] = "bench.HEADLINE"
    compact["q"] = [round(timings[n], 2) for n in primary]
    compact["qs"] = [round(sec_timings[n], 2) for n in secondary]
    # backstop for future set growth: the arrays must never push the
    # line past the tail budget — a truncated final line parses as
    # NOTHING and loses even the totals (the r01 failure mode)
    if len(json.dumps(compact, separators=(",", ":"))) > tail_budget - 100:
        del compact["qs"]
        if len(json.dumps(compact, separators=(",", ":"))) > tail_budget - 100:
            del compact["q"]
    compact["queries"] = {}
    ranked = sorted(
        list(timings.items()) + list(sec_timings.items()),
        key=lambda kv: -kv[1],
    )
    for name, sec_v in ranked:
        compact["queries"][name] = round(sec_v, 2)
        if len(json.dumps(compact, separators=(",", ":"))) > tail_budget:
            del compact["queries"][name]
            break
    print(json.dumps(report), flush=True)
    with open(os.path.join(REPO_ROOT, "BENCH.local.json"), "w") as fh:
        json.dump(report, fh, indent=1)
        fh.write("\n")
    print(json.dumps(compact, separators=(",", ":")), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
