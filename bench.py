"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Methodology: one warm-up run of the flagship query (JIT + parquet
footer caches), then each headline query timed end-to-end (plan +
execute) into a noop sink — measuring engine work, not driver
row-materialization, mirroring the reference's own methodology
(reference examples/benchmark.py:51-68 measures execute-to-file).
The reference baseline is 0.707 s at sf=1 for q1 on 4 native workers
(BASELINE.md); we bench at sf0.1 by default.

Per-query numbers measure MARGINAL cost given session-shared curated
intermediates (round-8 contract, VERDICT r7 item #3): the shared
caches (k-means/PQ trainings, the shingle and edge frames) are cleared
once per PASS, so within a pass the first family member pays the
build and its siblings measure search/consume cost only — the
production shape, where an ANN index is built once and queried many
times. Suite totals are self-contained per pass (every build is paid
exactly once inside the timed region); a bench row like
ann_pq_recall_k256 therefore EXCLUDES training whenever a sibling ran
first in that pass, by design.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from minispark_spark import tracing
from minispark_spark.registry import REGISTRY, _ensure_loaded, clear_plan_cache
from minispark_spark.session import get_spark
from minispark_spark.sources.tables import TABLES, load_table

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q13_customer_distribution",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
    "q18_large_orders",
    "q19_disjunctive_predicates",
    "q22_global_sales_opportunity",
    # bucketed hot-table layout variants (first pass pays the one-time
    # layout build via the mtime-stamped cache; steady passes measure
    # the retired exchanges)
    "q3_bucketed",
    "q5_bucketed",
    "q8_bucketed",
    "q10_bucketed",
    "q18_bucketed",
    "q21_bucketed",
    "percentile_exact",
    "orders_exact_quantiles",
    "orders_equidepth_buckets",
    "events_median_by_type",
    "docs_weighted_median_by_lang",
    "lineitem_quality_audit",
    "snapshot_diff_orders",
    "snapshot_history",
    "lineitem_integrity_checksum",
    "stats_moments",
    "stats_correlation",
    "stats_linear_fit",
    "stats_gd_linear_fit",
    "agg_max_by",
    "agg_multi_key",
    "grouping_cube",
    "grouping_sets_custom",
    "correlated_scalar_subquery",
    "pii_mask_digits",
    "events_user_ema",
    "events_twap_by_type",
    "window_lead_lag",
    "window_ntile_deciles",
    "histogram_totalprice",
    "basket_part_pairs",
    "graph_pagerank",
    "graph_triangle_count",
    "join_inner",
    "join_skew_salted",
    "window_rank",
    "window_rolling_interval",
    "orders_daily_gapfill",
    "array_functions",
    "string_functions_coverage",
    "datetime_functions_coverage",
    "events_sessionize",
    "events_peak_concurrency",
    "events_hourly_stats",
    "events_range_join",
    "events_funnel",
    "events_funnel_time_to_convert",
    "events_transition_matrix",
    "events_top_paths",
    "events_retention_cohorts",
    "events_dau_wau_stickiness",
    "events_user_gini",
    "events_zscore_outliers",
    "events_mad_outliers",
    "orders_cdf_normalize",
    "asof_purchase_to_click",
    "text_stats",
    "bpe_token_stats",
    "tfidf_top_terms",
    "docs_stratified_sample",
    "vocab_top_tokens",
    "doc_fingerprint",
    "heavy_hitters_cms",
    "docs_decontaminate",
    "docs_sequence_packing",
    "docs_train_split",
    "docs_bigram_stats",
    "lineitem_profile",
    "events_latest_per_user",
    "events_scd2_apply",
    "customers_rfm_segments",
    "customers_pareto_revenue",
    "customers_cohort_ltv",
    "orders_interarrival_median",
    "suppliers_market_concentration",
    "docs_weighted_sample",
    "docs_temperature_mixture",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_jaccard_prefix_filter",
    "dedup_simhash",
    "dedup_connected_components",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "ann_filtered_topk",
    "ann_ivf_filtered_topk",
    "ann_ivf_probe_curve",
    "ann_mmr_rerank",
    "embedding_near_dup_lsh",
    "embedding_quantize_int8",
    "kmeans_clusters",
    "ann_ivf_trained_topk",
    "multimodal_decode_features",
    "multimodal_frame_sample",
    "multimodal_audio_rms",
    "multimodal_resize_nn",
    "docs_corpus_curation",
    "docs_fuzzy_dedup_curation",
    "docs_dedup_survivorship",
    "docs_crosssource_dup_matrix",
    "neardup_incoming_probe",
    "events_json_variant",
    "approx_distinct_rollup_hll",
    "zorder_pruned_scan",
    "events_cdc_upsert",
    "events_gdpr_delete",
    "snapshot_schema_evolution",
    "docs_repetition_filter",
    "docs_lexical_diversity",
    "docs_duplicate_ngram_spans",
    "skew_key_profile",
    "events_incremental_rollup",
    "ann_pq_topk",
    "ann_pq_recall",
    "multimodal_phash_neardup",
    "docs_chunk_overlap",
    "docs_lm_fluency",
    "ann_hard_negatives",
    "docs_repetition_rowlocal",
    "dedup_minhash_audit",
    "events_session_window_native",
    "set_ops_all",
    "struct_map_functions",
    "ann_truncated_recall",
    "lang_confusion",
    "docs_shuffle_rank",
    "ann_retrieval_metrics",
    "corpus_report",
    "docs_quota_sample",
    "semantic_dedup",
    "docs_dsir_select",
    "docs_nb_classify",
    "docs_token_chi2_topk",
    "docs_quality_nb_filter",
    "ann_ivf_index_append",
    "docs_token_budget_mixture",
    "docs_span_scrub",
    "knn_classify",
    "dedup_containment",
    "ann_ivfpq_topk",
    "docs_bm25_topk",
    "hybrid_search_rrf",
    "docs_k_anonymity",
    "ann_ivfpq_residual_topk",
    "events_seasonal_decompose",
    "graph_bfs_hops",
    "customers_fuzzy_match",
    "customers_linkage_scores",
    "events_attribution",
    "events_hll_overlap",
    "events_hourly_gapfill_ffill",
    "graph_label_propagation",
    "docs_c4_line_dedup",
    "docs_leakage_safe_split",
    "docs_gopher_quality",
    "graph_link_prediction",
    "events_cusum_changepoint",
    "multimodal_scene_cuts",
    "parts_skyline",
    "events_ab_lift",
    "docs_winnow_fingerprints",
    "docs_winnow_match",
    "basket_association_rules",
    "graph_kcore",
    "events_burst_users",
    # round-3 session-3 additions
    "embedding_pca_covariance",
    "events_acf_hourly",
    "events_chi_square_independence",
    "graph_modularity",
    "ann_filtered_recall",
    "events_mann_kendall",
    "orders_benford_audit",
    "events_theilsen_trend",
    "multimodal_audio_vad_segments",
    "events_ks_test",
    "events_runs_test",
    "arrow_ipc_roundtrip",
    "events_spearman_hourly",
    "events_ab_cuped",
    "events_kendall_hourly",
    "customers_survival_km",
    "docs_readability",
    "stream_arrow_sink",
    "events_holt_smoothing",
    "events_seasonal_outliers",
    "graph_clustering_coefficient",
    "graph_assortativity",
    "referential_integrity_audit",
    "basket_frequent_triples",
    "graph_personalized_pagerank",
    "parts_abc_classification",
    "events_mann_whitney",
    "events_kruskal_wallis",
    "events_friedman",
    # round-4 additions
    "graph_pagerank_converged",
    "graph_components_converged",
    "multimodal_decode_png",
    "stream_late_data_discard",
    "stream_left_outer_join",
    "stream_state_timeout_sessions",
    "graph_kcore_converged",
    "graph_components_star",
    "ann_pq_recall_k256",
    "ann_ivfpq_recall_k256",
    # round-5 additions
    "ann_ivfpq_filtered_k256",
    "neardup_index_append",
    "multimodal_decode_png_palette",
    "events_hourly_stats_pruned",
    "stream_neardup_index_ingest",
    "multimodal_decode_jpeg",
    "neardup_index_compact",
    # round-6 additions
    "docs_url_canonicalize",
    "docs_host_mixture",
    "docs_html_strip",
    "docs_url_blocklist_filter",
    "stream_url_frontier_gate",
    "docs_url_canon_content_audit",
    "semantic_dedup_k_curve",
]

INGEST_DIR = "/root/repo/.bench_cache"


def ingest(spark, sf_dir: str) -> str:
    """One-time layout conversion, excluded from timings.

    The driver's parquet files hold ONE row group each, so a scan can
    never parallelize past one task no matter the split size. Rewrite
    each table (same rows, same schema) into size-proportional multi-file
    parquet — the exact analogue of the reference benchmark's untimed
    CSV -> BlockFile conversion (reference examples/benchmark.py:20-48),
    whose 2M-row blocks exist for the same reason.
    """
    out = f"{INGEST_DIR}/{os.path.basename(sf_dir.rstrip('/'))}"
    stamp = f"{out}/.ingested2"
    src_mtime = max(os.path.getmtime(f"{sf_dir}/{t}.parquet") for t in TABLES)
    if os.path.exists(stamp) and os.path.getmtime(stamp) > src_mtime:
        return out
    for t in TABLES:
        nbytes = os.path.getsize(f"{sf_dir}/{t}.parquet")
        df = load_table(spark, sf_dir, t)
        nrows = df.count()  # parquet metadata count — no data scan
        # Partition count from BYTES OR ROWS, whichever asks for more
        # (capped at 32): byte-sized splits alone leave the payload
        # tables (documents/embeddings: compressed text and vectors,
        # ~0.5 MB at sf0.1) in 1-3 partitions, serializing every
        # CPU-bound text/codec/distance scan stage on a 32-core box.
        # The reference's own untimed conversion blocks by ROW COUNT
        # (2M-row BlockFile blocks, examples/benchmark.py:20-48) for
        # the same reason; >= 256 rows per slice keeps per-file and
        # per-task overhead negligible for the smallest tables (the
        # Python-heavy operators additionally fan_out to full core
        # count themselves — sources/tables.py:fan_out).
        nparts = min(32, max(1, nbytes // 262144, nrows // 256))
        df.repartition(nparts).write.mode("overwrite").parquet(f"{out}/{t}.parquet")
    with open(stamp, "w") as f:
        f.write(sf_dir)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    _ensure_loaded()
    # Per-query trace artifact (reference parity: its Perfetto tracing,
    # utils.py:47-169). SPARK_GRAFT_TRACE=0 disables.
    trace_dir = f"{INGEST_DIR}/trace"
    do_trace = os.environ.get("SPARK_GRAFT_TRACE", "1") != "0"
    conf = {"spark.ui.enabled": "false"}
    if do_trace:
        conf.update(tracing.trace_confs(trace_dir))
    spark = get_spark("bench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")

    sf_dir = ingest(spark, sf_dir)

    # Warm-up: flagship query twice (JVM JIT, parquet footers, codegen cache).
    for _ in range(2):
        REGISTRY["q1_pricing_summary"].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    # Steady-state per BASELINE.md: three interleaved passes over the
    # whole suite, per-query min across passes. Pass 1 pays Catalyst
    # planning + whole-stage-codegen JIT (~10s on expression-heavy
    # plans; steady by pass 3) — mirroring the reference, whose native
    # binary is compiled before its timed runs. Interleaving means a
    # transient machine stall poisons each query in at most one pass.
    timings: dict[str, float] = {name: float("inf") for name in HEADLINE}
    for _ in range(3):
        # Carried MATERIALIZED caches across passes are not fair — each
        # pass re-executes every query's full pipeline, including cache
        # materialization and Catalyst planning.
        clear_plan_cache()
        for name in HEADLINE:
            t0 = time.perf_counter()
            with tracing.tagged(spark.sparkContext, name):
                REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            timings[name] = min(timings[name], time.perf_counter() - t0)
    timings = {k: round(v, 4) for k, v in timings.items()}

    app_id = spark.sparkContext.applicationId
    total = round(sum(timings.values()), 4)
    # The driver records only a truncated tail of stdout, and r5 proved a
    # 60+-query JSON line overflows it ("parsed": null in BENCH_r05). The
    # ONE printed line is therefore compact — flagship + suite totals +
    # a small headline subset — and the FULL per-query map goes to
    # bench_full.json at the repo root for round-over-round regression
    # checks across every query.
    head = {
        k: timings[k]
        for k in (
            "q1_pricing_summary",
            "q3_shipping_priority",
            "q6_forecast_revenue",
            "q18_large_orders",
            "dedup_minhash_lsh",
            "ann_ivf_topk",
            "graph_components_converged",
        )
        if k in timings
    }
    payload = {
        "metric": "q1_pricing_summary",
        "value": timings["q1_pricing_summary"],
        "unit": "sec",
        "total_s": total,
        "n_queries": len(timings),
        "queries": head,
        "sf": sf,
        "full": "bench_full.json",
    }
    full = dict(payload)
    full["queries"] = timings
    print(json.dumps(payload))
    spark.stop()
    if do_trace:
        # after stop() the event log is finalized (no .inprogress tail)
        summary = tracing.write_trace(
            trace_dir, app_id, f"{INGEST_DIR}/trace_latest.json"
        )
        if summary:
            with open(f"{INGEST_DIR}/trace_latest.chrome.json", "w") as f:
                json.dump(tracing.to_chrome_trace(summary), f)
            # Per-query STRUCTURAL metrics next to the wall times, so
            # round-over-round comparison has load-INVARIANT signals
            # (r6: external tenants inflated wall clock 1.2-1.8x while
            # plans stayed bit-identical). Totals across the 3 timed
            # passes (warm-ups and layout ingest are untagged and
            # excluded by the job-group attribution).
            full["structural_passes"] = 3
            full["structural"] = {
                name: {
                    m: int(rec[m])
                    for m in (
                        "stages",
                        "tasks",
                        "shuffle_read_bytes",
                        "shuffle_write_bytes",
                        "input_bytes",
                        "task_time_ms",
                    )
                }
                for name, rec in sorted(summary.items())
                if name in timings
            }
    repo_root = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(repo_root, "bench_full.json"), "w") as f:
        json.dump(full, f, indent=1)
    os.makedirs(INGEST_DIR, exist_ok=True)
    with open(f"{INGEST_DIR}/bench_sf{sf}.json", "w") as f:
        json.dump(full, f, indent=1)


if __name__ == "__main__":
    sys.exit(main())
