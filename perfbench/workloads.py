"""The benchmark's workloads: which registry queries, on which data.

``BENCHMARK.json`` gates ``iterative`` and ``streams``, which run a
subset of the full lists ``iterative_full`` and ``streams_full``.
Those two, ``tpch_x10`` and ``curation`` run the same way by hand
(``--workload``), with longer ``--seconds``; README.md says why they are
not gated and how the subsets were chosen.
"""

from __future__ import annotations

from dataclasses import dataclass

# Base tables for every workload but tpch_x10, and the scale whose
# lineitem/orders tpch_x10 replicates.
BASE_SF = 0.01
X10_SOURCE_SF = 0.1
X10_COPIES = 10
# --smoke: everything at this scale (tpch_x10 still replicated 10x).
SMOKE_SF = 0.001

TPCH_QUERIES = (
    "q1_pricing_summary",
    "q2_min_cost_supplier",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q11_important_stock",
    "q12_ship_mode_priority",
    "q13_customer_distribution",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q16_supplier_part_count",
    "q17_small_quantity_revenue",
    "q18_large_orders",
    "q19_disjunctive_predicates",
    "q20_part_promotion",
    "q21_waiting_orders",
    "q22_global_sales_opportunity",
)


ITERATIVE_QUERIES = (
    "graph_pagerank",
    "graph_components_converged",
    "graph_kcore_converged",
    "graph_label_propagation",
    "graph_bfs_hops",
    "semantic_dedup_k_curve",
    "kmeans_clusters",
    "ann_ivf_trained_topk",
)
STREAM_QUERIES = (
    "stream_hourly_event_stats",
    "stream_dedup_events",
    "stream_session_window",
    "stream_late_data_discard",
    "stream_left_outer_join",
    "stream_state_timeout_sessions",
)


@dataclass(frozen=True)
class Workload:
    name: str
    x10: bool  # True: the replicated TPC-H tables; False: the base tables
    tables: tuple[str, ...]  # what the queries read; loaded during set-up
    queries: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "iterative",
            False,
            ("lineitem", "orders", "embeddings"),
            ("graph_components_converged", "kmeans_clusters", "ann_ivf_trained_topk"),
        ),
        Workload(
            "streams",
            False,
            ("events",),
            ("stream_hourly_event_stats", "stream_dedup_events"),
        ),
        Workload("iterative_full", False, ("lineitem", "orders", "embeddings"), ITERATIVE_QUERIES),
        Workload("streams_full", False, ("events",), STREAM_QUERIES),
        Workload(
            "tpch_x10",
            True,
            ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"),
            TPCH_QUERIES,
        ),
        Workload(
            "curation",
            False,
            ("documents",),
            (
                "dedup_minhash_lsh",
                "dedup_minhash_audit",
                "dedup_jaccard_prefix_filter",
                "docs_corpus_curation",
                "docs_fuzzy_dedup_curation",
                "docs_dedup_survivorship",
                "docs_quality_nb_filter",
                "docs_span_scrub",
                "multimodal_decode_png",
            ),
        ),
    )
}
