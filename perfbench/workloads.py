"""The benchmark's workloads: which registered queries run over which
copies of the generated tables. Why each was chosen is in
``BENCHMARK.json`` and ``README.md``."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    # table -> number of key-shifted copies; unnamed tables are written once
    scale: dict


TPCH = (
    "q1_pricing_summary",
    "q2_min_cost_supplier",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_type_profit",
    "q10_returned_items",
    "q11_important_values",
    "q12_shipmode_priority",
    "q13_customer_distribution",
    "q14_promo_effect",
    "q15_top_supplier",
    "q16_supplier_part_counts",
    "q17_small_quantity_revenue",
    "q18_large_orders",
    "q19_disjunctive_predicates",
    "q20_promo_volume_suppliers",
    "q21_waiting_suppliers",
    "q22_global_sales_opportunity",
)

KERNELS = (
    "multimodal_jpeg_pipeline",
    "multimodal_phash_neardup",
    "multimodal_audio_resample",
    "ann_bruteforce_topk",
    "ann_lsh_incremental",
    "ivfadc_kmeans_search",
    "semdedup_pipeline",
    "decontaminate_semantic",
    "hybrid_search_rrf",
    "sequence_packing_stats",
    "dedup_minhash_incremental",
    "embedding_pca_power_iteration",
    "heavy_hitters_words",
)

ITERATIVE = (
    "graph_lpa_semisync",
    "graph_label_propagation",
    "crossmodal_dup_components",
    "text_ngram_novelty",
    "dedup_span_cutlist",
    "dedup_span_surgery",
    "dedup_span_apply",
    "training_shards_pipeline",
    "decontaminate_test_split",
    "dsir_importance_weights",
    "frequent_itemsets_pairs",
    "cdc_chunk_dedup",
    "neardup_source_matrix",
    "naive_bayes_langid",
)

WORKLOADS = {
    w.name: w
    for w in (
        Workload("tpch_x8", TPCH, {"lineitem": 8, "orders": 8, "events": 8}),
        Workload("kernels_x1", KERNELS, {}),
        Workload("iterative_x1", ITERATIVE, {}),
    )
}
