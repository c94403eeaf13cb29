"""Per-query time budgets over a headline set of heavy queries.

These are NOT micro-benchmarks — the host shows sporadic multi-second
stalls (SCALING.md), so the budgets are set an order of magnitude above
normal cost. What they catch is the catastrophic regression class: an
accidental cartesian product, a lost broadcast, a collapsed-to-one-task
stage — which turn a sub-second query into minutes.
"""

from __future__ import annotations

import time

import pytest

PER_QUERY_BUDGET_SEC = 60.0
TOTAL_BUDGET_SEC = 420.0

# The heavy/representative queries (join assembly, wide agg, windows,
# sessionization, balances). Cheap point-lookups are excluded so the
# budgets track real operator cost.
HEADLINE = [
    "pricing_summary",
    "master_denorm",
    "order_balance",
    "order_last_ship",
    "customer_metrics",
    "running_balance",
    "aging_pivot",
    "pareto_abc",
    "dual_sort",
    "events_sessionize",
    "events_hourly",
    "scalar_suite",
    "cxc_saldo_factura",
    "cxc_kpis",
    "cxc_concentracion",
    "doc_minhash_pairs",
    "doc_simhash",
    "doc_curation",
    "knn_brute",
    "multimodal_features",
    "customer_order_distribution",
    "large_quantity_orders",
    "asof_latest_order",
    "volume_shipping",
    "market_share",
    "waiting_suppliers",
    "knn_lsh",
    "doc_dup_clusters",
    "cxc_antiguedad_cliente",
    "doc_decontaminate",
    "doc_repetition",
    "tfidf_top_terms",
    "doc_pack_sequences",
    "events_funnel",
    "events_retention",
    "cube_summary",
    "kmeans_embeddings",
    "knn_ivf",
    "doc_simhash_pairs",
    "emb_near_dup",
    "multimodal_resize",
    "multimodal_frames",
    # events_rolling_sharded intentionally absent: at sf0.1 the routed
    # events_rolling below takes the identical sharded plan, so listing
    # both would time the same plan twice.  The definition (single-key)
    # path stays covered by the oracle check and by
    # tests/test_physical_plans.py.
    "doc_dedup_keep_best",
    "vocab_top_terms",
    "source_mix",
    "events_anomaly",
    "doc_quality_quantiles",
    "shipping_priority",
    "local_supplier_volume",
    "returned_items",
    "product_profit",
    "small_qty_revenue",
    "dominant_part_suppliers",
    "emb_semantic_dedup",
    "doc_passage_dedup",
    "events_gapfill",
    "events_asof_attribution",
    "sketch_profile",
    "doc_train_split",
    "events_conversion_pairs",
    "events_conversion_window",
    "doc_chunks",
    "events_hopping",
    "events_transitions",
    "events_ohlc",
    "shard_manifest",
    "events_rolling",
    "shard_verify",
    "emb_quantize",
    "doc_dup_ngrams",
    "source_cross_dup",
    "doc_token_budget",
    "doc_lm_quality",
    "doc_pack_fold",
    "bpe_merge_pairs",
    "emb_label_centroids",
    "doc_lang_confusion",
    "events_dau_wau",
    "doc_dsir_weights",
    "doc_substring_dedup",
    "ann_recall_audit",
    "doc_winnowing",
    "doc_minhash_est_error",
    "doc_gopher_quality",
    "bpe_encode_curve",
    "ivf_recall_audit",
    "emb_anisotropy_audit",
    "doc_ccnet_buckets",
    "bpe_train_steps",
    "events_heavy_hitters",
    "emb_pq_audit",
    "emb_drift_audit",
    "doc_bloom_decontaminate",
    "bpe_fertility",
    "doc_length_buckets",
    "events_uniques_sketch",
    "emb_dedup_curve",
    "corpus_snapshot_diff",
    "doc_signal_corr",
    "doc_mixture_sample",
    "doc_c4_filters",
    "doc_readability",
    "doc_hash_classifier",
    "emb_decontaminate",
    "corpus_compaction_audit",
    "doc_bm25_topk",
    "events_watermark_audit",
    "doc_ngram_novelty",
    "ann_hard_negatives",
    "events_bot_detection",
    "training_mix_epochs",
    "doc_langmix_detect",
    "vocab_growth_curve",
    "events_cohort_value",
    "simhash_recall_audit",
    "doc_dup_spans",
    "multimodal_phash_pairs",
    "multimodal_phash_recall",
    "multimodal_phash_clusters",
    "multimodal_phash_keep_best",
    "doc_minhash_containment",
    "doc_dedup_weights",
    "events_quantile_sketch",
    "doc_normalized_dedup",
    "doc_strip_dup_spans",
    "multimodal_decontaminate",
    "events_quantile_daily",
    "multimodal_phash_weights",
    "part_supplier_counts",
    "emb_dim_stats",
    "emb_label_outliers",
    "lsh_bucket_skew",
    "events_interarrival",
    "multimodal_frame_dedup",
    "knn_mutual_pairs",
    "corpus_dedup_funnel",
    "doc_clf_calibration",
    "doc_eval_contamination",
]


@pytest.fixture(scope="module")
def headline_timings(spark, sf_dir):
    from prac_data_pipelines_spark.queries import all_queries

    queries = all_queries()
    # warm the JVM once so the first query doesn't absorb startup cost
    queries["pricing_summary"](spark, sf_dir).write.format("noop").mode(
        "overwrite").save()
    timings = {}
    for name in HEADLINE:
        t0 = time.time()
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = time.time() - t0
    return timings


def test_headline_queries_exist():
    from prac_data_pipelines_spark.queries import all_queries

    missing = [n for n in HEADLINE if n not in all_queries()]
    assert not missing, f"HEADLINE references unknown queries: {missing}"


def test_per_query_budget(headline_timings):
    over = {n: round(t, 1) for n, t in headline_timings.items()
            if t > PER_QUERY_BUDGET_SEC}
    assert not over, f"queries over {PER_QUERY_BUDGET_SEC}s budget: {over}"


def test_total_budget(headline_timings):
    total = sum(headline_timings.values())
    assert total <= TOTAL_BUDGET_SEC, (
        f"headline total {total:.1f}s exceeds {TOTAL_BUDGET_SEC}s — "
        f"slowest: {sorted(headline_timings.items(), key=lambda kv: -kv[1])[:5]}")
