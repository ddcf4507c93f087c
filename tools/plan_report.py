#!/usr/bin/env python3
"""Regenerate PLANS.md: the physical plan (`explain("formatted")`) of a
representative slice of the catalog — the six flagship interactive
queries plus the heaviest / most plan-sensitive operators — compiled at
sf0.01 (no execution; fixtures must already exist).

The plan-shape CONTRACTS live in tests/test_plan_hygiene.py (39+
assertions); this artifact is the human-readable companion: what the
optimizer actually emits for each shape, committed so plan drift shows
up in review diffs.

Run: python tools/plan_report.py   (~1 min, writes PLANS.md)
"""
from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF = "/root/testdata/sf0.01"

# (entry, why this one)
ENTRIES = [
    ("logs_page_first", "flagship: page+order -> TakeOrderedAndProject, pushed filters"),
    ("logs_filter_eq", "flagship: case-insensitive equality pushed to the scan"),
    ("logs_range", "flagship: block-range predicate pushdown"),
    ("point_lookup", "flagship: polymorphic point lookup, limit(1)"),
    ("stats_counts", "flagship: count aggregates, partial agg map-side"),
    ("evm_logs_topic_page", "flagship: topic filters + keyset page"),
    ("q3_shipping_priority", "TPC-H archetype: 3-way join + agg + top-k"),
    ("dedup_minhash_lsh", "banded bucket equi-join, df-capped — never all-pairs"),
    ("dedup_winnowing", "in-array window-min (zero shuffle pre-explode) + inverted index"),
    ("similarity_ivfpq_topk", "partition-pruned cell scan, pure-JVM ADC lookups"),
    ("similarity_opq_residual_topk", "rotated residual ADC: per-cell corrections, unioned pruned scans"),
    ("lm_stupid_backoff_tri", "order-n chain at n=3: one position frame, broadcast vocab, key-partitioned n-gram joins"),
    ("semantic_admit_delta", "kept is a local checkpoint: one scan of materialized rows, no join or file scan left to re-run"),
    ("corpus_shuffle_shards", "ONE Exchange on shard_id + per-shard sort"),
    ("corpus_zipf_slope", "per-group rank window + DECIMAL-sum regression"),
    ("corpus_length_histogram", "narrow projection + one (group,bucket) shuffle"),
    ("store_logs_cursor_page", "r8: cursor-pruned fragment scan + pushed tuple predicate"),
    ("similarity_opq_topk", "r8: rotated ADC — corpus side identical to flat PQ"),
    ("corpus_report", "r8: three bounded aggregations unioned, no corpus rescan"),
    ("store_stats_manifest", "r9: /stats from the manifest tier — driver-local row, zero file scans"),
    ("bm25_rerank", "r11: two-stage retrieval — candidates broadcast into the embeddings scan, literal query vector, top-k re-rank"),
]


def main() -> None:
    from rust_evm_indexer_spark.catalog import CATALOG
    from rust_evm_indexer_spark.session import get_spark

    spark = get_spark("plan_report", cpus=8, shuffle_partitions=8)
    out = [
        "# PLANS — physical plans of representative catalog entries",
        "",
        "Generated by `tools/plan_report.py` at sf0.01 (compile only, no",
        "execution). Plan-shape CONTRACTS are asserted in",
        "`tests/test_plan_hygiene.py`; this file is the readable record of",
        "what Catalyst actually emits, so plan drift shows in review diffs.",
        "Line counts and exchange/codegen inventory matter here; exact node",
        "ids and statistics do not.",
        "",
    ]
    for name, why in ENTRIES:
        df = CATALOG[name].fn(spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        # strip volatile bits: absolute fixture paths and location lists
        lines = [
            ln
            for ln in plan.splitlines()
            if not ln.strip().startswith("Location")
        ]
        out += [f"## {name}", "", f"_{why}_", "", "```", *lines, "```", ""]
    (REPO / "PLANS.md").write_text("\n".join(out))
    print(f"PLANS.md written: {len(ENTRIES)} entries")


if __name__ == "__main__":
    main()
