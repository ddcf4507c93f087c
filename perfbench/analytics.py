"""``catalog_analytics``: a fixed list of catalog entries over a seeded sf0.1
dataset.

Shape: closed loop, one entry at a time, ``clear_session_caches()`` before
each so every entry pays its own plan build and scans.  A first pass runs
every entry to a pandas frame and compares it with the entry's DuckDB
oracle (row count, column names, order-insensitive values; entries without
an oracle get a rows-only check); it is also the warm-up and is not timed.
Then whole passes repeat while another one fits in ``--seconds`` (at least
one), timing ``entry.fn`` (plan build) and ``count()`` (execution) per entry.

End-to-end metrics: ``op_p50_ms``/``op_tail_ms`` are the p50/p90 over the
entries of each entry's fastest wall time (build + execution) in the timed
passes; ``bulk_job_s`` is the fastest pass.  Minima, because the work is
fixed and noise on a shared host only ever adds time.
"""

from __future__ import annotations

import math
import statistics
import time
from datetime import date, datetime

from . import common as cm
from .sfgen import generate

#: the EVM-native entries: log search, point lookups, stats, the store's
#: physical-design tiers, reorg-exact rollups
CORE = ("logs_page_first", "logs_filter_eq", "logs_range", "point_lookup", "stats_counts",
        "evm_logs_topic_page", "store_projection_logs", "store_stats_manifest",
        "logs_filter_conj", "logs_keyset_page", "logs_offset_page", "stats_lag",
        "evm_logs_address_range", "evm_logs_cursor_page", "evm_logs_blockhash_override",
        "reorg_rollup_exact", "store_compacted_logs", "store_tx_bloom_lookup",
        "store_topic0_dict_logs", "store_logs_cursor_page", "store_zorder_logs",
        "store_changefeed_deletes", "evm_join_enriched", "evm_transfer_volume",
        "evm_wei_sum_exact", "evm_address_activity", "evm_block_activity",
        "store_time_travel", "store_upsert_docs")
#: of the heavier entries later work targets, the one the run-time budget
#: holds (corpus_report: plan build plus a shuffle-heavy report)
TARGETS = ("corpus_report",)
ENTRIES = CORE + TARGETS
SETUPS = 2
TAIL_PCT = 90


def _canon(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, float):
        return f"{v:.10g}"
    if isinstance(v, (datetime, date)):
        import pandas as pd

        return pd.Timestamp(v).isoformat()
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        seq = v.tolist() if hasattr(v, "tolist") else v
        return tuple(_canon(x) for x in seq) if isinstance(seq, (list, tuple)) else _canon(seq)
    if isinstance(v, bytes):
        return v.hex()
    return v


def frames_match(got, want) -> str | None:
    """None when two pandas frames hold the same rows (any order), else why not."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows vs {len(want)}"
    cols = sorted(got.columns)

    def rows(df):
        return sorted((tuple(_canon(v) for v in r)
                       for r in df[cols].itertuples(index=False, name=None)), key=repr)

    for a, b in zip(rows(got), rows(want)):
        if a != b:
            return f"row {a} vs {b}"
    return None


def _duck(sf_dir):
    import duckdb

    from rust_evm_indexer_spark.catalog import ensure_evm_fixture_parquet

    con = duckdb.connect()
    evm = ensure_evm_fixture_parquet()
    for name in ("blocks", "transactions", "logs", "indexer_status"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{evm}/{name}.parquet')")
    for p in sorted(sf_dir.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    return con


def run(ctx: cm.Ctx) -> tuple[dict, dict | None]:
    from rust_evm_indexer_spark import catalog

    ctx.start_spark()
    # -- set-up, timed several times: the seeded dataset and its oracle views
    setup_times = []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        sf_dir = generate(ctx.work / f"sf{i}", ctx.seed)
        duck = _duck(sf_dir)
        setup_times.append(time.perf_counter() - t0)
    setup_s = ctx.session_s + statistics.median(setup_times)
    sf = str(sf_dir)
    ctx.log(f"set up in {setup_s:.2f}s")

    # -- check pass (also the warm-up), untimed
    for name in ENTRIES:
        entry = catalog.CATALOG[name]
        catalog.clear_session_caches()
        t0 = time.perf_counter()
        got = entry.fn(ctx.spark, sf).toPandas()
        ctx.log(f"check {name}: {time.perf_counter() - t0:.2f}s")
        if entry.oracle is None:
            ctx.check(got is not None, f"{name}: no result")
            continue
        why = frames_match(got, duck.execute(entry.oracle).df())
        ctx.check(why is None, f"{name}: {why}")
    duck.close()

    # -- timed passes
    if ctx.tracer is not None:
        ctx.tracer.spans.clear()
    best = dict.fromkeys(ENTRIES, math.inf)  # per entry: its fastest wall time
    parts = {}  # per entry: (build, exec) of that fastest run
    passes, op_spans = [], []
    t_end = time.monotonic() + ctx.seconds
    while not passes or time.monotonic() + min(passes) <= t_end:
        t_pass = time.perf_counter()
        for name in ENTRIES:
            fn = catalog.CATALOG[name].fn
            catalog.clear_session_caches()
            span = ctx.tracer.open("catalog.entry", jobs=True) if ctx.tracer else None
            t0 = time.perf_counter()
            df = fn(ctx.spark, sf)
            t1 = time.perf_counter()
            df.count()
            t2 = time.perf_counter()
            if span is not None:
                ctx.tracer.close(span, jobs=True)
                op_spans.append(span)
            if t2 - t0 < best[name]:
                best[name], parts[name] = t2 - t0, (t1 - t0, t2 - t1)
        passes.append(time.perf_counter() - t_pass)
        ctx.log(f"timed pass {len(passes)}: {passes[-1]:.2f}s")

    per_entry = list(best.values())
    e2e = {"setup_s": setup_s, "op_p50_ms": 1000 * cm.pct(per_entry, 50),
           "op_tail_ms": 1000 * cm.pct(per_entry, TAIL_PCT), "bulk_job_s": min(passes)}
    layers = None
    if ctx.trace:
        layers = cm.layer_metrics(ctx, op_spans=op_spans, e2e=e2e,
                                  catalog=(sum(b for b, _ in parts.values()),
                                           sum(e for _, e in parts.values())))
    return e2e, layers
