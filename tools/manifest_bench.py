"""Manifest-format pruning benchmark (VERDICT r4 item 7).

Fabricates manifests with N fragment records (no data files needed —
this measures METADATA cost only) in both formats and times, per N:

- ``read_full``: load the manifest and materialize every fragment
  (what any mutation op pays);
- ``read_prune``: load the manifest and resolve a narrow block-range
  probe to its surviving fragments (what every bounded query pays —
  the hot path at 100 TB, where a table holds millions of fragments).

Expected shape: JSON read_prune grows linearly with N (the whole list
parses before pruning); parquet read_prune stays near-flat (row-group
statistics skip non-matching groups; only survivors materialize).

The store picks the format by fragment count (``AUTO_PARQUET_FRAGMENTS``)
and the delta-chain length by ``CHECKPOINT_INTERVAL``; this script sets
both module constants to pin one format and regime per measurement.

Run: ``python tools/manifest_bench.py [Ns...]`` — prints one JSON line.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from rust_evm_indexer_spark.store import table_store  # noqa: E402
from rust_evm_indexer_spark.store.table_store import (  # noqa: E402
    Fragment,
    Manifest,
    TableStore,
)

BLOCKS_PER_FRAG = 5


def _store(root: Path, fmt: str, interval: int = 16) -> TableStore:
    """A metadata-only store whose swaps write ``fmt`` manifests and
    checkpoint every ``interval``-th swap (0: checkpoints only)."""
    table_store.AUTO_PARQUET_FRAGMENTS = 0 if fmt == "parquet" else sys.maxsize
    table_store.CHECKPOINT_INTERVAL = interval
    return TableStore(None, root)


def _fabricate(n_frags: int) -> dict[str, list[Fragment]]:
    """n_frags block-range-clustered logs fragments, ingest-shaped:
    consecutive 5-block windows, realistic row counts and bloom params."""
    frags = [
        Fragment(
            path=f"data/logs/frag-{i:08x}",
            rows=1200,
            min_block=1_000_000 + i * BLOCKS_PER_FRAG,
            max_block=1_000_000 + (i + 1) * BLOCKS_PER_FRAG - 1,
            blooms={"contract_address": {"m": 4096, "k": 7, "n": 300}},
        )
        for i in range(n_frags)
    ]
    return {"logs": frags}


def _bench_format(fmt: str, n_frags: int, probes: int = 20) -> dict[str, float]:
    root = Path(tempfile.mkdtemp(prefix=f"manifest-bench-{fmt}-"))
    try:
        store = _store(root, fmt)
        m = Manifest(version=1, tables=_fabricate(n_frags))
        t0 = time.perf_counter()
        store._swap(m)
        write_s = time.perf_counter() - t0

        # full materialization (mutation-path cost)
        t0 = time.perf_counter()
        mm = store.current_manifest()
        n = sum(len(v) for v in mm.tables.values())
        read_full_s = time.perf_counter() - t0
        assert n == n_frags

        # narrow bounded probes (query-path cost); fresh manifest load
        # per probe — the steady state for a server answering point/range
        # queries against a continuously-advancing store
        lo = 1_000_000 + (n_frags // 2) * BLOCKS_PER_FRAG
        t0 = time.perf_counter()
        for i in range(probes):
            mm = store.current_manifest()
            surv = store.fragments_for(
                "logs", min_block=lo + i, max_block=lo + i + 9, manifest=mm
            )
            assert 1 <= len(surv) <= 4
        read_prune_s = (time.perf_counter() - t0) / probes
        return {
            "write_s": round(write_s, 4),
            "read_full_s": round(read_full_s, 4),
            "read_prune_s": round(read_prune_s, 5),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _bench_append(fmt: str, n_frags: int, chain: int = 16) -> dict[str, float]:
    """Per-append MANIFEST cost at a store already holding n_frags
    fragments (the data write is identical across regimes and excluded):

    - ``append_full_s``: the full-manifest regime — hydrate the current
      fragment list, append one record, rewrite the whole list
      (O(total fragments) per commit; what every commit paid pre-r9);
    - ``append_delta_s``: the log-structured regime — resolve the
      (unhydrated) current version, write one O(1) delta
      (a ``base``-bearing record at ``v{N}.json``) holding just the new fragment;
    - ``append_amortized_s``: a full CHECKPOINT_INTERVAL-length chain of
      delta appends PLUS the closing checkpoint, averaged — the honest
      sustained cost including the periodic O(total)/K hydration.
    """
    base = _fabricate(n_frags)

    def _new_frag(i: int) -> Fragment:
        return Fragment(
            path=f"data/logs/frag-new-{i:04x}",
            rows=1200,
            min_block=9_000_000 + i * BLOCKS_PER_FRAG,
            max_block=9_000_000 + (i + 1) * BLOCKS_PER_FRAG - 1,
        )

    out: dict[str, float] = {}
    # full-manifest regime
    root = Path(tempfile.mkdtemp(prefix=f"manifest-append-full-{fmt}-"))
    try:
        store = _store(root, fmt, interval=0)
        store._swap(Manifest(version=1, tables=base))
        t0 = time.perf_counter()
        m = store.current_manifest()
        tables = {t: list(fs) for t, fs in m.tables.items()}
        tables["logs"] = tables["logs"] + [_new_frag(0)]
        store._swap(Manifest(version=2, txns=dict(m.txns), tables=tables))
        out["append_full_s"] = round(time.perf_counter() - t0, 5)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    # log-structured regime: one delta, then a sustained chain + checkpoint
    root = Path(tempfile.mkdtemp(prefix=f"manifest-append-delta-{fmt}-"))
    try:
        store = _store(root, fmt, interval=chain)
        store._swap(Manifest(version=1, tables=base))
        t0 = time.perf_counter()
        m = store.current_manifest()
        store._swap_delta(
            {
                "version": 2,
                "base": 1,
                "op": "commit",
                "txns": dict(m.txns),
                "status": m.status,
                "schemas": dict(m.schemas),
                "adds": {"logs": [_new_frag(0).to_json()]},
            }
        )
        out["append_delta_s"] = round(time.perf_counter() - t0, 5)
        t0 = time.perf_counter()
        for i in range(1, chain + 1):
            m = store.current_manifest()
            nxt = m.version + 1
            if store._delta_chain_len(m) <= chain:
                base_v = m.__dict__.get("_base_version", m.version)
                store._swap_delta(
                    {
                        "version": nxt,
                        "base": base_v,
                        "op": "commit",
                        "txns": dict(m.txns),
                        "status": m.status,
                        "schemas": dict(m.schemas),
                        "adds": {"logs": [_new_frag(i).to_json()]},
                    }
                )
            else:  # the closing checkpoint: hydrate once per K appends
                tables = {t: list(fs) for t, fs in m.tables.items()}
                tables["logs"] = tables["logs"] + [_new_frag(i)]
                store._swap(Manifest(version=nxt, txns=dict(m.txns), tables=tables))
        out["append_amortized_s"] = round(
            (time.perf_counter() - t0) / (chain + 1), 5
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def _bench_projected_takedown(fmt: str, n_frags: int) -> dict[str, float]:
    """Per-takedown MANIFEST cost on a table WITH a projection (the
    r10 projections_delta path vs the checkpoint it replaced).  Data
    rewrite cost is identical across regimes and excluded — this
    isolates what the compliance path pays in metadata when one
    fragment is purged from a heavily-indexed table:

    - ``takedown_ckpt_s``: hydrate every table's fragment list, apply
      the replace, rewrite the FULL manifest including the projection
      state — O(total fragments) per purge (pre-r10 behavior for
      projected tables);
    - ``takedown_delta_s``: one O(touched) delta record — removed path
      + rewritten survivor + removes_rows + the projection's
      covers_map/pfrag swap (r10)."""
    from rust_evm_indexer_spark.store.table_store import (
        _apply_projection_updates,
        _proj_updates_to_json,
    )

    base = _fabricate(n_frags)
    projections = {
        "logs": {
            "by_addr": {
                "cluster_by": ["contract_address"],
                "layout": "range",
                "covers": [f.path for f in base["logs"]],
                "fragments": [
                    Fragment(path=f"data/logs__proj__by_addr/p-{i:04x}",
                             rows=(n_frags * 1200) // 2)
                    for i in range(2)
                ],
            }
        }
    }
    rewritten = Fragment(path="data/logs/frag-rw", rows=1199, derived=True)
    pfrag_new = Fragment(path="data/logs__proj__by_addr/p-rw", rows=599,
                         derived=True)
    victim = base["logs"][n_frags // 2]
    update = {
        "by_addr": {
            "covers_map": {victim.path: rewritten.path},
            "pfrags_remove": [projections["logs"]["by_addr"]["fragments"][0].path],
            "pfrags_add": [pfrag_new],
        }
    }
    out: dict[str, float] = {}
    # checkpoint regime (what projected tables paid pre-r10)
    root = Path(tempfile.mkdtemp(prefix=f"manifest-td-ckpt-{fmt}-"))
    try:
        store = _store(root, fmt, interval=0)
        store._swap(Manifest(version=1, tables=base, projections=projections))
        t0 = time.perf_counter()
        m = store.current_manifest()
        tables = {t: list(fs) for t, fs in m.tables.items()}
        tables["logs"] = [
            rewritten if f.path == victim.path else f for f in tables["logs"]
        ]
        projs = {t: dict(ps) for t, ps in m.projections.items()}
        projs["logs"] = _apply_projection_updates(projs["logs"], update)
        store._swap(Manifest(version=2, tables=tables, projections=projs))
        out["takedown_ckpt_s"] = round(time.perf_counter() - t0, 5)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    # delta regime (r10)
    root = Path(tempfile.mkdtemp(prefix=f"manifest-td-delta-{fmt}-"))
    try:
        store = _store(root, fmt)
        store._swap(Manifest(version=1, tables=base, projections=projections))
        t0 = time.perf_counter()
        m = store.current_manifest()
        store._swap_delta(
            {
                "version": 2,
                "base": 1,
                "op": "delete",
                "op_info": {"table": "logs", "column": "id", "value": 1},
                "txns": dict(m.txns),
                "status": m.status,
                "schemas": dict(m.schemas),
                "adds": {"logs": [rewritten.to_json()]},
                "removes": {"logs": [victim.path]},
                "removes_rows": {"logs": {victim.path: victim.rows}},
                "projections_delta": {"logs": _proj_updates_to_json(update)},
            }
        )
        out["takedown_delta_s"] = round(time.perf_counter() - t0, 5)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def main() -> None:
    ns = [int(a) for a in sys.argv[1:]] or [1_000, 10_000, 50_000, 200_000]
    out = {"metric": "manifest_prune_bench", "results": {}}
    for n in ns:
        out["results"][str(n)] = {
            fmt: {
                **_bench_format(fmt, n),
                **_bench_append(fmt, n),
                **_bench_projected_takedown(fmt, n),
            }
            for fmt in ("json", "parquet")
        }
    # flatness check: parquet prune time from smallest to largest N
    first, last = str(ns[0]), str(ns[-1])
    pq_growth = (
        out["results"][last]["parquet"]["read_prune_s"]
        / max(out["results"][first]["parquet"]["read_prune_s"], 1e-9)
    )
    json_growth = (
        out["results"][last]["json"]["read_prune_s"]
        / max(out["results"][first]["json"]["read_prune_s"], 1e-9)
    )
    out["n_growth"] = round(ns[-1] / ns[0], 1)
    out["parquet_prune_growth"] = round(pq_growth, 2)
    out["json_prune_growth"] = round(json_growth, 2)
    # commit-cost flatness: delta-append growth across the N sweep per
    # format (the VERDICT r8 item-2 "near-flat COMMIT cost" check —
    # append_full_s is the O(total) cost it replaces)
    for fmt in ("json", "parquet"):
        out[f"{fmt}_delta_append_growth"] = round(
            out["results"][last][fmt]["append_delta_s"]
            / max(out["results"][first][fmt]["append_delta_s"], 1e-9),
            2,
        )
        out[f"{fmt}_full_append_growth"] = round(
            out["results"][last][fmt]["append_full_s"]
            / max(out["results"][first][fmt]["append_full_s"], 1e-9),
            2,
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
