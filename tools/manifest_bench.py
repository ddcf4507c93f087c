"""Manifest metadata benchmark (VERDICT r4 item 7).

Fabricates stores with N fragment records (no data files needed — this
measures METADATA cost only) and times, per N:

- ``read_full``: load the manifest and materialize every fragment
  (what any mutation op pays);
- ``read_prune``: load the manifest and resolve a narrow block-range
  probe to its surviving fragments (what every bounded query pays —
  the hot path at 100 TB, where a table holds millions of fragments);
- per-append and per-takedown manifest cost, as a full checkpoint and
  as an O(changed) delta record.

Every checkpoint stores its fragment list as a parquet sidecar, so
read_prune stays near-flat in N (row-group statistics skip
non-matching groups; only survivors materialize).  The delta-chain
length is the ``CHECKPOINT_INTERVAL`` module constant; this script sets
it per measurement.

Run: ``python tools/manifest_bench.py [Ns...]`` — prints one JSON line.
"""

from __future__ import annotations

import itertools
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


def _store(root: Path, interval: int = 16) -> TableStore:
    """A metadata-only store that checkpoints every ``interval``-th swap
    (0: checkpoints only)."""
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


def _bench_read(n_frags: int, probes: int = 20) -> dict[str, float]:
    root = Path(tempfile.mkdtemp(prefix="manifest-bench-"))
    try:
        store = _store(root)
        t0 = time.perf_counter()
        store._swap_next(Manifest(), op="commit", adds=_fabricate(n_frags))
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


def _bench_append(n_frags: int, chain: int = 16) -> dict[str, float]:
    """Per-append MANIFEST cost at a store already holding n_frags
    fragments (the data write is identical across encodings and
    excluded):

    - ``append_full_s``: a full checkpoint — hydrate the current
      fragment list, append one record, rewrite the whole list
      (O(total fragments) per commit);
    - ``append_delta_s``: resolve the (unhydrated) current version and
      write one O(1) delta record holding just the new fragment;
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

    seq = itertools.count()

    def _append(store: TableStore, checkpoint: bool = False) -> None:
        store._swap_next(
            store.current_manifest(), op="commit",
            adds={"logs": [_new_frag(next(seq))]}, checkpoint=checkpoint,
        )

    out: dict[str, float] = {}
    root = Path(tempfile.mkdtemp(prefix="manifest-append-"))
    try:
        store = _store(root, interval=chain)
        store._swap_next(Manifest(), op="commit", adds=base)
        t0 = time.perf_counter()
        _append(store, checkpoint=True)
        out["append_full_s"] = round(time.perf_counter() - t0, 5)
        t0 = time.perf_counter()
        _append(store)
        out["append_delta_s"] = round(time.perf_counter() - t0, 5)
        # finish this chain, then time one whole chain + its checkpoint
        while store._structural_delta_ok(store.current_manifest()):
            _append(store)
        _append(store)
        t0 = time.perf_counter()
        for _ in range(chain + 1):
            _append(store)
        out["append_amortized_s"] = round(
            (time.perf_counter() - t0) / (chain + 1), 5
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def _bench_projected_takedown(n_frags: int) -> dict[str, float]:
    """Per-takedown MANIFEST cost on a table WITH a projection, as a
    full checkpoint and as the r10 ``projections_delta`` record.  Data
    rewrite cost is identical across encodings and excluded — this
    isolates what the compliance path pays in metadata when one
    fragment is purged from a heavily-indexed table:

    - ``takedown_ckpt_s``: hydrate every table's fragment list, apply
      the replace, rewrite the FULL manifest including the projection
      state — O(total fragments) per purge;
    - ``takedown_delta_s``: one O(touched) delta record — removed path
      + rewritten survivor + removes_rows + the projection's
      covers_map/pfrag swap."""
    base = _fabricate(n_frags)
    proj = {
        "cluster_by": ["contract_address"],
        "layout": "range",
        "covers": [f.path for f in base["logs"]],
        "fragments": [
            Fragment(path=f"data/logs__proj__by_addr/p-{i:04x}",
                     rows=(n_frags * 1200) // 2)
            for i in range(2)
        ],
    }
    rewritten = Fragment(path="data/logs/frag-rw", rows=1199, derived=True)
    pfrag_new = Fragment(path="data/logs__proj__by_addr/p-rw", rows=599,
                         derived=True)
    victim = base["logs"][n_frags // 2]
    update = {
        "by_addr": {
            "covers_map": {victim.path: rewritten.path},
            "pfrags_remove": [proj["fragments"][0].path],
            "pfrags_add": [pfrag_new],
        }
    }
    out: dict[str, float] = {}
    for key, checkpoint in (("takedown_ckpt_s", True), ("takedown_delta_s", False)):
        root = Path(tempfile.mkdtemp(prefix="manifest-td-"))
        try:
            store = _store(root)
            store._swap_next(
                Manifest(), op="commit", adds=base,
                proj_updates={"logs": {"by_addr": {"set": proj}}},
            )
            t0 = time.perf_counter()
            store._swap_next(
                store.current_manifest(),
                op="delete",
                op_info={"table": "logs", "column": "id", "value": 1},
                adds={"logs": [rewritten]},
                removes={"logs": [victim.path]},
                removes_rows={"logs": {victim.path: victim.rows}},
                proj_updates={"logs": update},
                checkpoint=checkpoint,
            )
            out[key] = round(time.perf_counter() - t0, 5)
        finally:
            shutil.rmtree(root, ignore_errors=True)
    return out


def main() -> None:
    ns = [int(a) for a in sys.argv[1:]] or [1_000, 10_000, 50_000, 200_000]
    out = {"metric": "manifest_prune_bench", "results": {}}
    for n in ns:
        out["results"][str(n)] = {
            **_bench_read(n),
            **_bench_append(n),
            **_bench_projected_takedown(n),
        }
    # flatness checks from smallest to largest N: bounded prune and the
    # delta append (the VERDICT r8 item-2 "near-flat COMMIT cost"
    # check) against the O(total) full-checkpoint append they replace
    first, last = out["results"][str(ns[0])], out["results"][str(ns[-1])]
    out["n_growth"] = round(ns[-1] / ns[0], 1)
    for key, metric in (
        ("prune_growth", "read_prune_s"),
        ("delta_append_growth", "append_delta_s"),
        ("full_append_growth", "append_full_s"),
    ):
        out[key] = round(last[metric] / max(first[metric], 1e-9), 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
