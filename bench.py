"""Benchmark harness (driver contract): run the engine's headline queries
at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

    {"metric": ..., "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...}

Each query is executed to completion (count of the materialized result —
bounded collects only), timed wall-clock after a JVM/catalog warm-up pass
so per-query numbers measure the plan, not session startup.

Output discipline (round-2 postmortem: the captured JSON line was
truncated mid-stream and never parsed):

- the JSON line is the ONLY stdout the process emits, flushed, with
  nothing after it; Spark console progress bars are disabled in the
  session config so nothing interleaves;
- the line is kept under ~2 KB — compact separators, centisecond
  rounding, and the 22 TPC-H entries keyed by their short archetype id
  (``q17`` for ``q17_small_qty_avg``) — so it survives line-buffered
  capture windows;
- the full-precision result (full entry names, regime, per-query
  seconds) is also written to ``bench_result.json`` /
  ``bench_result_cold.json`` next to this file.

Cache regimes (round-4 postmortem: shared-regime per-entry numbers
absorb cache-eviction/GC noise from whichever entries precede them —
q16 read 4.2 s shared vs 0.96 s cold with an UNCHANGED plan — so
ordering artifacts masqueraded as regressions):

- **cold is the canonical per-entry regime**: the session scope
  (catalog.py::clear_session_caches → util.SessionScope.release — pins,
  build views, shared shingle scans, capped pair lists, IVF indexes) is
  released before every entry, so each timing is an independent
  measurement, comparable round-over-round.  Carve-out (documented per
  VERDICT r12 item 8): the scope's driver-side METADATA memos survive
  the per-entry release — lazy table plans keyed by file identity (no
  rows), a boolean per analyzed scan shape, the shipped-package flag —
  and are dropped only when the Spark application changes.  These are
  the session-catalog state a real engine keeps (the same category as
  Spark's own FileStatusCache, which a cache clear also does not drop);
  every cold entry still scans its parquet from disk;
- **shared is the throughput regime**: one drive of the whole catalog
  with caches live (one shingle scan feeds four dedup flavors) — the
  realistic cost of the catalog as a workload, reported as
  ``shared_total_sec`` beside the cold map.

The default run measures BOTH (shared drive first — it doubles as the
JIT warm-up for the cold pass); ``--cold`` / ``--shared`` (or
SPARK_GRAFT_BENCH_COLD=1) restrict to one regime, keyed in the emitted
JSON by ``regime``.

- **steady is the regression-tracking regime** (round-7 postmortem:
  cold TOTALS swung 141.5 → 188.2 s between same-code runs because the
  cold pass is only the 2nd execution of each stage shape and JIT/GC
  noise lands unevenly): ``--steady`` (or SPARK_GRAFT_BENCH_STEADY=1)
  appends a third cache-cleared pass, so each steady timing is the 3rd
  same-session execution — SCALE.md's measured convergence point
  (6.29 → 3.71 → 3.55 s on substring_dup).  Full precision lands in
  ``bench_result_steady.json``; ``tools/bench_regression.py`` gates
  round-over-round per-entry drift on THAT file at 1.3×.  Opt-in so the
  driver's per-round bench keeps its r7 wall-clock envelope.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from rust_evm_indexer_spark.catalog import CATALOG, clear_session_caches  # noqa: E402
from rust_evm_indexer_spark.session import default_cpus, get_spark  # noqa: E402

_TPCH_KEY = re.compile(r"^(q\d+)_")


def _short(name: str) -> str:
    """Bench-line key: TPC-H entries collapse to their archetype id."""
    m = _TPCH_KEY.match(name)
    return m.group(1) if m else name


def _drive(spark, sf_dir: str, *, cold: bool) -> dict[str, float]:
    """One full catalog pass; per-entry wall seconds."""
    timings: dict[str, float] = {}
    for name, entry in sorted(CATALOG.items()):
        if cold:
            clear_session_caches()
        t0 = time.perf_counter()
        df = entry.fn(spark, sf_dir)
        # execute fully; count() on the final plan materializes every
        # operator (limits/sorts included) without driver-side collect
        df.count()
        timings[name] = round(time.perf_counter() - t0, 4)
    return timings


_PARTIAL_RUN = False  # --entries filter active: sidecars are NOT written
# (a 3-entry spot-check must never clobber the committed full-catalog
# sidecars that tools/bench_regression.py gates against)


def _write_sidecar(result: dict, timings: dict[str, float], regime: str) -> None:
    """Full-precision sidecar with unabbreviated names (judge-readable
    even if the harness's stdout capture truncates)."""
    if _PARTIAL_RUN:
        return
    sidecar = {
        "cold": "bench_result_cold.json",
        "shared": "bench_result.json",
        "steady": "bench_result_steady.json",
    }[regime]
    (Path(__file__).resolve().parent / sidecar).write_text(
        json.dumps(
            {**result, "queries": timings, "cpus": default_cpus()}, indent=1
        )
    )


def _parse_args(argv: list[str]):
    """Strict CLI (VERDICT r8 item 7: an unknown flag must error, not
    silently launch the 2-minute default run)."""
    import argparse

    ap = argparse.ArgumentParser(
        prog="bench.py",
        description=(
            "Run the full query catalog and print one JSON line. "
            "Default: shared pass then cold pass (the driver contract). "
            "--steady appends the 3rd, regression-gated pass."
        ),
    )
    regime = ap.add_mutually_exclusive_group()
    regime.add_argument(
        "--cold", action="store_true",
        help="cold regime only (caches cleared per entry)",
    )
    regime.add_argument(
        "--shared", action="store_true",
        help="shared regime only (caches live across the catalog)",
    )
    ap.add_argument(
        "--steady", action="store_true",
        help=(
            "append the steady pass (3rd same-session execution per "
            "entry) for tools/bench_regression.py; requires the full "
            "shared+cold protocol, so it cannot combine with "
            "--cold/--shared (the pass index would not be comparable)"
        ),
    )
    ap.add_argument(
        "--sf", metavar="DIR", default=None,
        help="scale-factor directory (default $SPARK_GRAFT_SF_DIR "
        "or /root/testdata/sf0.1)",
    )
    ap.add_argument(
        "--entries", metavar="NAMES", default=None,
        help="comma-separated catalog entry names to run (default: all); "
        "unknown names error before Spark starts",
    )
    args = ap.parse_args(argv)
    if args.steady and (args.cold or args.shared):
        ap.error(
            "--steady requires the full shared+cold protocol (it is "
            "defined as the 3rd same-session execution); drop "
            "--cold/--shared"
        )
    return args


def main() -> None:
    global CATALOG
    args = _parse_args(sys.argv[1:])
    sf_dir = args.sf or os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    sf = float(Path(sf_dir).name.replace("sf", "") or 0)
    cold_only = args.cold or os.environ.get(
        "SPARK_GRAFT_BENCH_COLD", ""
    ) not in ("", "0")
    shared_only = args.shared
    with_steady = args.steady or (
        not cold_only
        and not shared_only
        and os.environ.get("SPARK_GRAFT_BENCH_STEADY", "") not in ("", "0")
    )
    if args.entries:
        wanted = [n.strip() for n in args.entries.split(",") if n.strip()]
        unknown = [n for n in wanted if n not in CATALOG]
        if unknown:
            sys.exit(f"unknown catalog entries: {', '.join(unknown)}")
        CATALOG = {n: CATALOG[n] for n in wanted}
        global _PARTIAL_RUN
        _PARTIAL_RUN = True
    spark = get_spark("bench")

    # cheap warm-ups to absorb JVM/codegen/session startup so per-entry
    # numbers measure the PLAN, not first-compile of a stage shape (the
    # shingle explode+join class alone costs ~3 s of one-time JIT that
    # would otherwise land on whichever dedup entry runs first).  The
    # extra warm-ups run at sf0.001 (500 docs — sub-second) and their
    # session caches are cleared so no measured entry inherits state.
    if "logs_page_first" in CATALOG:
        CATALOG["logs_page_first"].fn(spark, sf_dir).collect()
    # prefer the sibling sf0.001 corpus (sub-second); fall back to the
    # measured corpus itself, and never let a missing warm-up path kill
    # the run before the JSON line is emitted
    warm_sf = str(Path(sf_dir).parent / "sf0.001")
    if not Path(warm_sf).is_dir():
        warm_sf = sf_dir
    # one representative per heavy stage-shape family (r7 measurement:
    # the FIRST execution of a shape pays ~2x in JIT even after cache
    # clears, and which entry absorbed it moved with every catalog
    # reorder — warming the families at sf0.001 costs seconds and makes
    # the per-entry numbers comparable round-over-round)
    _WARM = (
        "dedup_ngram_jaccard",   # shingle explode + band join family
        "similarity_topk",       # zip_with/aggregate cosine folds
        "dedup_embedding_cosine",  # sparse-dimension equi-join
        "substring_dup",         # gram explode + positional self-join
        "dedup_winnowing",       # in-array window-min + inverted index
        "unigram_nll",           # vocab join + DECIMAL accumulation
        "lm_stupid_backoff_tri",  # n-gram key-partitioned join chain
        "lm_stupid_backoff_quad",  # position-frame + 5-join chain
        "dedup_spans_global",    # span groupBy-min ownership
    )
    for name in _WARM:
        if name not in CATALOG:
            continue
        try:
            CATALOG[name].fn(spark, warm_sf).count()
        except Exception as e:  # warm-up is best-effort by definition
            print(f"warm-up {name} skipped: {e}", file=sys.stderr)
    clear_session_caches()

    shared_total = None
    if not cold_only:
        shared = _drive(spark, sf_dir, cold=False)
        shared_total = round(sum(shared.values()), 4)
        shared_result = {
            "metric": "catalog_total_wall_sec",
            "value": shared_total,
            "unit": "sec",
            "sf": sf,
            "regime": "shared",
        }
        _write_sidecar(shared_result, shared, regime="shared")
        clear_session_caches()

    if shared_only:
        result = {**shared_result, "queries": {
            _short(n): round(t, 2) for n, t in sorted(shared.items())
        }}
        timings = shared
    else:
        timings = _drive(spark, sf_dir, cold=True)
        result = {
            "metric": "catalog_cold_wall_sec",
            "value": round(sum(timings.values()), 4),
            "unit": "sec",
            "queries": {_short(n): round(t, 2) for n, t in sorted(timings.items())},
            "sf": sf,
            "regime": "cold",
        }
        if shared_total is not None:
            result["shared_total_sec"] = shared_total
        if with_steady:
            # 3rd same-session execution of every entry (shared was the
            # 1st, cold the 2nd), caches cleared per entry — SCALE.md's
            # measured JIT convergence point and the ONLY number the
            # round-over-round regression gate reads
            steady = _drive(spark, sf_dir, cold=True)
            steady_total = round(sum(steady.values()), 4)
            _write_sidecar(
                {
                    "metric": "catalog_steady_wall_sec",
                    "value": steady_total,
                    "unit": "sec",
                    "sf": sf,
                    "regime": "steady",
                    # the steady definition IS the pass index (3rd
                    # same-session execution; ADVICE r8): recorded so
                    # the regression gate can refuse a baseline produced
                    # under a different protocol
                    "pass_index": 3,
                    "passes": ["shared", "cold", "steady"],
                },
                steady,
                regime="steady",
            )
            result["steady_total_sec"] = steady_total
        _write_sidecar(result, timings, regime="cold")

    spark.stop()  # stop BEFORE printing: no JVM output can trail the line
    # stay under ~2 KB line-buffer capture windows, degrading gracefully:
    # 2dp -> 1dp -> drop sub-second entries from the stdout map (they
    # remain in the sidecar), recording how many were elided.  The line
    # must ALWAYS parse; per-query detail is the first thing sacrificed.
    line = json.dumps(result, separators=(",", ":"))
    if len(line) > 1950:
        result["queries"] = {n: round(t, 1) for n, t in result["queries"].items()}
        line = json.dumps(result, separators=(",", ":"))
    if len(line) > 1950:
        q = result["queries"]
        kept = {n: t for n, t in q.items() if t >= 1.0}
        result["queries"] = kept
        result["queries_elided_sub_1s"] = len(q) - len(kept)
        line = json.dumps(result, separators=(",", ":"))
    print(line, flush=True)


if __name__ == "__main__":
    main()
