#!/usr/bin/env python3
"""Store-maintenance soak (VERDICT r7 item 6; r8 item 6 added the
CONCURRENCY dimension): continuous ingest plus random takedowns with
``TableStore.maintain_store(policy)`` closing the loop each round,
while TWO concurrent clients run against the same store the whole
time —

- a **changefeed consumer** (``changes(include_deletes=True)``) that
  replays every insert/delete window in version order into its own
  state and must converge EXACTLY to the live set at the end, across
  compactions, projection refreshes, and vacuums firing mid-window;
- a **paginating reader** that keyset-pages a version-pinned snapshot
  (500 ids per page) and asserts every pagination run is internally
  consistent — no duplicate, no gap, total equal to the pinned
  manifest's metadata row count — even as maintenance rewrites and
  vacuums the generations underneath (version pinning + vacuum grace
  is the documented in-flight-reader contract).

Bounded-amplification assertions via ``stats()``:

- fragment count never exceeds ``max_fragments`` + the per-round batch
  count (ingest between passes is the only allowed overshoot, and the
  next pass drains it);
- projection LSM lag is ≤ ``max_projection_lag`` after every pass, so
  ``read_projection``'s tail union stays O(policy), not O(history);
- on-disk bytes track LIVE rows through the vacuum-grace window:
  bytes/row at the end ≤ 3x the round-1 baseline (both measured under
  the same grace retention);
- manifest metadata is pruned to ``keep_manifests`` plus at most one
  delta chain (``CHECKPOINT_INTERVAL``) — the log-structured commit
  retention contract;
- and the data is RIGHT throughout: after every round the store's
  visible ids equal the python-side expected set (ingested minus taken
  down), through the base table AND the maintained projection.

Run: ``python tools/soak_store.py`` (~2-4 min). Prints one JSON line
with ``all_pass``; SCALE.md records the measured numbers.
"""
from __future__ import annotations

import json
import random
import shutil
import sys
import tempfile
import threading
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

ROUNDS = 12
BATCHES_PER_ROUND = 3
ROWS_PER_BATCH = 400
TAKEDOWNS_PER_ROUND = 120
PAGE = 500
VACUUM_GRACE = 30.0  # > max consumer lag behind CURRENT (the delete
# feed reads REPLACED pre-delete fragments, so retention must cover a
# consumer a few rounds behind, not just one in-flight read)


def main() -> int:
    from pyspark.sql import functions as F

    from rust_evm_indexer_spark.session import get_spark
    from rust_evm_indexer_spark.store import MaintenancePolicy, TableStore, table_store

    spark = get_spark("soak-store")
    root = Path(tempfile.mkdtemp(prefix="soak_store_"))
    table_store.CHECKPOINT_INTERVAL = 4  # short chains: many checkpoints per soak
    store = TableStore(
        spark, root / "store", bloom_columns={"pts": ("addr",)},
        dict_columns={},
    )
    pol = MaintenancePolicy(
        max_fragments=6, max_size_skew=16.0, max_projection_lag=2,
        keep_manifests=8, vacuum_grace_seconds=VACUUM_GRACE,
    )
    rng = random.Random(8)

    live: set[int] = set()
    docs_live: set[int] = set()
    next_id = 0
    next_doc = 0
    delta_deletes_seen = 0
    pts_delta_deletes = 0
    block = 0
    failures: list[str] = []
    bytes_per_row_r1 = None
    t0 = time.perf_counter()

    def check(cond: bool, msg: str) -> None:
        if not cond:
            failures.append(msg)

    # -- concurrent clients -------------------------------------------------
    stop_evt = threading.Event()
    client_errors: list[str] = []
    feed_state: set[int] = set()
    docs_feed_state: set[int] = set()
    feed_pos = {"v": 0}
    pagination_runs = {"n": 0}

    def _consume(table: str, state: set[int], to: int, pos: int) -> None:
        df = store.changes(
            table, since_version=pos, to_version=to, include_deletes=True
        )
        if "id" not in df.columns:
            return  # window predates the table's first write (no schema)
        rows = df.select("id", "_change_type", "_commit_version").collect()
        # documented replay order: version-ordered, deletes before
        # inserts within a version (an upsert emits both at one)
        rows.sort(
            key=lambda r: (r["_commit_version"], r["_change_type"] != "delete")
        )
        for r in rows:
            if r["_change_type"] == "insert":
                state.add(r["id"])
            else:
                state.discard(r["id"])

    def changefeed_consumer() -> None:
        """Consume (feed_pos, CURRENT] with deletes for BOTH tables —
        pts (PROJECTED: takedown deltas carry projections_delta since
        r10) and docs (projection-free delta deletes, r9) — applying
        in version order; exactness is asserted after the final
        drain."""
        while not stop_evt.is_set():
            try:
                cur = store.current_manifest().version
                if cur > feed_pos["v"]:
                    _consume("pts", feed_state, cur, feed_pos["v"])
                    _consume("docs", docs_feed_state, cur, feed_pos["v"])
                    feed_pos["v"] = cur
            except Exception as e:  # noqa: BLE001 — soak records, not raises
                client_errors.append(f"changefeed: {e!r:.200}")
                return
            time.sleep(0.2)

    def paginating_reader() -> None:
        """Keyset-page a version-pinned snapshot; each full pagination
        must be internally exact regardless of concurrent maintenance."""
        while not stop_evt.is_set():
            try:
                m = store.current_manifest()
                if m.version == 0:  # nothing committed yet
                    time.sleep(0.05)
                    continue
                expected = store.table_rows("pts", manifest=m)
                seen: list[int] = []
                cursor = -1
                while True:
                    ids = [
                        r["id"]
                        for r in store.read("pts", version=m.version)
                        .filter(F.col("id") > cursor)
                        .orderBy("id")
                        .limit(PAGE)
                        .select("id")
                        .collect()
                    ]
                    if not ids:
                        break
                    seen.extend(ids)
                    cursor = ids[-1]
                if len(seen) != expected or len(set(seen)) != len(seen):
                    client_errors.append(
                        f"pagination@v{m.version}: {len(seen)} ids "
                        f"({len(set(seen))} unique) vs metadata {expected}"
                    )
                    return
                pagination_runs["n"] += 1
            except Exception as e:  # noqa: BLE001
                client_errors.append(f"reader: {e!r:.200}")
                return
            time.sleep(0.1)

    threads = [
        threading.Thread(target=changefeed_consumer, daemon=True),
        threading.Thread(target=paginating_reader, daemon=True),
    ]
    for th in threads:
        th.start()

    # -- the churn loop ------------------------------------------------------
    for rnd in range(1, ROUNDS + 1):
        for _ in range(BATCHES_PER_ROUND):
            rows = [
                (next_id + i, f"0xa{(next_id + i) % 7}", block)
                for i in range(ROWS_PER_BATCH)
            ]
            store.commit({"pts": spark.createDataFrame(
                rows, "id: long, addr: string, block_number: long")})
            live.update(r[0] for r in rows)
            next_id += ROWS_PER_BATCH
            block += 1
        if rnd == 1:
            store.build_projection("pts", "by_addr", ("addr",),
                                   max_fragments=2)
        gone = rng.sample(sorted(live), TAKEDOWNS_PER_ROUND)
        store.delete_in("pts", "id", gone)
        live.difference_update(gone)
        # r10: the PROJECTED table's takedowns ride the delta log too
        # (projections_delta carries the replica purge) whenever a
        # chain slot is free — count them so the soak proves the new
        # path runs under concurrent consumers, not just in unit tests
        mv = store.current_manifest().version
        if "base" in store._read_version_record(mv):  # delta record
            pts_delta_deletes += 1

        # second table, NO projection: its takedowns rode the delta
        # path first (r9); kept as the projection-free contrast case —
        # the changefeed consumer replays both
        drows = [(next_doc + i, block) for i in range(100)]
        store.commit({"docs": spark.createDataFrame(
            drows, "id: long, block_number: long")})
        docs_live.update(i for i, _ in drows)
        next_doc += 100
        dgone = rng.sample(sorted(docs_live), 30)
        store.delete_in("docs", "id", dgone)
        docs_live.difference_update(dgone)
        mv = store.current_manifest().version
        if "base" in store._read_version_record(mv):  # delta record
            delta_deletes_seen += 1
        check(store.read("docs").count() == len(docs_live)
              and {r["id"] for r in store.read("docs").collect()} == docs_live,
              f"r{rnd}: docs table diverged after delta takedown")

        rep = store.maintain_store(pol)
        st = store.stats()["tables"]["pts"]

        check(st["fragments"] <= pol.max_fragments,
              f"r{rnd}: {st['fragments']} fragments > {pol.max_fragments}")
        proj = st["projections"]["by_addr"]
        check(not proj["stale"], f"r{rnd}: projection stale after maintain")
        check(proj["lag_fragments"] <= pol.max_projection_lag,
              f"r{rnd}: projection lag {proj['lag_fragments']}")
        check(st["rows"] == len(live),
              f"r{rnd}: stats rows {st['rows']} != expected {len(live)}")
        got = {r["id"] for r in store.read("pts").collect()}
        check(got == live, f"r{rnd}: base table ids diverge "
                           f"({len(got)} vs {len(live)})")
        # route through the maintained projection per key; the routed
        # fragments are clustered, not exclusive, so filter to the key
        pgot = sum(
            store.read_projection("pts", "by_addr", key_equals=f"0xa{a}")
            .filter(F.col("addr") == f"0xa{a}").count()
            for a in range(7)
        )
        check(pgot == len(live),
              f"r{rnd}: projection rows {pgot} != {len(live)}")
        manifests = len(list((root / "store" / "_manifests").glob("v*.json")))
        m_bound = pol.keep_manifests + table_store.CHECKPOINT_INTERVAL
        check(manifests <= m_bound,
              f"r{rnd}: {manifests} manifests kept > {m_bound} "
              "(keep_manifests + one delta chain)")
        bpr = st["bytes"] / max(st["rows"], 1)
        if rnd == 1:
            bytes_per_row_r1 = bpr
        else:
            check(bpr <= 3 * bytes_per_row_r1,
                  f"r{rnd}: bytes/row {bpr:.0f} > 3x round-1 "
                  f"{bytes_per_row_r1:.0f} — vacuum not reclaiming")
        check(not client_errors, f"r{rnd}: concurrent client failed")
        print(f"round {rnd}: rows={st['rows']} frags={st['fragments']} "
              f"lag={proj['lag_fragments']} bytes/row={bpr:.0f} "
              f"manifests={manifests} pages_ok={pagination_runs['n']} "
              f"feed@v{feed_pos['v']} "
              f"triggers={rep['triggers'].get('pts', [])} "
              f"vacuumed={rep['vacuumed']}", file=sys.stderr)
        if client_errors:
            break

    # final drain: the consumer's replayed state must equal the live set
    stop_evt.set()
    for th in threads:
        th.join(timeout=30)
    if not client_errors:
        cur = store.current_manifest().version
        if cur > feed_pos["v"]:
            _consume("pts", feed_state, cur, feed_pos["v"])
            _consume("docs", docs_feed_state, cur, feed_pos["v"])
        check(feed_state == live,
              f"changefeed state diverged: {len(feed_state)} vs {len(live)} "
              f"(missing {len(live - feed_state)}, "
              f"extra {len(feed_state - live)})")
        check(docs_feed_state == docs_live,
              f"docs changefeed diverged across delta takedowns: "
              f"{len(docs_feed_state)} vs {len(docs_live)}")
        check(delta_deletes_seen >= ROUNDS // 2,
              f"only {delta_deletes_seen} docs takedowns rode the delta "
              "path — the log-structured delete gate regressed")
        check(pts_delta_deletes >= ROUNDS // 2,
              f"only {pts_delta_deletes} PROJECTED-table takedowns rode "
              "the delta path — the r10 projections_delta gate regressed")
    check(pagination_runs["n"] >= ROUNDS,
          f"only {pagination_runs['n']} consistent pagination runs "
          f"completed (< {ROUNDS}) — reader starved or failing")
    failures.extend(client_errors)

    wall = round(time.perf_counter() - t0, 1)
    spark.stop()
    shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({
        "soak": "store_maintenance_concurrent",
        "rounds": ROUNDS,
        "ingested": next_id,
        "taken_down": ROUNDS * TAKEDOWNS_PER_ROUND,
        "final_rows": len(live),
        "docs_rows": len(docs_live),
        "delta_takedowns": delta_deletes_seen,
        "projected_delta_takedowns": pts_delta_deletes,
        "pagination_runs": pagination_runs["n"],
        "changefeed_final_version": feed_pos["v"],
        "wall_sec": wall,
        "all_pass": not failures,
        "failures": failures[:8],
    }, separators=(",", ":")), flush=True)
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
