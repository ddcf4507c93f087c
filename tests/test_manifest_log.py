"""Log-structured manifest commits (VERDICT r8 item 2), parametrized
over BOTH manifest-tier backends (VERDICT r10 item 3).

Every append-shaped swap (commit / set_status) writes an
O(changed)-sized delta record instead of rewriting the full
fragment list; readers resolve checkpoint + delta tail.  The contract
under test: IDENTICAL store semantics to the full-manifest regime —
reads, pruning, time travel, changefeed, idempotent replay, vacuum,
concurrency conflicts — with the commit hot path never hydrating the
fragment list (the Delta-log write-cost shape; tools/manifest_bench.py
measures commit cost near-flat in total fragments).

The ``mk`` fixture runs every test twice: once on the POSIX backend
(files + O_EXCL + rename) and once on :class:`InMemoryObjectStoreIO`,
the S3-semantics fake (conditional PUT, NO rename, strong
read-after-write) — proving the commit protocol never leans on a POSIX
crutch.  All manifest-state assertions go through the backend seam
(``_get``/``_exists``/``_names``) so they hold on both.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from rust_evm_indexer_spark.store import TableStore, table_store
from rust_evm_indexer_spark.store.manifest_io import InMemoryObjectStoreIO
from rust_evm_indexer_spark.store.table_store import DeltaManifest, Manifest

SCHEMA = "id: long, addr: string, block_number: long"


@pytest.fixture(params=["posix", "objectstore", "s3"])
def mk(request, spark):
    """TableStore factory bound to one backend.  Reopening the same
    root returns a fresh handle over the SAME backing state (a new
    LocalManifestIO over the same dir, the same shared in-memory fake,
    or the same bucket prefix on the moto S3 server), which is exactly
    what crash/restart recovery tests need.  The "s3" leg (VERDICT r11
    item 4) runs the WHOLE suite against S3ManifestIO over genuine
    HTTP conditional-PUT semantics; it skips cleanly when moto/boto3
    are absent."""
    backends: dict[str, object] = {}
    if request.param == "s3":
        make_s3 = request.getfixturevalue("moto_s3")

    def _make(root, **kw):
        if request.param == "objectstore":
            kw.setdefault(
                "manifest_io", backends.setdefault(str(root), InMemoryObjectStoreIO())
            )
        elif request.param == "s3":
            kw.setdefault(
                "manifest_io", backends.setdefault(str(root), make_s3())
            )
        return TableStore(spark, root, bloom_columns={}, dict_columns={}, **kw)

    _make.backend = request.param
    return _make


def _interval(monkeypatch, n: int) -> None:
    """Checkpoint every n-th swap for the rest of the test (0 writes
    checkpoints only)."""
    monkeypatch.setattr(table_store, "CHECKPOINT_INTERVAL", n)


def _get(store, name: str) -> dict:
    return json.loads(store._mio.get_text(name))


def _exists(store, name: str) -> bool:
    return store._mio.exists(name)


def _is_delta(store, ver: int) -> bool:
    """Every version lives at v{N}.json; content decides the format
    (a delta record carries ``base``)."""
    try:
        return "base" in _get(store, f"v{ver:06d}.json")
    except FileNotFoundError:
        return False


def _is_ckpt(store, ver: int) -> bool:
    try:
        return "base" not in _get(store, f"v{ver:06d}.json")
    except FileNotFoundError:
        return False


def _names(store) -> list[str]:
    return store._mio.list()


def _batch(spark, b, rows=10):
    return spark.createDataFrame(
        [(b * 100 + i, f"0x{b:02x}{i:02x}", 100 + b) for i in range(rows)],
        SCHEMA,
    )


def _commit_n(spark, store, n, start=0):
    for b in range(start, start + n):
        store.commit({"pts": _batch(spark, b)}, txn_app_id="t", txn_version=b)


def test_commits_write_deltas_and_checkpoint_on_interval(spark, tmp_path, mk, monkeypatch):
    _interval(monkeypatch, 3)
    store = mk(tmp_path / "s")
    _commit_n(spark, store, 6)
    # v1 anchors as a checkpoint; v2..v4 are the first delta chain
    # (3 deltas per interval); v5 re-checkpoints; v6 starts a new chain
    assert _is_ckpt(store, 1)
    for v in (2, 3, 4, 6):
        assert _is_delta(store, v), v
    assert _is_ckpt(store, 5)
    # deltas are O(batch): one fragment record each
    d = _get(store, "v000004.json")
    assert d["base"] == 1 and d["op"] == "commit"
    assert len(d["adds"]["pts"]) == 1
    # resolved reads see all rows with exact counts
    assert store.read("pts").count() == 60
    assert store.table_rows("pts") == 60


@pytest.mark.slow
def test_delta_resolution_matches_full_regime(spark, tmp_path, mk, monkeypatch):
    """Every writer through both encodings: the same op sequence with
    log-structured swaps on (CHECKPOINT_INTERVAL=5) and off (0) produces
    identical query results, projection reads, changefeeds, version
    numbers and statuses — so each op's delta record resolves to the
    checkpoint its planner would have written."""
    a = mk(tmp_path / "log")
    b = mk(tmp_path / "full")
    upsert_rows = [(301, "0xnew", 103), (9999, "0xins", 108)]
    snap = {}
    for store, interval in ((a, 5), (b, 0)):
        _interval(monkeypatch, interval)
        _commit_n(spark, store, 7)  # v7: the interval's checkpoint
        store.set_status({"last": 106})
        store.build_projection("pts", "by_addr", ("addr",), max_fragments=1)
        _commit_n(spark, store, 1, start=7)
        assert store.refresh_projection("pts", "by_addr") >= 1
        assert store.delete_equals("pts", "id", 0)["deleted_rows"] == 1
        assert store.delete_in("pts", "id", [101, 702])["deleted_rows"] == 2
        assert store.upsert(
            "pts", spark.createDataFrame(upsert_rows, SCHEMA), "id"
        )["replaced_rows"] == 1
        snap[interval] = (
            sorted(store.read_projection("pts", "by_addr").collect()),
            sorted(store.changes("pts", since_version=8, include_deletes=True).collect()),
        )
        store.rollback_from(105)  # cuts through the upsert's batch fragment
        _commit_n(spark, store, 2, start=20)
        store.compact("pts", max_fragments=2)
        assert any(  # the next rollback cuts through a compacted fragment
            f.min_block < 121 <= f.max_block
            for f in store.current_manifest().tables["pts"]
        )
        store.rollback_from(121)
        _commit_n(spark, store, 1, start=30)
    assert [v for v in range(1, 21) if _is_delta(a, v)] == [
        2, 3, 4, 5, 6, 8, 10, 11, 12, 13, 14, 16, 17, 20
    ]
    assert not any(_is_delta(b, v) for v in range(1, 21))
    assert snap[5] == snap[0] and len(snap[0][1]) == 16
    assert a.current_manifest().version == b.current_manifest().version == 20
    assert a.read_status() == b.read_status() == {"last": 106}
    rows_a = sorted(a.read("pts").collect())
    rows_b = sorted(b.read("pts").collect())
    assert rows_a == rows_b and len(rows_a) == 68
    bounded_a = sorted(a.read("pts", min_block=102, max_block=121).collect())
    bounded_b = sorted(b.read("pts", min_block=102, max_block=121).collect())
    assert bounded_a == bounded_b
    assert a.table_rows("pts") == b.table_rows("pts") == 68


def test_commit_hot_path_never_hydrates(spark, tmp_path, mk, monkeypatch):
    """The O(changed) claim, asserted structurally: a delta commit
    resolves the current manifest without materializing the fragment
    list (the write cost a 100x store cares about)."""
    _interval(monkeypatch, 100)
    store = mk(tmp_path / "s")
    _commit_n(spark, store, 3)
    m = store.current_manifest()
    assert isinstance(m, DeltaManifest)
    assert m.__dict__.get("_hydrated") is None  # resolution is lazy
    store.commit({"pts": _batch(spark, 9)})
    # the commit left CURRENT a delta and never touched .tables on m
    assert m.__dict__.get("_hydrated") is None
    m2 = store.current_manifest()
    assert isinstance(m2, DeltaManifest)
    # pruned reads also stay unhydrated: bounded fragments_for applies
    # the delta tail in memory over the base checkpoint's fast path
    frags = store.fragments_for("pts", min_block=109, max_block=109, manifest=m2)
    assert len(frags) == 1
    assert m2.__dict__.get("_hydrated") is None


def test_fraglist_sidecar_is_decoded_once_per_store(spark, tmp_path, mk, monkeypatch):
    """A checkpoint's fraglist sidecar is read once per store: later
    resolutions, from many threads at once, filter the decoded list and
    agree with a fresh store's answers; the next checkpoint's sidecar
    (a new name) is read once more."""
    import sys
    import threading

    _interval(monkeypatch, 0)  # every version a checkpoint
    store = mk(tmp_path / "s")
    _commit_n(spark, store, 3)

    def answers(s):
        bounded = s.fragments_for("pts", min_block=101, max_block=102)
        return s.table_rows("pts"), sorted(f.path for f in bounded)

    want = answers(mk(tmp_path / "s"))
    assert want[0] == 30 and len(want[1]) == 2
    opened: list[str] = []
    read = store._mio.parquet_dataset
    monkeypatch.setattr(
        store._mio, "parquet_dataset", lambda name: opened.append(name) or read(name)
    )
    assert answers(store) == want
    assert len(opened) == 1
    got: list = []
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [
            threading.Thread(target=lambda: got.extend(answers(store) for _ in range(5)))
            for _ in range(8)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old)
    assert got == [want] * 40
    assert len(opened) == 1
    _commit_n(spark, store, 1, start=3)
    assert store.table_rows("pts") == 40
    assert len(opened) == 2 and opened[0] != opened[1]
    assert mk(tmp_path / "s").table_rows("pts") == 40


def test_block_pruning_spans_checkpoint_and_tail(spark, tmp_path, mk, monkeypatch):
    _interval(monkeypatch, 3)
    store = mk(tmp_path / "s")
    _commit_n(spark, store, 6)  # blocks 100..105 across ckpt+deltas
    for blk in range(100, 106):
        got = store.read("pts", min_block=blk, max_block=blk)
        assert got.count() == 10
        assert got.filter(F.col("block_number") != blk).count() == 0
        assert len(store.fragments_for("pts", min_block=blk, max_block=blk)) == 1


def test_time_travel_into_delta_chain(spark, tmp_path, mk, monkeypatch):
    _interval(monkeypatch, 10)
    store = mk(tmp_path / "s")
    _commit_n(spark, store, 5)
    # version v holds exactly the first v batches
    for v in range(1, 6):
        assert store.read("pts", version=v).count() == v * 10
    m3 = store.manifest_at(3)
    assert m3.op == "commit" and m3.txns["t"] == 2


def test_changefeed_exactly_once_across_deltas(spark, tmp_path, mk, monkeypatch):
    _interval(monkeypatch, 3)
    store = mk(tmp_path / "s")
    _commit_n(spark, store, 6)
    # full window == full table; disjoint windows partition the rows
    assert store.changes("pts", since_version=0).count() == 60
    v_mid = 3
    first = store.changes("pts", since_version=0, to_version=v_mid)
    rest = store.changes("pts", since_version=v_mid)
    assert first.count() + rest.count() == 60
    assert first.intersect(rest).count() == 0
    # a compaction inside the window re-delivers nothing (derived)
    store.compact("pts", max_fragments=1)
    assert store.changes("pts", since_version=v_mid).count() == 30


def test_idempotent_replay_and_reopen_continue_chain(spark, tmp_path, mk, monkeypatch):
    _interval(monkeypatch, 5)
    store = mk(tmp_path / "s")
    _commit_n(spark, store, 3)
    # replayed txn version is a no-op even when the watermark lives in a delta
    assert store.commit({"pts": _batch(spark, 1)}, txn_app_id="t", txn_version=1) is False
    # a fresh handle (crash/restart) continues the same chain from
    # the backend's durable state
    reopened = mk(tmp_path / "s")
    assert reopened.commit({"pts": _batch(spark, 7)}, txn_app_id="t", txn_version=7)
    m = reopened.current_manifest()
    assert isinstance(m, DeltaManifest) and m.version == 4
    assert reopened.read("pts").count() == 40


def test_structural_ops_checkpoint_midchain(spark, tmp_path, mk, monkeypatch):
    """rollback / delete / compact write full checkpoints; the next
    commit starts a fresh chain based on them."""
    _interval(monkeypatch, 10)
    store = mk(tmp_path / "s")
    _commit_n(spark, store, 4)
    store.rollback_from(102)  # drops batches 2,3
    assert _is_ckpt(store, 5)
    assert store.read("pts").count() == 20
    store.commit({"pts": _batch(spark, 8)})
    d = _get(store, "v000006.json")
    assert d["base"] == 5
    assert store.read("pts").count() == 30
    # pre-rollback snapshot still resolves through its own chain
    assert store.read("pts", version=4).count() == 40


def test_vacuum_preserves_kept_chains(spark, tmp_path, mk, monkeypatch):
    # interval 2: v1 ckpt, v2-v3 deltas(base 1), v4 ckpt, v5-v6 deltas(base 4)
    _interval(monkeypatch, 2)
    store = mk(tmp_path / "s")
    _commit_n(spark, store, 6)
    m = store.current_manifest()
    store.vacuum(keep_manifests=2)
    # newest 2 versions kept PLUS their chain back to the base
    # checkpoint — CURRENT must stay resolvable; the older chain goes
    assert store.current_manifest().version == m.version
    assert store.read("pts").count() == 60
    kept_versions = sorted(
        int(n[1:7])
        for n in _names(store)
        if n.startswith("v") and n.endswith(".json")
    )
    assert kept_versions == [4, 5, 6]
    assert store.read("pts", version=5).count() == 50
    with pytest.raises(ValueError, match="not found"):
        store.manifest_at(2)


def test_concurrent_writers_collide_loudly(spark, tmp_path, mk):
    store = mk(tmp_path / "s")
    _commit_n(spark, store, 2)
    v_next = store.current_manifest().version + 1
    # racer landed ANY record at our next version -> the single-name
    # conditional put collides loudly for both swap paths
    store._mio.put_text(f"v{v_next:06d}.json", "{}")
    with pytest.raises(RuntimeError, match="concurrent commit"):
        store.commit({"pts": _batch(spark, 5)})
    with pytest.raises(RuntimeError, match="concurrent commit"):
        store._swap(Manifest(version=v_next))
    store._mio.delete(f"v{v_next:06d}.json")
    # a LEGACY-layout delta (pre-r11 v{N}.delta.json name) is never
    # shadowed: both swap paths collide on the legacy belt
    store._mio.put_text(f"v{v_next:06d}.delta.json", "{}")
    with pytest.raises(RuntimeError, match="concurrent commit"):
        store._swap(Manifest(version=v_next))
    with pytest.raises(RuntimeError, match="concurrent commit"):
        store.commit({"pts": _batch(spark, 5)})


def test_two_writer_race_serialized_by_claim(spark, tmp_path, mk, monkeypatch):
    """ADVICE r9 (medium): the old guard was check-then-create across
    TWO filenames — a delta writer and a checkpoint writer racing on the
    same version could both pass their existence checks and both
    O_EXCL-create their (different) files; manifest_at prefers
    v{N}.json, so the delta commit's fragments were silently lost.  The
    claim file serializes both paths: this test drives the exact
    interleaving (both existence checks pass, then both writers reach
    the conditional put) and asserts exactly one winner, a loud error
    for the loser, and no orphan format file from the loser.  Runs on
    both backends — on the object-store fake the claim is a conditional
    PUT, exactly the S3 primitive the protocol was designed around."""
    _interval(monkeypatch, 100)
    store_a = mk(tmp_path / "s")
    _commit_n(spark, store_a, 2)  # v1 ckpt, v2 delta — next is v3 delta
    store_b = mk(tmp_path / "s")
    v_next = store_a.current_manifest().version + 1

    # interleave: writer B (a full-checkpoint swap) performs its claim
    # *between* writer A's existence check and A's claim, by hooking
    # A's _put_if_absent.  Under the pre-claim protocol both writers
    # would land (A's .delta.json never collides with B's .json).
    real_put = TableStore._put_if_absent
    fired = []

    def hooked(self, name, content):
        if not fired and name.endswith(".claim"):
            fired.append(True)
            # B sneaks in first with a checkpoint at the same version
            store_b._swap(Manifest(
                version=v_next,
                tables=store_b.current_manifest().tables,
                txns=dict(store_b.current_manifest().txns),
                schemas=dict(store_b.current_manifest().schemas),
                projections=dict(store_b.current_manifest().projections),
            ))
        return real_put(self, name, content)

    store_a._put_if_absent = hooked.__get__(store_a)
    with pytest.raises(RuntimeError, match="claimed by another writer"):
        store_a.commit({"pts": _batch(spark, 7)})
    # exactly one record exists for v_next: B's checkpoint
    assert _is_ckpt(store_a, v_next)
    # the winning commit is the one readers resolve — no silent loss
    assert store_a.manifest_at(v_next).version == v_next
    # the mirror race (checkpoint loser, delta winner) also errs loudly
    fired.clear()

    def hooked2(self, name, content):
        if not fired and name.endswith(".claim"):
            fired.append(True)
            store_b.set_status({"racer": 1})  # delta swap claims v_next+1
        return real_put(self, name, content)

    store_a._put_if_absent = hooked2.__get__(store_a)
    with pytest.raises(RuntimeError, match="claimed by another writer"):
        store_a._swap(Manifest(version=v_next + 1))
    assert _is_delta(store_a, v_next + 1)


def test_put_if_absent_is_the_whole_commit_protocol(spark, tmp_path, monkeypatch):
    """The object-store seam contract: overriding _put_if_absent alone
    swaps the optimistic-concurrency backend — no swap path O_EXCLs a
    file behind the seam's back.  A subclass emulating a conditional
    PUT (atomicity decided by its OWN key registry, the write a plain
    unconditional PUT) runs the full lifecycle — commits, delta
    takedown, projection build/refresh, status, vacuum, reopen — and
    every conditional create is observed through the override."""
    registry: set[str] = set()
    puts: list[str] = []

    class ObjectStoreTableStore(TableStore):
        def _put_if_absent(self, name: str, content: str) -> None:
            if name in registry:  # the backend's If-None-Match: * reply
                raise FileExistsError(name)
            registry.add(name)
            puts.append(name)
            self._mio.put_text(name, content)  # plain PUT after winning

    _interval(monkeypatch, 10)
    store = ObjectStoreTableStore(
        spark, tmp_path / "s", bloom_columns={}, dict_columns={},
    )
    _commit_n(spark, store, 3)
    store.build_projection("pts", "by_addr", ("addr",), max_fragments=1)
    store.delete_equals("pts", "id", 105)
    store.set_status({"mark": 1})
    _commit_n(spark, store, 1, start=5)
    store.refresh_projection("pts", "by_addr")
    assert store.read("pts").count() == 39
    assert store.read_projection("pts", "by_addr").count() == 39
    # every version claim and every manifest file went through the seam
    claims = [p for p in puts if p.endswith(".claim")]
    files = [p for p in puts if not p.endswith(".claim")]
    assert len(claims) == store.current_manifest().version
    assert len(files) == len(claims)  # one manifest per claim
    # and a stale registry entry surfaces as the loud conflict (no
    # object backs it, so the self-heal's orphan probe finds no claim
    # mtime and correctly refuses to free the version)
    v_next = store.current_manifest().version + 1
    registry.add(f"v{v_next:06d}.claim")
    with pytest.raises(RuntimeError, match="claimed by another writer"):
        store.set_status({"mark": 2})
    # plain TableStore reopen reads the object-store-written state
    reopened = TableStore(
        spark, tmp_path / "s", bloom_columns={}, dict_columns={},
    )
    assert reopened.read("pts").count() == 39


def test_vacuum_rejects_zero_keep_manifests(spark, tmp_path, mk):
    """ADVICE r9: keep_manifests=0 used to compute keep=set() and delete
    every manifest including CURRENT's, bricking the store."""
    store = mk(tmp_path / "s")
    _commit_n(spark, store, 2)
    with pytest.raises(ValueError, match="keep_manifests must be >= 1"):
        store.vacuum(keep_manifests=0)
    with pytest.raises(ValueError, match="keep_manifests must be >= 1"):
        store.vacuum(keep_manifests=-3)
    # the store is untouched and still readable
    assert store.read("pts").count() == 20


def test_vacuum_reclaims_claim_files_with_versions(spark, tmp_path, mk, monkeypatch):
    _interval(monkeypatch, 2)
    store = mk(tmp_path / "s")
    _commit_n(spark, store, 6)
    assert _exists(store, "v000002.claim")
    store.vacuum(keep_manifests=2)
    kept_json = {
        int(n[1:7])
        for n in _names(store)
        if n.startswith("v") and n.endswith(".json")
    }
    kept_claims = {
        int(n[1:7])
        for n in _names(store)
        if n.startswith("v") and n.endswith(".claim")
    }
    assert kept_claims == kept_json  # claims live and die with versions


def test_set_status_writes_o1_delta(spark, tmp_path, mk):
    store = mk(tmp_path / "s")
    _commit_n(spark, store, 2)
    store.set_status({"last_processed_block": 101})
    d = _get(store, "v000003.json")
    assert "base" in d  # a delta record, not a checkpoint
    assert d["op"] == "status" and d["adds"] == {}
    assert store.read_status() == {"last_processed_block": 101}
    assert store.read("pts").count() == 20


def test_schema_evolution_rides_deltas(spark, tmp_path, mk, monkeypatch):
    _interval(monkeypatch, 10)
    store = mk(tmp_path / "s")
    _commit_n(spark, store, 2)
    evolved = spark.createDataFrame(
        [(999, "0xff", 200, "tagged")],
        "id: long, addr: string, block_number: long, tag: string",
    )
    store.commit({"pts": evolved})
    got = store.read("pts")
    assert "tag" in got.columns
    assert got.filter(F.col("tag").isNull()).count() == 20
    assert got.filter(F.col("tag") == "tagged").count() == 1
    # time travel into the chain sees the pre-evolution schema
    assert "tag" not in store.read("pts", version=2).columns


def test_log_commits_off_preserves_legacy_layout(spark, tmp_path, mk, monkeypatch):
    _interval(monkeypatch, 0)
    store = mk(tmp_path / "s")
    _commit_n(spark, store, 3)
    jsons = sorted(
        n for n in _names(store) if n.startswith("v") and n.endswith(".json")
    )
    assert jsons == ["v000001.json", "v000002.json", "v000003.json"]


def test_changefeed_tail_fast_path_skips_base_hydration(
    spark, tmp_path, mk, monkeypatch
):
    """The streaming-consumer steady state: a window of pure delta
    versions is consumed straight from the delta files — O(window),
    never touching the base version's fragment list (the slow path's
    `seen` set costs O(total fragments) per tick at scale).  Spied via
    manifest_at: the only resolution allowed is the schema read at the
    window head."""
    _interval(monkeypatch, 10)
    store = mk(tmp_path / "s")
    _commit_n(spark, store, 5)
    calls: list[int] = []
    orig = TableStore.manifest_at
    monkeypatch.setattr(
        TableStore,
        "manifest_at",
        lambda self, v: (calls.append(v), orig(self, v))[1],
    )
    got = store.changes("pts", since_version=2, to_version=5)
    assert got.count() == 30
    # only the schema read at the window head (and its chain anchor) —
    # never the since_version base, never the window versions 3/4
    assert calls[0] == 5 and set(calls) <= {5, 1}, calls
    # include_deletes variant rides the same fast path (no delete
    # versions can exist in an all-delta window) with metadata columns
    calls.clear()
    d = store.changes(
        "pts", since_version=2, to_version=5, include_deletes=True
    )
    per_v = {
        r["_commit_version"]: r["count"]
        for r in d.groupBy("_commit_version").count().collect()
    }
    assert per_v == {3: 10, 4: 10, 5: 10}
    assert calls[0] == 5 and set(calls) <= {5, 1}, calls
    # a checkpoint inside the window (structural op) falls back to the
    # exact generic walk — same answer, hydration allowed
    store.compact("pts", max_fragments=1)
    assert store.changes("pts", since_version=2).count() == 30


def test_delete_and_upsert_ride_deltas_without_projections(spark, tmp_path, mk, monkeypatch):
    """r9: takedowns and MERGEs on projection-free tables write
    O(touched) delta records (removed paths + rewritten survivors),
    never a full manifest — and every read surface agrees: snapshot,
    pruning, table_rows, time travel, changefeed with delete replay."""
    _interval(monkeypatch, 20)
    store = mk(tmp_path / "s")
    _commit_n(spark, store, 4)  # v1 ckpt + v2-4 deltas, ids b*100+i

    # delete one row committed INSIDE the chain (batch 2, id 205)
    stats = store.delete_equals("pts", "id", 205)
    assert stats["rewritten"] == 1 and stats["deleted_rows"] == 1
    d5 = _get(store, "v000005.json")
    assert "base" in d5  # delta record, not a checkpoint
    assert d5["op"] == "delete" and d5["op_info"]["value"] == 205
    assert len(d5["removes"]["pts"]) == 1
    assert all(f["derived"] for f in d5["adds"]["pts"])
    assert store.read("pts").count() == 39
    assert store.read("pts").filter(F.col("id") == 205).count() == 0
    # the chain-internal remove is dropped from the accumulated adds
    # (the base checkpoint never contained the removed path)
    assert store.read("pts", version=4).count() == 40  # time travel

    # upsert: replace one key + insert one new, as a delta
    batch = spark.createDataFrame([(301, "0xNEW", 900), (999, "0xQQ", 901)], SCHEMA)
    up = store.upsert("pts", batch, "id")
    assert up["rewritten"] == 1 and up["replaced_rows"] == 1
    d6 = _get(store, "v000006.json")
    assert d6["op"] == "upsert" and set(d6["op_info"]["values"]) == {301, 999}
    got = {r["id"]: r["addr"] for r in store.read("pts").collect()}
    assert got[301] == "0xNEW" and got[999] == "0xQQ" and len(got) == 40
    # table_rows stays metadata-only through the removing tail (the
    # deltas carry removes_rows since r10 — ADVICE r9)
    assert store.table_rows("pts") == 40

    # changefeed with deletes across the all-delta window (fast path):
    # version-ordered replay converges to the live set
    feed = store.changes("pts", since_version=1, include_deletes=True)
    rows = sorted(
        feed.select("id", "addr", "_change_type", "_commit_version").collect(),
        # the documented replay order: deletes before inserts WITHIN a
        # version (an upsert emits both at one _commit_version)
        key=lambda r: (r["_commit_version"], r["_change_type"] != "delete"),
    )
    state = {r["id"]: r["addr"] for r in store.read("pts", version=1).collect()}
    for r in rows:
        if r["_change_type"] == "insert":
            state[r["id"]] = r["addr"]
        else:
            state.pop(r["id"], None)
    assert state == got
    # and the delete rows themselves are exactly the removed versions
    dels = {(r["id"], r["_commit_version"]) for r in rows
            if r["_change_type"] == "delete"}
    assert dels == {(205, 5), (301, 6)}


def test_projection_refresh_rides_deltas(spark, tmp_path, mk, monkeypatch):
    """r10: the LSM maintenance step (refresh_projection, run on the
    ingest cadence by maintain_store) writes one O(drained tail) delta
    — coverage extension + the new clustered generation — instead of a
    full checkpoint per tick."""
    _interval(monkeypatch, 20)
    store = mk(tmp_path / "s")
    _commit_n(spark, store, 2)
    store.build_projection("pts", "by_addr", ("addr",), max_fragments=1)
    v = store.current_manifest().version  # build = checkpoint
    _commit_n(spark, store, 2, start=10)  # lag: 2 uncovered fragments
    n = store.refresh_projection("pts", "by_addr")
    assert n >= 1
    d = _get(store, f"v{v + 3:06d}.json")
    assert "base" in d  # delta record
    assert d["op"] == "projection_refresh" and d["adds"] == {}
    ch = d["projections_delta"]["pts"]["by_addr"]
    assert len(ch["covers_add"]) == 2 and not ch["covers_map"]
    assert not ch["pfrags_remove"] and len(ch["pfrags_add"]) == n
    # resolved state: fully covered, zero lag, reads agree
    st = store.stats()["tables"]["pts"]["projections"]["by_addr"]
    assert st["lag_fragments"] == 0 and st["stale"] is False
    got = sorted(r["id"] for r in
                 store.read_projection("pts", "by_addr").collect())
    assert got == sorted(r["id"] for r in store.read("pts").collect())
    # a second refresh with no lag is a no-op (no version burned)
    assert store.refresh_projection("pts", "by_addr") == 0
    assert store.current_manifest().version == v + 3
    # a takedown delta stacks on the refresh delta in one chain
    store.delete_equals("pts", "id", 1003)
    assert _is_delta(store, v + 4)
    assert store.read_projection("pts", "by_addr").filter(
        F.col("id") == 1003
    ).count() == 0
    # pure file-state reopen
    reopened = mk(tmp_path / "s")
    assert reopened.read_projection("pts", "by_addr").count() == 39


def test_table_rows_stays_unhydrated_through_removing_tail(spark, tmp_path, mk, monkeypatch):
    """ADVICE r9: table_rows used to hydrate the full fragment list
    O(total fragments) whenever the delta tail contained a takedown,
    undermining the /stats manifest-only fast path.  Removing deltas
    now record each removed fragment's row count (`removes_rows`), so
    the count is base + adds − removed — O(tail) arithmetic, never
    touching the base fragment list."""
    _interval(monkeypatch, 20)
    store = mk(tmp_path / "s")
    _commit_n(spark, store, 4)
    # removals against BASE fragments (batch 0 rows) and chain adds
    store.delete_equals("pts", "id", 3)          # base frag rewrite
    batch = spark.createDataFrame([(205, "0xUP", 900)], SCHEMA)
    store.upsert("pts", batch, "id")              # chain frag rewrite
    m = store.current_manifest()
    assert isinstance(m, DeltaManifest)
    assert m.__dict__["_removes"].get("pts")      # tail has takedowns
    assert store.table_rows("pts", manifest=m) == 39
    # the count never hydrated the DeltaManifest's merged table list
    assert m.__dict__.get("_hydrated") is None
    # a pre-r10 removing delta (no removes_rows) falls back, correctly
    # — strip the map from the DELETE delta (v5), whose removal hits
    # the base (the upsert's removal is chain-internal and netted from
    # the accumulated adds, so it never needs the map)
    v = m.version
    d = _get(store, f"v{v - 1:06d}.json")
    assert d["op"] == "delete"
    del d["removes_rows"]
    store._mio.put_text(f"v{v - 1:06d}.json", json.dumps(d))
    m2 = store.manifest_at(v)
    assert m2.__dict__["_removed_rows_ok"].get("pts") is False
    assert store.table_rows("pts", manifest=m2) == 39  # hydrated sum
    # exactness after vacuum-and-reopen too (pure file-state protocol)
    reopened = mk(tmp_path / "s")
    assert reopened.table_rows("pts") == 39


def test_delete_and_upsert_ride_deltas_WITH_projections(spark, tmp_path, mk, monkeypatch):
    """VERDICT r9 item 2 (replaces the r9 projection-gate test): a
    table WITH projections now rides the log-structured path for
    delete/upsert — the delta record carries the projection
    fragment-set changes (``projections_delta``), so the one table
    shape you'd index heavily keeps O(touched) manifest writes on its
    compliance path.  The purge must reach the projection through the
    resolved chain: snapshot, projection read, covers renames, time
    travel, and a checkpoint re-anchoring all agree."""
    _interval(monkeypatch, 20)
    store = mk(tmp_path / "s")
    _commit_n(spark, store, 3)
    store.build_projection("pts", "by_addr", ("addr",), max_fragments=1)
    v = store.current_manifest().version  # checkpoint (build_projection)
    store.delete_equals("pts", "id", 105)
    # delta, NOT a checkpoint
    d = _get(store, f"v{v + 1:06d}.json")
    assert "base" in d  # delta record
    assert d["op"] == "delete"
    pd_ = d["projections_delta"]["pts"]["by_addr"]
    assert len(pd_["pfrags_remove"]) >= 1  # the purged replica tile
    assert len(pd_["covers_map"]) == 1     # one covered base path renamed
    # the purge reached the projection through the resolved chain
    proj = store.read_projection("pts", "by_addr", key_equals="0x0105")
    assert proj.filter(F.col("id") == 105).count() == 0
    assert store.read("pts").count() == 29
    # projection state is exact: covers renamed to the rewritten base
    # path, no stale flag, zero lag
    st = store.stats()["tables"]["pts"]["projections"]["by_addr"]
    assert st["stale"] is False and st["lag_fragments"] == 0
    # an upsert delta on the same projected table stacks on the chain
    batch = spark.createDataFrame([(106, "0xUP", 900)], SCHEMA)
    store.upsert("pts", batch, "id")
    d2 = _get(store, f"v{v + 2:06d}.json")
    assert d2["op"] == "upsert" and "projections_delta" in d2
    got = {r["id"]: r["addr"] for r in store.read("pts").collect()}
    assert got[106] == "0xUP" and 105 not in got
    # projection read agrees after BOTH stacked projection deltas
    assert store.read_projection(
        "pts", "by_addr", key_equals="0xup"
    ).count() == 1
    # time travel to mid-chain resolves the INTERMEDIATE projection
    # state: v+1 has only the delete's covers rename applied
    mid = store.manifest_at(v + 1).projections["pts"]["by_addr"]
    end = store.manifest_at(v + 2).projections["pts"]["by_addr"]
    assert set(mid["covers"]) != set(end["covers"])
    base_state = store.manifest_at(v).projections["pts"]["by_addr"]
    assert set(base_state["covers"]) != set(mid["covers"])
    # reopen from files alone (pure file-state protocol)
    reopened = mk(tmp_path / "s")
    assert reopened.read("pts").count() == 29
    assert reopened.read_projection(
        "pts", "by_addr", key_equals="0xup"
    ).count() == 1
    # a later checkpoint (compact/build) re-anchors with the SAME state
    reopened.build_projection("pts", "by_addr2", ("addr",), max_fragments=1)
    assert isinstance(reopened.current_manifest(), Manifest)
    assert reopened.read_projection(
        "pts", "by_addr", key_equals="0xup"
    ).count() == 1
