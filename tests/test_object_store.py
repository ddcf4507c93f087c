"""Commit-protocol crash recovery on object-store semantics
(VERDICT r10 items 3 & 6, ADVICE r10 medium + low).

The commit sequence is: conditional-put ``v{N}.claim`` → write sidecars
→ conditional-put the manifest (the SINGLE ``v{N}.json`` name for both
checkpoint and delta records — a delta carries ``base``; the one name
makes this put the per-version arbiter)
→ plain-put ``CURRENT``.  A writer can die between any two steps.
These tests use :class:`InMemoryObjectStoreIO`'s fault injection to
crash at each point and assert the recovery story:

- claim written, manifest not: the store is WEDGED for new commits
  (every writer targets CURRENT+1, the dead writer's version) — the
  next commit fails LOUDLY naming the recovery; after the claim-grace
  liveness envelope the next commit SELF-HEALS (or vacuum reclaims the
  claim), and the healed commit lands at the SAME version — no number
  is silently skipped.
- manifest written, CURRENT not: the commit is durable (the manifest
  log defines truth) — after the grace, the next writer ROLLS CURRENT
  FORWARD and the crashed commit's rows become visible; nothing is
  lost, nothing double-applies (txn watermarks ride the manifest).
- vacuum must NOT reclaim a YOUNG claim even at grace_seconds=0
  (ADVICE r10 medium): a live writer sits between claim and manifest
  put, and freeing its claim reintroduces the lost update the claim
  protocol exists to prevent.  The floor (claim_grace_seconds) is
  non-optional.
- an eventually-consistent LIST must never cost vacuum a live object:
  liveness is re-checked through strong GET/HEAD per candidate.
"""

from __future__ import annotations

import json
import os

import pytest

from rust_evm_indexer_spark.store import TableStore, table_store
from rust_evm_indexer_spark.store.manifest_io import (
    InMemoryObjectStoreIO,
    SimulatedCrash,
)

SCHEMA = "id: long, addr: string, block_number: long"


def _batch(spark, b, rows=10):
    return spark.createDataFrame(
        [(b * 100 + i, f"0x{b:02x}{i:02x}", 100 + b) for i in range(rows)],
        SCHEMA,
    )


def _is_delta(fake, ver: int) -> bool:
    try:
        return "base" in json.loads(fake.get_text(f"v{ver:06d}.json"))
    except FileNotFoundError:
        return False


def _mk(spark, root, fake=None, **kw):
    if fake is not None:
        kw["manifest_io"] = fake
    return TableStore(spark, root, bloom_columns={}, dict_columns={}, **kw)


def _checkpoint_writer(store: TableStore) -> TableStore:
    """This one handle writes full checkpoints only (what
    CHECKPOINT_INTERVAL=0 does store-wide) while other handles keep the
    log-structured default, so a race crosses the two record formats."""
    store._structural_delta_ok = lambda m: False
    return store


def _regime(monkeypatch, interval: int) -> None:
    """Checkpoint every ``interval``-th swap (0: checkpoints only)."""
    monkeypatch.setattr(table_store, "CHECKPOINT_INTERVAL", interval)


def test_crash_after_claim_fails_loudly_then_self_heals(spark, tmp_path):
    """Crash point 1: claim written, manifest never lands.  The very
    next commit fails loudly (no silent version skip, no partial
    state), and once the claim outlives the liveness envelope the next
    commit self-heals and lands at the SAME version number."""
    fake = InMemoryObjectStoreIO()
    store = _mk(spark, tmp_path / "s", fake)
    store.commit({"pts": _batch(spark, 0)})
    v = store.current_version()

    fake.crash_after("put_if_absent", ".claim")
    with pytest.raises(SimulatedCrash):
        store.commit({"pts": _batch(spark, 1)})
    # aftermath: orphan claim, no manifest, CURRENT unmoved, reads fine
    assert fake.exists(f"v{v + 1:06d}.claim")
    assert not fake.exists(f"v{v + 1:06d}.json")
    assert store.current_version() == v
    assert store.read("pts").count() == 10

    # a second writer (fresh handle, same backend) hits the wedge LOUDLY
    writer2 = _mk(spark, tmp_path / "s", fake)
    with pytest.raises(RuntimeError, match="claimed by another writer"):
        writer2.commit({"pts": _batch(spark, 2)})

    # grace elapses -> the next commit self-heals, SAME version number
    fake.age(f"v{v + 1:06d}.claim", writer2.claim_grace_seconds + 1)
    assert writer2.commit({"pts": _batch(spark, 2)})
    assert writer2.current_version() == v + 1
    assert writer2.read("pts").count() == 20


def test_crash_after_claim_vacuum_restores_availability(spark, tmp_path):
    """VERDICT r10 item 6, vacuum flavor: the wedge is also recoverable
    by an explicit vacuum once the grace has elapsed — and NOT before
    (the young claim survives vacuum(grace_seconds=0); ADVICE r10
    medium pins the non-optional floor)."""
    fake = InMemoryObjectStoreIO()
    store = _mk(spark, tmp_path / "s", fake)
    store.commit({"pts": _batch(spark, 0)})
    v = store.current_version()
    fake.crash_after("put_if_absent", ".claim")
    with pytest.raises(SimulatedCrash):
        store.commit({"pts": _batch(spark, 1)})
    claim = f"v{v + 1:06d}.claim"

    recovery = _mk(spark, tmp_path / "s", fake)
    # the floor is not optional: grace_seconds=0 must NOT free a claim
    # younger than claim_grace_seconds
    recovery.vacuum(grace_seconds=0)
    assert fake.exists(claim)
    with pytest.raises(RuntimeError, match="claimed by another writer"):
        recovery.commit({"pts": _batch(spark, 1)})
    # after the envelope, vacuum reclaims the orphan and commits flow —
    # at the SAME version (nothing silently skipped)
    fake.age(claim, recovery.claim_grace_seconds + 1)
    recovery.vacuum(grace_seconds=0)
    assert not fake.exists(claim)
    assert recovery.commit({"pts": _batch(spark, 1)})
    assert recovery.current_version() == v + 1
    assert recovery.read("pts").count() == 20


def test_orphan_claim_recovery_on_posix_backend(spark, tmp_path):
    """The same wedge + recovery on the DEFAULT (POSIX) backend — the
    crash aftermath is simulated by hand-writing the claim a dead
    writer would leave (VERDICT r10 item 6)."""
    store = _mk(spark, tmp_path / "s")
    store.commit({"pts": _batch(spark, 0)})
    v = store.current_version()
    claim_path = store.root / "_manifests" / f"v{v + 1:06d}.claim"
    claim_path.write_text("delta")  # dead writer's leftover

    with pytest.raises(RuntimeError, match="claimed by another writer"):
        store.commit({"pts": _batch(spark, 1)})
    # age the claim past the envelope the way time would
    old = claim_path.stat().st_mtime - store.claim_grace_seconds - 1
    os.utime(claim_path, (old, old))
    store.vacuum(grace_seconds=0)
    assert not claim_path.exists()
    assert store.commit({"pts": _batch(spark, 1)})
    assert store.current_version() == v + 1


def test_crash_after_manifest_before_current_rolls_forward(spark, tmp_path):
    """Crash point 2: the manifest landed but CURRENT never advanced.
    The commit is durable — after the grace, the next writer rolls the
    pointer forward (the crashed rows become visible) and retries
    cleanly; the crashed txn's watermark rides the manifest, so a
    replay of the same batch noops instead of double-applying."""
    fake = InMemoryObjectStoreIO()
    store = _mk(spark, tmp_path / "s", fake)
    store.commit({"pts": _batch(spark, 0)}, txn_app_id="t", txn_version=0)
    v = store.current_version()

    fake.crash_after("put_if_absent", f"v{v + 1:06d}.json")
    with pytest.raises(SimulatedCrash):
        store.commit({"pts": _batch(spark, 1)}, txn_app_id="t", txn_version=1)
    assert _is_delta(fake, v + 1)
    assert store.current_version() == v  # pointer is behind truth

    writer2 = _mk(spark, tmp_path / "s", fake)
    # young claim: loud failure, no roll-forward yet
    with pytest.raises(RuntimeError, match="claimed by another writer"):
        writer2.commit({"pts": _batch(spark, 2)}, txn_app_id="t", txn_version=2)
    fake.age(f"v{v + 1:06d}.claim", writer2.claim_grace_seconds + 1)
    # grace elapsed: the attempt rolls CURRENT forward and says retry
    with pytest.raises(RuntimeError, match="rolled forward"):
        writer2.commit({"pts": _batch(spark, 2)}, txn_app_id="t", txn_version=2)
    assert writer2.current_version() == v + 1
    # the crashed commit's rows are visible — it was durable
    assert writer2.read("pts").count() == 20
    # a replay of the crashed batch noops (watermark rode the manifest)
    assert (
        writer2.commit({"pts": _batch(spark, 1)}, txn_app_id="t", txn_version=1)
        is False
    )
    # and the retry lands normally on the rolled-forward state
    assert writer2.commit({"pts": _batch(spark, 2)}, txn_app_id="t", txn_version=2)
    assert writer2.read("pts").count() == 30


def test_crash_after_checkpoint_manifest_rolls_forward(spark, tmp_path, monkeypatch):
    """Same crash point, checkpoint format (CHECKPOINT_INTERVAL=0)."""
    _regime(monkeypatch, 0)
    fake = InMemoryObjectStoreIO()
    store = _mk(spark, tmp_path / "s", fake)
    store.commit({"pts": _batch(spark, 0)})
    v = store.current_version()
    fake.crash_after("put_if_absent", f"v{v + 1:06d}.json")
    with pytest.raises(SimulatedCrash):
        store.commit({"pts": _batch(spark, 1)})
    assert store.current_version() == v

    writer2 = _mk(spark, tmp_path / "s", fake)
    fake.age(f"v{v + 1:06d}.claim", writer2.claim_grace_seconds + 1)
    with pytest.raises(RuntimeError, match="rolled forward"):
        writer2.commit({"pts": _batch(spark, 2)})
    assert writer2.current_version() == v + 1
    assert writer2.read("pts").count() == 20
    assert writer2.commit({"pts": _batch(spark, 2)})
    assert writer2.read("pts").count() == 30


def test_vacuum_claim_floor_protects_live_writer_race(spark, tmp_path):
    """The ADVICE r10 medium scenario end-to-end: writer A sits between
    claim and manifest put; a concurrent vacuum with grace_seconds=0
    runs; writer B commits.  With the floor, A's claim survives the
    vacuum, B collides loudly, and A's commit lands — ONE winner, no
    version served by two manifests."""
    fake = InMemoryObjectStoreIO()
    store_a = _mk(spark, tmp_path / "s", fake)
    store_a.commit({"pts": _batch(spark, 0)})
    v_next = store_a.current_version() + 1
    store_b = _mk(spark, tmp_path / "s", fake)

    real_put = TableStore._put_if_absent
    fired = []

    def hooked(self, name, content):
        real_put(self, name, content)
        if not fired and name.endswith(".claim"):
            fired.append(True)
            # A now holds the claim and is "writing sidecars": a vacuum
            # and a rival commit both happen in this window.  (The small
            # fragment grace covers A's just-written DATA fragment — the
            # documented in-flight-work contract; the CLAIM must survive
            # on the non-optional floor even though 30s < 60s.)
            store_b.vacuum(grace_seconds=30)
            assert fake.exists(name)  # floor held: claim NOT reclaimed
            with pytest.raises(RuntimeError, match="claimed by another"):
                store_b.commit({"pts": _batch(spark, 9)})

    store_a._put_if_absent = hooked.__get__(store_a)
    assert store_a.commit({"pts": _batch(spark, 1)})
    store_a._put_if_absent = real_put.__get__(store_a)
    # exactly one manifest for v_next, and it is A's
    assert _is_delta(fake, v_next)
    assert store_a.read("pts").count() == 20


def test_eventual_list_vacuum_never_deletes_live_state(spark, tmp_path, monkeypatch):
    """LIST on several object stores may lag writes.  Vacuum treats the
    listing as ADVISORY: deletion candidates come from it, but liveness
    (kept manifests, sidecars' owning manifest, claims' manifest) is
    re-checked through strong exists() — so a stale listing can only
    make vacuum do LESS, never delete live state."""
    _regime(monkeypatch, 2)
    fake = InMemoryObjectStoreIO(eventual_list=True)
    store = _mk(spark, tmp_path / "s", fake)
    for b in range(6):
        store.commit({"pts": _batch(spark, b)})
    # nothing has ever been listed: vacuum sees an empty listing and
    # must not touch anything
    store.vacuum(keep_manifests=1)
    assert store.read("pts").count() == 60
    assert store.manifest_at(store.current_version()).version == 6

    # listings settle for v1..v5; v6 (CURRENT) still unlisted — vacuum
    # prunes old versions but CURRENT's chain survives via the strong
    # current_version() read even though LIST never surfaced it
    objects_before = set(fake.dump())
    fake._listed = {n for n in objects_before if "v000006" not in n}
    store.vacuum(keep_manifests=1)
    assert store.read("pts").count() == 60
    m = store.current_manifest()
    assert m.version == 6
    # old chain (v1..v3) is gone; CURRENT's chain (v4 ckpt + v5/v6) kept
    assert not fake.exists("v000002.json")
    assert fake.exists("v000004.json")  # kept chain's base checkpoint
    assert _is_delta(fake, 5) and _is_delta(fake, 6)


@pytest.mark.slow
def test_fake_backend_full_lifecycle_matches_posix(spark, tmp_path, monkeypatch):
    """End-to-end cross-check: the same op sequence on both backends
    yields identical query results, versions, statuses and stats —
    including parquet-format manifests (fraglist + covers sidecars
    round-trip through object bytes)."""
    _regime(monkeypatch, 3)
    fake = InMemoryObjectStoreIO()
    a = _mk(spark, tmp_path / "obj", fake)
    b = _mk(spark, tmp_path / "posix")
    for store in (a, b):
        for i in range(4):
            store.commit({"pts": _batch(spark, i)})
        store.build_projection("pts", "by_addr", ("addr",), max_fragments=1)
        store.delete_equals("pts", "id", 105)
        store.set_status({"mark": 7})
        store.commit({"pts": _batch(spark, 9)})
        store.vacuum(keep_manifests=3)
    assert a.current_version() == b.current_version()
    assert a.read_status() == b.read_status()
    assert sorted(a.read("pts").collect()) == sorted(b.read("pts").collect())
    assert a.table_rows("pts") == b.table_rows("pts")
    assert (
        a.read("pts", min_block=101, max_block=102).count()
        == b.read("pts", min_block=101, max_block=102).count()
    )
    assert sorted(a.read_projection("pts", "by_addr").collect()) == sorted(
        b.read_projection("pts", "by_addr").collect()
    )


def test_fake_conditional_put_is_atomic_single_winner(tmp_path):
    """Unit pin on the fake itself: If-None-Match semantics."""
    fake = InMemoryObjectStoreIO()
    fake.put_if_absent("k", "first")
    with pytest.raises(FileExistsError):
        fake.put_if_absent("k", "second")
    assert fake.get_text("k") == "first"
    fake.put_text("k", "overwrite")  # plain PUT has no guard
    assert fake.get_text("k") == "overwrite"
    fake.delete("k")
    assert not fake.exists("k")
    fake.delete("k")  # idempotent


def test_zero_claim_grace_rejected(spark, tmp_path):
    """A zero liveness envelope would make every LIVE claim instantly
    'orphaned' to the self-heal — the guard would BE the race — so the
    constructor refuses it; tests expire the envelope by backdating
    claim mtimes instead."""
    with pytest.raises(ValueError, match="claim_grace_seconds must be > 0"):
        _mk(spark, tmp_path / "s", claim_grace_seconds=0)
    with pytest.raises(ValueError, match="claim_grace_seconds must be > 0"):
        _mk(spark, tmp_path / "s", claim_grace_seconds=-5)


def test_racing_writers_exactly_one_winner_per_version(spark, tmp_path):
    """Protocol stress: N writer handles over ONE object store, racing
    unsynchronized commits.  Invariants at the end: versions form a
    contiguous chain with EXACTLY one manifest format file per version,
    every loser raised loudly (no silent drop), and the final table
    holds exactly the union of the winners' batches."""
    import threading

    fake = InMemoryObjectStoreIO()
    seed = _mk(spark, tmp_path / "s", fake)
    seed.commit({"pts": _batch(spark, 0)})

    n_writers, per_writer = 4, 3
    outcomes: list[tuple[int, int, str]] = []  # (writer, attempt, result)
    lock = threading.Lock()
    barrier = threading.Barrier(n_writers)

    # one pre-built batch per (writer, attempt): Spark plan building is
    # not the race under test, the manifest swap is
    batches = {
        (w, a): _batch(spark, 10 + w * per_writer + a, rows=5)
        for w in range(n_writers)
        for a in range(per_writer)
    }

    def writer(w: int) -> None:
        # MIXED formats: odd writers commit full checkpoints, even ones
        # log-structured deltas — the race also crosses formats, so the
        # claim arbitration (not just same-name conditional puts) is
        # what keeps the xor invariant below
        store = _mk(spark, tmp_path / "s", fake)
        if w % 2:
            _checkpoint_writer(store)
        barrier.wait()
        for a in range(per_writer):
            try:
                store.commit({"pts": batches[(w, a)]})
                res = "win"
            except RuntimeError as e:
                assert "concurrent commit" in str(e) or "forfeited" in str(e)
                res = "lose"
            with lock:
                outcomes.append((w, a, res))

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    wins = [o for o in outcomes if o[2] == "win"]
    final = _mk(spark, tmp_path / "s", fake)
    v_final = final.current_version()
    # chain is contiguous and version count == 1 seed + wins
    assert v_final == 1 + len(wins)
    for v in range(1, v_final + 1):
        # every version lives at the single v{N}.json name — the
        # conditional put there is the per-version arbiter, so exactly
        # one record per version regardless of format mixing
        assert fake.exists(f"v{v:06d}.json"), v
        assert not fake.exists(f"v{v:06d}.delta.json"), v
    # the data equals seed + exactly the winning batches
    assert final.read("pts").count() == 10 + 5 * len(wins)
    # at least SOME contention actually happened under 4 racing writers
    # (if every attempt won, the race never fired and this test proves
    # nothing — 12 attempts over a shared CURRENT read make that
    # astronomically unlikely, but fail loudly rather than silently)
    assert len(wins) < n_writers * per_writer, outcomes


@pytest.mark.parametrize("same_format", [True, False])
def test_slow_writer_forfeits_after_claim_steal(spark, tmp_path, same_format):
    """r11 review (fence): a writer that outlives the liveness envelope
    between claim and manifest put does NOT land a second manifest.
    Same-format steal: the loser dies on the manifest conditional put.
    Cross-format steal (checkpoint writer A, delta thief B): A's
    pre-put ownership fence sees the foreign token in the claim and
    aborts with no manifest written.  Either way the stealing writer's
    commit is the single winner."""
    fake = InMemoryObjectStoreIO()
    store_a = _mk(spark, tmp_path / "s", fake)
    if not same_format:
        _checkpoint_writer(store_a)
    store_a.commit({"pts": _batch(spark, 0)})
    v_next = store_a.current_version() + 1
    store_b = _mk(spark, tmp_path / "s", fake)  # delta thief

    real_put = TableStore._put_if_absent
    fired = []

    def hooked(self, name, content):
        real_put(self, name, content)
        if not fired and name.endswith(".claim"):
            fired.append(True)
            # A "stalls" past the envelope: age its claim, then B
            # self-heals the 'orphan' and commits the same version
            fake.age(name, self.claim_grace_seconds + 1)
            assert store_b.commit({"pts": _batch(spark, 7)})

    store_a._put_if_absent = hooked.__get__(store_a)
    pattern = "concurrent commit|forfeited" if same_format else "forfeited"
    with pytest.raises(RuntimeError, match=pattern):
        store_a.commit({"pts": _batch(spark, 1)})
    # exactly one record for v_next (B's delta), A wrote nothing
    assert _is_delta(fake, v_next)
    final = _mk(spark, tmp_path / "s", fake)
    assert final.current_version() == v_next
    ids = {r["id"] for r in final.read("pts").collect()}
    assert 700 in ids and 100 not in ids  # B's batch in, A's out


def test_racing_healers_resolve_to_one_winner(spark, tmp_path):
    """r11 review (healer TOCTOU): healer B deletes the orphan claim,
    and healer A slips its ENTIRE commit in before B's re-claim.  B's
    re-claim then collides with A's fresh claim and B aborts loudly at
    the claim — never reaching a manifest write."""
    fake = InMemoryObjectStoreIO()
    seed = _mk(spark, tmp_path / "s", fake)
    seed.commit({"pts": _batch(spark, 0)})
    v_next = seed.current_version() + 1
    # crashed writer's aged orphan claim
    fake.put_if_absent(f"v{v_next:06d}.claim", "delta:deadbeef")
    fake.age(f"v{v_next:06d}.claim", seed.claim_grace_seconds + 1)

    store_a = _mk(spark, tmp_path / "s", fake)
    store_b = _mk(spark, tmp_path / "s", fake)
    real_put = TableStore._put_if_absent
    real_delete = fake.delete
    fired = []

    def delete_hook(name):
        real_delete(name)
        if not fired and name.endswith(".claim"):
            fired.append(True)
            # A commits completely inside B's delete->re-claim window
            assert store_a.commit({"pts": _batch(spark, 5)})

    fake.delete = delete_hook
    with pytest.raises(RuntimeError, match="claimed by another writer"):
        store_b.commit({"pts": _batch(spark, 6)})
    fake.delete = real_delete
    # A's commit is the single winner
    assert _is_delta(fake, v_next)
    final = _mk(spark, tmp_path / "s", fake)
    assert final.current_version() == v_next
    assert {r["id"] for r in final.read("pts").collect()} >= {500}
    assert TableStore._put_if_absent is real_put  # hook never installed


def test_acknowledged_winner_never_deleted_by_stalled_loser(spark, tmp_path):
    """r11 review, third pass — the trace that killed the claim-based
    arbitration: a thief steals the claim AFTER the slow writer's fence
    passed, fully commits and is ACKNOWLEDGED; the slow writer's later
    manifest put must fail loudly WITHOUT touching the winner's record
    (the single v{N}.json name makes its conditional put the arbiter —
    there is no cross-format window in which the loser could land or
    destructively "arbitrate")."""
    fake = InMemoryObjectStoreIO()
    store_a = _checkpoint_writer(_mk(spark, tmp_path / "s", fake))
    store_a.commit({"pts": _batch(spark, 0)})
    v_next = store_a.current_version() + 1
    store_b = _mk(spark, tmp_path / "s", fake)  # delta thief

    real_put = TableStore._put_if_absent
    fired = []

    def hooked(self, name, content):
        if not fired and name == f"v{v_next:06d}.json":
            # A's fence already PASSED; it is one instant from its put.
            # The thief steals the grace-expired claim and fully
            # commits + acknowledges the version.
            fired.append(True)
            fake.age(f"v{v_next:06d}.claim", self.claim_grace_seconds + 1)
            assert store_b.commit({"pts": _batch(spark, 7)})
            assert store_b.current_version() == v_next  # acknowledged
        real_put(self, name, content)

    store_a._put_if_absent = hooked.__get__(store_a)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        store_a.commit({"pts": _batch(spark, 1)})
    # the acknowledged winner's record and rows are fully intact
    assert _is_delta(fake, v_next)
    final = _mk(spark, tmp_path / "s", fake)
    assert final.current_version() == v_next
    ids = {r["id"] for r in final.read("pts").collect()}
    assert 700 in ids and 100 not in ids


def test_current_pointer_is_monotonic(tmp_path):
    """advance_monotonic on both backends: regressions are no-ops."""
    from rust_evm_indexer_spark.store.manifest_io import LocalManifestIO

    for io in (InMemoryObjectStoreIO(), LocalManifestIO(tmp_path / "m")):
        assert io.advance_monotonic("CURRENT", 5) is True
        assert io.advance_monotonic("CURRENT", 3) is False  # stale healer
        assert io.get_text("CURRENT") == "5"
        assert io.advance_monotonic("CURRENT", 5) is False  # idempotent
        assert io.advance_monotonic("CURRENT", 6) is True
        assert io.get_text("CURRENT") == "6"


def test_vacuum_protects_inflight_sidecars(spark, tmp_path, monkeypatch):
    """r11 review (sidecar reclaim): a live writer's fraglist/covers
    sidecars sit between its claim and its manifest put — vacuum must
    not reclaim them while the claim stands (or while young), else the
    writer commits a manifest referencing deleted objects and bricks
    the store at its own version."""
    _regime(monkeypatch, 0)
    fake = InMemoryObjectStoreIO()
    store = _mk(spark, tmp_path / "s", fake)
    store.commit({"pts": _batch(spark, 0)})
    v_next = store.current_version() + 1
    # crash after the fraglist sidecar write: claim + sidecar, no manifest
    fake.crash_after("put", "frags-")
    with pytest.raises(SimulatedCrash):
        store.commit({"pts": _batch(spark, 1)})
    sidecar = next(n for n in fake.dump()
                   if n.startswith(f"frags-v{v_next:06d}"))
    claim = f"v{v_next:06d}.claim"
    assert fake.exists(sidecar) and fake.exists(claim)

    # while the claim stands (in-flight / young): sidecar untouchable
    store.vacuum(grace_seconds=0)
    assert fake.exists(sidecar)
    # grace elapses: the claim frees first, the sidecar on the NEXT pass
    fake.age(claim, store.claim_grace_seconds + 1)
    fake.age(sidecar, store.claim_grace_seconds + 1)
    store.vacuum(grace_seconds=0)
    assert not fake.exists(claim)
    store.vacuum(grace_seconds=0)
    assert not fake.exists(sidecar)
    # and the store still commits + reads cleanly at the freed version
    assert store.commit({"pts": _batch(spark, 2)})
    assert store.read("pts").count() == 20


@pytest.mark.slow
def test_full_ingest_lifecycle_on_object_store_backend(spark, tmp_path):
    """Integration: the WHOLE ingest lifecycle — backfill, tip
    following, a 3-deep reorg rollback + reconvergence, compaction,
    vacuum, and a crash-restart (fresh handles over the same backend)
    — runs against object-store semantics with no POSIX crutch, and
    converges to exactly the mock chain's state."""
    from rust_evm_indexer_spark import datagen
    from rust_evm_indexer_spark.ingest import EvmIngester
    from rust_evm_indexer_spark.sources.rpc import MockRpcClient

    fake = InMemoryObjectStoreIO()
    client = MockRpcClient(datagen.generate_chain(n_blocks=14, seed=31))
    store = TableStore(spark, tmp_path / "s", manifest_io=fake)
    ing = EvmIngester(
        spark, client, store, start_block=datagen.START_BLOCK,
        backoff_base=0.01,
    )
    ing.run_until_caught_up()
    assert store.read("blocks").count() == 14
    assert store.read_status()["last_processed_block"] == client.head

    # reorg: RPC now serves a competing, one-longer branch
    client.schedule_reorg(depth=3)
    # crash-restart: a FRESH handle + ingester continue from backend state
    store2 = TableStore(spark, tmp_path / "s", manifest_io=fake)
    ing2 = EvmIngester(
        spark, client, store2, start_block=datagen.START_BLOCK,
        backoff_base=0.01,
    )
    ing2.run_until_caught_up()
    got = {
        r["block_number"]: r["block_hash"]
        for r in store2.read("blocks").collect()
    }
    # canonical view = what the RPC serves per height (chain.blocks also
    # carries datagen's planted uncle at a duplicated height)
    want = {h: b["block_hash"] for h, b in client._by_height.items()
            if h <= client.head}
    assert got == want  # post-fork hashes everywhere, no stale tail

    # maintenance over the backend: compaction + vacuum keep exactness
    store2.compact("logs", max_fragments=2)
    store2.vacuum(keep_manifests=3)
    canonical = set(want.values())
    want_logs = len([l for l in client.chain.logs
                     if l["block_hash"] in canonical])
    assert store2.read("logs").count() == want_logs
    assert store2.table_rows("logs") == want_logs


def test_legacy_delta_layout_still_resolves(spark, tmp_path, monkeypatch):
    """Pre-r11 stores named delta records ``v{N}.delta.json``; reads
    fall back to that name, time travel and the changefeed fast path
    keep working across a mixed-name history, and a new commit
    continues the chain at the single-name layout."""
    _regime(monkeypatch, 10)
    fake = InMemoryObjectStoreIO()
    store = _mk(spark, tmp_path / "s", fake)
    for b in range(3):
        store.commit({"pts": _batch(spark, b)})
    # rewrite v2/v3 into the legacy layout (record content unchanged)
    for v in (2, 3):
        rec = fake.get_text(f"v{v:06d}.json")
        fake.put_text(f"v{v:06d}.delta.json", rec)
        fake.delete(f"v{v:06d}.json")

    fresh = _mk(spark, tmp_path / "s", fake)
    assert fresh.read("pts").count() == 30
    assert fresh.table_rows("pts") == 30
    assert fresh.read("pts", version=2).count() == 20  # time travel
    assert fresh.changes("pts", since_version=1).count() == 20  # fast path
    # new commits continue the chain at the single-name layout, and the
    # legacy belt prevents shadowing an existing legacy record
    assert fresh.commit({"pts": _batch(spark, 9)})
    assert _is_delta(fake, 4)
    assert fresh.read("pts").count() == 40
    # vacuum keeps the mixed-name chain resolvable
    fresh.vacuum(keep_manifests=2)
    assert fresh.read("pts").count() == 40


def test_heal_delete_is_conditioned_on_unchanged_claim(spark, tmp_path):
    """ADVICE r11 low (TOCTOU): between a healer's orphan judgment and
    its delete, another healer may already have freed AND re-claimed
    the version — the delete must then be SKIPPED, not forfeit the
    fresh live claim.  Exercised at the exact interleaving point via
    the snapshot/conditioned-delete pair _claim_version composes."""
    fake = InMemoryObjectStoreIO()
    store = _mk(spark, tmp_path / "s", fake)
    store.commit({"pts": _batch(spark, 0)})
    v_next = store.current_version() + 1
    name = f"v{v_next:06d}.claim"

    # writer A crashed after its claim; the grace has elapsed
    fake.put_if_absent(name, "delta:deadtoken")
    fake.age(name, store.claim_grace_seconds + 1)
    snap = store._claim_orphan_snapshot(v_next)
    assert snap is not None  # healer H judged it orphan...

    # ...but healer B interleaves: frees the orphan and re-claims LIVE
    fake.delete(name)
    fake.put_if_absent(name, "delta:livetoken")

    # H's conditioned delete must notice the change and stand down
    assert store._delete_claim_if_unchanged(name, *snap) is False
    assert fake.get_text(name) == "delta:livetoken"

    # and an UNCHANGED orphan is still healed (the guard is not inert)
    fake.delete(name)
    fake.put_if_absent(name, "delta:deadtoken2")
    fake.age(name, store.claim_grace_seconds + 1)
    snap2 = store._claim_orphan_snapshot(v_next)
    assert store._delete_claim_if_unchanged(name, *snap2) is True
    assert not fake.exists(name)


def test_manifest_at_missing_intermediate_delta_is_loud(spark, tmp_path, monkeypatch):
    """ADVICE r11 low: a vacuumed/lost INTERMEDIATE delta in the chain
    walk must raise the same clean 'manifest not found' ValueError the
    head lookup gives, not AttributeError on NoneType."""
    _regime(monkeypatch, 10)
    fake = InMemoryObjectStoreIO()
    store = _mk(spark, tmp_path / "s", fake)
    for b in range(4):
        store.commit({"pts": _batch(spark, b)})
    head = store.current_version()
    # corrupt the chain: drop an intermediate delta record outright
    fake.delete(f"v{head - 1:06d}.json")
    fresh = _mk(spark, tmp_path / "s", fake)
    with pytest.raises(ValueError, match=rf"manifest v{head - 1} not found"):
        fresh.manifest_at(head)


def test_commit_with_retry_both_writers_land_everything(spark, tmp_path):
    """VERDICT r11 item 3 (concurrent-committer liveness): where plain
    commit turns a lost race into a loud RuntimeError, commit_with_retry
    rebases — re-read CURRENT, re-plan, re-claim — so two well-behaved
    writers BOTH land every one of their interleaved commits.  Mixed
    formats (one checkpoint writer, one log-structured), final state
    exact, version chain contiguous with one record per version, and
    the txn watermark honored per attempt."""
    import threading

    fake = InMemoryObjectStoreIO()
    seed = _mk(spark, tmp_path / "s", fake)
    seed.commit({"pts": _batch(spark, 0)})

    n_writers, per_writer, rows = 2, 5, 5
    batches = {
        (w, a): _batch(spark, 10 + w * per_writer + a, rows=rows)
        for w in range(n_writers)
        for a in range(per_writer)
    }
    barrier = threading.Barrier(n_writers)
    failures: list[BaseException] = []

    def writer(w: int) -> None:
        store = _mk(spark, tmp_path / "s", fake)
        if w % 2:
            _checkpoint_writer(store)
        barrier.wait()
        try:
            for a in range(per_writer):
                assert store.commit_with_retry(
                    {"pts": batches[(w, a)]},
                    txn_app_id=f"writer-{w}", txn_version=a,
                ) is True
        except BaseException as e:  # noqa: BLE001 — surfaced below
            failures.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not failures, failures

    final = _mk(spark, tmp_path / "s", fake)
    total = n_writers * per_writer
    # every commit landed exactly once: seed + all batches
    assert final.current_version() == 1 + total
    assert final.read("pts").count() == 10 + rows * total
    # single-winner per version: exactly one record at the single name
    for v in range(1, final.current_version() + 1):
        assert fake.exists(f"v{v:06d}.json"), v
        assert not fake.exists(f"v{v:06d}.delta.json"), v
    # both writers' txn watermarks reached their last version
    m = final.current_manifest()
    for w in range(n_writers):
        assert m.txns[f"writer-{w}"] == per_writer - 1
    # and a REPLAY of an already-landed txn is a no-op, not a new version
    v_before = final.current_version()
    assert final.commit_with_retry(
        {"pts": batches[(0, per_writer - 1)]},
        txn_app_id="writer-0", txn_version=per_writer - 1,
    ) is False
    assert final.current_version() == v_before


def test_commit_with_retry_gives_up_bounded_and_loud(spark, tmp_path):
    """The rebase loop is BOUNDED: against a wedge it cannot clear (a
    live claim permanently held within the grace envelope), it raises
    after max_attempts with the race cause chained — never a livelock
    — and non-race failures propagate unchanged on the first try."""
    fake = InMemoryObjectStoreIO()
    store = _mk(spark, tmp_path / "s", fake)
    store.commit({"pts": _batch(spark, 0)})
    v_next = store.current_version() + 1
    # a LIVE claim (inside the grace envelope) that never resolves
    fake.put_if_absent(f"v{v_next:06d}.claim", "delta:heldtoken")
    with pytest.raises(RuntimeError, match="lost 3 consecutive races"):
        store.commit_with_retry(
            {"pts": _batch(spark, 1)}, max_attempts=3, backoff_seconds=0.0)


def test_s3_backend_full_lifecycle_matches_posix(spark, tmp_path, moto_s3, monkeypatch):
    """VERDICT r11 item 4: the REAL adapter (boto3 against a local moto
    endpoint — genuine HTTP conditional-PUT semantics, not the
    in-memory fake's) runs the same end-to-end lifecycle as POSIX with
    identical results: commits, parquet-format manifests (fraglist +
    covers sidecars as object bytes), projections, deletes, status,
    vacuum."""
    _regime(monkeypatch, 3)
    s3 = _mk(spark, tmp_path / "s3", moto_s3())
    posix = _mk(spark, tmp_path / "posix")
    for store in (s3, posix):
        for i in range(4):
            store.commit({"pts": _batch(spark, i)})
        store.build_projection("pts", "by_addr", ("addr",), max_fragments=1)
        store.delete_equals("pts", "id", 105)
        store.set_status({"mark": 7})
        store.commit({"pts": _batch(spark, 9)})
        store.vacuum(keep_manifests=3)
    assert s3.current_version() == posix.current_version()
    assert s3.read_status() == posix.read_status()
    assert sorted(s3.read("pts").collect()) == sorted(posix.read("pts").collect())
    assert s3.table_rows("pts") == posix.table_rows("pts")
    assert sorted(s3.read_projection("pts", "by_addr").collect()) == sorted(
        posix.read_projection("pts", "by_addr").collect()
    )
    # losing a race on the real backend is the same loud error: a held
    # claim (written through the raw client) blocks the next commit
    v_next = s3.current_version() + 1
    s3._mio.put_if_absent(f"v{v_next:06d}.claim", "delta:held")
    with pytest.raises(RuntimeError, match="claimed by another writer"):
        s3.commit({"pts": _batch(spark, 11)})


def test_s3_conditional_put_and_monotonic_pointer_semantics(moto_s3):
    """Direct pins on the adapter's two concurrency primitives over
    real HTTP: put_if_absent is exactly-one-winner (412 -> 
    FileExistsError), and advance_monotonic — the documented non-trivial
    mapping, an ETag-conditioned read-modify-write — only ever moves
    the pointer forward, including when the object changes BETWEEN its
    read and its conditional put (simulated via a raw out-of-band PUT)."""
    io = moto_s3()
    io.put_if_absent("v000001.json", "{}")
    with pytest.raises(FileExistsError):
        io.put_if_absent("v000001.json", "{}")

    assert io.advance_monotonic("CURRENT", 1) is True
    assert io.advance_monotonic("CURRENT", 3) is True
    assert io.advance_monotonic("CURRENT", 2) is False  # never backwards
    assert io.get_text("CURRENT") == "3"

    # interleaved CAS: another writer bumps CURRENT between this
    # writer's read and its If-Match put -> 412 -> re-read -> the
    # stale advance correctly reports False and the pointer stands
    real_get = io._c.get_object
    bumped = {"done": False}

    def racing_get(**kw):
        out = real_get(**kw)
        if not bumped["done"] and kw.get("Key", "").endswith("CURRENT"):
            bumped["done"] = True
            io.put_text("CURRENT", "7")  # the competing writer lands
        return out

    io._c.get_object = racing_get
    try:
        assert io.advance_monotonic("CURRENT", 5) is False
    finally:
        io._c.get_object = real_get
    assert io.get_text("CURRENT") == "7"

    # mtime comes from the server's Last-Modified (whole seconds)
    assert isinstance(io.mtime("CURRENT"), float)
    with pytest.raises(FileNotFoundError):
        io.mtime("absent")
    io.delete("absent")  # idempotent delete of a missing key


@pytest.mark.slow
def test_data_tier_object_store_semantics_full_lifecycle(spark, tmp_path, monkeypatch):
    """VERDICT r11 item 5: the DATA tier behind a seam with object-store
    semantics — adoption is copy+delete (no rename), directories exist
    only as key prefixes (no empty dirs, no dir stat), deletes are
    per-object — composed with the object-store MANIFEST backend, so
    the whole store runs on non-POSIX primitives.  Commit → projection
    → compaction → delete → rollback → vacuum all green and result-
    identical to the POSIX store."""
    from rust_evm_indexer_spark.store.data_io import ObjectStoreStyleDataTierIO

    _regime(monkeypatch, 3)
    objy = _mk(
        spark, tmp_path / "obj", InMemoryObjectStoreIO(),
        data_io=ObjectStoreStyleDataTierIO(tmp_path / "obj"),
    )
    posix = _mk(spark, tmp_path / "posix")
    for store in (objy, posix):
        for i in range(4):
            store.commit({"pts": _batch(spark, i)})
        store.build_projection("pts", "by_addr", ("addr",), max_fragments=1)
        store.delete_equals("pts", "id", 105)
        store.compact("pts", max_fragments=2)
        store.commit({"pts": _batch(spark, 9)})
        store.rollback_from(10 + 9)  # retract the last batch's block
        # compaction/rollback replaced covered base fragments: rebuild
        store.build_projection("pts", "by_addr", ("addr",), max_fragments=1)
        store.vacuum(keep_manifests=2)
    assert objy.current_version() == posix.current_version()
    assert sorted(objy.read("pts").collect()) == sorted(posix.read("pts").collect())
    assert objy.table_rows("pts") == posix.table_rows("pts")
    assert sorted(objy.read_projection("pts", "by_addr").collect()) == sorted(
        posix.read_projection("pts", "by_addr").collect()
    )
    # vacuum actually reclaimed: only manifest-referenced fragment
    # prefixes survive in the data tier
    m = objy.current_manifest()
    live = {f.path for fl in m.tables.values() for f in fl}
    live |= {
        f.path
        for projs in m.projections.values()
        for p in projs.values()
        for f in p["fragments"]
    }
    assert set(objy._dio.list_fragment_dirs()) == live
    # and the seam never saw a rename/rmtree: grace-windowed vacuum on
    # a fresh unreferenced fragment respects the mtime-by-newest-object
    objy.commit({"pts": _batch(spark, 20)})
    v = objy.current_version()
    objy.rollback_from(10 + 20)  # orphan the fragment (still retained)
    assert objy.vacuum(grace_seconds=3600, keep_manifests=50) == 0
    assert objy.read("pts", version=v).count() > 0  # time travel intact


def test_vacuum_floor_protects_inflight_commit_fragments(spark, tmp_path):
    """The DATA-tier analog of the ADVICE r10 claim floor (r12): a
    committer writes its uuid-named fragment dirs BEFORE its manifest
    lands, and a rebasing commit_with_retry reuses them across attempts
    — so a vacuum(grace_seconds=0) running inside that window must NOT
    reclaim them.  A dir referenced by no version record is orphan-or-
    in-flight (indistinguishable by construction) and sits under the
    non-optional max(grace, claim_grace) floor; once backdated past the
    envelope, the same dir IS reclaimed (crash-orphan story intact)."""
    fake = InMemoryObjectStoreIO()
    store = _mk(spark, tmp_path / "s", fake)
    store.commit({"pts": _batch(spark, 0)})

    # the exact in-flight window: fragments written, manifest not yet
    m = store.current_manifest()
    items, frags_out = store._write_commit_fragments(
        {"pts": _batch(spark, 1)}
    )
    inflight = set(store._dio.list_fragment_dirs()) - {
        f.path for fl in m.tables.values() for f in fl
    }
    assert inflight, "window construction: fragments must be on disk"

    sweeper = _mk(spark, tmp_path / "s", fake)
    assert sweeper.vacuum(grace_seconds=0) == 0
    for rel in inflight:
        assert store._dio.dir_exists(rel), rel

    # the paused commit completes against the surviving fragments and
    # the acknowledged manifest references live data
    store._plan_and_swap_commit(m, items, frags_out, None, None, None)
    assert _mk(spark, tmp_path / "s", fake).read("pts").count() == 20

    # same dirs ABANDONED (writer died, never swapped): younger than the
    # envelope they still survive; past it they are reclaimed
    orphan_items, orphan_frags = store._write_commit_fragments(
        {"pts": _batch(spark, 2)}
    )
    del orphan_items, orphan_frags
    live = {
        f.path
        for fl in _mk(spark, tmp_path / "s", fake)
        .current_manifest()
        .tables.values()
        for f in fl
    }
    orphans = set(store._dio.list_fragment_dirs()) - live
    assert orphans
    assert sweeper.vacuum(grace_seconds=0) == 0  # floored: too young
    for rel in orphans:
        old = store._dio.dir_mtime(rel) - store.claim_grace_seconds - 1
        for dirpath, _, files in os.walk(tmp_path / "s" / rel):
            for fn in files:
                os.utime(os.path.join(dirpath, fn), (old, old))
        os.utime(tmp_path / "s" / rel, (old, old))
    assert sweeper.vacuum(grace_seconds=0) == len(orphans)
    for rel in orphans:
        assert not store._dio.dir_exists(rel)


@pytest.mark.slow
@pytest.mark.parametrize("backend", ["posix", "objectstore"])
def test_chaos_committers_vacuum_reader_all_converge(
    spark, tmp_path, backend
):
    """Maintenance-during-writes chaos: two rebasing committers, an
    adversarial vacuum loop (grace_seconds=0 — the setting the r12
    data-tier floor makes safe), and a reader loop all share one store.
    Nothing may error, reads stay monotone, and the final state is
    exact: every commit landed exactly once, contiguous single-record
    versions, no live fragment reclaimed out from under the manifest."""
    import threading

    fake = InMemoryObjectStoreIO() if backend == "objectstore" else None
    seed = _mk(spark, tmp_path / "s", fake)
    seed.commit({"pts": _batch(spark, 0)})

    n_writers, per_writer, rows = 2, 4, 5
    stop = threading.Event()
    failures: list[BaseException] = []
    barrier = threading.Barrier(n_writers + 2)

    def writer(w: int) -> None:
        store = _mk(spark, tmp_path / "s", fake)
        if w % 2:
            _checkpoint_writer(store)
        barrier.wait()
        try:
            for a in range(per_writer):
                assert store.commit_with_retry(
                    {"pts": _batch(spark, 10 + w * per_writer + a, rows=rows)},
                    txn_app_id=f"w{w}", txn_version=a,
                    max_attempts=16,
                ) is True
        except BaseException as e:  # noqa: BLE001 — surfaced below
            failures.append(e)

    def sweeper() -> None:
        store = _mk(spark, tmp_path / "s", fake)
        barrier.wait()
        try:
            while not stop.is_set():
                store.vacuum(grace_seconds=0, keep_manifests=100)
        except BaseException as e:  # noqa: BLE001
            failures.append(e)

    def reader() -> None:
        store = _mk(spark, tmp_path / "s", fake)
        barrier.wait()
        last = 0
        try:
            while not stop.is_set():
                n = store.read("pts").count()
                assert n >= last, (n, last)
                assert (n - 10) % rows == 0, n
                last = n
        except BaseException as e:  # noqa: BLE001
            failures.append(e)

    threads = [
        threading.Thread(target=writer, args=(w,)) for w in range(n_writers)
    ] + [threading.Thread(target=sweeper), threading.Thread(target=reader)]
    for t in threads:
        t.start()
    for t in threads[:n_writers]:
        t.join()
    stop.set()
    for t in threads[n_writers:]:
        t.join()
    assert not failures, failures

    final = _mk(spark, tmp_path / "s", fake)
    total = n_writers * per_writer
    assert final.current_version() == 1 + total
    assert final.read("pts").count() == 10 + rows * total
    m = final.current_manifest()
    for w in range(n_writers):
        assert m.txns[f"w{w}"] == per_writer - 1
    # every live fragment is readable (vacuum never ate acknowledged data)
    for fl in m.tables.values():
        for f in fl:
            assert final._dio.dir_exists(f.path), f.path


def test_backend_clock_skew_inside_grace_never_steals_live_claim(
    spark, tmp_path
):
    """The ManifestIO.mtime clock-skew contract (ADVICE r11 low), pinned
    on an injected skewed backend: liveness decisions compare LOCAL
    time.time() against BACKEND-reported mtimes, so a backend clock
    running behind inflates apparent ages.  With grace > |skew| a fresh
    live claim stays untouchable (safe side); with grace < |skew| the
    same claim is spuriously reclaimed — exactly the boundary the
    contract documents (grace >> max expected skew, >= 300 s
    recommended multi-host)."""

    class SkewedClockIO(InMemoryObjectStoreIO):
        """Backend whose Last-Modified clock runs `skew` seconds behind
        the local clock (the dangerous direction: ages inflate)."""

        skew = 30.0

        def mtime(self, name: str) -> float:
            return super().mtime(name) - self.skew

    fake = SkewedClockIO()
    store = _mk(spark, tmp_path / "s", fake)  # grace 60 > skew 30
    store.commit({"pts": _batch(spark, 0)})
    v_next = store.current_version() + 1
    claim = f"v{v_next:06d}.claim"
    fake.put_if_absent(claim, "delta:livetoken")  # a LIVE writer's claim

    # safe side: apparent age ~30s < grace 60s — never stolen
    with pytest.raises(RuntimeError, match="claimed by another writer"):
        store.commit({"pts": _batch(spark, 1)})
    store.vacuum(grace_seconds=0)
    assert fake.exists(claim)

    # contract boundary: grace below the skew and the SAME fresh claim
    # is forfeited — the documented misconfiguration, shown live
    tight = _mk(spark, tmp_path / "s", fake, claim_grace_seconds=10)
    tight.vacuum(grace_seconds=0)
    assert not fake.exists(claim)


def test_commit_touch_heartbeat_and_loud_vanish_guard(spark, tmp_path):
    """r12 review follow-up on the data-tier floor: the floor ages a
    never-referenced dir from its LAST touch, and every swap attempt
    re-touches its fragment dirs — so a commit whose fragment WRITE
    finished long ago (slow sibling table, long rebase loop) re-arms
    the envelope at plan time instead of drifting past it.  And when a
    past expiry already cost the writer its data, the swap fails LOUDLY
    before the manifest could acknowledge missing files — never a
    silent commit-then-unreadable."""
    fake = InMemoryObjectStoreIO()
    store = _mk(spark, tmp_path / "s", fake)
    store.commit({"pts": _batch(spark, 0)})

    # heartbeat: fragments written, then the writer stalls PAST the
    # envelope (backdate the dirs the way time would).  The swap
    # attempt re-touches at plan time, so an adversarial vacuum running
    # INSIDE the attempt window — injected between the touch and the
    # manifest put — no longer sees an expired orphan.  Without the
    # touch this exact interleaving deletes the data and the commit
    # acknowledges missing files (the review scenario).
    m = store.current_manifest()
    items, frags_out = store._write_commit_fragments(
        {"pts": _batch(spark, 1)}
    )
    for frag in frags_out:
        old = store._dio.dir_mtime(frag.path) - store.claim_grace_seconds - 5
        for dirpath, _, files in os.walk(tmp_path / "s" / frag.path):
            for fn in files:
                os.utime(os.path.join(dirpath, fn), (old, old))
        os.utime(tmp_path / "s" / frag.path, (old, old))
    sweeper = _mk(spark, tmp_path / "s", fake)
    real_swap, real_swap_delta = store._swap, store._swap_delta

    def vacuuming_swap(*a, **kw):
        assert sweeper.vacuum(grace_seconds=0) == 0  # touch re-armed it
        return real_swap(*a, **kw)

    def vacuuming_swap_delta(*a, **kw):
        assert sweeper.vacuum(grace_seconds=0) == 0
        return real_swap_delta(*a, **kw)

    store._swap, store._swap_delta = vacuuming_swap, vacuuming_swap_delta
    try:
        store._plan_and_swap_commit(m, items, frags_out, None, None, None)
    finally:
        store._swap, store._swap_delta = real_swap, real_swap_delta
    for frag in frags_out:
        assert store._dio.dir_exists(frag.path), frag.path
    assert sweeper.read("pts").count() == 20

    # loud guard: the dir is GONE (a vacuum past a real expiry) — the
    # swap raises before any manifest put, and no version is consumed
    m2 = sweeper.current_manifest()
    items2, frags_out2 = sweeper._write_commit_fragments(
        {"pts": _batch(spark, 2)}
    )
    v_before = sweeper.current_version()
    for frag in frags_out2:
        sweeper._dio.delete_dir(frag.path)
    with pytest.raises(RuntimeError, match="vanished before the swap"):
        sweeper._plan_and_swap_commit(m2, items2, frags_out2, None, None, None)
    assert sweeper.current_version() == v_before
    assert sweeper.read("pts").count() == 20


def test_data_tier_crash_mid_rewrite_recovers_and_reclaims(spark, tmp_path):
    """Data-tier crash story: a delete can die with its rewritten
    survivors fragment written but not yet stat-ed or swapped.  Safety
    holds by construction: the rewrite always targets a FRESH uuid dir
    and the manifest swap never happened, so readers see the old
    fragments untouched; the partial dir is never-referenced and rides
    the orphan floor — protected while young, reclaimed once aged.  A
    retried op succeeds against the intact state."""
    from rust_evm_indexer_spark.store.data_io import (
        ObjectStoreStyleDataTierIO,
    )

    dio = ObjectStoreStyleDataTierIO(tmp_path / "s")
    fake = InMemoryObjectStoreIO()
    store = _mk(spark, tmp_path / "s", fake, data_io=dio)
    for b in range(3):
        store.commit({"pts": _batch(spark, b)})
    before = sorted(store.read("pts").collect())
    live_before = set(store._dio.list_fragment_dirs())

    # delete_equals writes its hit fragment's survivors — die right
    # after the part file lands, before the fragment is stat-ed
    def crash(*args, **kw):
        raise SimulatedCrash("writer died after the rewrite")

    store._stat_fragment_dir = crash
    with pytest.raises(SimulatedCrash):
        store.delete_equals("pts", "id", 105)

    # nothing visible changed: manifest unswapped, old fragments intact
    recovery = _mk(spark, tmp_path / "s", fake, data_io=dio)
    assert sorted(recovery.read("pts").collect()) == before
    partials = set(dio.list_fragment_dirs()) - live_before
    assert partials, "crash must leave a partial rewritten dir"

    # the orphan floor protects the young partials, then reclaims them
    assert recovery.vacuum(grace_seconds=0) == 0
    for rel in partials:
        assert dio.dir_exists(rel)
    # retry the op against the intact state — lands normally
    assert recovery.delete_equals("pts", "id", 105)["deleted_rows"] == 1
    after = {r.id for r in recovery.read("pts").collect()}
    assert 105 not in after and len(after) == 29
    # age the crash leftovers past the envelope: reclaimed, reads exact
    live_now = {
        f.path
        for fl in recovery.current_manifest().tables.values()
        for f in fl
    }
    leftovers = set(dio.list_fragment_dirs()) - live_now
    assert leftovers >= partials - live_now
    for rel in leftovers:
        old = dio.dir_mtime(rel) - recovery.claim_grace_seconds - 1
        for dirpath, _, files in os.walk(tmp_path / "s" / rel):
            for fn in files:
                os.utime(os.path.join(dirpath, fn), (old, old))
    assert recovery.vacuum(grace_seconds=0) >= len(partials)
    assert {r.id for r in recovery.read("pts").collect()} == after


def test_touch_or_fail_wired_into_every_writer_path(spark, tmp_path):
    """r12 review: the liveness heartbeat + vanish guard must run on
    EVERY path that swaps a manifest referencing fresh fragment dirs —
    not just commit.  Pin the wiring: each structural op calls
    _touch_or_fail with its newly written fragments before its swap."""
    fake = InMemoryObjectStoreIO()
    store = _mk(spark, tmp_path / "s", fake)
    calls: list[list[str]] = []
    real = store._touch_or_fail

    def recording(frags):
        paths = [getattr(f, "path", f) for f in frags if f is not None]
        calls.append(paths)
        return real(frags)

    store._touch_or_fail = recording

    def fresh_paths_since(n0: int) -> set[str]:
        return {p for ps in calls[n0:] for p in ps}

    n = len(calls)
    store.commit({"pts": _batch(spark, 0)})
    store.commit({"pts": _batch(spark, 1)})
    assert len(calls) > n and fresh_paths_since(n)

    n = len(calls)
    store.delete_equals("pts", "id", 5)  # rewrites one fragment
    assert fresh_paths_since(n), "delete must guard its rewrites"

    n = len(calls)
    up = spark.createDataFrame([(7, "0xff", 100)], SCHEMA)
    store.upsert("pts", up, "id")
    assert fresh_paths_since(n), "upsert must guard rewrites + batch"

    n = len(calls)
    store.compact("pts", max_fragments=1)
    assert fresh_paths_since(n), "compact must guard its output"

    n = len(calls)
    store.build_projection("pts", "by_addr", ("addr",), max_fragments=1)
    assert fresh_paths_since(n), "projection build must guard its frags"

    n = len(calls)
    store.commit({"pts": _batch(spark, 5)})
    store.rollback_from(100 + 5)  # straddler rewrite is per-block here
    assert len(calls) > n  # rollback path ran its guard (may be empty)

    # guard still bites through the wiring: the data tier reports the
    # compacted output reclaimed at touch time -> compact fails loudly
    # before its swap, version unmoved
    store.commit({"pts": _batch(spark, 6)})
    store.commit({"pts": _batch(spark, 7)})
    v_before = store.current_version()
    real_touch = store._dio.touch_dir

    def reclaimed_touch(rel: str) -> None:
        raise FileNotFoundError(rel)

    store._dio.touch_dir = reclaimed_touch
    try:
        with pytest.raises(RuntimeError, match="vanished before the swap"):
            store.compact("pts", max_fragments=1)
    finally:
        store._dio.touch_dir = real_touch
    assert store.current_version() == v_before


def test_rewritten_fragment_reclaimed_before_swap_is_loud(spark, tmp_path):
    """A delete's rewritten survivors fragment that a vacuum reclaims
    between the rewrite and the manifest swap must fail the delete
    through the pre-swap liveness check — never record the fragment as
    emptied and silently drop rows that matched no predicate."""
    from rust_evm_indexer_spark.store.data_io import (
        ObjectStoreStyleDataTierIO,
    )

    dio = ObjectStoreStyleDataTierIO(tmp_path / "s")
    fake = InMemoryObjectStoreIO()
    store = _mk(spark, tmp_path / "s", fake, data_io=dio)
    store.commit({"pts": _batch(spark, 0)})
    version = store.current_manifest().version

    real_rewrite = store._rewrite_fragment

    def rewrite_then_reclaim(*args, **kw):
        hits, new = real_rewrite(*args, **kw)
        if new is not None:
            dio.delete_dir(new.path)  # simulate: vacuum reclaimed it
        return hits, new

    store._rewrite_fragment = rewrite_then_reclaim
    with pytest.raises(RuntimeError, match="vanished before the swap"):
        store.delete_equals("pts", "id", 5)  # 9 survivors rewritten
    # nothing swapped, nothing lost
    assert store.current_manifest().version == version
    assert store.read("pts").count() == 10


def test_local_dir_exists_matches_object_semantics(tmp_path):
    """r12 review: 'exists' means HOLDS A FILE on both backends — a
    bare POSIX dir inode (crash residue between mkdir and rename) must
    not read as an existing fragment when the object-semantics backend
    would say absent."""
    from rust_evm_indexer_spark.store.data_io import (
        LocalDataTierIO,
        ObjectStoreStyleDataTierIO,
    )

    posix = LocalDataTierIO(tmp_path)
    objy = ObjectStoreStyleDataTierIO(tmp_path)
    (tmp_path / "data" / "t" / "frag-empty").mkdir(parents=True)
    assert posix.dir_exists("data/t/frag-empty") is False
    assert objy.dir_exists("data/t/frag-empty") is False
    (tmp_path / "data" / "t" / "frag-empty" / "part-0.parquet").write_bytes(
        b"x"
    )
    assert posix.dir_exists("data/t/frag-empty") is True
    assert objy.dir_exists("data/t/frag-empty") is True


def test_s3_put_if_absent_409_retries_not_false_taken(tmp_path):
    """r12 review: S3 returns 409 ConditionalRequestConflict to the
    LOSER of two in-flight conditional PUTs — but the winner may itself
    still fail, leaving NO object.  Mapping 409 straight to
    FileExistsError reports a claim 'taken' that does not exist (and
    the self-heal finds nothing to heal).  409 with no object must
    retry and succeed; 409 with an object must report taken; 412 is
    always taken."""
    boto3 = pytest.importorskip("boto3")
    import botocore.exceptions

    from rust_evm_indexer_spark.store.manifest_io import S3ManifestIO

    def err(code):
        return botocore.exceptions.ClientError(
            {"Error": {"Code": code}}, "PutObject"
        )

    class StubClient:
        def __init__(self, put_errors, exists):
            self.put_errors = list(put_errors)
            self.exists_flag = exists
            self.stored = {}

        def put_object(self, *, Bucket, Key, Body, **cond):
            if self.put_errors:
                raise self.put_errors.pop(0)
            self.stored[Key] = Body
            return {}

        def head_object(self, *, Bucket, Key):
            if self.exists_flag or Key in self.stored:
                return {}
            raise botocore.exceptions.ClientError(
                {"Error": {"Code": "404"}}, "HeadObject"
            )

    _ = boto3  # importorskip anchor

    # 409 twice with no object -> retried -> lands
    io = S3ManifestIO(
        "b", client=StubClient([err("ConditionalRequestConflict")] * 2, False)
    )
    io.put_if_absent("v000001.claim", "delta:tok")
    assert "v000001.claim" in io._c.stored

    # 409 but the winner's object IS there -> taken
    io2 = S3ManifestIO(
        "b", client=StubClient([err("ConditionalRequestConflict")], True)
    )
    with pytest.raises(FileExistsError):
        io2.put_if_absent("v000001.claim", "delta:tok")

    # 412 -> taken immediately, no retry
    io3 = S3ManifestIO(
        "b", client=StubClient([err("PreconditionFailed")], False)
    )
    with pytest.raises(FileExistsError):
        io3.put_if_absent("v000001.claim", "delta:tok")


@pytest.mark.slow
def test_chaos_with_compaction_and_vacuum_converges(spark, tmp_path):
    """Full maintenance chaos (r12): a rebasing committer, a background
    compactor (retrying lost races like a real maintenance daemon), an
    adversarial vacuum loop at grace_seconds=0, and a reader that
    retries the documented in-flight-read failure (a fragment reclaimed
    under a pre-compaction manifest it was still holding).  Row counts
    are compaction-invariant, so successful reads must stay monotone;
    final state exact; versions single-record."""
    import threading

    from pyspark.errors import AnalysisException

    fake = InMemoryObjectStoreIO()
    seed = _mk(spark, tmp_path / "s", fake)
    seed.commit({"pts": _batch(spark, 0)})

    per_writer, rows = 6, 5
    stop = threading.Event()
    failures: list[BaseException] = []
    barrier = threading.Barrier(4)
    race_signals = (
        "concurrent commit detected", "commit forfeited",
        "claimed by another writer", "rolled forward",
    )

    def writer() -> None:
        store = _mk(spark, tmp_path / "s", fake)
        barrier.wait()
        try:
            for a in range(per_writer):
                assert store.commit_with_retry(
                    {"pts": _batch(spark, 10 + a, rows=rows)},
                    txn_app_id="w", txn_version=a, max_attempts=32,
                ) is True
        except BaseException as e:  # noqa: BLE001 — surfaced below
            failures.append(e)
        finally:
            stop.set()

    def compactor() -> None:
        store = _mk(spark, tmp_path / "s", fake)
        barrier.wait()
        try:
            while not stop.is_set():
                try:
                    store.compact("pts", max_fragments=2)
                except RuntimeError as e:
                    if not any(s in str(e) for s in race_signals):
                        raise  # real failure, not a lost race
        except BaseException as e:  # noqa: BLE001
            failures.append(e)

    def sweeper() -> None:
        store = _mk(spark, tmp_path / "s", fake)
        barrier.wait()
        try:
            while not stop.is_set():
                store.vacuum(grace_seconds=0, keep_manifests=200)
        except BaseException as e:  # noqa: BLE001
            failures.append(e)

    def reader() -> None:
        store = _mk(spark, tmp_path / "s", fake)
        barrier.wait()
        last = 0
        try:
            while not stop.is_set():
                try:
                    n = store.read("pts").count()
                except AnalysisException:
                    continue  # documented: grace 0 + in-flight read
                assert n >= last, (n, last)
                assert (n - 10) % rows == 0, n
                last = n
        except BaseException as e:  # noqa: BLE001
            failures.append(e)

    threads = [
        threading.Thread(target=writer),
        threading.Thread(target=compactor),
        threading.Thread(target=sweeper),
        threading.Thread(target=reader),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not failures, failures

    final = _mk(spark, tmp_path / "s", fake)
    assert final.read("pts").count() == 10 + rows * per_writer
    assert final.current_manifest().txns["w"] == per_writer - 1
    for fl in final.current_manifest().tables.values():
        for f in fl:
            assert final._dio.dir_exists(f.path), f.path


def test_vacuum_aborts_reclaim_when_newer_record_unreadable(
    spark, tmp_path
):
    """r12 review, second pass: a version record NEWER than vacuum's
    CURRENT snapshot routes its paths into the undeletable live set —
    so a failed READ of such a record must abort fragment reclamation
    for the pass (the paths are unknowable), never demote them to the
    age floor.  Older-record failures keep the shrink-only behavior."""
    fake = InMemoryObjectStoreIO()
    store = _mk(spark, tmp_path / "s", fake)
    store.commit({"pts": _batch(spark, 0)})
    store.commit({"pts": _batch(spark, 1)})  # replaces nothing; adds

    sweeper = _mk(spark, tmp_path / "s", fake)
    # freeze the sweeper's snapshot at v1, then let v2 "land" after it
    v_snap = 1
    real_cv = sweeper.current_version

    calls = {"n": 0}

    def staged_version():
        calls["n"] += 1
        return v_snap if calls["n"] == 1 else real_cv()

    sweeper.current_version = staged_version
    # the newer (v2) record read fails transiently
    real_read = sweeper._read_version_record

    def flaky_read(v):
        if v > v_snap:
            raise OSError("transient backend failure")
        return real_read(v)

    sweeper._read_version_record = flaky_read
    # v2's fragments are fresh AND would be mis-floored; age them past
    # the envelope to prove the abort (not the floor) is what saves them
    for rel in store._dio.list_fragment_dirs():
        old = store._dio.dir_mtime(rel) - store.claim_grace_seconds - 5
        for dirpath, _, files in os.walk(tmp_path / "s" / rel):
            for fn in files:
                os.utime(os.path.join(dirpath, fn), (old, old))
    assert sweeper.vacuum(grace_seconds=0) == 0  # reclaim aborted
    assert _mk(spark, tmp_path / "s", fake).read("pts").count() == 20
