"""Append-only changefeed (TableStore.changes): incremental consumption
between manifest versions — exactly-once across appends, compaction and
targeted deletes; explicit opt-in (at-least-once) across reorg rollback."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rust_evm_indexer_spark.store import TableStore


def _mk_store(spark, tmp_path, **kw):
    kw.setdefault("bloom_columns", {})
    kw.setdefault("dict_columns", {})
    return TableStore(spark, tmp_path / "cfstore", **kw)


def _batch(spark, b, rows_per=50):
    rows = [(b * 1000 + i, f"0xa{i % 7}", 100 + b) for i in range(rows_per)]
    return spark.createDataFrame(rows, "id: long, addr: string, block_number: long")


def test_changes_delivers_exactly_the_appends(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    store.commit({"pts": _batch(spark, 0)})  # v1
    v1 = store.current_manifest().version
    store.commit({"pts": _batch(spark, 1)})  # v2
    store.commit({"pts": _batch(spark, 2)})  # v3
    got = sorted(r["id"] for r in store.changes("pts", since_version=v1).collect())
    assert got == sorted(
        list(range(1000, 1050)) + list(range(2000, 2050))
    )
    # a narrower window sees only its own version's rows
    got2 = sorted(
        r["id"]
        for r in store.changes("pts", since_version=v1 + 1, to_version=v1 + 2).collect()
    )
    assert got2 == list(range(2000, 2050))


def test_changes_empty_window_keeps_schema(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    store.commit({"pts": _batch(spark, 0)})
    v = store.current_manifest().version
    df = store.changes("pts", since_version=v)
    assert df.count() == 0
    assert set(df.columns) == {"id", "addr", "block_number"}


def test_compaction_inside_window_does_not_redeliver(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    for b in range(4):
        store.commit({"pts": _batch(spark, b)})
    v_consumer = store.current_manifest().version  # consumer caught up
    store.commit({"pts": _batch(spark, 4)})  # the only true append
    store.compact("pts", max_fragments=2)  # merges ALL rows into new paths
    got = sorted(
        r["id"] for r in store.changes("pts", since_version=v_consumer).collect()
    )
    # compacted fragments hold every row, but they are derived — only
    # batch 4's append is delivered
    assert got == list(range(4000, 4050))


def test_append_then_compacted_away_is_still_delivered_once(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    for b in range(3):
        store.commit({"pts": _batch(spark, b)})
    v_consumer = store.current_manifest().version
    store.commit({"pts": _batch(spark, 3)})  # append...
    store.compact("pts", max_fragments=1)  # ...then its fragment is merged away
    got = sorted(
        r["id"] for r in store.changes("pts", since_version=v_consumer).collect()
    )
    # delivered from the intermediate manifest exactly once
    assert got == list(range(3000, 3050))


def test_delete_inside_window_is_not_emitted(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    store.commit({"pts": _batch(spark, 0)})
    v = store.current_manifest().version
    store.commit({"pts": _batch(spark, 1)})
    stats = store.delete_equals("pts", "addr", "0xa3")
    assert stats["deleted_rows"] > 0
    got = store.changes("pts", since_version=v)
    # batch 1's append arrives; the delete's rewritten fragments (old
    # surviving rows) are derived and skipped — no re-delivery of batch 0
    ids = sorted(r["id"] for r in got.collect())
    assert ids == list(range(1000, 1050))


def test_rollback_inside_window_requires_opt_in(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    store.commit({"pts": _batch(spark, 0)})
    v = store.current_manifest().version
    store.commit({"pts": _batch(spark, 1)})  # blocks 101
    store.rollback_from(101)
    with pytest.raises(RuntimeError, match="rollback"):
        store.changes("pts", since_version=v)
    # opt-in: at-least-once — batch 1 was delivered-then-retracted; the
    # feed may emit it (fragment collected from the intermediate version)
    df = store.changes("pts", since_version=v, allow_reorged=True)
    assert set(df.columns) == {"id", "addr", "block_number"}


def test_manifest_op_audit_trail(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    store.commit({"pts": _batch(spark, 0)})
    store.commit({"pts": _batch(spark, 1)})
    store.compact("pts", max_fragments=1)
    store.rollback_from(101)
    ops = [
        store.manifest_at(v).op
        for v in range(1, store.current_manifest().version + 1)
    ]
    assert ops == ["commit", "commit", "compact", "rollback"]


# -- property: exactly-once across random maintenance sequences -------------

import tempfile
from pathlib import Path

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# op encoding: ("commit", batch_no) | ("compact",) | ("delete", addr_mod)
#            | ("upsert", id_block) — new versions for 10 ids of block
#              id_block (an update if that block was committed, a pure
#              insert otherwise; repeated upserts update the update)
_ops = st.lists(
    st.one_of(
        st.tuples(st.just("commit")),
        st.tuples(st.just("compact")),
        st.tuples(st.just("delete"), st.integers(0, 6)),
        st.tuples(st.just("upsert"), st.integers(0, 3)),
    ),
    min_size=2,
    max_size=6,
)


def _upsert_batch(spark, id_block: int, seq: int):
    rows = [
        (id_block * 1000 + i, f"0xa{i % 7}", 900_000 + seq)
        for i in range(10)
    ]
    return spark.createDataFrame(
        rows, "id: long, addr: string, block_number: long"
    )


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_ops)
def test_changefeed_is_insert_exact_under_random_maintenance(spark, ops):
    """For ANY interleaving of commits, compactions and targeted deletes
    (no rollback), ids(changes(since=v)) == the ids committed after v —
    the insert-only contract: maintenance never re-delivers, never
    swallows an append, and deletes are not retro-applied to the feed."""
    root = Path(tempfile.mkdtemp(prefix="cf-prop-"))
    store = TableStore(spark, root / "s", bloom_columns={}, dict_columns={})
    inserted_at: list[tuple[int, set[int]]] = []  # (version, ids committed)
    batch_no = 0
    seq = 0
    for op in ops:
        if op[0] == "commit":
            ids = set(range(batch_no * 1000, batch_no * 1000 + 30))
            store.commit({"pts": _batch(spark, batch_no, rows_per=30)})
            inserted_at.append((store.current_manifest().version, ids))
            batch_no += 1
        elif op[0] == "compact":
            store.compact("pts", max_fragments=1)
        elif op[0] == "upsert":
            # the new versions are first-seen rows: the insert feed must
            # deliver them (and never the derived rewrite survivors)
            seq += 1
            store.upsert("pts", _upsert_batch(spark, op[1], seq), "id")
            ids = set(range(op[1] * 1000, op[1] * 1000 + 10))
            inserted_at.append((store.current_manifest().version, ids))
        else:
            store.delete_equals("pts", "addr", f"0xa{op[1] % 7}")
    head = store.current_manifest().version
    for v in range(0, head + 1):
        got = {
            r["id"] for r in store.changes("pts", since_version=v).collect()
        }
        want = {i for ver, ids in inserted_at if ver > v for i in ids}
        assert got == want, f"since={v}: {sorted(got)[:5]}… != {sorted(want)[:5]}…"


# -- streaming consumer over the feed ---------------------------------------


def test_changefeed_stream_delivers_and_checkpoints(spark, tmp_path):
    """Driven poll-by-poll: each window hands exactly the new rows to the
    callback, empty/maintenance windows advance the checkpoint without a
    callback, and a RESTARTED consumer resumes from the checkpoint with
    no re-delivery."""
    from rust_evm_indexer_spark.streaming import ChangefeedStream

    store = _mk_store(spark, tmp_path)
    seen: list[tuple[int, int, list[int]]] = []

    def on_delta(df, frm, to):
        seen.append((frm, to, sorted(r["id"] for r in df.collect())))

    ckpt = tmp_path / "consumer.json"
    c = ChangefeedStream(
        spark, store, "pts", on_delta, checkpoint_path=ckpt,
    )

    store.commit({"pts": _batch(spark, 0, rows_per=20)})
    store.commit({"pts": _batch(spark, 1, rows_per=20)})
    assert c.poll_once() == 40  # both appends in one window
    assert seen[-1][2] == list(range(0, 20)) + list(range(1000, 1020))

    assert c.poll_once() == 0  # caught up: no callback
    n_calls = len(seen)

    store.compact("pts", max_fragments=1)  # maintenance-only version
    assert c.poll_once() == 0  # advances checkpoint, no delivery
    assert len(seen) == n_calls

    store.commit({"pts": _batch(spark, 2, rows_per=20)})
    # a NEW consumer instance from the same checkpoint file: resumes
    # where the old one stopped, delivers only batch 2
    c2 = ChangefeedStream(
        spark, store, "pts", on_delta, checkpoint_path=ckpt,
    )
    assert c2.poll_once() == 20
    assert seen[-1][2] == list(range(2000, 2020))


def test_changefeed_stream_raises_loud_on_reorg_window(spark, tmp_path):
    from rust_evm_indexer_spark.streaming import ChangefeedStream

    store = _mk_store(spark, tmp_path)
    c = ChangefeedStream(
        spark, store, "pts", lambda *a: None,
        checkpoint_path=tmp_path / "c.json",
    )
    store.commit({"pts": _batch(spark, 0)})
    c.poll_once()
    store.commit({"pts": _batch(spark, 1)})
    store.rollback_from(101)
    with pytest.raises(RuntimeError, match="rollback"):
        c.poll_once()
    # opted-in consumer proceeds at-least-once
    c_ok = ChangefeedStream(
        spark, store, "pts", lambda *a: None,
        checkpoint_path=tmp_path / "c.json", allow_reorged=True,
    )
    c_ok.poll_once()  # no raise; checkpoint advances past the fork
    assert c_ok.last_consumed() == store.current_manifest().version


def test_changefeed_stream_live_trigger_delivers(spark, tmp_path):
    """The real StreamingQuery path: start() polls on its trigger and
    the callback receives appended rows without manual poll_once."""
    import time as _time

    from rust_evm_indexer_spark.streaming import ChangefeedStream

    store = _mk_store(spark, tmp_path)
    store.commit({"pts": _batch(spark, 0, rows_per=10)})
    got: list[int] = []
    c = ChangefeedStream(
        spark, store, "pts",
        lambda df, frm, to: got.append(df.count()),
        checkpoint_path=tmp_path / "live.json",
        poll_interval_seconds=1,
    )
    q = c.start()
    try:
        deadline = _time.time() + 120
        while not got and _time.time() < deadline:
            _time.sleep(0.5)
        assert got and got[0] == 10
        store.commit({"pts": _batch(spark, 1, rows_per=10)})
        while len(got) < 2 and _time.time() < deadline:
            _time.sleep(0.5)
        assert len(got) >= 2 and got[1] == 10
    finally:
        c.stop()
    assert q.isActive is False


def _replay(events):
    """Apply a (rows, _change_type, _commit_version) feed in version
    order to an empty multiset — the downstream-consumer model."""
    from collections import Counter

    state: Counter = Counter()
    for r in sorted(events, key=lambda r: r["_commit_version"]):
        key = (r["id"], r["addr"], r["block_number"])
        if r["_change_type"] == "insert":
            state[key] += 1
        else:
            assert state[key] > 0, f"delete before insert for {key}"
            state[key] -= 1
    return {k for k, n in state.items() if n > 0}


def test_delete_feed_replays_to_fresh_read(spark, tmp_path):
    """Downstream state replayed from the insert+delete feed must equal
    a fresh read of the table after the deletes — the compliance
    contract: a takedown upstream propagates exactly."""
    store = _mk_store(spark, tmp_path)
    store.commit({"pts": _batch(spark, 0)})  # v1
    store.commit({"pts": _batch(spark, 1)})  # v2
    store.delete_equals("pts", "addr", "0xA3")  # v3 (case-insensitive)
    store.commit({"pts": _batch(spark, 2)})  # v4
    store.delete_equals("pts", "addr", "0xa5")  # v5
    feed = store.changes("pts", since_version=0, include_deletes=True).collect()
    fresh = {
        (r["id"], r["addr"], r["block_number"])
        for r in store.read("pts").collect()
    }
    assert _replay(feed) == fresh
    # the delete rows carry exactly the removed keys
    deleted = [r for r in feed if r["_change_type"] == "delete"]
    assert deleted and all(r["addr"] in ("0xa3", "0xa5") for r in deleted)
    # versions point at the delete manifests (strictly after the inserts)
    assert {r["_commit_version"] for r in deleted} == {3, 5}


def test_delete_feed_windows_and_default_unchanged(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    store.commit({"pts": _batch(spark, 0)})  # v1
    v1 = store.current_manifest().version
    store.delete_equals("pts", "addr", "0xa2")  # v2
    # a window starting AFTER the insert still recovers the delete's
    # rows from the retained pre-delete fragments
    feed = store.changes("pts", since_version=v1, include_deletes=True).collect()
    assert all(r["_change_type"] == "delete" for r in feed)
    assert sorted(r["id"] for r in feed) == sorted(
        i for i in range(0, 50) if i % 7 == 2
    )
    # insert-only default: byte-identical columns, no delete rows
    df = store.changes("pts", since_version=v1)
    assert set(df.columns) == {"id", "addr", "block_number"}
    assert df.count() == 0


def test_delete_feed_empty_window_keeps_metadata_columns(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    store.commit({"pts": _batch(spark, 0)})
    v = store.current_manifest().version
    df = store.changes("pts", since_version=v, include_deletes=True)
    assert df.count() == 0
    assert {"_change_type", "_commit_version"} <= set(df.columns)


def test_delete_feed_insert_and_delete_same_window_nets_out(spark, tmp_path):
    """A row inserted AND deleted inside one window is delivered twice
    (insert then delete) and nets to nothing on replay."""
    store = _mk_store(spark, tmp_path)
    store.commit({"pts": _batch(spark, 0)})  # v1: includes addr 0xa1
    store.delete_equals("pts", "addr", "0xa1")  # v2
    feed = store.changes("pts", since_version=0, include_deletes=True).collect()
    fresh = {
        (r["id"], r["addr"], r["block_number"])
        for r in store.read("pts").collect()
    }
    assert _replay(feed) == fresh
    assert not any(k[1] == "0xa1" for k in _replay(feed))


def test_changefeed_stream_delivers_deletes_when_opted_in(spark, tmp_path):
    from rust_evm_indexer_spark.streaming import ChangefeedStream

    store = _mk_store(spark, tmp_path)
    store.commit({"pts": _batch(spark, 0)})
    seen: list[tuple[str, int]] = []
    consumer = ChangefeedStream(
        spark, store, "pts",
        lambda df, frm, to: seen.extend(
            (r["_change_type"], r["id"]) for r in df.collect()
        ),
        checkpoint_path=tmp_path / "ck.json",
        include_deletes=True,
    )
    consumer.poll_once()
    assert {c for c, _ in seen} == {"insert"} and len(seen) == 50
    seen.clear()
    store.delete_equals("pts", "addr", "0xa4")
    consumer.poll_once()
    assert seen and all(c == "delete" for c, _ in seen)
    assert sorted(i for _, i in seen) == [i for i in range(50) if i % 7 == 4]
    # caught up: nothing re-delivered
    seen.clear()
    assert consumer.poll_once() == 0 and not seen


def test_changefeed_stream_delivers_upsert_replays(spark, tmp_path):
    """An upsert mid-stream arrives as old-version-out / new-version-in
    in ONE polled window: a key-upsert-applying consumer converges, and
    the next poll re-delivers nothing."""
    from rust_evm_indexer_spark.streaming import ChangefeedStream

    store = _mk_store(spark, tmp_path)
    store.commit({"pts": _batch(spark, 0)})  # ids 0..49
    state: dict[tuple, str] = {}

    def apply(df, frm, to):
        rows = sorted(
            df.collect(),
            key=lambda r: (r["_commit_version"],
                           r["_change_type"] != "delete"),
        )
        for r in rows:
            key = (r["id"], r["addr"], r["block_number"])
            if r["_change_type"] == "delete":
                state.pop(key, None)
            else:
                state[key] = r["_change_type"]

    consumer = ChangefeedStream(
        spark, store, "pts", apply,
        checkpoint_path=tmp_path / "ck_up.json",
        include_deletes=True,
    )
    consumer.poll_once()
    assert len(state) == 50
    store.upsert("pts", _upsert_batch(spark, 0, seq=1), "id")  # ids 0..9
    consumer.poll_once()
    fresh = {(r["id"], r["addr"], r["block_number"])
             for r in store.read("pts").collect()}
    assert set(state) == fresh  # converged: 10 new versions, olds gone
    assert all(b == 900_001 for i, _, b in state if i < 10)
    n_before = len(state)
    assert consumer.poll_once() == 0 and len(state) == n_before


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_ops)
def test_delete_feed_replay_converges_under_random_maintenance(spark, ops):
    """For ANY interleaving of commits, compactions and targeted deletes
    (no rollback), replaying changes(since=0, include_deletes=True) in
    version order from empty state converges EXACTLY to a fresh read —
    the compliance-feed contract: every delete is delivered with its
    exact rows, compaction neither re-delivers nor fabricates deletes,
    and insert/delete interleave correctly within one window."""
    from collections import Counter

    root = Path(tempfile.mkdtemp(prefix="cf-del-prop-"))
    store = TableStore(spark, root / "s", bloom_columns={}, dict_columns={})
    batch_no = 0
    seq = 0
    wrote = False
    for op in ops:
        if op[0] == "commit":
            store.commit({"pts": _batch(spark, batch_no, rows_per=30)})
            batch_no += 1
            wrote = True
        elif op[0] == "compact":
            store.compact("pts", max_fragments=1)
        elif op[0] == "upsert":
            # superseded versions must replay as deletes in the same
            # version as the replacing inserts
            seq += 1
            store.upsert("pts", _upsert_batch(spark, op[1], seq), "id")
            wrote = True
        else:
            store.delete_equals("pts", "addr", f"0xa{op[1] % 7}")
    if not wrote:
        return  # nothing ever inserted; feed is trivially empty
    feed = store.changes("pts", since_version=0, include_deletes=True).collect()
    state: Counter = Counter()
    for r in sorted(feed, key=lambda r: r["_commit_version"]):
        key = (r["id"], r["addr"], r["block_number"])
        if r["_change_type"] == "insert":
            state[key] += 1
        else:
            assert state[key] > 0, f"delete before insert for {key}"
            state[key] -= 1
    replayed = {k for k, n in state.items() if n > 0}
    fresh = {
        (r["id"], r["addr"], r["block_number"])
        for r in store.read("pts").collect()
    }
    assert replayed == fresh


# strings whose case folding differs between Python's str.lower (which
# Spark's lower() and the bloom tier agree with) and pyarrow's
# utf8_lower: 'İ' lowers to 'i' + combining dot, final sigma to 'ς'
_FOLD_STRINGS = [
    "0xAbC", "0xabc", "0xABC", None, "İstanbul", "i̇stanbul", "istanbul",
    "ΣΑΣ", "σας", "σασ", "0xdef",
]


def test_key_match_selects_the_same_rows_in_pyarrow_and_spark(spark):
    """The one match spec compiled both ways — the pyarrow keep
    expression the rewrite kernel applies and the Spark Column the
    changefeed replays — selects identical rows on string keys
    (mixed-case hex, NULLs, case folds pyarrow's utf8_lower gets
    differently) and on int keys."""
    import pyarrow as pa
    import pyarrow.dataset as pa_ds

    from rust_evm_indexer_spark.store.table_store import KeyMatch

    rows = [
        (i, s, None if i % 4 == 0 else i % 3)
        for i, s in enumerate(_FOLD_STRINGS)
    ]
    ds = pa_ds.dataset(pa.table({
        "id": pa.array([r[0] for r in rows], pa.int64()),
        "s": pa.array([r[1] for r in rows], pa.string()),
        "n": pa.array([r[2] for r in rows], pa.int64()),
    }))
    df = spark.createDataFrame(rows, "id: long, s: string, n: long")
    cases = [
        ("s", ("0xABC",)), ("s", ("İstanbul",)), ("s", ("istanbul",)),
        ("s", ("ΣΑΣ",)), ("s", ("σασ", "0XDEF")), ("s", (None,)),
        ("n", (1,)), ("n", (0, 2, None)), ("n", (7,)),
    ]
    for column, values in cases:
        match = KeyMatch(column, values)
        kept = set(ds.to_table(filter=match.keep(ds))["id"].to_pylist())
        via_arrow = sorted({r[0] for r in rows} - kept)
        via_spark = sorted(r["id"] for r in df.filter(match.spark()).collect())
        assert via_arrow == via_spark, (column, values)


def test_delete_feed_reports_exactly_the_removed_rows(spark, tmp_path):
    """delete_equals / delete_in remove exactly what the changefeed then
    reports as deleted, on case-folding strings; a key column an older
    fragment lacks (added by schema evolution) keeps that fragment's
    rows."""
    store = _mk_store(spark, tmp_path, bloom_columns={"t": ("s",)})
    store.commit({"t": spark.createDataFrame(
        [(i, s) for i, s in enumerate(_FOLD_STRINGS)], "id: long, s: string")})
    store.commit({"t": spark.createDataFrame(
        [(100 + i, s, "x" if i % 2 else "y")
         for i, s in enumerate(_FOLD_STRINGS)],
        "id: long, s: string, tag: string")})

    def ids():
        return {r["id"] for r in store.read("t").collect()}

    for op in (
        lambda: store.delete_equals("t", "s", "İstanbul"),
        lambda: store.delete_in("t", "s", ["ΣΑΣ", "0xabc"]),
        lambda: store.delete_equals("t", "tag", "X"),
    ):
        before, v = ids(), store.current_manifest().version
        op()
        removed = before - ids()
        feed = store.changes("t", since_version=v, include_deletes=True)
        reported = [r["id"] for r in feed.collect()
                    if r["_change_type"] == "delete"]
        assert removed and sorted(reported) == sorted(removed)
    # the pre-evolution fragment holds no 'tag': all its survivors stay
    assert ids() == {3, 6, 9, 10, 106, 110}
