"""TableStore.upsert: key-level MERGE (update-or-insert) in one atomic
manifest swap — fragment economics, time travel, changefeed replay,
projection purge, and the batch contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import assert_no_cache_leak
from rust_evm_indexer_spark.store import TableStore

SCHEMA = "doc_id: long, text: string, score: long"


def _mk(spark, tmp_path, **kw):
    kw.setdefault("bloom_columns", {"docs": ("doc_id",)})
    return TableStore(spark, tmp_path / "upstore", **kw)


def _rows(spark, ids, tag, score=0):
    return spark.createDataFrame(
        [(i, f"{tag}-{i}", score) for i in ids], SCHEMA
    )


def test_upsert_updates_and_inserts_atomically(spark, tmp_path):
    store = _mk(spark, tmp_path)
    store.commit({"docs": _rows(spark, range(0, 10), "v1")})      # frag A
    store.commit({"docs": _rows(spark, range(10, 20), "v1")})     # frag B
    v_before = store.current_manifest().version
    batch = _rows(spark, [3, 7, 25], "v2", score=9)
    stats = store.upsert("docs", batch, "doc_id")
    assert stats["keys"] == 3 and stats["inserted_rows"] == 3
    assert stats["replaced_rows"] == 2  # ids 3 and 7 superseded
    got = {r["doc_id"]: (r["text"], r["score"])
           for r in store.read("docs").collect()}
    assert len(got) == 21  # 20 originals - 0 removed + 1 new key
    assert got[3] == ("v2-3", 9) and got[7] == ("v2-7", 9)
    assert got[25] == ("v2-25", 9)
    assert got[4] == ("v1-4", 0)  # untouched neighbors keep old version
    # time travel: the pre-upsert snapshot still shows old versions
    old = {r["doc_id"]: r["text"]
           for r in store.read("docs", version=v_before).collect()}
    assert old[3] == "v1-3" and 25 not in old


def test_upsert_keeps_clean_fragments_by_reference(spark, tmp_path):
    store = _mk(spark, tmp_path)
    store.commit({"docs": _rows(spark, range(0, 10), "v1")})
    store.commit({"docs": _rows(spark, range(100, 110), "v1")})
    before = {f.path for f in store.current_manifest().tables["docs"]}
    stats = store.upsert("docs", _rows(spark, [5], "v2"), "doc_id")
    assert stats["rewritten"] == 1  # only the fragment holding id 5
    after = {f.path for f in store.current_manifest().tables["docs"]}
    # the 100..110 fragment survives by path identity (zero I/O)
    assert len(before & after) == 1
    # rewrites are derived: the insert-only changefeed re-delivers
    # ONLY the batch, never the surviving rewritten rows
    feed = store.changes("docs", since_version=2)
    assert sorted(r["doc_id"] for r in feed.collect()) == [5]


def test_upsert_changefeed_replay_converges(spark, tmp_path):
    """Version-ordered replay (deletes before inserts per version) of
    the include_deletes feed reconstructs a fresh read exactly —
    including for consumers that key-match nothing."""
    store = _mk(spark, tmp_path)
    store.commit({"docs": _rows(spark, range(0, 8), "v1")})   # v1
    store.upsert("docs", _rows(spark, [2, 3, 9], "v2"), "doc_id")   # v2
    store.upsert("docs", _rows(spark, [3, 11], "v3"), "doc_id")     # v3
    feed = store.changes("docs", since_version=0, include_deletes=True)
    rows = feed.collect()
    state: dict[int, tuple] = {}
    for r in sorted(rows, key=lambda r: (r["_commit_version"],
                                         r["_change_type"] != "delete")):
        if r["_change_type"] == "delete":
            state.pop(r["doc_id"], None)
        else:
            state[r["doc_id"]] = (r["text"], r["score"])
    fresh = {r["doc_id"]: (r["text"], r["score"])
             for r in store.read("docs").collect()}
    assert state == fresh
    # the delete side carries exactly the superseded old versions
    deleted = sorted((r["_commit_version"], r["doc_id"], r["text"])
                     for r in rows if r["_change_type"] == "delete")
    assert deleted == [(2, 2, "v1-2"), (2, 3, "v1-3"), (3, 3, "v2-3")]


def test_upsert_purges_projection_copies(spark, tmp_path):
    store = TableStore(spark, tmp_path / "upstore",
                       bloom_columns={"docs": ("doc_id", "text")})
    store.commit({"docs": _rows(spark, range(0, 40), "v1")})
    store.commit({"docs": _rows(spark, range(40, 80), "v1")})
    store.build_projection("docs", "by_text", ("text",), max_fragments=2)
    store.upsert("docs", _rows(spark, [1, 41], "v2"), "doc_id")
    s = store.stats()["tables"]["docs"]["projections"]["by_text"]
    assert s["stale"] is False  # covers remapped, projection readable
    via = store.read_projection("docs", "by_text")
    got = {r["doc_id"]: r["text"] for r in via.collect()}
    # no duplicate versions: projection copies purged, new rows arrive
    # through the delta union (both keys existed: 80 rows stay 80)
    assert via.count() == 80
    assert got[1] == "v2-1" and got[41] == "v2-41" and got[0] == "v1-0"


def test_upsert_batch_contract(spark, tmp_path):
    store = _mk(spark, tmp_path)
    store.commit({"docs": _rows(spark, range(0, 5), "v1")})
    dup = _rows(spark, [1, 1], "v2")
    with pytest.raises(ValueError, match="one row per key"):
        store.upsert("docs", dup, "doc_id")
    with pytest.raises(ValueError, match="max_keys"):
        store.upsert("docs", _rows(spark, range(100), "v2"), "doc_id",
                     max_keys=10)
    # contract violations must not burn a version or change state
    assert store.current_manifest().version == 1
    assert store.read("docs").count() == 5


def test_upsert_string_keys_case_insensitive(spark, tmp_path):
    store = TableStore(spark, tmp_path / "upstore",
                       bloom_columns={"docs": ("text",)})
    store.commit({"docs": _rows(spark, range(0, 4), "V1")})
    batch = spark.createDataFrame([(99, "v1-2", 5)], SCHEMA)
    store.upsert("docs", batch, "text")  # matches 'V1-2' case-insensitively
    got = {r["text"].lower() for r in store.read("docs").collect()}
    assert "v1-2" in got
    assert store.read("docs").count() == 4  # replaced, not added


def test_upsert_guard_counts_string_keys_case_insensitively(spark, tmp_path):
    """A batch with 'Key-A' and 'key-a' is ONE key to the match
    predicate, so the one-row-per-key guard must reject it — otherwise
    both rows insert and two live versions of the same key survive
    (ADVICE r6)."""
    store = _mk(spark, tmp_path)
    store.commit({"docs": _rows(spark, range(0, 3), "v1")})
    batch = spark.createDataFrame(
        [(50, "Key-A", 1), (51, "key-a", 2)], SCHEMA)
    with pytest.raises(ValueError, match="case-insensitively"):
        store.upsert("docs", batch, "text")
    assert store.current_manifest().version == 1  # state unchanged


def test_upsert_leaves_no_cache(spark, tmp_path):
    """upsert, at default arguments, pins nothing and returns no frame
    over the store it just rewrote."""
    store = _mk(spark, tmp_path)
    store.commit({"docs": _rows(spark, range(0, 10), "v1")})
    stats = assert_no_cache_leak(
        spark,
        lambda: store.upsert("docs", _rows(spark, [2, 30], "v2"), "doc_id"),
        store.root,
    )
    assert stats["replaced_rows"] == 1 and stats["inserted_rows"] == 2
    assert store.read("docs").count() == 11
