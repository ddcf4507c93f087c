"""Model-based property test for the TableStore write path: arbitrary
interleavings of commit / upsert / delete_equals / delete_in / compact /
vacuum must keep ``read()`` equal to a trivial Python dict model.

This is the guard for the row-level rewrite kernel
(TableStore._rewrite_fragment, in-process pyarrow, no Spark job for a
delete): the individual operations each have focused tests, but the
bugs that kernel could introduce are INTERACTION bugs — a delete after an upsert after a compaction hitting
a fragment layout no single-op test produces.  The model is
deliberately dumb: {key: text}; upsert overwrites, delete removes
(case-insensitively for the string column), commit inserts fresh keys.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from rust_evm_indexer_spark.store import TableStore, table_store

SCHEMA = "doc_id: long, text: string, block_number: long"

# ops: ("commit", [ids]) | ("upsert", [ids]) | ("del_eq", id)
#      | ("del_in", [ids]) | ("compact",) | ("vacuum",)
_ids = st.lists(st.integers(min_value=0, max_value=39), min_size=1,
                max_size=6, unique=True)
_op = st.one_of(
    st.tuples(st.just("commit"), _ids),
    st.tuples(st.just("upsert"), _ids),
    st.tuples(st.just("del_eq"), st.integers(min_value=0, max_value=39)),
    st.tuples(st.just("del_in"), _ids),
    st.tuples(st.just("compact")),
    st.tuples(st.just("vacuum")),
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_op, min_size=3, max_size=10))
def _run_sequence(spark, tmp_path_factory, projected, ops):
    store = TableStore(
        spark,
        tmp_path_factory.mktemp("model") / "s",
        bloom_columns={"docs": ("text",)},
        dict_columns={},
    )
    model: dict[int, str] = {}
    version = 0
    proj_built = False

    def rows(ids, ver):
        return [(i, f"text-{i}-v{ver}", i) for i in ids]

    for step, op in enumerate(ops):
        kind = op[0]
        if kind == "commit":
            # commit only FRESH keys: the corpus contract (duplicate
            # inserts are upsert's job); versioned text so staleness
            # shows up as a value mismatch, not just a count one
            fresh = [i for i in op[1] if i not in model]
            if not fresh:
                continue
            store.commit({"docs": spark.createDataFrame(
                rows(fresh, step), SCHEMA)})
            model.update({i: f"text-{i}-v{step}" for i in fresh})
        elif kind == "upsert":
            store.upsert(
                "docs",
                spark.createDataFrame(rows(op[1], step), SCHEMA),
                "doc_id",
            )
            model.update({i: f"text-{i}-v{step}" for i in op[1]})
        elif kind == "del_eq":
            i = op[1]
            if i in model:
                store.delete_equals("docs", "text", model[i].upper())
                del model[i]  # case-insensitive match must still hit
        elif kind == "del_in":
            keys = [model[i].upper() for i in op[1] if i in model]
            if keys:
                store.delete_in("docs", "text", keys)
                for i in op[1]:
                    model.pop(i, None)
        elif kind == "compact":
            if model:
                store.compact("docs", max_fragments=2)
                if proj_built:
                    # compaction removes covered fragments → the
                    # projection goes stale; rebuild it, same as the
                    # background maintenance job class does
                    store.build_projection(
                        "docs", "by_text", ("text",), max_fragments=2
                    )
        elif kind == "vacuum":
            store.vacuum(keep_manifests=3)
        if projected and not proj_built and model:
            store.build_projection(
                "docs", "by_text", ("text",), max_fragments=2
            )
            proj_built = True
        got = {
            r["doc_id"]: r["text"] for r in store.read("docs").collect()
        } if store.current_manifest().tables.get("docs") else {}
        assert got == model, (step, op)
        if proj_built:
            # the clustered replica must agree with the model at every
            # step: delete/upsert purge it IN the same (delta or
            # checkpoint) swap, commits land as lag the read unions in
            got_proj = {
                r["doc_id"]: r["text"]
                for r in store.read_projection("docs", "by_text").collect()
            }
            assert got_proj == model, (step, op, "projection")


@pytest.mark.parametrize(
    "interval",
    [
        16,  # log-structured default (checkpoint every 16 appends)
        2,  # checkpoint-heavy short chains
        0,  # legacy full-manifest regime
    ],
    ids=["log16", "log2", "full"],
)
@pytest.mark.slow
def test_store_model_random_interleavings(
    spark, tmp_path_factory, monkeypatch, interval
):
    """The same random interleavings must hold in every manifest
    regime — the r9 log-structured write path and the legacy full
    rewrite are REQUIRED to be observationally identical (delta
    commits interact with upsert/delete/compact checkpoints and
    chain-aware vacuum inside one history here)."""
    monkeypatch.setattr(table_store, "CHECKPOINT_INTERVAL", interval)
    _run_sequence(spark, tmp_path_factory, False)


@pytest.mark.parametrize(
    "interval",
    [
        16,  # delta takedowns carry projections_delta (r10)
        2,  # chains re-anchor mid-history
        0,  # checkpoint-materialized projections
    ],
    ids=["log16", "log2", "full"],
)
@pytest.mark.slow
def test_store_model_random_interleavings_projected(
    spark, tmp_path_factory, monkeypatch, interval
):
    """The same interleavings with a clustered projection on the table
    (VERDICT r9 item 2): every delete/upsert must purge the replica in
    the SAME swap — via projections_delta on the log path, via the
    materialized checkpoint on the full path — and the projection read
    must agree with the model at every step in all three regimes."""
    monkeypatch.setattr(table_store, "CHECKPOINT_INTERVAL", interval)
    _run_sequence(spark, tmp_path_factory, True)


def test_store_model_upsert_delete_compact_chain(spark, tmp_path):
    """One deterministic worst-case chain: upsert over a compacted
    layout, then a batched delete spanning original, upserted, and
    compacted fragments — the exact interaction surface of the r7
    batched kernel."""
    store = TableStore(spark, tmp_path / "s",
                       bloom_columns={"docs": ("text",)}, dict_columns={})
    store.commit({"docs": spark.createDataFrame(
        [(i, f"a-{i}", i) for i in range(6)], SCHEMA)})
    store.commit({"docs": spark.createDataFrame(
        [(i, f"b-{i}", i) for i in range(6, 12)], SCHEMA)})
    store.compact("docs", max_fragments=1)
    store.upsert("docs", spark.createDataFrame(
        [(3, "up-3", 3), (20, "up-20", 20)], SCHEMA), "doc_id")
    stats = store.delete_in("docs", "text", ["A-0", "b-7", "UP-20", "nope"])
    assert stats["deleted_rows"] == 3
    got = {r["doc_id"]: r["text"] for r in store.read("docs").collect()}
    assert got == {1: "a-1", 2: "a-2", 3: "up-3", 4: "a-4", 5: "a-5",
                   6: "b-6", 8: "b-8", 9: "b-9", 10: "b-10", 11: "b-11"}
    # time travel: the pre-delete version stays readable (fragments are
    # immutable; the batched rewrite only produced NEW dirs)
    pre_delete = store.current_manifest().version - 1
    old = {r["doc_id"]: r["text"]
           for r in store.read("docs", version=pre_delete).collect()}
    assert old[0] == "a-0" and old[7] == "b-7" and old[20] == "up-20"
    store.vacuum(keep_manifests=2)
    got2 = {r["doc_id"]: r["text"] for r in store.read("docs").collect()}
    assert got2 == got  # vacuum never changes visible state
