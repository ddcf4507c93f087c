"""Executor-parallel backfill: equivalence with the streaming ingest path,
idempotent re-run, per-call row counts, failure cleanup, and the shape of
its one Spark job."""

from __future__ import annotations

import math

import pytest

from rust_evm_indexer_spark import datagen
from rust_evm_indexer_spark.ingest import EvmIngester
from rust_evm_indexer_spark.ingest import backfill as backfill_mod
from rust_evm_indexer_spark.ingest.backfill import TABLES, backfill
from rust_evm_indexer_spark.sources.rpc import MockRpcClient
from rust_evm_indexer_spark.store import TableStore

START = datagen.START_BLOCK


def _staged_dirs(store) -> list[str]:
    return [p.name for p in (store.root / "data").glob("*/.backfill-*")]


def _traced_backfill(spark, group: str, *args, **kwargs):
    """``backfill(*args)`` under job group ``group``: its result and, per
    Spark job it ran, the task count of each stage (read back through
    the status tracker)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "backfill")
    try:
        out = backfill(spark, *args, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = [tracker.getJobInfo(j) for j in sorted(tracker.getJobIdsForGroup(group))]
    return out, [[tracker.getStageInfo(s).numTasks for s in j.stageIds] for j in jobs]


def test_backfill_matches_streaming_ingest(spark, tmp_path):
    """The distributed backfill and the per-cycle streaming ingest must
    produce identical tables (the rollup partials included) and record
    the same manifest schemas from the same chain."""
    chain = datagen.generate_chain(n_blocks=25, seed=77)

    s_store = TableStore(spark, tmp_path / "stream")
    EvmIngester(
        spark, MockRpcClient(chain), s_store, start_block=START, backoff_base=0.01
    ).run_until_caught_up()

    b_store = TableStore(spark, tmp_path / "bulk")
    counts = backfill(
        spark,
        MockRpcClient(chain),
        b_store,
        START,
        START + 24,
        backoff=0.01,
    )
    assert counts["blocks"] == 25

    def canon(rows):
        return {
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in rows
        }

    for table in TABLES:
        a = canon(s_store.read(table).collect())
        b = canon(b_store.read(table).collect())
        assert a == b, f"{table} differs between streaming and backfill"
        assert counts[table] == len(b)
    schemas = s_store.current_manifest().schemas
    assert set(schemas) == set(TABLES)
    assert b_store.current_manifest().schemas == schemas


def test_backfill_rerun_is_noop(spark, tmp_path):
    chain = datagen.generate_chain(n_blocks=10, seed=78)
    store = TableStore(spark, tmp_path / "bulk2")
    client = MockRpcClient(chain)
    backfill(spark, client, store, START, START + 9, backoff=0.01)
    n = store.read("transactions").count()
    counts = backfill(spark, client, store, START, START + 9, backoff=0.01)
    assert counts["transactions"] == 0  # watermark made it a no-op
    assert store.read("transactions").count() == n
    assert _staged_dirs(store) == []


def test_backfill_returns_rows_this_call_committed(spark, tmp_path):
    """Two consecutive ranges into one store: each call reports only the
    rows it committed, not the table totals."""
    chain = datagen.generate_chain(n_blocks=20, seed=81)
    store = TableStore(spark, tmp_path / "two")
    client = MockRpcClient(chain)
    first = backfill(spark, client, store, START, START + 9, backoff=0.01)
    totals = {t: store.table_rows(t) for t in TABLES}
    assert first == totals
    second = backfill(spark, client, store, START + 10, START + 19, backoff=0.01)
    assert second["blocks"] == 10
    assert second == {t: store.table_rows(t) - totals[t] for t in TABLES}
    want_txs = sum(
        1 for t in chain.transactions if t["block_number"] >= START + 10
        and t["block_hash"] in {b["block_hash"] for b in client._by_height.values()}
    )
    assert second["transactions"] == want_txs


def test_backfill_never_checkpoints_past_an_unserved_height(spark, tmp_path):
    """A range reaching past the node's head must fail the chunk, not
    commit the blocks it did get under an end_block checkpoint that a
    resuming tip ingester would trust."""
    chain = datagen.generate_chain(n_blocks=10, seed=80)
    store = TableStore(spark, tmp_path / "gap")
    client = MockRpcClient(chain)
    with pytest.raises(RuntimeError, match="fetched 10 of 15 blocks"):
        backfill(spark, client, store, START, START + 14, backoff=0.01)
    assert store.read_status() is None
    assert store.table_rows("blocks") == 0
    assert _staged_dirs(store) == []  # the parts the kernel wrote are gone
    counts = backfill(spark, client, store, START, START + 9, backoff=0.01)
    assert counts["blocks"] == 10
    assert store.read_status()["last_processed_block"] == START + 9


def test_backfill_fetch_is_distributed(spark, tmp_path):
    """A 60-block chunk fans out as one Spark job of one stage with one
    task per core (no driver loop, and no second wave: every Python task
    costs a fixed start-up); each task's kernel writes its own part
    file, and the committed fragment holds exactly those parts."""
    chain = datagen.generate_chain(n_blocks=60, seed=79)
    store = TableStore(spark, tmp_path / "fan")
    counts, jobs = _traced_backfill(
        spark, "bf-fan", MockRpcClient(chain), store, START, START + 59, backoff=0.01
    )
    assert counts["blocks"] == 60
    [[tasks]] = jobs  # one job, one stage
    assert tasks == min(60, spark.sparkContext.defaultParallelism) > 1
    (frag,) = store.current_manifest().tables["blocks"]
    assert frag.rows == 60
    assert len(list((store.root / frag.path).glob("part-*.parquet"))) == tasks
    assert _staged_dirs(store) == []


def test_backfill_bounds_blocks_per_task(spark, tmp_path, monkeypatch):
    """Past ``parallelism x MAX_BLOCKS_PER_TASK`` heights the range splits
    into ceil(n / MAX_BLOCKS_PER_TASK) tasks, so no task holds more raw
    blocks than the cap; each task still writes one part per table."""
    monkeypatch.setattr(backfill_mod, "MAX_BLOCKS_PER_TASK", 2)
    parallelism = spark.sparkContext.defaultParallelism
    n = 2 * parallelism + 3
    chain = datagen.generate_chain(n_blocks=n, seed=84)
    store = TableStore(spark, tmp_path / "cap")
    counts, jobs = _traced_backfill(
        spark, "bf-cap", MockRpcClient(chain), store, START, START + n - 1,
        backoff=0.01,
    )
    assert counts["blocks"] == n
    assert jobs == [[math.ceil(n / 2)]]
    (frag,) = store.current_manifest().tables["blocks"]
    assert len(list((store.root / frag.path).glob("part-*.parquet"))) == math.ceil(n / 2)


def test_failing_kernel_commits_nothing(spark, tmp_path):
    """A kernel that fails (RPC retries exhausted) fails the backfill: no
    manifest version, no checkpoint, no staged dir left; a healthy
    re-run then commits exactly its own parts."""
    chain = datagen.generate_chain(n_blocks=12, seed=82)
    store = TableStore(spark, tmp_path / "fail")
    down = MockRpcClient(chain)
    down.inject_failures(10**6)  # every executor copy keeps failing
    with pytest.raises(Exception, match="injected transient failure"):
        backfill(spark, down, store, START, START + 11, backoff=0.01)
    assert store.current_version() == 0
    assert store.read_status() is None
    assert _staged_dirs(store) == []
    counts, [[tasks]] = _traced_backfill(
        spark, "bf-fail", MockRpcClient(chain), store, START, START + 11, backoff=0.01
    )
    assert counts["blocks"] == 12
    m = store.current_manifest()
    for table in TABLES:
        (frag,) = m.tables[table]
        assert frag.rows == counts[table]
        assert 1 <= len(list((store.root / frag.path).glob("part-*.parquet"))) <= tasks
    assert m.status["last_processed_block"] == START + 11
