"""Executor-parallel backfill: equivalence with the streaming ingest path
+ idempotent re-run."""

from __future__ import annotations

import pytest

from rust_evm_indexer_spark import datagen
from rust_evm_indexer_spark.ingest import EvmIngester
from rust_evm_indexer_spark.ingest.backfill import backfill, fetch_range
from rust_evm_indexer_spark.sources.rpc import MockRpcClient
from rust_evm_indexer_spark.store import TableStore

START = datagen.START_BLOCK


@pytest.mark.slow
def test_backfill_matches_streaming_ingest(spark, tmp_path):
    """The distributed backfill and the per-cycle streaming ingest must
    produce identical tables from the same chain."""
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
        fetch_partitions=6,
        backoff=0.01,
    )
    assert counts["blocks"] == 25

    def canon(rows):
        return {
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in rows
        }

    for table in ("blocks", "transactions", "logs"):
        a = canon(s_store.read(table).collect())
        b = canon(b_store.read(table).collect())
        assert a == b, f"{table} differs between streaming and backfill"


def test_backfill_rerun_is_noop(spark, tmp_path):
    chain = datagen.generate_chain(n_blocks=10, seed=78)
    store = TableStore(spark, tmp_path / "bulk2")
    client = MockRpcClient(chain)
    backfill(spark, client, store, START, START + 9, backoff=0.01)
    n = store.read("transactions").count()
    counts = backfill(spark, client, store, START, START + 9, backoff=0.01)
    assert counts["transactions"] == 0  # watermark made it a no-op
    assert store.read("transactions").count() == n


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
    counts = backfill(spark, client, store, START, START + 9, backoff=0.01)
    assert counts["blocks"] == 10
    assert store.read_status()["last_processed_block"] == START + 9


def test_fetch_range_is_distributed(spark):
    """The fetch plan fans out over the requested partitions (no driver
    loop): check partition count of the raw frame."""
    chain = datagen.generate_chain(n_blocks=12, seed=79)
    raw = fetch_range(
        spark, MockRpcClient(chain), START, START + 11, fetch_partitions=5
    )
    assert raw.rdd.getNumPartitions() == 5
    assert raw.count() == 12
