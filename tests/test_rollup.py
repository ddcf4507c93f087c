"""Continuous aggregate: the incrementally-maintained hourly rollup must
always equal a direct aggregation of the base table — including through
reorgs (retraction of partials) and compaction."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from rust_evm_indexer_spark import datagen
from rust_evm_indexer_spark.ingest import EvmIngester
from rust_evm_indexer_spark.ingest.backfill import backfill
from rust_evm_indexer_spark.ingest.rollup import ROLLUP_TABLE, read_rollup
from rust_evm_indexer_spark.sources.rpc import MockRpcClient
from rust_evm_indexer_spark.store import TableStore


def direct_agg(store):
    b = store.read("blocks").select(
        "block_hash",
        F.date_trunc("hour", F.timestamp_seconds("timestamp")).alias("hour_ts"),
    )
    return {
        (r["hour_ts"], r["contract_address"], r["topic0"]): r["n"]
        for r in store.read("logs")
        .join(b, "block_hash")
        .groupBy("hour_ts", "contract_address", "topic0")
        .agg(F.count("*").alias("n"))
        .collect()
    }


def rollup_agg(store):
    return {
        (r["hour_ts"], r["contract_address"], r["topic0"]): r["n_logs"]
        for r in read_rollup(store).collect()
    }


def partials(store):
    """The stored partials, keyed per (block, UTC epoch hour, contract,
    topic0)."""
    return {
        (r["block_number"], r["hour_s"], r["contract_address"], r["topic0"]): r["n_logs"]
        for r in store.read(ROLLUP_TABLE)
        .select("block_number", F.unix_seconds("hour_ts").alias("hour_s"),
                "contract_address", "topic0", "n_logs")
        .collect()
    }


def direct_partials(store):
    """The same partials re-aggregated from the base tables in UTC."""
    hours = store.read("blocks").select(
        "block_hash", (F.col("timestamp") - F.col("timestamp") % 3600).alias("hour_s")
    )
    return {
        (r["block_number"], r["hour_s"], r["contract_address"], r["topic0"]): r["n"]
        for r in store.read("logs")
        .join(hours, "block_hash")
        .groupBy("block_number", "hour_s", "contract_address", "topic0")
        .agg(F.count("*").alias("n"))
        .collect()
    }


def _ingested(spark, root, seed):
    chain = datagen.generate_chain(n_blocks=20, seed=seed)
    store = TableStore(spark, root)
    EvmIngester(
        spark, MockRpcClient(chain), store, start_block=datagen.START_BLOCK,
        backoff_base=0.01,
    ).run_until_caught_up()
    return store


def _straddled(store, table):
    """A height strictly inside one of ``table``'s fragments."""
    frag = next(
        f for f in store.current_manifest().tables[table] if f.min_block < f.max_block
    )
    return frag.min_block + 1


def test_tip_rollback_runs_no_spark_job(spark, tmp_path):
    """Tip fragments are pyarrow-written, and rollback rewrites the ones
    straddling the fork with pyarrow too: a tip reorg starts no Spark
    job, and the retracted store still equals a direct aggregation."""
    store = _ingested(spark, tmp_path / "tip", seed=34)
    height = _straddled(store, ROLLUP_TABLE)
    sc = spark.sparkContext
    sc.setJobGroup("tip-rollback", "rollback over tip fragments")
    try:
        touched = store.rollback_from(height)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("tip-rollback") == []
    assert touched > 0
    assert store.read(ROLLUP_TABLE).agg(F.max("block_number")).first()[0] < height
    assert partials(store) == direct_partials(store)
    assert rollup_agg(store) == direct_agg(store)


def test_rollback_through_compacted_rollup(spark, tmp_path):
    """A Spark-compacted rollup fragment stores hour_ts as INT96; the
    pyarrow straddler rewrite must hand Spark a file it reads back with
    the exact same timestamps."""
    store = _ingested(spark, tmp_path / "cmp", seed=35)
    store.compact(ROLLUP_TABLE, max_fragments=1)
    (frag,) = store.current_manifest().tables[ROLLUP_TABLE]
    height = (frag.min_block + frag.max_block) // 2
    store.rollback_from(height)
    (kept,) = store.current_manifest().tables[ROLLUP_TABLE]
    assert kept.derived and kept.max_block == height - 1
    assert partials(store) == direct_partials(store)
    assert rollup_agg(store) == direct_agg(store)


def test_rollup_matches_direct_agg(spark, tmp_path):
    chain = datagen.generate_chain(n_blocks=20, seed=31)
    client = MockRpcClient(chain)
    store = TableStore(spark, tmp_path / "ro")
    ing = EvmIngester(
        spark, client, store, start_block=datagen.START_BLOCK, backoff_base=0.01
    )
    ing.run_until_caught_up()
    assert rollup_agg(store) == direct_agg(store)
    # incremental: every ingest batch contributed its own partial fragment
    assert len(store.current_manifest().tables[ROLLUP_TABLE]) >= 3


@pytest.mark.slow
def test_rollup_survives_reorg_and_compaction(spark, tmp_path):
    chain = datagen.generate_chain(n_blocks=20, seed=32)
    client = MockRpcClient(chain)
    store = TableStore(spark, tmp_path / "ro2")
    ing = EvmIngester(
        spark, client, store, start_block=datagen.START_BLOCK, backoff_base=0.01
    )
    ing.run_until_caught_up()
    client.schedule_reorg(depth=3)
    ing.run_until_caught_up(max_cycles=20)
    # retraction dropped exactly the orphaned blocks' partials
    assert rollup_agg(store) == direct_agg(store)
    store.compact(ROLLUP_TABLE, max_fragments=1)
    assert rollup_agg(store) == direct_agg(store)


def test_rollup_hours_are_utc_under_any_session_tz(spark, tmp_path):
    """Backfill and tip cycles write hour buckets aligned to UTC epoch
    hours even under a fractional-offset session time zone, and every
    partial equals a UTC re-aggregation of the base tables."""
    chain = datagen.generate_chain(n_blocks=20, seed=33)
    client = MockRpcClient(chain)
    store = TableStore(spark, tmp_path / "tz")
    start = datagen.START_BLOCK
    prior = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        backfill(spark, client, store, start, start + 9, indexer_name=datagen.INDEXER_NAME,
                 backoff=0.01)
        results = EvmIngester(
            spark, client, store, start_block=start, backoff_base=0.01
        ).run_until_caught_up()
        assert [r.kind for r in results] == ["ingested", "ingested", "idle"]
        got = partials(store)
        want = direct_partials(store)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)
    assert got and all(hour_s % 3600 == 0 for _, hour_s, _, _ in got)
    assert got == want
