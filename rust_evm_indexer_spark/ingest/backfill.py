"""Executor-parallel historical backfill.

The reference syncs history 5 blocks per 10 s cycle (``src/main.rs:25``)
— fine for tip-following, hopeless for a 20M-block history.  The Spark
shape: distribute the block range across executors, fetch + enrich
*partition-parallel* through the chain client, and land everything in one
atomic store commit:

    spark.range(start, end+1)            # block numbers, no data motion
      .repartition(fetch_partitions)     # fan out across executors
      .mapInPandas(fetch_kernel)         # RPC fan-out per partition
      → from_json(RAW_BLOCK_SCHEMA)      # JVM-side parse to nested rows
      → explode_raw(...)                 # the same normalize plan as
                                         # streaming ingest
      → store.commit(...)                # one manifest swap

The connector crosses the Python boundary as a JSON string column —
Arrow-batched both ways, parsed by Spark's ``from_json`` (codegen), so
the slow path is exactly the network I/O and nothing else.  The kernel
fetches each block through the same :func:`commit.fetch_block` as the
tip cycle (O-3/O-4: bounded receipt fan-out, retry with backoff).

Each executor retries transient RPC failures (exponential backoff);
Spark task retries are the backstop, and the store's idempotent commit
makes a re-run of the whole backfill a no-op.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..store import TableStore
from .commit import fetch_block
from .normalize import RAW_BLOCK_SCHEMA, explode_raw


def _make_fetch_kernel(client, backoff: float):
    """Build the per-partition fetch kernel (client is pickled to
    executors; a production client opens its HTTP session lazily)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[str] = []
            numbers: list[int] = []
            for n in pdf["id"]:
                raw = fetch_block(client, int(n), backoff=backoff)
                if raw is None:
                    continue
                numbers.append(int(n))
                out.append(json.dumps(raw))
            yield pd.DataFrame({"number": numbers, "raw_json": out})

    return kernel


def fetch_range(
    spark: SparkSession,
    client,
    start_block: int,
    end_block: int,
    *,
    fetch_partitions: int = 8,
    backoff: float = 0.05,
) -> DataFrame:
    """Raw nested frame for [start_block, end_block], fetched
    executor-parallel.  Lazy: nothing is fetched until an action runs."""
    from ..util import ensure_package_shipped

    ensure_package_shipped(spark)
    kernel = _make_fetch_kernel(client, backoff)
    fetched = (
        spark.range(start_block, end_block + 1)
        .repartition(fetch_partitions)
        .mapInPandas(kernel, schema="number long, raw_json string")
    )
    return fetched.select(
        F.from_json("raw_json", RAW_BLOCK_SCHEMA).alias("b")
    ).select("b.*")


def backfill(
    spark: SparkSession,
    client,
    store: TableStore,
    start_block: int,
    end_block: int,
    *,
    indexer_name: str = "evm_backfill",
    fetch_partitions: int = 8,
    backoff: float = 0.05,
) -> dict[str, int]:
    """Fetch + normalize + commit a block range atomically.  Returns row
    counts per table.  Idempotent: txn watermark = end_block.  Raises,
    committing nothing, when the node does not serve every height of
    the range.

    The raw frame is persisted and materialized ONCE before the 4-table
    fan-out: ``store.commit`` runs one Spark action per table, and
    without the pin each action would re-run the RPC fetch kernel (4-5×
    the network cost — and, against a live chain, each table could
    materialize from a *different* chain snapshot, silently breaking the
    cross-table consistency the single manifest swap guarantees)."""
    from pyspark.storagelevel import StorageLevel

    raw = fetch_range(
        spark,
        client,
        start_block,
        end_block,
        fetch_partitions=fetch_partitions,
        backoff=backoff,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        fetched = raw.count()  # force the single materialized fetch
        wanted = end_block - start_block + 1
        if fetched != wanted:
            # a height the node did not serve: committing would
            # checkpoint end_block past the gap, and a resuming tip
            # ingester would skip the missing heights forever
            raise RuntimeError(
                f"backfill [{start_block}, {end_block}]: fetched {fetched} "
                f"of {wanted} blocks; nothing committed"
            )
        tables = explode_raw(raw)
        from .rollup import ROLLUP_TABLE, rollup_partials

        tables[ROLLUP_TABLE] = rollup_partials(tables["logs"], tables["blocks"])
        committed = store.commit(
            tables,
            status={
                "indexer_name": indexer_name,
                "last_processed_block": end_block,
                "chain_head_at_last_poll": end_block,
            },
            txn_app_id=indexer_name,
            txn_version=end_block,
        )
        if not committed:
            return {t: 0 for t in tables}
        return {t: store.table_rows(t) for t in tables}
    finally:
        raw.unpersist()
