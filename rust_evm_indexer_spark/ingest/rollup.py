"""Continuous aggregate: an incrementally-maintained hourly log rollup
(the hypertable/TimescaleDB "continuous aggregate" shape, rebuilt on the
delta-store model).

Every ingest batch appends *partial* aggregate rows at
``(block_number, hour_ts, contract_address, topic0)`` granularity to a
``log_rollup`` store table — same atomic manifest swap as the base
tables.  The partials are computed beside the batch's normalize
(:func:`rollup_partials`, Arrow, on the driver for the tip cycle and in
the backfill kernel on executors); hours are epoch-aligned UTC
(``ts - ts % 3600``), independent of any session time zone.  Queries
aggregate the partials (cheap: the rollup is orders of magnitude smaller
than ``logs``).  Two properties fall out for free:

- **reorg correctness**: partials carry ``block_number``, so the store's
  ``rollback_from(height)`` retracts exactly the contributions of
  retracted blocks — no recompute, no invalidation bookkeeping;
- **no read-modify-write**: maintenance is append-only (merge happens at
  query time, or during :meth:`TableStore.compact`), so ingest never
  rewrites rollup state and the continuous aggregate scales with batch
  size, not table size.
"""

from __future__ import annotations

from collections import Counter

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..schemas import LOG_ROLLUP

ROLLUP_TABLE = "log_rollup"
_ARROW_SCHEMA = to_arrow_schema(LOG_ROLLUP)


def rollup_partials(logs: pa.Table, blocks: pa.Table) -> pa.Table:
    """Per-batch partial aggregates.  ``logs`` lacks a timestamp, so the
    hour comes from the batch's own blocks, keyed by block hash."""
    hour_of = {
        h: ts - ts % 3600
        for h, ts in zip(blocks["block_hash"].to_pylist(), blocks["timestamp"].to_pylist())
    }
    counts = Counter(
        zip(
            logs["block_number"].to_pylist(),
            [hour_of[h] for h in logs["block_hash"].to_pylist()],
            logs["contract_address"].to_pylist(),
            logs["topic0"].to_pylist(),
        )
    )
    number, hour, contract, topic0 = zip(*counts) if counts else ((),) * 4
    return pa.table(
        [number, [h * 1_000_000 for h in hour], contract, topic0, list(counts.values())],
        schema=_ARROW_SCHEMA,
    )


def read_rollup(store, *, min_block: int | None = None, max_block: int | None = None) -> DataFrame:
    """The merged continuous aggregate: (hour, contract, topic0) → counts."""
    partials = store.read(ROLLUP_TABLE, min_block=min_block, max_block=max_block)
    return (
        partials.groupBy("hour_ts", "contract_address", "topic0")
        .agg(F.sum("n_logs").alias("n_logs"))
    )
