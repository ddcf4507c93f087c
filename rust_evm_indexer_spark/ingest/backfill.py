"""Executor-parallel historical backfill.

The reference syncs history 5 blocks per 10 s cycle (``src/main.rs:25``)
— fine for tip-following, hopeless for a 20M-block history.  The Spark
shape: distribute the block range across executors, fetch, normalize and
write *partition-parallel*, and land everything in one atomic store
commit:

    spark.range(start, end+1,            # contiguous height slices: one
                numPartitions=tasks)     # wave over every core
      .mapInArrow(_kernel)               # per task: headers through one
                                         # pool, receipts through one pool,
                                         # explode_batch (the tip cycle's
                                         # normalizer), one parquet part
                                         # per table into staging
      .collect()                         # (table, part, rows) reports
      → store.commit({table: [parts]})   # one manifest swap

One Spark job per chunk, its task count sized to the range and the
cluster: one wave over every core, and more tasks only to bound what one
task holds.  The kernel is a :func:`util.python_task`, so a reused
worker starts its next task without re-reading PySpark's zip archives
(about 0.2 s a task otherwise; SCALE.md, "Cost of one Python task").
The kernel fetches through the tip cycle's
:func:`commit.with_retry` (O-4) and :func:`commit.attach_receipts` (O-3)
and normalizes with the same :func:`normalize.explode_batch`, so both
paths write the same rows.  Only the parts that successful task attempts
report are committed; the staging prefixes, with whatever failed
attempts left there, are removed on every path out.  Spark task retries
are the backstop for RPC failures, and the store's idempotent commit
makes a re-run of the whole backfill a no-op.
"""

from __future__ import annotations

import math
from concurrent.futures import ThreadPoolExecutor
from functools import partial
from pathlib import Path

import pyarrow as pa
from pyspark.sql import SparkSession

from ..store import TableStore
from ..store.data_io import make_staging_rel
from ..store.table_store import write_arrow_part
from ..util import ensure_package_shipped, python_task
from .commit import MAX_RECEIPT_CONCURRENT, attach_receipts, with_retry
from .normalize import explode_batch as explode_raw  # the kernel's normalize step
from .rollup import ROLLUP_TABLE

TABLES = ("blocks", "transactions", "logs", ROLLUP_TABLE)
_REPORT = pa.schema([("table", pa.string()), ("part", pa.string()), ("rows", pa.int64())])
_REPORT_DDL = "table string, part string, rows long"

#: most heights one task fetches.  A task holds its raw blocks as Python
#: dicts until it normalizes them; a busy mainnet block (~200 txs, ~400
#: logs) is ~1 MB of them, so a worker stays near 256 MB.
MAX_BLOCKS_PER_TASK = 256


@python_task
def _kernel(batches, *, client, backoff: float, root: str, staging: dict[str, str]):
    """One task: fetch its heights, normalize them in one batch and
    write one part file per non-empty table; report each part (module
    level, so it ships to executors by reference)."""
    heights = [n for batch in batches for n in batch.column("id").to_pylist()]
    fetch = partial(with_retry, client.get_block_with_txs, backoff=backoff)
    with ThreadPoolExecutor(max_workers=MAX_RECEIPT_CONCURRENT) as pool:
        # in height order; an unserved height (None) fails backfill's row check
        raw = [b for b in pool.map(fetch, heights) if b is not None]
    raw = attach_receipts(client, raw, backoff=backoff)
    report = {"table": [], "part": [], "rows": []}
    for table, tbl in explode_raw(raw).items():
        if tbl.num_rows:
            part = write_arrow_part(Path(root) / staging[table], tbl)
            report["table"].append(table)
            report["part"].append(part.relative_to(root).as_posix())
            report["rows"].append(tbl.num_rows)
    yield pa.RecordBatch.from_pydict(report, schema=_REPORT)


def backfill(
    spark: SparkSession,
    client,
    store: TableStore,
    start_block: int,
    end_block: int,
    *,
    indexer_name: str = "evm_backfill",
    backoff: float = 0.05,
) -> dict[str, int]:
    """Fetch + normalize + commit a block range atomically.  Returns the
    rows this call committed per table (all 0 for a replay).
    Idempotent: txn watermark = end_block.  Raises, committing nothing,
    when the node does not serve every height of the range."""
    ensure_package_shipped(spark)
    staging = {t: make_staging_rel(t, "backfill") for t in TABLES}
    kernel = partial(
        _kernel, client=client, backoff=backoff, root=str(store.root), staging=staging
    )
    wanted = end_block - start_block + 1
    # one wave over every core; more tasks only past MAX_BLOCKS_PER_TASK
    tasks = max(min(wanted, spark.sparkContext.defaultParallelism),
                math.ceil(wanted / MAX_BLOCKS_PER_TASK))
    try:
        reports = (
            spark.range(start_block, end_block + 1, numPartitions=tasks)
            .mapInArrow(kernel, _REPORT_DDL)
            .collect()
        )
        parts = {t: [r["part"] for r in reports if r["table"] == t] for t in TABLES}
        rows = {t: sum(r["rows"] for r in reports if r["table"] == t) for t in TABLES}
        if rows["blocks"] != wanted:
            # a height the node did not serve: committing would
            # checkpoint end_block past the gap, and a resuming tip
            # ingester would skip the missing heights forever
            raise RuntimeError(
                f"backfill [{start_block}, {end_block}]: fetched {rows['blocks']} "
                f"of {wanted} blocks; nothing committed"
            )
        committed = store.commit(
            {t: p for t, p in parts.items() if p},
            status={
                "indexer_name": indexer_name,
                "last_processed_block": end_block,
                "chain_head_at_last_poll": end_block,
            },
            txn_app_id=indexer_name,
            txn_version=end_block,
        )
        return rows if committed else {t: 0 for t in TABLES}
    finally:
        for rel in staging.values():
            store._dio.delete_dir(rel)
