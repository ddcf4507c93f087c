"""Micro-batch ingest orchestration: poll → fetch → reorg-check →
normalize → atomic commit.

The batch re-expression of the reference's ingestion loop
(``src/main.rs:71-337``):

- O-1/O-2  head discovery + bounded range scan (``BLOCKS_PER_BATCH``);
- O-3      per-tx receipt enrichment, concurrency-bounded fan-out
           (ThreadPool(10) ≙ ``buffer_unordered(10)``) — connector I/O,
           like the reference's; :func:`attach_receipts` is the one
           enrichment, per batch after the tip cycle's reorg check and
           per task in backfill's executor kernel;
- O-4      retry with exponential backoff (3 attempts, base 2s defaults);
- O-5/O-6  normalize + explode (``normalize.explode_batch``: Arrow
           tables on the driver, no Spark job);
- O-7..O-9 atomic cross-table commit with the checkpoint *inside* the
           same manifest swap, idempotent on (app_id, last_block); the
           store writes the Arrow tables with pyarrow;
- O-10/O-11 parent-hash reorg detection (the stored parent hash comes
           from the Arrow serving tier's pruned point read) →
           rollback_from(fork height).

A steady ingest cycle therefore runs no Spark job; only a reorg's
rollback (and scheduled maintenance) rewrites through Spark.

Failure semantics mirror the reference (``src/main.rs:313-329``): any
error aborts the whole batch before the manifest swap, so the store never
holds a partial block; the next cycle retries from the checkpoint.
"""

from __future__ import annotations

import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import partial

import pyarrow.dataset as pa_ds
from pyspark.sql import SparkSession

from ..datagen import INDEXER_NAME
from ..serving import ArrowServing
from ..store import MaintenancePolicy, TableStore
from .normalize import explode_batch

# operating parameters, values per src/main.rs:24-29
POLL_INTERVAL_SECONDS = 10.0
BLOCKS_PER_BATCH = 5
MAX_RECEIPT_CONCURRENT = 10
FETCH_RETRIES = 3
BACKOFF_BASE_SECONDS = 2.0


def with_retry(fn, *args, backoff: float):
    """O-4: call ``fn(*args)``, retrying transient failures with
    exponential backoff (``src/main.rs:32-62``)."""
    last_exc: Exception | None = None
    for attempt in range(1, FETCH_RETRIES + 1):
        try:
            return fn(*args)
        except Exception as exc:  # noqa: BLE001 — connector boundary
            last_exc = exc
            if attempt < FETCH_RETRIES:
                time.sleep(backoff * 2 ** (attempt - 1))
    raise last_exc


def attach_receipts(client, blocks: list[dict], *, backoff: float) -> list[dict]:
    """O-3: ``blocks`` with every transaction's receipt attached; the
    receipts of all of them fan out over one bounded pool
    (``buffer_unordered(10)``, ``src/main.rs:204-227``).  A missing
    receipt leaves status/logs NULL (LEFT OUTER)."""
    fetch = partial(with_retry, client.get_transaction_receipt, backoff=backoff)
    hashes = [t["hash"] for b in blocks for t in b.get("transactions") or []]
    with ThreadPoolExecutor(max_workers=MAX_RECEIPT_CONCURRENT) as pool:
        receipts = iter(list(pool.map(fetch, hashes)))
    return [
        {**b, "transactions": [
            {**t, "receipt": next(receipts)} for t in b.get("transactions") or []
        ]}
        for b in blocks
    ]


@dataclass
class CycleResult:
    kind: str  # "idle" | "ingested" | "reorg"
    from_block: int | None = None
    to_block: int | None = None
    rollback_from: int | None = None
    maintained: dict | None = None  # maintain_store() report, if run


class EvmIngester:
    def __init__(
        self,
        spark: SparkSession,
        client,
        store: TableStore,
        *,
        start_block: int,
        indexer_name: str = INDEXER_NAME,
        backoff_base: float = BACKOFF_BASE_SECONDS,
        maintenance_policy: MaintenancePolicy | None = None,
        maintain_every: int = 8,
    ):
        if maintain_every < 1:
            raise ValueError("maintain_every must be >= 1")
        self.spark = spark
        self.client = client
        self.store = store
        self.start_block = start_block
        self.indexer_name = indexer_name
        self.backoff_base = backoff_base
        #: scheduled store maintenance: every ``maintain_every``-th
        #: ingesting cycle runs :meth:`TableStore.maintain_store` with
        #: this policy — streaming ingest writes one fragment per batch,
        #: and without compaction small queries pay scan cost ∝ fragment
        #: count.  It runs inside the cycle, so never concurrently with
        #: an ingest commit (single writer, like the reference's one
        #: ingester task).  None = caller owns maintenance.
        self.maintenance_policy = maintenance_policy
        self.maintain_every = maintain_every
        self._cycles_since_maintain = 0
        # the parent-hash check's point read; unbounded, because a
        # height prunes to the few fragments whose block range holds it
        self._serving = ArrowServing(store, max_fragments=sys.maxsize)

    # -- checkpoint helpers ------------------------------------------------

    def last_processed(self) -> int | None:
        status = self.store.read_status()
        if status and status.get("indexer_name") == self.indexer_name:
            return status.get("last_processed_block")
        return None

    def _status(self, last: int, head: int) -> dict:
        return {
            "indexer_name": self.indexer_name,
            "last_processed_block": last,
            "chain_head_at_last_poll": head,
        }

    # -- the cycle (src/main.rs:71-337) -----------------------------------

    def run_cycle(self) -> CycleResult:
        head = with_retry(self.client.get_block_number, backoff=self.backoff_base)  # O-1
        last = self.last_processed()
        if last is None:
            last = self.start_block - 1
        if last >= head:
            return CycleResult("idle")  # caught up; caller sleeps

        # O-2: bounded range scan, kept to its longest linked prefix: a
        # reorg or a missing block between two fetches of this batch ends
        # it there, and the next cycle's parent check sees the fork
        batch: list[dict] = []
        for n in range(last + 1, min(last + BLOCKS_PER_BATCH, head) + 1):
            block = with_retry(
                self.client.get_block_with_txs, n, backoff=self.backoff_base
            )
            if block is None or (
                batch and block["parent_hash"].lower() != batch[-1]["hash"].lower()
            ):
                break
            batch.append(block)
        if not batch:
            return CycleResult("idle")

        # O-10: reorg detection — compare the first new block's parent_hash
        # with the stored hash at its parent height (src/main.rs:166-189).
        stored_parent = self._stored_hash_at(last)
        if stored_parent is not None and stored_parent != batch[0]["parent_hash"].lower():
            # O-11: the stored parent is not canonical → retract it (and
            # everything above) in one atomic swap; checkpoint steps back
            # so the next cycle re-ingests from the fork. Deep reorgs
            # resolve iteratively, one parent-step per cycle.
            self.store.rollback_from(last, status=self._status(last - 1, head))
            return CycleResult("reorg", rollback_from=last)

        # O-3: receipts only for blocks this cycle commits
        batch = attach_receipts(self.client, batch, backoff=self.backoff_base)
        to_block = batch[-1]["number"]

        # O-5/O-6 normalize (+ the rollup partials)
        tables = explode_batch(batch)

        # O-7/O-8/O-9: one atomic manifest swap for data + checkpoint;
        # idempotent under crash-replay via the txn watermark.
        self.store.commit(
            tables,
            status=self._status(to_block, head),
            txn_app_id=self.indexer_name,
            txn_version=to_block,
        )
        maintained = None
        if self.maintenance_policy is not None:
            self._cycles_since_maintain += 1
            if self._cycles_since_maintain >= self.maintain_every:
                self._cycles_since_maintain = 0
                maintained = self.store.maintain_store(self.maintenance_policy)
        return CycleResult(
            "ingested",
            from_block=batch[0]["number"],
            to_block=to_block,
            maintained=maintained,
        )

    def _stored_hash_at(self, height: int) -> str | None:
        rows = self._serving._scan(
            "blocks",
            pa_filter=pa_ds.field("block_number") == height,
            columns=["block_hash"],
            min_block=height,
            max_block=height,
            stop_after=1,
        )
        return rows[0]["block_hash"] if rows else None

    def run_until_caught_up(self, max_cycles: int = 100) -> list[CycleResult]:
        """Drive cycles until idle (test/backfill helper; the streaming
        wrapper adds the 10 s trigger cadence)."""
        out: list[CycleResult] = []
        for _ in range(max_cycles):
            res = self.run_cycle()
            out.append(res)
            if res.kind == "idle":
                break
        return out
