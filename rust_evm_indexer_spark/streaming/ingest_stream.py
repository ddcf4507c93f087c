"""Structured-Streaming wrapper for the EVM ingest loop.

The reference's ingester is a ``tokio`` task polling every 10 s
(``src/main.rs:24,71-337``).  Its Spark shape (SURVEY.md §1.4): a
Structured Streaming query whose *trigger* provides the poll cadence and
whose ``foreachBatch`` hook runs one ingest cycle — head discovery, range
scan, receipt fan-out, reorg check, atomic commit — against the table
store.  The rate source is a metronome only; offsets/data come from the
chain client, and exactly-once is owned by the store's idempotent
manifest commits (a replayed epoch re-runs a cycle whose txn watermark
makes it a no-op).

Why not a custom streaming Source?  A DataSourceV2 stream source would
bind the chain to Spark's offset log, but the reference's semantics pin
the checkpoint to the *store* (same transaction as the data), which is
strictly stronger than a source-side offset log (no dual-commit problem).
The rate-trigger + foreachBatch shape preserves that while still giving
operators the StreamingQuery lifecycle (start/stop/status/await).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..ingest.commit import POLL_INTERVAL_SECONDS, CycleResult, EvmIngester


class IngestStream:
    """Run an :class:`EvmIngester` on a Structured-Streaming trigger: each
    tick runs one cycle and appends its :class:`CycleResult` to
    ``results``.  Scheduled maintenance is the ingester's
    (``maintenance_policy``), so its reports ride in
    ``CycleResult.maintained``."""

    def __init__(
        self,
        spark: SparkSession,
        ingester: EvmIngester,
        *,
        poll_interval_seconds: float = POLL_INTERVAL_SECONDS,
    ):
        self.spark = spark
        self.ingester = ingester
        self.poll_interval_seconds = poll_interval_seconds
        self.results: list[CycleResult] = []
        self._query: StreamingQuery | None = None

    def _tick(self, _batch_df, _epoch_id: int) -> None:
        self.results.append(self.ingester.run_cycle())

    def start(self) -> StreamingQuery:
        """Begin polling at the configured cadence
        (``Trigger.ProcessingTime`` ≙ ``POLL_INTERVAL_SECONDS``)."""
        self._query = (
            self.spark.readStream.format("rate")
            .option("rowsPerSecond", 1)
            .load()
            .writeStream.trigger(
                processingTime=f"{self.poll_interval_seconds} seconds"
            )
            .foreachBatch(self._tick)
            .queryName("evm_ingest_stream")
            .start()
        )
        return self._query

    def stop(self) -> None:
        if self._query is not None:
            self._query.stop()
            self._query = None

    def await_cycles(self, n: int, timeout_seconds: float = 60.0) -> list[CycleResult]:
        """Block until at least ``n`` cycles ran (test/ops helper)."""
        import time

        deadline = time.monotonic() + timeout_seconds
        while len(self.results) < n and time.monotonic() < deadline:
            time.sleep(0.05)
        return list(self.results)
