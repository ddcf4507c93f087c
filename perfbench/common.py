"""Pieces the workloads share: the Spark session, the REST server, the
answers the REST API must give (computed from the generated rows, never by
the engine), percentiles, and the per-layer report."""

from __future__ import annotations

import bisect
import math
import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

from . import trace as tr
from .chain import COLUMNS

CPUS = min(4, os.cpu_count() or 4)


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile ``q`` (0-100) of a non-empty list."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


@dataclass
class Ctx:
    """One run: arguments, its private work directory, the optional tracer."""

    seed: int
    seconds: float
    trace: bool
    work: Path  # private to this run, removed at exit
    spark: object = None
    tracer: tr.Tracer | None = None
    session_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    t0: float = field(default_factory=time.monotonic)

    def log(self, what: str) -> None:
        """Progress line on stderr (stdout carries only the result)."""
        print(f"[perfbench {time.monotonic() - self.t0:7.2f}s] {what}", file=sys.stderr,
              flush=True)

    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation, and it as failed unless ``ok``."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    def start_spark(self) -> None:
        conf = {}
        if self.trace:
            log_dir = self.work / "eventlog"
            log_dir.mkdir()
            conf = {"spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": log_dir.as_uri(),
                    "spark.eventLog.compress": "false"}
        from rust_evm_indexer_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=CPUS, extra_conf=conf)
        self.session_s = time.perf_counter() - t0
        if self.trace:
            self.tracer = tr.Tracer(self.spark)
            instrument(self.tracer)

    def job_metrics(self) -> tr.JobMetrics:
        """Stop Spark (flushing its event log) and read per-job metrics."""
        self.spark.stop()
        return tr.read_event_log(self.work / "eventlog")


def instrument(t: tr.Tracer) -> None:
    """Spans around the engine's public functions, patched where callers
    look them up.  The wrappers pass arguments and results through."""
    from rust_evm_indexer_spark import api, operators, serving
    from rust_evm_indexer_spark.ingest import backfill, commit, rollup
    from rust_evm_indexer_spark.store.table_store import TableStore

    t.wrap(commit.EvmIngester, "run_cycle", "ingest.cycle", jobs=True, tag=lambda r: r.kind)
    t.wrap(backfill, "backfill", "ingest.backfill", jobs=True)
    t.wrap(commit, "explode_batch", "ingest.normalize")
    t.wrap(backfill, "explode_raw", "ingest.normalize")
    t.wrap(rollup, "rollup_partials", "ingest.rollup")
    t.wrap(TableStore, "commit", "store.commit", jobs=True)
    t.wrap(TableStore, "rollback_from", "store.rollback")
    t.wrap(TableStore, "prune_fragments", "store.prune")
    t.wrap(TableStore, "fragments_for", "store.fragments_for")
    t.wrap(TableStore, "read_status", "store.read_status")
    t.wrap(serving.ArrowServing, "get_logs_page", "serving.logs")
    t.wrap(serving.ArrowServing, "get_block", "serving.block")
    t.wrap(serving.ArrowServing, "get_transaction", "serving.tx")
    t.wrap(api.EvmApi, "post_logs", "api.logs", jobs=True)
    t.wrap(api.EvmApi, "get_block", "api.block", jobs=True)
    t.wrap(api.EvmApi, "get_transaction", "api.tx", jobs=True)
    t.wrap(api.EvmApi, "get_stats", "api.stats", jobs=True)
    # the Spark route the API falls back to when the Arrow tier declines a
    # request (names imported into api.py)
    t.wrap(api, "run_get_logs_from_store", "operators.spark_route")
    t.wrap(api, "get_block", "operators.spark_route")
    t.wrap(api, "get_transaction", "operators.spark_route")
    # ... and the same route's plan build where catalog entries call it
    t.wrap(operators, "get_logs_from_store", "operators.spark_route")


class ApiServer:
    """``create_app(EvmApi.from_store(store))`` on a localhost port."""

    def __init__(self, store):
        import logging

        from werkzeug.serving import make_server

        from rust_evm_indexer_spark.api import EvmApi, create_app

        logging.getLogger("werkzeug").setLevel(logging.ERROR)  # no per-request lines
        self.server = make_server("127.0.0.1", 0, create_app(EvmApi.from_store(store)),
                                  threaded=True)
        self.url = f"http://127.0.0.1:{self.server.server_port}"
        self._thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self._thread.start()

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self._thread.join(timeout=10)


# -- the answers the REST API must give ---------------------------------------


def camel(name: str) -> str:
    head, *rest = name.split("_")
    return head + "".join(w.capitalize() for w in rest)


BLOCK_KEYS = [camel(c) for c in COLUMNS["blocks"]]
TX_KEYS = [camel(c) for c in COLUMNS["transactions"]]
LOG_KEYS = ["id", "logIndex", "transactionHash", "transactionIndex", "blockNumber",
            "blockHash", "address", "data", "topic0", "topic1", "topic2", "topic3"]
MAX_PAGE = 100


def block_json(row) -> dict:
    return dict(zip(BLOCK_KEYS, row))


def tx_json(row) -> dict:
    return dict(zip(TX_KEYS, row))


class LogIndex:
    """The logs table in (block_number, id) order, with the page logic of
    ``POST /logs``: AND-ed filters, the block-hash override, keyset cursor
    or 1-based offset page, page size clamped to 1..100.  Rows are indexed
    by address, topic0 and block hash so a page costs O(log n + scanned)."""

    def __init__(self, log_rows: list[tuple]):
        rows = sorted((tuple(r) for r in log_rows), key=lambda r: (r[4], r[0]))
        by: dict[tuple[int, str], list[tuple]] = {}
        for r in rows:
            for col in (5, 6, 8):
                by.setdefault((col, r[col]), []).append(r)
        self._all = (rows, [(r[4], r[0]) for r in rows])
        self._by = {k: (v, [(r[4], r[0]) for r in v]) for k, v in by.items()}

    def _candidates(self, body: dict) -> tuple[list[tuple], list[tuple[int, int]]]:
        for col, key in ((5, "blockHash"), (6, "address"), (8, "topic0")):
            if body.get(key) is not None:
                value = body[key] if col == 8 else body[key].lower()
                return self._by.get((col, value), ([], []))
        return self._all

    def page(self, body: dict) -> dict:
        size = max(1, min(int(body.get("pageSize") or 25), MAX_PAGE))
        bh, addr = body.get("blockHash"), body.get("address")
        lo, hi = body.get("fromBlock"), body.get("toBlock")
        if bh is not None:
            lo = hi = None
        topics = [body.get(f"topic{i}") for i in range(4)]
        cursor = "cursorBlock" in body or "cursorLogId" in body
        cb, cl = body.get("cursorBlock") or 0, body.get("cursorLogId") or 0
        rows, keys = self._candidates(body)
        first = (lo, -1) if lo is not None else (-1, -1)
        if cursor:
            first = max(first, (cb, cl + 1))
        skip = 0 if cursor else (max(1, body.get("page") or 1) - 1) * size
        out = []
        for r in rows[bisect.bisect_left(keys, first):]:
            if hi is not None and r[4] > hi:
                break
            if addr is not None and r[6] != addr.lower():
                continue
            if any(t is not None and r[8 + i] != t for i, t in enumerate(topics)):
                continue
            out.append(r)
            if len(out) == skip + size:
                break
        page = [dict(zip(LOG_KEYS, r)) for r in out[skip:]]
        tail = page[-1] if page else None
        return {"logs": page,
                "nextCursorBlock": tail["blockNumber"] if tail else None,
                "nextCursorLogId": tail["id"] if tail else None}


# -- per-layer report -----------------------------------------------------------

#: every per-layer metric with its unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "ingest.cycle_p50_s": "s", "ingest.cycle_p99_s": "s",
    "ingest.cycles.ingested": "count", "ingest.cycles.reorg": "count",
    "ingest.cycles.idle": "count",
    "ingest.cycle_fetch_s": "s", "ingest.normalize_s": "s", "ingest.rollup_s": "s",
    "ingest.backfill_fetch_s": "s",
    "store.commit_p50_s": "s", "store.commit_p99_s": "s", "store.rollback_s": "s",
    "store.prune_s": "s", "store.read_status_s": "s",
    "store.fragments.blocks": "count", "store.fragments.transactions": "count",
    "store.fragments.logs": "count", "store.fragments.log_rollup": "count",
    "store.manifest_versions": "count", "store.bytes_per_user_byte": "ratio",
    "serving.logs_s": "s", "serving.block_s": "s", "serving.tx_s": "s",
    "serving.fallback_ratio": "ratio",
    "api.handler_s.logs": "s", "api.handler_s.block": "s", "api.handler_s.tx": "s",
    "api.handler_s.stats": "s", "api.http_overhead_ms": "ms",
    "api.client_p50_ms": "ms", "api.client_p99_ms": "ms",
    "operators.spark_route_s": "s",
    "catalog.build_s": "s", "catalog.exec_s": "s",
    "rpc.calls_per_block": "count", "rpc.server_busy_s": "s", "gen_late_ms": "ms",
    "spark.ops": "count", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes", "spark.gc_s": "s",
    "self_s.ingest": "s", "self_s.store": "s", "self_s.serving": "s", "self_s.api": "s",
    "self_s.operators": "s", "self_s.catalog": "s",
    "trace.spans": "count", "trace.overhead_ms": "ms",
    "traced.setup_s": "s", "traced.op_p50_ms": "ms", "traced.op_tail_ms": "ms",
    "traced.bulk_job_s": "s",
    "ops_failed_ratio": "ratio",
}


def _p(spans, q):
    return pct([s.duration for s in spans], q) if spans else 0.0


def layer_metrics(ctx: Ctx, *, op_spans, e2e: dict, store=None, user_bytes: int = 0,
                  rpc: dict | None = None, client: list[dict] | None = None,
                  catalog: tuple[float, float] = (0.0, 0.0)) -> dict[str, float]:
    """All per-layer metrics of a traced run.  A layer the workload never
    enters reads 0; ``op_spans`` are the spans Spark counts are divided by
    (one per tip ingest cycle or timed catalog entry)."""
    t = ctx.tracer
    spans = t.spans
    m: dict[str, float] = {}
    cycles = t.named("ingest.cycle")
    ingested = [s for s in cycles if s.tag == "ingested"]
    m["ingest.cycle_p50_s"] = _p(ingested, 50)
    m["ingest.cycle_p99_s"] = _p(ingested, 99)
    for kind in ("ingested", "reorg", "idle"):
        m[f"ingest.cycles.{kind}"] = sum(1 for s in cycles if s.tag == kind)
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    idx = {id(s): i for i, s in enumerate(spans)}

    def first_child_start(parent, name):
        kids = [c for c in children.get(idx[id(parent)], []) if c.name == name]
        return min((c.start for c in kids), default=None)

    m["ingest.cycle_fetch_s"] = sum(
        (first_child_start(s, "ingest.normalize") or s.end) - s.start for s in ingested)
    m["ingest.normalize_s"] = t.total("ingest.normalize")
    m["ingest.rollup_s"] = t.total("ingest.rollup")
    m["ingest.backfill_fetch_s"] = sum(
        (first_child_start(s, "ingest.normalize") or s.end) - s.start
        for s in t.named("ingest.backfill"))
    commits = t.named("store.commit")
    m["store.commit_p50_s"] = _p(commits, 50)
    m["store.commit_p99_s"] = _p(commits, 99)
    m["store.rollback_s"] = t.total("store.rollback")
    prune_ids = {i for i, s in enumerate(spans) if s.name == "store.prune"}
    m["store.prune_s"] = t.total("store.prune") + sum(
        s.duration for s in t.named("store.fragments_for") if s.parent not in prune_ids)
    m["store.read_status_s"] = t.total("store.read_status")
    stats = store.stats()["tables"] if store is not None else {}
    for table in ("blocks", "transactions", "logs", "log_rollup"):
        m[f"store.fragments.{table}"] = stats.get(table, {}).get("fragments", 0)
    m["store.manifest_versions"] = store.current_version() if store is not None else 0
    disk = sum(p.stat().st_size for p in store.root.rglob("*") if p.is_file()) if store else 0
    m["store.bytes_per_user_byte"] = disk / user_bytes if user_bytes else 0.0
    overhead_s = tr.calibrate_overhead(t)  # needs Spark for the job-id lookups
    jm = ctx.job_metrics()  # stops Spark: every store read is done by now
    logs_calls = t.named("serving.logs")
    m["serving.logs_s"] = t.total("serving.logs")
    m["serving.block_s"] = t.total("serving.block")
    m["serving.tx_s"] = t.total("serving.tx")
    m["serving.fallback_ratio"] = (
        sum(1 for s in logs_calls if s.tag == "ServingFallback") / len(logs_calls)
        if logs_calls else 0.0)
    for ep in ("logs", "block", "tx", "stats"):
        m[f"api.handler_s.{ep}"] = t.total(f"api.{ep}")
    # HTTP overhead: mean client time (sent to done) minus mean handler time,
    # over the handler spans that ran while the client was sending
    client = client or []
    if client:
        lo, hi = min(r["sent"] for r in client), max(r["done"] for r in client)
        handled = [s.duration for s in spans if s.name.startswith("api.")
                   and s.end is not None and lo <= s.start <= hi]
        m["api.http_overhead_ms"] = 1000 * (
            statistics.fmean(r["done"] - r["sent"] for r in client)
            - (statistics.fmean(handled) if handled else 0.0))
    else:
        m["api.http_overhead_ms"] = 0.0
    lat = [r["done"] - r["due"] for r in client]
    m["api.client_p50_ms"] = 1000 * pct(lat, 50) if lat else 0.0
    m["api.client_p99_ms"] = 1000 * pct(lat, 99) if lat else 0.0
    m["operators.spark_route_s"] = t.total("operators.spark_route")
    m["catalog.build_s"], m["catalog.exec_s"] = catalog
    rpc = rpc or {}
    m["rpc.calls_per_block"] = rpc.get("calls_per_block", 0.0)
    m["rpc.server_busy_s"] = rpc.get("busy_s", 0.0)
    m["gen_late_ms"] = rpc.get("late_ms", 0.0)
    sums = jm.sum_jobs(op_spans)
    n_ops = len(op_spans)
    m["spark.ops"] = n_ops
    for k in ("jobs",) + tr.JobMetrics.FIELDS:
        m[f"spark.{k}"] = sums[k] / n_ops if n_ops else 0.0
    self_times = tr.layer_self_times(spans)
    for layer in ("ingest", "store", "serving", "api", "operators", "catalog"):
        m[f"self_s.{layer}"] = self_times.get(layer, 0.0)
    m["trace.spans"] = len(spans)
    m["trace.overhead_ms"] = 1000 * overhead_s
    for k, v in e2e.items():
        m[f"traced.{k}"] = v
    m["ops_failed_ratio"] = ctx.failed / ctx.attempted if ctx.attempted else 0.0
    return m
