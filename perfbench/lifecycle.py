"""``index_lifecycle``: backfill a seeded history, tip-follow a reorging chain,
and time how soon each revealed block is served over REST.

Shape: the chain generator runs in its own process and serves the engine's
JSON-RPC connector.  The history is backfilled in ``CHUNKS`` chunks through
``ingest.backfill.backfill``.  One ``EvmIngester`` then runs ``run_cycle``
back to back (pausing ``IDLE_PAUSE_S`` only after an idle cycle); one
untimed cycle takes the block the backfill left over, so the ingest path is
warm.  The tip phase is a fixed sequence of rounds (``ROUNDS``), repeated
while another fits in ``--seconds`` (at least once): a round reveals
``ADVANCE`` blocks at once, or replaces the top 1 or 2 blocks with a
competing branch and reveals the next block on it (a reorg of ingested
blocks, which the ingester must roll back one parent step per cycle).
The next round starts when the ingester has caught up, so every run does
the same ingest and rollback work: revealing on a fixed clock instead left
5 or so commits per window, each landing at a random phase, and the p50
swung 20-40% between seeds.
A client process polls ``GET /block/{n}`` for every revealed block and
sends a thin open-loop mix of ``/logs``, ``/transaction`` and ``/stats``
reads over the settled history.

End-to-end metrics: ``op_p50_ms``/``op_tail_ms`` are the p50/p90 freshness
(reveal to the first ``GET /block/{n}`` that returns the revealed hash; the
p50 falls among the plain reveals, the p90 among the deeper reorg's);
``bulk_job_s`` is the median wall time of the backfill chunks.  The read
mix runs for ``--seconds``; the rounds repeat while another pass of them
fits in that time, and run once in full in any case.
"""

from __future__ import annotations

import random
import statistics
import threading
import time

from . import common as cm
from .chain import COLUMNS, START_BLOCK, ChainPlan, ChainProcess
from .load import POLL_INTERVAL_S, Req, client_main

CHUNKS = 5  # the first pays the Python workers' start; the median skips it
CHUNK_BLOCKS = 60
ADVANCE = 4  # blocks a plain round reveals (one ingest cycle takes up to 5)
#: reorg depth of each round, 0 = plain.  A plain round first and between
#: reorgs, so every reorg rewrites part of one tip fragment, never a
#: backfilled one: the rollback work is the same in every run.
ROUNDS = (0, 1, 0, 2)
READ_RATE = 4.0  # thin read mix, requests per second
IDLE_PAUSE_S = 0.05
POLL_GRACE_S = 4 * POLL_INTERVAL_S
SETUPS = 2
ROUND_TIMEOUT_S = 30.0
TAIL_PCT = 90


def _read_mix(seed: int, seconds: float, history: dict) -> list[Req]:
    """Reads of the history, which no round reorgs: ``POST /logs`` by
    address in a block window and by topic0 in a window,
    ``GET /transaction/{hash}``, and ``GET /stats``, whose answer moves
    with the ingest and is checked after the run."""
    rng = random.Random(f"reads:{seed}")
    logs = cm.LogIndex(history["logs"])
    contracts = sorted({r[6] for r in history["logs"]})
    topic0s = sorted({r[8] for r in history["logs"]})
    hi_block = START_BLOCK + CHUNKS * CHUNK_BLOCKS - 1
    txs = [r for r in history["transactions"] if r[1] <= hi_block]
    out = []
    for i in range(int(READ_RATE * seconds)):
        lo = rng.randint(START_BLOCK, hi_block - 100)
        kind = rng.choices(("logs", "topic0", "tx", "stats"), (4, 3, 2, 1))[0]
        if kind == "tx":
            row = rng.choice(txs)
            out.append(Req(i / READ_RATE, kind, "GET", f"/transaction/{row[0]}", None,
                           cm.tx_json(row)))
            continue
        if kind == "stats":
            out.append(Req(i / READ_RATE, kind, "GET", "/stats", None, None))
            continue
        if kind == "logs":
            body = {"address": rng.choice(contracts), "fromBlock": lo, "toBlock": lo + 100,
                    "pageSize": 25}
        else:
            body = {"topic0": rng.choice(topic0s), "fromBlock": lo, "toBlock": lo + 50,
                    "pageSize": 50}
        out.append(Req(i / READ_RATE, "logs", "POST", "/logs", body, logs.page(body)))
    return out


def _stats_ok(got: dict, history: dict, dump: dict) -> bool:
    """A ``/stats`` answer taken while blocks were being ingested: every
    total between the history's and the final chain's (a reorg can retract
    rows, so the final is not a ceiling for a mid-run answer: the ceiling
    adds the orphaned blocks' rows), and the lag consistent with the
    checkpoint and head it reports."""
    if set(got) != {"totalBlocks", "totalTransactions", "totalLogs",
                    "lastProcessedBlock", "chainHead", "ingestionLag"}:
        return False
    for key, table in (("totalBlocks", "blocks"), ("totalTransactions", "transactions"),
                       ("totalLogs", "logs")):
        ceiling = len(dump["tables"][table]) + dump["orphaned_rows"][table]
        if not len(history[table]) <= got[key] <= ceiling:
            return False
    return got["ingestionLag"] == got["chainHead"] - got["lastProcessedBlock"] >= 0


def _store_matches_chain(ctx: cm.Ctx, store, dump: dict) -> None:
    """After the last reorg: the store equals the canonical chain (per-table
    row count and content), the checkpoint is the head, and no block hash
    of an orphaned branch remains in any table."""
    orphaned = {r[0] for r in dump["orphaned_blocks"]}
    for table, cols in COLUMNS.items():
        want = sorted(tuple(r) for r in dump["tables"][table])
        got = sorted(tuple(r) for r in store.read(table).select(*cols).collect())
        ctx.check(len(got) == len(want), f"{table}: {len(got)} rows, chain has {len(want)}")
        ctx.check(got == want, f"{table}: content differs from the canonical chain")
        hash_col = cols.index("block_hash")
        stale = sum(1 for r in got if r[hash_col] in orphaned)
        ctx.check(stale == 0, f"{table}: {stale} rows of orphaned blocks")
    status = store.read_status() or {}
    ctx.check(status.get("last_processed_block") == dump["head"],
              f"checkpoint {status.get('last_processed_block')} != head {dump['head']}")


def run(ctx: cm.Ctx) -> tuple[dict, dict | None]:
    import multiprocessing as mp

    from rust_evm_indexer_spark.datagen import INDEXER_NAME
    from rust_evm_indexer_spark.ingest import EvmIngester
    from rust_evm_indexer_spark.ingest import backfill as bf
    from rust_evm_indexer_spark.sources.rpc_http import HttpRpcClient
    from rust_evm_indexer_spark.store import TableStore

    # one history block more than the backfill covers: the ingester's first
    # (cold) cycle takes it before the clock runs
    plan = ChainPlan(seed=ctx.seed, history=CHUNKS * CHUNK_BLOCKS + 1)
    ctx.start_spark()

    chain = server = None
    stop = threading.Event()
    try:
        # -- set-up, timed several times: generator process + chain, empty
        #    store, REST server; the last one is used
        setup_times = []
        for i in range(SETUPS):
            for old in (chain, server):
                if old is not None:
                    old.close()
            t0 = time.perf_counter()
            chain = ChainProcess(plan)
            store = TableStore(ctx.spark, ctx.work / f"store{i}")
            server = cm.ApiServer(store)
            history = chain.call("bench_dump")["tables"]
            setup_times.append(time.perf_counter() - t0)
        setup_s = ctx.session_s + statistics.median(setup_times)
        client = HttpRpcClient(chain.url)
        reads = _read_mix(ctx.seed, ctx.seconds, history)
        ctx.log(f"set up in {setup_s:.2f}s")

        # -- backfill the history in chunks (the bulk job)
        chunk_s = []
        for c in range(CHUNKS):
            lo = START_BLOCK + c * CHUNK_BLOCKS
            t0 = time.perf_counter()
            bf.backfill(ctx.spark, client, store, lo, lo + CHUNK_BLOCKS - 1,
                        indexer_name=INDEXER_NAME)
            chunk_s.append(time.perf_counter() - t0)
        ctx.check(store.read_status()["last_processed_block"] == lo + CHUNK_BLOCKS - 1,
                  "backfill checkpoint")
        ctx.log("backfilled")

        # -- tip-follow: rounds of reveals and reorgs while the client
        #    polls and reads
        ingester = EvmIngester(ctx.spark, client, store, start_block=START_BLOCK)
        ctx.check(ingester.run_cycle().kind == "ingested", "warm-up cycle")
        if ctx.tracer is not None:
            ctx.tracer.named("ingest.cycle")[-1].tag = "warm-up"  # not a tip cycle
        cycles: list[tuple[str, float]] = []  # (kind, monotonic start)
        errors: list[BaseException] = []

        def ingest_loop():
            try:
                while not stop.is_set():
                    started = time.monotonic()
                    kind = ingester.run_cycle().kind
                    cycles.append((kind, started))
                    if kind == "idle":
                        stop.wait(IDLE_PAUSE_S)
            except BaseException as exc:  # noqa: BLE001 — reported as a failed run
                errors.append(exc)

        def caught_up_since(t: float) -> bool:
            """An idle cycle that started after ``t`` saw the store at the head."""
            return any(k == "idle" and s > t for k, s in reversed(cycles))

        pctx = mp.get_context("spawn")
        conn, child = pctx.Pipe()
        t_start = time.monotonic() + 1.0  # the client process starts meanwhile
        reader = pctx.Process(target=client_main,
                              args=(child, server.url, reads, t_start, 2, chain.url),
                              daemon=True)
        reader.start()
        child.close()
        loop = threading.Thread(target=ingest_loop, daemon=True)
        loop.start()
        time.sleep(max(0.0, t_start - time.monotonic()))
        t_end = t_start + ctx.seconds
        round_s: list[float] = []
        while not round_s or time.monotonic() + sum(round_s) / len(round_s) * len(ROUNDS) <= t_end:
            for depth in ROUNDS:
                t_call = time.monotonic()
                chain.call("bench_round", 1 if depth else ADVANCE, depth)
                t0 = time.monotonic()  # a cycle starting from here sees the new head
                while not caught_up_since(t0) and not errors:
                    if time.monotonic() > t0 + ROUND_TIMEOUT_S:
                        raise RuntimeError(f"ingester did not catch up within {ROUND_TIMEOUT_S}s")
                    time.sleep(0.01)
                # the poller sees this round's blocks before a reorg can replace them
                time.sleep(POLL_GRACE_S)
                round_s.append(time.monotonic() - t_call)
        stop.set()
        loop.join(timeout=60)
        conn.send("stop")
        records = conn.recv()
        reader.join(timeout=30)
        conn.close()
        if errors:
            raise errors[0]
        ctx.log(f"tip rounds (s): {[round(r, 2) for r in round_s]}")

        # -- checks and metrics
        dump = chain.call("bench_dump")
        rpc_stats = chain.call("bench_stats")
        all_blocks = {r[0]: r for r in dump["tables"]["blocks"] + dump["orphaned_blocks"]}
        fresh = []
        for r in records:
            if r["kind"] == "block_poll" and r["ok"] and r["fresh_s"] is None:
                continue  # not indexed yet: 404 or the replaced branch, both correct
            if r.get("got") is not None:
                row = all_blocks.get(r["got"]["blockHash"])
                r["ok"] = row is not None and r["got"] == cm.block_json(row)
                fresh.append(r["fresh_s"])
            if r["kind"] == "stats" and r["ok"]:
                r["ok"] = _stats_ok(r["answer"], history, dump)
            ctx.check(r["ok"], f"{r['kind']} request: status {r['status']}")
        ctx.log(f"freshness (s): {sorted(round(f, 2) for f in fresh)}")
        ctx.log(f"cycles: {[(k, round(t - t_start, 2)) for k, t in cycles if k != 'idle']}")
        ctx.log(f"backfill chunks (s): {[round(c, 2) for c in chunk_s]}")
        tip = {r[0] for r in dump["tables"]["blocks"] if r[1] >= START_BLOCK + plan.history}
        unserved = tip - {r["got"]["blockHash"] for r in records if r.get("got")}
        ctx.check(not unserved, f"{len(unserved)} revealed canonical blocks never served")
        revealed = len(chain.call("bench_reveals", 0))
        _store_matches_chain(ctx, store, dump)
        ctx.log("checked")

        e2e = {
            "setup_s": setup_s,
            "op_p50_ms": 1000 * cm.pct(fresh, 50),
            "op_tail_ms": 1000 * cm.pct(fresh, TAIL_PCT),
            "bulk_job_s": statistics.median(chunk_s),
        }
        layers = None
        if ctx.trace:
            ingested_blocks = plan.history + revealed
            calls = sum(v for k, v in rpc_stats["calls"].items() if k.startswith("eth_"))
            ctx.log("Spark jobs per ingested cycle: "
                    f"{[s.job1 - s.job0 for s in ctx.tracer.named('ingest.cycle', 'ingested')]}")
            mix = [r for r in records if r["kind"] != "block_poll"]
            layers = cm.layer_metrics(
                ctx, op_spans=ctx.tracer.named("ingest.cycle", "ingested"), e2e=e2e, store=store,
                user_bytes=_user_bytes(dump),
                rpc={"calls_per_block": calls / ingested_blocks, "busy_s": rpc_stats["busy_s"],
                     "late_ms": 1000 * max(r["handed"] - r["due"] for r in mix)},
                client=records)
        return e2e, layers
    finally:
        stop.set()
        for part in (server, chain):
            if part is not None:
                part.close()


def _user_bytes(dump: dict) -> int:
    return sum(len(str(v)) for rows in dump["tables"].values() for r in rows
               for v in r if v is not None)
