"""Seeded open-loop EVM chain served over Ethereum JSON-RPC from its own process.

The generator owns the chain: a seeded history that is visible from the
start, then tip rounds the benchmark asks for (``bench_round``): reveal a
few new blocks at once, or replace the top 1-3 blocks with a competing
branch (a reorg) and reveal the next block on it.  Every reveal is stamped
with ``time.monotonic()`` (CLOCK_MONOTONIC, shared by all processes on the
host), so the benchmark can time a block from the moment the chain shows
it to the moment the REST API serves it.

Blocks, transactions and receipts are indexed by key (height, tx hash) and
their wire JSON is encoded once, when the block is made, so the server does
O(1) work per call and never limits the indexer.  The server runs in one
process with a pool of at most ``workers`` threads; a listen backlog absorbs
bursts beyond that.

Besides the three ``eth_*`` methods the engine's ``HttpRpcClient`` calls,
the server answers ``bench_*`` methods for the benchmark itself: run a tip
round, list reveals, read server-side counters, and dump the canonical
chain (rows in the engine's normalized shape) plus every orphaned block,
for the end-of-run correctness check.
"""

from __future__ import annotations

import json
import random
import threading
import time
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, HTTPServer

START_BLOCK = 1_000_000
BASE_TS = 1_700_000_000
BLOCK_SECONDS = 12
MAX_TXS_PER_BLOCK = 12
# one hot contract in ~every block, a Zipf-ish tail of cold ones
N_CONTRACTS = 40
HOT_CONTRACT_SHARE = 0.5
TRANSFER_SIG = "0x" + "dd" * 32


def pack_log_id(block_number: int, tx_index: int, log_index: int) -> int:
    """The engine's documented log id: (block << 30) | (tx_index << 12) | log_index."""
    return (block_number << 30) | (tx_index << 12) | log_index


@dataclass(frozen=True)
class Pools:
    addresses: list[str]
    contracts: list[str]
    contract_weights: list[float]
    topic0s: list[str]

    @classmethod
    def for_seed(cls, seed: int) -> "Pools":
        rng = random.Random(f"pools:{seed}")
        contracts = [f"0x{rng.getrandbits(160):040x}" for _ in range(N_CONTRACTS)]
        tail = [1.0 / (i + 1) for i in range(N_CONTRACTS - 1)]
        scale = (1 - HOT_CONTRACT_SHARE) / sum(tail)
        return cls(
            addresses=[f"0x{rng.getrandbits(160):040x}" for _ in range(60)],
            contracts=contracts,
            contract_weights=[HOT_CONTRACT_SHARE] + [w * scale for w in tail],
            topic0s=[TRANSFER_SIG] + [f"0x{rng.getrandbits(256):064x}" for _ in range(6)],
        )


class Block:
    """One block: wire JSON for the RPC surface plus the rows the engine
    should store for it (its normalized ``blocks``/``transactions``/``logs``)."""

    __slots__ = ("number", "hash", "parent_hash", "wire", "receipts", "rows")

    def __init__(self, seed: int, pools: Pools, number: int, parent_hash: str, branch: int):
        rng = random.Random(f"block:{seed}:{number}:{branch}")
        h = lambda bits: rng.getrandbits(bits)  # noqa: E731
        self.number = number
        self.hash = f"0x{h(256):064x}"
        self.parent_hash = parent_hash
        ts = BASE_TS + BLOCK_SECONDS * (number - START_BLOCK)
        gas_limit = 30_000_000
        gas_used = rng.randint(0, gas_limit)
        base_fee = None if rng.random() < 0.05 else rng.randint(10**9, 10**11)
        wire_txs, tx_rows, log_rows = [], [], []
        self.receipts: dict[str, str] = {}
        # every block carries transactions and its first one logs (a busy
        # chain's tip), so a reorg of any block rewrites every table
        for ti in range(rng.randint(1, MAX_TXS_PER_BLOCK)):
            tx_hash = f"0x{h(256):064x}"
            legacy = rng.random() < 0.4
            status = None if rng.random() < 0.01 else (0 if rng.random() < 0.03 else 1)
            to = None if rng.random() < 0.02 else rng.choice(pools.addresses)
            frm = rng.choice(pools.addresses)
            value = rng.choice([0, 0, rng.randint(1, 10**19)])
            gas_price = rng.randint(10**9, 10**11) if legacy else None
            max_fee = None if legacy else rng.randint(10**9, 10**11)
            max_prio = None if legacy else rng.randint(10**8, 10**9)
            gas = rng.randint(21_000, 500_000)
            data_words = rng.randint(0, 3)
            calls = ti == 0 or rng.random() >= 0.4
            inp = f"0x{h(32 + 256 * data_words):0{8 + 64 * data_words}x}" if calls else "0x"
            wtx = {
                "hash": tx_hash, "transactionIndex": hex(ti), "from": frm,
                "to": to, "value": hex(value), "gas": hex(gas), "input": inp,
            }
            if legacy:
                wtx["gasPrice"] = hex(gas_price)
            else:
                wtx["maxFeePerGas"] = hex(max_fee)
                wtx["maxPriorityFeePerGas"] = hex(max_prio)
            wire_txs.append(wtx)
            tx_rows.append((
                tx_hash, number, self.hash, ti, frm, to, str(value),
                None if gas_price is None else str(gas_price),
                None if max_fee is None else str(max_fee),
                None if max_prio is None else str(max_prio),
                str(gas), inp, status,
            ))
            wire_logs = []
            for li in range(rng.randint(1 if ti == 0 else 0, 3) if calls else 0):
                topic0 = TRANSFER_SIG if rng.random() < 0.6 else rng.choice(pools.topic0s)
                topics = [topic0]
                for null_rate in (0.2, 0.4, 0.9):
                    if rng.random() < null_rate:
                        break
                    topics.append("0x" + rng.choice(pools.addresses)[2:].rjust(64, "0"))
                contract = rng.choices(pools.contracts, pools.contract_weights)[0]
                data = f"0x{h(256):064x}"
                wire_logs.append({
                    "logIndex": hex(li), "address": contract, "data": data, "topics": topics,
                })
                log_rows.append((
                    pack_log_id(number, ti, li), li, tx_hash, ti, number, self.hash,
                    contract, data, *(topics + [None] * (4 - len(topics))),
                ))
            receipt = {"transactionHash": tx_hash, "logs": wire_logs}
            if status is not None:
                receipt["status"] = hex(status)
            self.receipts[tx_hash] = json.dumps(receipt)
        wire = {
            "hash": self.hash, "number": hex(number), "parentHash": parent_hash,
            "timestamp": hex(ts), "gasUsed": hex(gas_used), "gasLimit": hex(gas_limit),
            "transactions": wire_txs,
        }
        if base_fee is not None:
            wire["baseFeePerGas"] = hex(base_fee)
        self.wire = json.dumps(wire)
        self.rows = {
            "blocks": [(
                self.hash, number, parent_hash, ts, str(gas_used), str(gas_limit),
                None if base_fee is None else str(base_fee),
            )],
            "transactions": tx_rows,
            "logs": log_rows,
        }


#: column order of the tuples in ``Block.rows``, i.e. of the store tables
COLUMNS = {
    "blocks": ["block_hash", "block_number", "parent_hash", "timestamp",
               "gas_used", "gas_limit", "base_fee_per_gas"],
    "transactions": ["tx_hash", "block_number", "block_hash", "transaction_index",
                     "from_address", "to_address", "value", "gas_price",
                     "max_fee_per_gas", "max_priority_fee_per_gas",
                     "gas_provided", "input_data", "status"],
    "logs": ["id", "log_index_in_tx", "transaction_hash", "transaction_index_in_block",
             "block_number", "block_hash", "contract_address", "data",
             "topic0", "topic1", "topic2", "topic3"],
}


@dataclass
class ChainPlan:
    seed: int
    history: int  # blocks visible from the start


class Chain:
    """The generator's chain state; every method holds ``lock``."""

    def __init__(self, plan: ChainPlan):
        self.plan = plan
        self.pools = Pools.for_seed(plan.seed)
        self.lock = threading.Lock()
        self.canonical: list[Block] = []
        self.receipts: dict[str, str] = {}
        self.orphaned: list[Block] = []
        self.reveals: list[tuple[int, str, float]] = []
        self.branch = 0
        parent = f"0x{random.Random(f'genesis:{plan.seed}').getrandbits(256):064x}"
        for _ in range(plan.history):
            parent = self._append(parent).hash

    @property
    def head(self) -> int:
        return START_BLOCK + len(self.canonical) - 1

    def _append(self, parent: str) -> Block:
        b = Block(self.plan.seed, self.pools, START_BLOCK + len(self.canonical), parent, self.branch)
        self.canonical.append(b)
        self.receipts.update(b.receipts)
        return b

    def reveal(self, blocks: int, depth: int = 0) -> None:
        """Reveal ``blocks`` new blocks; with ``depth`` > 0, first replace
        the top ``depth`` blocks with a fresh branch (revealed with them)."""
        with self.lock:
            now = time.monotonic()
            if depth:
                self.branch += 1
                for b in self.canonical[-depth:]:
                    self.orphaned.append(b)
                    for tx in b.receipts:
                        self.receipts.pop(tx, None)
                del self.canonical[-depth:]
            for _ in range(depth + blocks):
                b = self._append(self.canonical[-1].hash)
                self.reveals.append((b.number, b.hash, now))

    def block_json(self, number: int) -> str:
        with self.lock:
            i = number - START_BLOCK
            if 0 <= i < len(self.canonical):
                return self.canonical[i].wire
        return "null"

    def receipt_json(self, tx_hash: str) -> str:
        with self.lock:
            return self.receipts.get(tx_hash, "null")

    def dump(self) -> dict:
        with self.lock:
            tables: dict[str, list] = {t: [] for t in COLUMNS}
            for b in self.canonical:
                for t, rows in b.rows.items():
                    tables[t].extend(rows)
            return {"head": self.head, "tables": tables,
                    "orphaned_blocks": [b.rows["blocks"][0] for b in self.orphaned],
                    "orphaned_rows": {t: sum(len(b.rows[t]) for b in self.orphaned)
                                      for t in COLUMNS}}


class _PoolServer(HTTPServer):
    """HTTP server whose requests run on a fixed pool of threads."""

    request_queue_size = 256
    daemon_threads = True

    def __init__(self, addr, handler, workers: int):
        super().__init__(addr, handler)
        self._pool = ThreadPoolExecutor(max_workers=workers)

    def process_request(self, request, client_address):
        self._pool.submit(self._work, request, client_address)

    def _work(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:  # noqa: BLE001 — one bad connection must not kill the pool
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)

    def server_close(self):
        super().server_close()
        self._pool.shutdown(wait=True)


class ChainService:
    """The RPC surface, inside the generator process."""

    def __init__(self, plan: ChainPlan, workers: int):
        self.chain = Chain(plan)
        self.stats_lock = threading.Lock()
        self.calls: dict[str, int] = {}
        self.busy_s = 0.0
        service = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):
                pass

            def do_POST(self):
                t0 = time.perf_counter()
                body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
                method = body["method"]
                result = service.dispatch(method, body.get("params") or [])
                data = ('{"jsonrpc":"2.0","id":%s,"result":%s}' % (
                    json.dumps(body.get("id")), result)).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)
                with service.stats_lock:
                    service.calls[method] = service.calls.get(method, 0) + 1
                    if method.startswith("eth_"):
                        service.busy_s += time.perf_counter() - t0

        self.httpd = _PoolServer(("127.0.0.1", 0), Handler, workers)
        self.url = f"http://127.0.0.1:{self.httpd.server_port}"

    def dispatch(self, method: str, params: list) -> str:
        c = self.chain
        if method == "eth_getTransactionReceipt":
            return c.receipt_json(params[0])
        if method == "eth_getBlockByNumber":
            return c.block_json(int(params[0], 16))
        if method == "eth_blockNumber":
            with c.lock:
                return json.dumps(hex(c.head))
        if method == "bench_round":
            c.reveal(int(params[0]), int(params[1]))
            return "null"
        if method == "bench_reveals":
            with c.lock:
                return json.dumps(c.reveals[int(params[0]):])
        if method == "bench_stats":
            with self.stats_lock:
                return json.dumps({"calls": dict(self.calls), "busy_s": self.busy_s})
        if method == "bench_dump":
            return json.dumps(c.dump())
        raise ValueError(f"unknown method {method}")

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()


def rpc_call(url: str, method: str, *params):
    """One JSON-RPC call; returns its ``result``."""
    payload = json.dumps({"jsonrpc": "2.0", "id": 1, "method": method,
                          "params": list(params)}).encode()
    req = urllib.request.Request(url, data=payload, headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req, timeout=60) as resp:
        return json.loads(resp.read())["result"]


def _serve(conn, plan: ChainPlan, workers: int) -> None:
    """Generator process body: serve until the parent says stop (or dies)."""
    service = ChainService(plan, workers)
    thread = threading.Thread(target=service.httpd.serve_forever, daemon=True)
    thread.start()
    conn.send(service.url)
    try:
        conn.recv()
    except EOFError:
        pass
    service.close()
    thread.join(timeout=5)


class ChainProcess:
    """Parent-side handle: spawns the generator process and talks to it."""

    def __init__(self, plan: ChainPlan, workers: int = 4):
        import multiprocessing as mp

        ctx = mp.get_context("spawn")
        self._conn, child = ctx.Pipe()
        self._proc = ctx.Process(target=_serve, args=(child, plan, workers), daemon=True)
        self._proc.start()
        child.close()
        if not self._conn.poll(60):
            self.close()
            raise RuntimeError("chain generator did not start")
        self.url = self._conn.recv()

    def call(self, method: str, *params):
        return rpc_call(self.url, method, *params)

    def close(self) -> None:
        try:
            self._conn.send("stop")
        except (BrokenPipeError, OSError):
            pass
        self._proc.join(timeout=10)
        if self._proc.is_alive():
            self._proc.terminate()
            self._proc.join(timeout=5)
        self._conn.close()
