"""HTTP JSON-RPC EVM chain client — the live-chain counterpart of
:class:`MockRpcClient` (the reference connects through an ethers HTTP
provider, ``src/main.rs:96-164``).

Speaks Ethereum JSON-RPC 2.0 over HTTP POST (``eth_blockNumber``,
``eth_getBlockByNumber``, ``eth_getTransactionReceipt``) and translates
the wire format — camelCase field names, ``0x``-hex quantities — into
the engine's connector dict shape (the exact shape ``MockRpcClient``
emits), so :class:`EvmIngester` and ``backfill()`` run against a real
node unchanged.

Stdlib ``urllib`` only, and deliberately PICKLABLE: the client carries
just ``(url, timeout)`` and opens a connection per request, so it ships
to executors inside backfill's ``mapInArrow`` fetch kernel.  Network
and server errors raise — the retry/backoff wrappers (O-4) around every
call site are the recovery path, mirroring the reference's
``retry_with_backoff`` (``src/main.rs:32-62``).
"""

from __future__ import annotations

import json
import urllib.request


class RpcError(RuntimeError):
    """The server answered with a JSON-RPC error object."""


def _to_int(v) -> int | None:
    """0x-hex quantity (or int) → int."""
    if v is None:
        return None
    return v if isinstance(v, int) else int(v, 16)


def _to_dec_str(v) -> str | None:
    """0x-hex quantity → decimal string (U256-safe: the engine stores
    256-bit quantities as decimal strings, parsing is connector work)."""
    if v is None:
        return None
    return str(v if isinstance(v, int) else int(v, 16))


class HttpRpcClient:
    def __init__(self, url: str, timeout: float = 10.0):
        self.url = url
        self.timeout = timeout

    # -- transport ---------------------------------------------------------

    def _call(self, method: str, params: list):
        payload = json.dumps(
            {"jsonrpc": "2.0", "id": 1, "method": method, "params": params}
        ).encode()
        req = urllib.request.Request(
            self.url, data=payload, headers={"Content-Type": "application/json"}
        )
        with urllib.request.urlopen(req, timeout=self.timeout) as resp:
            body = json.loads(resp.read())
        if body.get("error"):
            raise RpcError(f"{method}: {body['error']}")
        return body.get("result")

    # -- RPC surface (same contract as MockRpcClient) ----------------------

    def get_block_number(self) -> int:
        return _to_int(self._call("eth_blockNumber", []))

    def get_block_with_txs(self, number: int) -> dict | None:
        raw = self._call("eth_getBlockByNumber", [hex(number), True])
        if raw is None:
            return None
        return {
            "hash": raw["hash"],
            "number": _to_int(raw["number"]),
            "parent_hash": raw["parentHash"],
            "timestamp": _to_int(raw["timestamp"]),
            "gas_used": _to_dec_str(raw.get("gasUsed")),
            "gas_limit": _to_dec_str(raw.get("gasLimit")),
            "base_fee_per_gas": _to_dec_str(raw.get("baseFeePerGas")),
            "transactions": [
                {
                    "hash": t["hash"],
                    "transaction_index": _to_int(t.get("transactionIndex")),
                    "from": t.get("from"),
                    "to": t.get("to"),
                    "value": _to_dec_str(t.get("value")),
                    "gas_price": _to_dec_str(t.get("gasPrice")),
                    "max_fee_per_gas": _to_dec_str(t.get("maxFeePerGas")),
                    "max_priority_fee_per_gas": _to_dec_str(
                        t.get("maxPriorityFeePerGas")
                    ),
                    "gas": _to_dec_str(t.get("gas")),
                    "input": t.get("input"),
                }
                for t in raw.get("transactions", [])
            ],
        }

    def get_transaction_receipt(self, tx_hash: str) -> dict | None:
        raw = self._call("eth_getTransactionReceipt", [tx_hash])
        if raw is None:
            return None
        return {
            "transaction_hash": raw["transactionHash"],
            # pre-Byzantium receipts omit status → None (engine stores NULL)
            "status": _to_int(raw.get("status")),
            "logs": [
                {
                    "log_index": _to_int(lg.get("logIndex")),
                    "address": lg["address"],
                    "data": lg["data"],
                    "topics": lg["topics"],
                }
                for lg in raw.get("logs", [])
            ],
        }
