"""HTTP JSON-RPC client path (the live-chain connector the reference
uses via an ethers provider): wire-format translation parity with the
mock, retry-through-HTTP-errors, and driver + executor-side ingestion
over real HTTP."""

from __future__ import annotations

import time

import pytest
import urllib.error

from rust_evm_indexer_spark import datagen
from rust_evm_indexer_spark.ingest import EvmIngester
from rust_evm_indexer_spark.ingest.backfill import backfill
from rust_evm_indexer_spark.ingest.commit import with_retry
from rust_evm_indexer_spark.sources.rpc import MockRpcClient
from rust_evm_indexer_spark.sources.rpc_http import HttpRpcClient
from rust_evm_indexer_spark.store import TableStore

from jsonrpc_server import JsonRpcChainServer


@pytest.fixture(scope="module")
def chain():
    return datagen.generate_chain(n_blocks=12, seed=5)


def test_wire_translation_matches_mock(chain):
    """HttpRpcClient(wire(mock)) must be the IDENTITY on the connector
    dict shape — hex/camelCase round-trips exactly, including None
    fields (pre-London baseFeePerGas, pre-Byzantium status, creations)."""
    mock = MockRpcClient(chain)
    with JsonRpcChainServer(mock) as srv:
        http = HttpRpcClient(srv.url)
        assert http.get_block_number() == mock.get_block_number()
        for n in range(datagen.START_BLOCK, datagen.START_BLOCK + 12):
            assert http.get_block_with_txs(n) == mock.get_block_with_txs(n)
        for t in chain.transactions:
            assert http.get_transaction_receipt(
                t["tx_hash"]
            ) == mock.get_transaction_receipt(t["tx_hash"])
        # past the head → null result → None
        assert http.get_block_with_txs(datagen.START_BLOCK + 999) is None


def test_http_errors_raise_and_retry_recovers(chain):
    """HTTP 503s raise (urllib.error) and the ingest O-4 retry absorbs
    them — same semantics as the mock's TransientRpcError."""
    mock = MockRpcClient(chain)
    with JsonRpcChainServer(mock) as srv:
        http = HttpRpcClient(srv.url)
        srv.fail_budget = 1
        with pytest.raises(urllib.error.HTTPError):
            http.get_block_number()
        srv.fail_budget = 2
        got = with_retry(http.get_block_number, backoff=0.01)
        assert got == mock.get_block_number()


def test_ingest_over_http_equals_mock(spark, tmp_path, chain):
    """Full ingestion driven through real HTTP lands the same rows as
    the in-memory mock path."""
    with JsonRpcChainServer(MockRpcClient(chain)) as srv:
        store_h = TableStore(spark, tmp_path / "http_store")
        EvmIngester(
            spark,
            HttpRpcClient(srv.url),
            store_h,
            start_block=datagen.START_BLOCK,
            backoff_base=0.01,
        ).run_until_caught_up()
    store_m = TableStore(spark, tmp_path / "mock_store")
    EvmIngester(
        spark,
        MockRpcClient(chain),
        store_m,
        start_block=datagen.START_BLOCK,
        backoff_base=0.01,
    ).run_until_caught_up()
    for table in ("blocks", "transactions", "logs"):
        a = sorted(map(tuple, store_h.read(table).collect()))
        b = sorted(map(tuple, store_m.read(table).collect()))
        assert a == b, f"{table} differs between HTTP and mock ingest"


def test_backfill_over_http(spark, tmp_path, chain):
    """The pickled client fetches from EXECUTORS over HTTP inside the
    mapInArrow kernel (the 100 TB backfill path)."""
    with JsonRpcChainServer(MockRpcClient(chain)) as srv:
        store = TableStore(spark, tmp_path / "bf_http")
        counts = backfill(
            spark,
            HttpRpcClient(srv.url),
            store,
            datagen.START_BLOCK,
            datagen.START_BLOCK + 11,
            backoff=0.01,
        )
    assert counts["blocks"] == 12
    assert counts["logs"] == len(chain.logs)
    assert counts["transactions"] == len(chain.transactions)


@pytest.mark.slow
def test_streaming_http_reorg_on_object_store_rest_converges(spark, tmp_path):
    """VERDICT r11 item 8 (stretch) — the whole reference lifecycle in
    one composition: a JSON-RPC chain server over REAL HTTP with an
    injected depth-2 reorg, the Structured-Streaming ingest wrapper
    polling it on its trigger, the store running entirely on non-POSIX
    backends (object-store manifest tier + object-semantics data tier),
    and the LIVE store-backed REST API converging to the post-reorg
    canonical chain with no stale reads."""
    from rust_evm_indexer_spark.api import EvmApi, create_app
    from rust_evm_indexer_spark.store.data_io import ObjectStoreStyleDataTierIO
    from rust_evm_indexer_spark.store.manifest_io import InMemoryObjectStoreIO
    from rust_evm_indexer_spark.streaming import IngestStream

    chain = datagen.generate_chain(n_blocks=10, seed=9)
    mock = MockRpcClient(chain)
    head0 = mock.get_block_number()
    with JsonRpcChainServer(mock) as srv:
        http = HttpRpcClient(srv.url)
        store = TableStore(
            spark, tmp_path / "s",
            manifest_io=InMemoryObjectStoreIO(),
            data_io=ObjectStoreStyleDataTierIO(tmp_path / "s"),
        )
        ing = EvmIngester(
            spark, http, store, start_block=datagen.START_BLOCK,
            backoff_base=0.01,
        )
        app = create_app(EvmApi.from_store(store))
        app.testing = True
        api = app.test_client()

        stream = IngestStream(spark, ing, poll_interval_seconds=1)
        stream.start()
        try:
            # phase 1: the stream catches the chain tip over HTTP
            deadline = time.time() + 120
            while time.time() < deadline:
                stats = api.get("/stats").get_json()
                if stats.get("lastProcessedBlock") == head0:
                    break
                time.sleep(0.5)
            assert stats["lastProcessedBlock"] == head0
            pre = api.get(f"/block/{head0}").get_json()
            assert pre["blockNumber"] == head0

            # phase 2: depth-2 reorg lands on the chain the server fronts
            fork = mock.schedule_reorg(depth=2, seed=11)
            new_head = mock.get_block_number()
            forked_height = head0 - 1  # deepest replaced block
            new_hash = next(
                b["block_hash"] for b in fork.blocks
                if b["block_number"] == forked_height
            )
            old_hash_resp = api.post(
                "/logs", json={"fromBlock": forked_height,
                               "toBlock": head0, "pageSize": 100},
            ).get_json()

            # phase 3: the stream detects the parent-hash mismatch,
            # rolls back, re-ingests the fork; REST converges
            deadline = time.time() + 120
            while time.time() < deadline:
                stats = api.get("/stats").get_json()
                blk = api.get(f"/block/{forked_height}").get_json()
                if (
                    stats.get("lastProcessedBlock") == new_head
                    and blk.get("blockHash") == new_hash
                ):
                    break
                time.sleep(0.5)
        finally:
            stream.stop()

        assert stats["lastProcessedBlock"] == new_head
        blk = api.get(f"/block/{forked_height}").get_json()
        assert blk["blockHash"] == new_hash  # canonical branch served
        # the orphaned branch is fully retracted: every log the API
        # served from the replaced tail pre-reorg is gone (fork blocks
        # carry no logs by construction, so the range must be empty)
        assert old_hash_resp["logs"], "replaced tail carried logs pre-reorg"
        post = api.post(
            "/logs", json={"fromBlock": forked_height,
                           "toBlock": new_head, "pageSize": 100},
        ).get_json()
        fork_hashes = {b["block_hash"] for b in fork.blocks}
        assert post["logs"] == []  # fork blocks carry no logs at all
        # a fork-branch transaction is served, with its fork block hash
        fork_tx = fork.transactions[0]
        tx_resp = api.get(f"/transaction/{fork_tx['tx_hash']}").get_json()
        assert tx_resp["blockHash"] == fork_tx["block_hash"]
        # and a reorged-away transaction 404s
        dead_tx = next(
            t for t in chain.transactions
            if t["block_number"] >= forked_height
            and t["block_hash"] not in fork_hashes
        )
        assert api.get(f"/transaction/{dead_tx['tx_hash']}").status_code == 404
        # stats agree with a direct store read (manifest tier == scan)
        assert stats["totalBlocks"] == store.read("blocks").count()
