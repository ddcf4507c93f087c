"""The one normalizer (``ingest.normalize.explode_batch``): connector
block dicts → the declared Arrow tables, checked against the generator's
own rows and on the connector's edge cases."""

from __future__ import annotations

import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from rust_evm_indexer_spark import datagen
from rust_evm_indexer_spark.ingest.commit import attach_receipts
from rust_evm_indexer_spark.ingest.normalize import explode_batch, pack_log_id
from rust_evm_indexer_spark.schemas import EVM_SCHEMAS
from rust_evm_indexer_spark.sources.rpc import MockRpcClient

START = datagen.START_BLOCK
TABLES = ("blocks", "transactions", "logs", "log_rollup")


def _rows(tbl, drop=()):
    return sorted(
        tuple(r[c] for c in tbl.column_names if c not in drop) for r in tbl.to_pylist()
    )


def _want(rows, table, drop=()):
    cols = [c for c in EVM_SCHEMAS[table].names if c not in drop]
    return sorted(tuple(r[c] for c in cols) for r in rows)


def test_normalize_matches_generated_chain():
    """Fetched through the mock connector and normalized, the chain's
    served blocks come back as exactly the generator's rows, with the
    declared schema of every table."""
    chain = datagen.generate_chain(n_blocks=40, seed=5)
    client = MockRpcClient(chain)
    raw = attach_receipts(
        client, [client.get_block_with_txs(START + i) for i in range(40)], backoff=0.01
    )
    out = explode_batch(raw)

    assert set(out) == set(TABLES)
    for t in TABLES:
        assert out[t].schema == to_arrow_schema(EVM_SCHEMAS[t])
    served = {b["block_hash"] for b in client._by_height.values()}
    assert _rows(out["blocks"]) == _want(
        [b for b in chain.blocks if b["block_hash"] in served], "blocks"
    )
    assert _rows(out["transactions"]) == _want(
        [t for t in chain.transactions if t["block_hash"] in served], "transactions"
    )
    # the generator's id is a dense rank; the engine packs the position
    logs = [lg for lg in chain.logs if lg["block_hash"] in served]
    assert _rows(out["logs"], drop=("id",)) == _want(logs, "logs", drop=("id",))
    for r in out["logs"].to_pylist():
        assert r["id"] == pack_log_id(
            r["block_number"], r["transaction_index_in_block"], r["log_index_in_tx"]
        )
    rollup = out["log_rollup"].to_pylist()
    assert sum(r["n_logs"] for r in rollup) == len(logs)
    assert all(r["hour_ts"].timestamp() % 3600 == 0 for r in rollup)


def _raw_block(number, txs, *, hash_="0xB0CC"):
    return {
        "hash": f"{hash_}{number:02X}",
        "number": number,
        "parent_hash": "0xPARENT",
        "timestamp": 5 * 3600 + 59,
        "gas_used": None,
        "gas_limit": "30000000",
        "base_fee_per_gas": None,
        "transactions": txs,
    }


U256_MAX = str(2**256 - 1)  # 78 digits


def test_normalize_edge_cases():
    txs = [
        {  # NULL receipt, NULL index, 78-digit value, creation (no `to`)
            "hash": "0xAAA1", "transaction_index": None, "from": "0xFROM1", "to": None,
            "value": U256_MAX, "gas_price": None, "max_fee_per_gas": None,
            "max_priority_fee_per_gas": None, "gas": None, "input": "0x", "receipt": None,
        },
        {
            "hash": "0xAAA2", "transaction_index": 1, "from": "0xFROM2", "to": "0xTO2",
            "value": None, "gas_price": "7", "max_fee_per_gas": None,
            "max_priority_fee_per_gas": None, "gas": "21000", "input": "0xAB",
            "receipt": {
                "transaction_hash": "0xaaa2",
                "status": 0,
                "logs": [
                    {"log_index": None, "address": "0xC0FFEE", "data": "0x", "topics": []},
                    {"log_index": 1, "address": "0xC0FFEE", "data": "0x01",
                     "topics": ["0xt0", "0xt1", "0xt2", "0xt3"]},
                    {"log_index": 2, "address": "0xBEEF", "data": None,
                     "topics": ["0xu0", "0xu1", "0xu2", "0xu3", "0xu4"]},
                ],
            },
        },
    ]
    out = explode_batch([_raw_block(7, txs), _raw_block(8, [])])

    blocks = out["blocks"].to_pylist()
    assert [b["block_hash"] for b in blocks] == ["0xb0cc07", "0xb0cc08"]  # empty block kept
    assert blocks[0]["parent_hash"] == "0xparent"
    assert blocks[0]["gas_used"] == "0" and blocks[0]["base_fee_per_gas"] is None

    t1, t2 = out["transactions"].to_pylist()
    assert (t1["tx_hash"], t1["from_address"], t1["to_address"]) == ("0xaaa1", "0xfrom1", None)
    assert t1["value"] == U256_MAX and len(t1["value"]) == 78
    assert t1["status"] is None and t1["transaction_index"] is None
    assert t1["gas_provided"] == "0"
    assert (t2["value"], t2["status"], t2["to_address"]) == ("0", 0, "0xto2")
    assert all(t["block_number"] == 7 for t in (t1, t2))

    logs = out["logs"].to_pylist()
    assert len(logs) == 3  # the NULL receipt contributes none
    none, four, five = logs
    assert none["log_index_in_tx"] is None and none["id"] == pack_log_id(7, 1, 0)
    assert none["all_topics"] == [] and [none[f"topic{i}"] for i in range(4)] == [None] * 4
    assert [four[f"topic{i}"] for i in range(4)] == ["0xt0", "0xt1", "0xt2", "0xt3"]
    assert [five[f"topic{i}"] for i in range(4)] == ["0xu0", "0xu1", "0xu2", "0xu3"]
    assert five["all_topics"] == ["0xu0", "0xu1", "0xu2", "0xu3", "0xu4"]
    assert {lg["contract_address"] for lg in logs} == {"0xc0ffee", "0xbeef"}
    assert {lg["transaction_hash"] for lg in logs} == {"0xaaa2"}

    rollup = {
        (r["contract_address"], r["topic0"]): r["n_logs"] for r in out["log_rollup"].to_pylist()
    }
    assert rollup == {("0xc0ffee", None): 1, ("0xc0ffee", "0xt0"): 1, ("0xbeef", "0xu0"): 1}
    (hour,) = {r["hour_ts"].timestamp() for r in out["log_rollup"].to_pylist()}
    assert hour == 5 * 3600


def test_normalize_null_index_packs_as_zero_and_empty_batch():
    tx = {
        "hash": "0x01", "transaction_index": None, "from": "0x02", "to": "0x03",
        "value": "1", "gas": "1", "input": "0x",
        "receipt": {"status": 1, "logs": [{"log_index": 3, "address": "0x04", "topics": None}]},
    }
    (log,) = explode_batch([_raw_block(9, [tx])])["logs"].to_pylist()
    assert log["transaction_index_in_block"] is None
    assert log["id"] == pack_log_id(9, 0, 3) == (9 << 30) | 3
    assert log["all_topics"] is None and log["topic0"] is None
    assert all(t.num_rows == 0 for t in explode_batch([]).values())


def test_normalize_rejects_null_in_not_null_column():
    tx = {"hash": "0x01", "transaction_index": 0, "from": None, "value": "1", "gas": "1"}
    with pytest.raises(ValueError, match="transactions.from_address"):
        explode_batch([_raw_block(1, [tx])])
