"""Normalize/shape transform: raw RPC block batches → relational tables.

The re-expression of the reference's per-block shaping code
(``src/main.rs:191-296``): unwrap options with defaults, extract
``receipt.status``, lowercase every hash/address (≙ ``format!("{:#x}")``,
``src/db.rs:84-89,116-127,161-170``), and fan the nested
block→transactions→receipt→logs structure out into flat tables.

:func:`explode_batch` is the one normalizer: plain Python over the
connector dicts, built into Arrow tables typed by the declared schemas
(``schemas.EVM_SCHEMAS``).  The tip cycle calls it on the driver and
backfill calls it inside its executor kernel, so a 5-block micro-batch
costs milliseconds of data work and no Spark job, and both paths write
the same rows.

Operator coverage: O-5 (normalize/shape), O-6 (topics flattening to
``topic0..3``), and the join half of O-3 (receipts arrive merged into
the tx dict — a LEFT OUTER tx⟕receipt in dataflow terms; a missing
receipt leaves status/logs NULL exactly like the reference's
``Option<receipt>``).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema

from ..schemas import EVM_SCHEMAS
from . import rollup

#: Arrow form of the declared table schemas (types and nullability)
ARROW_SCHEMAS: dict[str, pa.Schema] = {
    t: to_arrow_schema(EVM_SCHEMAS[t]) for t in ("blocks", "transactions", "logs")
}

#: bit widths for the packed deterministic log id (see :func:`pack_log_id`)
_TXI_BITS = 18  # up to 262k txs per block (mainnet max ≈ 1.4k)
_LI_BITS = 12  # up to 4096 logs per tx (mainnet max ≈ hundreds)


def pack_log_id(block_number: int, tx_index: int | None, log_index: int | None) -> int:
    """Deterministic surrogate for the reference's ``id BIGSERIAL``
    (init.sql:50): ``(block_number << 30) | (tx_index << 12) | log_index``,
    NULL indexes counting as 0.

    Strictly increasing in ``(block_number, tx_index, log_index)``, so
    ORDER BY (block_number, id) equals the reference's insertion order,
    and a pure function of position: stable across crash-replays and
    reorg rewrites, assigned with no coordination (SURVEY.md §7
    hard-part 1).  Bounds: block_number < 2^33, tx_index < 2^18,
    log_index < 2^12 — orders of magnitude beyond real chains."""
    return (
        block_number << (_TXI_BITS + _LI_BITS)
        | (tx_index or 0) << _LI_BITS
        | (log_index or 0)
    )


def _lower(v: str | None) -> str | None:
    return None if v is None else v.lower()


def _or0(v: str | None) -> str:
    return "0" if v is None else v


def _table(name: str, rows: list[tuple]) -> pa.Table:
    """Rows (tuples in schema order) → a table of the declared schema.
    A NULL in a NOT NULL column raises: parquet would write it as a
    corrupt REQUIRED column, and the reference's DDL rejects it too."""
    schema = ARROW_SCHEMAS[name]
    cols = list(zip(*rows)) if rows else [()] * len(schema)
    tbl = pa.table(cols, schema=schema)
    for f in schema:
        if not f.nullable and tbl[f.name].null_count:
            raise ValueError(f"{name}.{f.name} is NOT NULL; the batch has NULLs")
    return tbl


def explode_batch(raw_blocks: list[dict]) -> dict[str, pa.Table]:
    """Raw connector blocks → ``{"blocks", "transactions", "logs",
    "log_rollup"}`` Arrow tables; the rollup partials come from
    :func:`rollup.rollup_partials` over the batch's logs and blocks."""
    blocks, txs, logs = [], [], []
    for b in raw_blocks:
        number, block_hash = b["number"], _lower(b["hash"])
        blocks.append((
            block_hash,
            number,
            _lower(b["parent_hash"]),
            b["timestamp"],
            _or0(b.get("gas_used")),
            _or0(b.get("gas_limit")),
            b.get("base_fee_per_gas"),
        ))
        for t in b.get("transactions") or ():
            tx_hash, tx_index = _lower(t["hash"]), t.get("transaction_index")
            receipt = t.get("receipt") or {}
            txs.append((
                tx_hash,
                number,
                block_hash,
                tx_index,
                _lower(t.get("from")),
                _lower(t.get("to")),
                _or0(t.get("value")),
                t.get("gas_price"),
                t.get("max_fee_per_gas"),
                t.get("max_priority_fee_per_gas"),
                _or0(t.get("gas")),
                t.get("input"),
                receipt.get("status"),  # src/main.rs:250-253
            ))
            for lg in receipt.get("logs") or ():
                topics = lg.get("topics")
                # O-6: 0-based positions, NULL beyond the array end
                flat = [topics[i] if topics and i < len(topics) else None for i in range(4)]
                logs.append((
                    pack_log_id(number, tx_index, lg.get("log_index")),
                    lg.get("log_index"),
                    tx_hash,
                    tx_index,
                    number,
                    block_hash,
                    _lower(lg.get("address")),
                    lg.get("data"),
                    *flat,
                    topics,
                ))
    out = {
        "blocks": _table("blocks", blocks),
        "transactions": _table("transactions", txs),
        "logs": _table("logs", logs),
    }
    # continuous aggregate: per-batch hourly partials ride in the same
    # atomic commit (ingest/rollup.py)
    out[rollup.ROLLUP_TABLE] = rollup.rollup_partials(out["logs"], out["blocks"])
    return out
