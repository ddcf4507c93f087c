"""Seeded tables in the shape the catalog reads (``<sf_dir>/<table>.parquet``).

Same tables, columns and types as the catalog's test data (TESTDATA.md): a
TPC-H-like star schema (region, nation, customer, supplier, part, orders,
lineitem), an ``events`` stream, a ``documents`` text corpus with ~5% near
duplicates, and clustered unit-norm ``embeddings``.  Row counts follow the
scale factor (sf0.1: 600k lineitem, 100k events, 5k documents).
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join filter "
         "big group hash customer sort order slow line part fast row the agg key query "
         "a scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = (["blue", "red", "green", "hot", "cold", "large", "small", "shiny"],
              ["ring", "bolt", "nut", "gear", "pipe", "valve", "spring", "plate"])
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = (["en", "zh", "es", "fr", "de"], [0.4, 0.15, 0.15, 0.15, 0.15])


def _strings(rng, choices, n, p=None) -> pa.Array:
    idx = rng.choice(len(choices), size=n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(pa.array(idx), pa.array(choices)).cast(pa.string())


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(base: str, offsets) -> pa.Array:
    d = np.datetime64(base, "D") + np.asarray(offsets, dtype="timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"))


def generate(out: Path, seed: int, sf: float = 0.1) -> Path:
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders, n_events = int(1_500_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = int(50_000 * sf), int(20_000 * sf)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), out / f"{name}.parquet")

    write("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": REGIONS})
    write("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _strings(rng, SEGMENTS, n_cust),
    })
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in PART_WORDS[0] for b in PART_WORDS[1]]
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _strings(rng, names, n_part),
        "p_brand": _strings(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _strings(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    order_day = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    write("orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": _strings(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000, 500_000, n_orders),
        "o_orderdate": _days("1995-01-01", order_day),
        "o_orderpriority": _strings(rng, PRIORITIES, n_orders),
    })
    lines = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n_li = len(l_order)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write("lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array((np.arange(n_li) - starts + 1).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _strings(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _strings(rng, ["F", "O"], n_li),
        "l_shipdate": _days("1995-01-01", order_day[l_order] + rng.integers(1, 122, n_li)),
    })
    ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_events))
    write("events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array((np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"))),
        "user_id": rng.integers(0, 1500, n_events),
        "event_type": _strings(rng, EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    docs: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:  # near duplicate of an earlier doc
            words = docs[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), int(rng.integers(1, 4))):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            words.append("dup")
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]
        docs.append(" ".join(words))
    write("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": docs,
        "lang": _strings(rng, LANGS[0], n_docs, p=LANGS[1]),
        "source": _strings(rng, [f"src{i}" for i in range(20)], n_docs),
        "n_chars": np.array([len(d) for d in docs], dtype=np.int64),
    })
    centers = rng.standard_normal((10, 64))
    labels = rng.integers(0, 10, n_vecs)
    x = centers[labels] + 0.5 * rng.standard_normal((n_vecs, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), 64).cast(
            pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return out
