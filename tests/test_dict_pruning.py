"""Per-fragment inline distinct-value dictionaries: the low-cardinality
index tier.

topic0 is an event signature — thousands of distinct values table-wide,
tens per fragment — but hash-like, so min/max stats never prune it and a
bloom is oversized for the job.  TableStore records the exact distinct
set per (fragment, configured column) INLINE in the manifest; an
equality (or IN-list) probe prunes with zero sidecar I/O and zero false
positives.  Degradation past DICT_MAX_DISTINCT is "no dict, keep the
fragment" — never wrong results."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from rust_evm_indexer_spark.store import TableStore
from rust_evm_indexer_spark.store.table_store import DICT_MAX_DISTINCT


def _n_frags(df):
    """Distinct fragment dirs behind a frame (inputFiles lists every
    part file; a fragment dir holds several)."""
    return len({f.rsplit("/", 2)[-2] for f in df.inputFiles()})


def _mk_store(spark, tmp_path, name="dictstore", **kw):
    kw.setdefault("dict_columns", {"pts": ("sig",)})
    kw.setdefault("bloom_columns", {})
    return TableStore(spark, tmp_path / name, **kw)


def _commit_batches(spark, store, n_batches=6, rows_per=40):
    """Each fragment holds exactly two signatures, disjoint per batch."""
    for b in range(n_batches):
        rows = [
            (b * 1000 + i, f"0xsig{b:02d}{i % 2}", 100 + b)
            for i in range(rows_per)
        ]
        df = spark.createDataFrame(rows, "id: long, sig: string, block_number: long")
        store.commit({"pts": df})


def test_dict_recorded_in_manifest(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    _commit_batches(spark, store, n_batches=2)
    for frag in store.current_manifest().tables["pts"]:
        assert frag.dicts is not None and "sig" in frag.dicts
        assert len(frag.dicts["sig"]) == 2
        assert frag.dicts["sig"] == sorted(frag.dicts["sig"])


def test_dict_prunes_to_exactly_the_containing_fragments(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    _commit_batches(spark, store)
    full = store.read("pts")
    assert _n_frags(full) == 6
    probe = "0xsig030"  # lives only in batch 3's fragment
    pruned = store.read("pts", equals={"sig": probe})
    # EXACT pruning: precisely one fragment survives — no false positives
    assert _n_frags(pruned) == 1
    got = pruned.filter(F.col("sig") == probe).count()
    assert got == full.filter(F.col("sig") == probe).count() == 20


def test_dict_probe_is_case_insensitive(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    _commit_batches(spark, store, n_batches=3)
    pruned = store.read("pts", equals={"sig": "0xSIG010"})
    assert _n_frags(pruned) == 1
    assert pruned.filter(F.lower(F.col("sig")) == "0xsig010").count() == 20


def test_dict_absent_key_prunes_every_fragment(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    _commit_batches(spark, store, n_batches=4)
    pruned = store.read("pts", equals={"sig": "0xnope"})
    assert pruned.count() == 0
    assert set(pruned.columns) == {"id", "sig", "block_number"}


def test_dict_in_list_probe_keeps_any_match(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    _commit_batches(spark, store)
    pruned = store.read("pts", equals={"sig": ["0xsig010", "0xSIG040", "0xmissing"]})
    # fragments of batches 1 and 4 survive, nothing else
    assert _n_frags(pruned) == 2
    assert pruned.count() == 80


def test_high_cardinality_column_degrades_to_no_dict(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    n = DICT_MAX_DISTINCT + 10
    rows = [(i, f"0xuniq{i:05d}", 100) for i in range(n)]
    df = spark.createDataFrame(rows, "id: long, sig: string, block_number: long")
    store.commit({"pts": df})
    (frag,) = store.current_manifest().tables["pts"]
    assert frag.dicts is None  # past the cap: no dict, no pruning
    # probe keeps the fragment (conservative) and results stay correct
    pruned = store.read("pts", equals={"sig": "0xuniq00003"})
    assert pruned.filter(F.col("sig") == "0xuniq00003").count() == 1


def test_dict_survives_parquet_manifest_roundtrip(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    _commit_batches(spark, store, n_batches=4)
    # a fresh handle reads the fraglist parquet, not in-memory state
    reopened = _mk_store(spark, tmp_path)
    pruned = reopened.read("pts", equals={"sig": "0xsig020"})
    assert _n_frags(pruned) == 1
    assert pruned.count() == 40


def test_dict_composes_with_bloom_and_block_range(spark, tmp_path):
    store = _mk_store(
        spark,
        tmp_path,
        name="combo",
        bloom_columns={"pts": ("sig",)},
        dict_columns={"pts": ("sig",)},
    )
    _commit_batches(spark, store)
    pruned = store.read(
        "pts", min_block=101, max_block=104, equals={"sig": "0xsig021"}
    )
    assert _n_frags(pruned) == 1
    assert pruned.filter(F.col("sig") == "0xsig021").count() == 20


@pytest.mark.slow
def test_compaction_rebuilds_dicts_and_still_prunes(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    _commit_batches(spark, store)
    store.compact("pts", max_fragments=3)
    frags = store.current_manifest().tables["pts"]
    assert len(frags) <= 3
    merged_sigs = {v for f in frags if f.dicts for v in f.dicts.get("sig", [])}
    assert merged_sigs  # rebuilt over the compacted layout
    pruned = store.read("pts", equals={"sig": "0xsig050"})
    assert pruned.filter(F.col("sig") == "0xsig050").count() == 20


def test_evm_default_builds_topic0_dict(spark, tmp_path):
    """The EVM defaults dictionary topic0 on logs — the reference's
    idx_logs_topic0_block filter shape (init.sql:66-70)."""
    store = TableStore(spark, tmp_path / "evm")
    rows = [
        (f"0xh{i}", i // 10, f"0xtopic{i % 3}", f"0xaddr{i:03d}")
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "log_hash: string, block_number: long, topic0: string, contract_address: string"
    )
    store.commit({"logs": df})
    (frag,) = store.current_manifest().tables["logs"]
    assert frag.dicts is not None and set(frag.dicts["topic0"]) == {
        "0xtopic0", "0xtopic1", "0xtopic2"
    }
    # contract_address stays bloom-tier, not dict-tier (60 distinct ≤ cap
    # here, but it's not configured as a dict column)
    assert "contract_address" not in frag.dicts
