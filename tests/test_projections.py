"""Clustered projections: the secondary-index replica (init.sql:71-74
composite-index analog).  Base layout is block-clustered; the projection
re-clusters by a key so per-key scans touch O(1) fragments, with an
LSM-style delta union for post-build commits and loud staleness on
covered-fragment removal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rust_evm_indexer_spark import datagen
from rust_evm_indexer_spark.ingest import EvmIngester
from rust_evm_indexer_spark.sources.rpc import MockRpcClient
from rust_evm_indexer_spark.store import MaintenancePolicy, TableStore


def _pts_store(spark, tmp_path, n_batches=6, rows_per=40):
    store = TableStore(spark, tmp_path / "projstore", bloom_columns={"pts": ("addr",)})
    for b in range(n_batches):
        rows = [
            (b * 1000 + i, f"0x{(i * n_batches + b):04x}", 100 + b)
            for i in range(rows_per)
        ]
        # addresses INTERLEAVE across batches: every base fragment holds
        # keys from the whole range, so base min/max can never prune a
        # key scan — exactly the regime projections exist for
        df = spark.createDataFrame(rows, "id: long, addr: string, block_number: long")
        store.commit({"pts": df})
    return store


def test_projection_prunes_key_scan_and_matches_base(spark, tmp_path):
    store = _pts_store(spark, tmp_path)
    n = store.build_projection("pts", "by_addr", ("addr",), max_fragments=4)
    assert n == 4
    m = store.current_manifest()
    frags = m.tables["pts"]
    proj = m.projections["pts"]["by_addr"]
    assert [f.path for f in frags] == proj["covers"]
    for f in proj["fragments"]:
        assert f.min_key is not None and f.max_key <= "0x1000"
    probe = "0x00b3"
    via_proj = store.read_projection("pts", "by_addr", key_equals=probe)
    base = store.read("pts")
    # base fragments all contain the key range; the projection scan
    # touches ~1 of 4 clustered fragments
    assert len(via_proj.inputFiles()) < len(base.inputFiles())
    got = sorted(r["id"] for r in via_proj.filter(F.col("addr") == probe).collect())
    want = sorted(r["id"] for r in base.filter(F.col("addr") == probe).collect())
    assert got == want and len(got) == 1


def test_projection_key_range_scan(spark, tmp_path):
    store = _pts_store(spark, tmp_path)
    store.build_projection("pts", "by_addr", ("addr",), max_fragments=4)
    lo, hi = "0x0010", "0x003f"
    via = store.read_projection("pts", "by_addr", key_min=lo, key_max=hi)
    assert len(via.inputFiles()) < len(store.read("pts").inputFiles())
    got = via.filter(F.col("addr").between(lo, hi)).count()
    want = store.read("pts").filter(F.col("addr").between(lo, hi)).count()
    assert got == want and got > 0


def test_projection_unions_post_build_delta(spark, tmp_path):
    store = _pts_store(spark, tmp_path, n_batches=3)
    store.build_projection("pts", "by_addr", ("addr",), max_fragments=2)
    late = spark.createDataFrame(
        [(9001, "0x00b3", 999), (9002, "0xffff", 999)],
        "id: long, addr: string, block_number: long",
    )
    store.commit({"pts": late})
    via = store.read_projection("pts", "by_addr", key_equals="0x00b3")
    got = sorted(r["id"] for r in via.filter(F.col("addr") == "0x00b3").collect())
    want = sorted(
        r["id"]
        for r in store.read("pts").filter(F.col("addr") == "0x00b3").collect()
    )
    assert got == want and 9001 in got  # delta row visible without rebuild


def test_projection_goes_stale_on_covered_removal(spark, tmp_path):
    store = _pts_store(spark, tmp_path, n_batches=3)
    store.build_projection("pts", "by_addr", ("addr",), max_fragments=2)
    store.compact("pts", max_fragments=1)  # removes every covered fragment
    with pytest.raises(RuntimeError, match="stale"):
        store.read_projection("pts", "by_addr", key_equals="0x0002")
    # rebuild restores service
    store.build_projection("pts", "by_addr", ("addr",), max_fragments=2)
    assert (
        store.read_projection("pts", "by_addr", key_equals="0x0002")
        .filter(F.col("addr") == "0x0002")
        .count()
        == 1
    )


def test_delete_equals_purges_projection_copies(spark, tmp_path):
    """Compliance contract: a key delete must remove the rows from the
    clustered projection COPIES too (same atomic swap), keep the
    projection fresh and readable, and leave the old copies reclaimable
    by vacuum — deleted data must not persist on disk indefinitely
    (ADVICE r4)."""
    store = _pts_store(spark, tmp_path, n_batches=3)
    store.build_projection("pts", "by_addr", ("addr",), max_fragments=2)
    victim = "0x0001"
    assert store.read("pts").filter(F.col("addr") == victim).count() == 1
    stats = store.delete_equals("pts", "addr", victim)
    assert stats["deleted_rows"] == 1
    assert stats["projection_fragments_rewritten"] >= 1
    # projection stays serviceable (no staleness) and agrees with base
    via = store.read_projection("pts", "by_addr", key_equals="0x0002")
    assert via.filter(F.col("addr") == "0x0002").count() == 1
    assert store.read_projection("pts", "by_addr").count() == store.read("pts").count()
    assert (
        store.read_projection("pts", "by_addr")
        .filter(F.col("addr") == victim)
        .count()
        == 0
    )
    # vacuum reclaims every pre-delete fragment; the key is then gone
    # from disk entirely (scan every remaining parquet file)
    assert store.vacuum() >= 2  # old base frag + old projection frag
    import pyarrow.dataset as pa_ds

    root = store.root / "data"
    files = [str(p) for p in root.rglob("*.parquet")]
    ds = pa_ds.dataset(files, format="parquet")
    import pyarrow.compute as pc

    tbl = ds.to_table(columns=["addr"])
    assert pc.sum(pc.equal(tbl["addr"], victim)).as_py() in (0, None)
    # projection refresh still works post-delete (covers were remapped)
    assert store.refresh_projection("pts", "by_addr") == 0


def test_vacuum_spares_projection_fragments_until_dropped(spark, tmp_path):
    store = _pts_store(spark, tmp_path, n_batches=3)
    store.build_projection("pts", "by_addr", ("addr",), max_fragments=2)
    assert store.vacuum() == 0  # projection fragments are live
    assert store.read_projection("pts", "by_addr", key_equals="0x0001").count() > 0
    store.drop_projection("pts", "by_addr")
    assert store.vacuum() == 2  # now reclaimable
    with pytest.raises(ValueError, match="no projection"):
        store.read_projection("pts", "by_addr", key_equals="0x0001")


def test_projection_on_real_evm_logs(spark, tmp_path):
    """logs clustered by contract_address ≙ idx_logs_address: the
    flagship 'all logs for address ordered by block' query served from
    O(1) clustered fragments, identical rows to the base scan."""
    chain = datagen.generate_chain(n_blocks=20, seed=11)
    store = TableStore(spark, tmp_path / "evmstore")
    EvmIngester(
        spark,
        MockRpcClient(chain),
        store,
        start_block=datagen.START_BLOCK,
        backoff_base=0.01,
    ).run_until_caught_up()
    store.build_projection("logs", "by_address", ("contract_address",), max_fragments=3)
    addr = store.read("logs").select("contract_address").first()[0]
    via = store.read_projection("logs", "by_address", key_equals=addr)
    got = (
        via.filter(F.col("contract_address") == addr)
        .orderBy("block_number", "id")
        .collect()
    )
    want = (
        store.read("logs")
        .filter(F.col("contract_address") == addr)
        .orderBy("block_number", "id")
        .collect()
    )
    assert got == want and len(got) > 0


def _evm_store(spark, tmp_path, n_blocks=20, seed=11):
    chain = datagen.generate_chain(n_blocks=n_blocks, seed=seed)
    store = TableStore(spark, tmp_path / "routestore")
    EvmIngester(
        spark,
        MockRpcClient(chain),
        store,
        start_block=datagen.START_BLOCK,
        backoff_base=0.01,
    ).run_until_caught_up()
    return store


def test_routing_picks_projection_for_address_filter(spark, tmp_path):
    from rust_evm_indexer_spark.operators import GetLogsFilter, get_logs, get_logs_from_store

    store = _evm_store(spark, tmp_path)
    store.build_projection("logs", "by_address", ("contract_address",), max_fragments=3)
    addr = store.read("logs").select("contract_address").first()[0]
    flt = GetLogsFilter(address=addr, page_size=100)
    routed = get_logs_from_store(store, flt)
    # the plan reads projection fragments, not the block-clustered base
    assert any("__proj__" in f for f in routed.inputFiles())
    want = get_logs(store.read("logs"), flt).collect()
    assert routed.collect() == want and len(want) > 0


def test_routing_degrades_to_base_when_projection_stale(spark, tmp_path):
    from rust_evm_indexer_spark.operators import GetLogsFilter, get_logs, get_logs_from_store

    store = _evm_store(spark, tmp_path)
    store.build_projection("logs", "by_address", ("contract_address",), max_fragments=3)
    addr = store.read("logs").select("contract_address").first()[0]
    store.compact("logs", max_fragments=1)  # removes covered fragments
    flt = GetLogsFilter(address=addr, page_size=100)
    routed = get_logs_from_store(store, flt)
    assert not any("__proj__" in f for f in routed.inputFiles())
    assert routed.collect() == get_logs(store.read("logs"), flt).collect()


def test_routing_uses_base_pruning_without_address(spark, tmp_path):
    from rust_evm_indexer_spark.operators import GetLogsFilter, get_logs, get_logs_from_store

    store = _evm_store(spark, tmp_path)
    store.build_projection("logs", "by_address", ("contract_address",), max_fragments=3)
    lo = datagen.START_BLOCK + 2
    flt = GetLogsFilter(from_block=lo, to_block=lo + 1, page_size=100)
    routed = get_logs_from_store(store, flt)
    files = routed.inputFiles()
    # block-bounded: base min/max stats prune, and no projection is used
    assert not any("__proj__" in f for f in files)
    assert len(files) < len(store.read("logs").inputFiles())
    assert routed.collect() == get_logs(store.read("logs"), flt).collect()


def test_routing_block_hash_override_skips_projection(spark, tmp_path):
    """block_hash overrides the range AND disables the address-projection
    route (the filter still applies both predicates)."""
    from rust_evm_indexer_spark.operators import GetLogsFilter, get_logs, get_logs_from_store

    store = _evm_store(spark, tmp_path)
    store.build_projection("logs", "by_address", ("contract_address",), max_fragments=3)
    row = store.read("logs").select("contract_address", "block_hash").first()
    flt = GetLogsFilter(address=row[0], block_hash=row[1], page_size=100)
    routed = get_logs_from_store(store, flt)
    assert not any("__proj__" in f for f in routed.inputFiles())
    assert routed.collect() == get_logs(store.read("logs"), flt).collect()


def test_refresh_folds_delta_into_new_generation(spark, tmp_path):
    store = _pts_store(spark, tmp_path, n_batches=4)
    store.build_projection("pts", "by_addr", ("addr",), max_fragments=3)
    assert store.refresh_projection("pts", "by_addr") == 0  # already fresh
    # two post-build commits form the delta tail
    for b in (90, 91):
        df = spark.createDataFrame(
            [(b * 1000 + i, f"0x{i:04x}", 200 + b) for i in range(20)],
            "id: long, addr: string, block_number: long",
        )
        store.commit({"pts": df})
    n_new = store.refresh_projection("pts", "by_addr", max_fragments=2)
    assert n_new == 2
    proj = store.projections("pts")["by_addr"]
    assert len(proj["covers"]) == 6 and len(proj["fragments"]) == 3 + 2
    probe = "0x0005"
    via = store.read_projection("pts", "by_addr", key_equals=probe)
    # every file read is clustered (no raw block-clustered delta), and
    # the probe touches at most one fragment per generation
    assert all("__proj__" in f for f in via.inputFiles())
    assert len(via.inputFiles()) <= 2
    got = sorted(r["id"] for r in via.filter(F.col("addr") == probe).collect())
    want = sorted(
        r["id"] for r in store.read("pts").filter(F.col("addr") == probe).collect()
    )
    assert got == want and len(want) == 3  # base + both delta commits


def test_refresh_raises_on_stale_projection(spark, tmp_path):
    store = _pts_store(spark, tmp_path)
    store.build_projection("pts", "by_addr", ("addr",), max_fragments=3)
    store.compact("pts", max_fragments=1)
    with pytest.raises(RuntimeError, match="stale"):
        store.refresh_projection("pts", "by_addr")


def test_full_rebuild_recompacts_generations(spark, tmp_path):
    store = _pts_store(spark, tmp_path, n_batches=3)
    store.build_projection("pts", "by_addr", ("addr",), max_fragments=3)
    df = spark.createDataFrame(
        [(99000 + i, f"0x{i:04x}", 300) for i in range(20)],
        "id: long, addr: string, block_number: long",
    )
    store.commit({"pts": df})
    store.refresh_projection("pts", "by_addr")
    assert len(store.projections("pts")["by_addr"]["fragments"]) > 3
    store.build_projection("pts", "by_addr", ("addr",), max_fragments=3)
    proj = store.projections("pts")["by_addr"]
    assert len(proj["fragments"]) == 3  # one sorted level again
    assert store.read_projection("pts", "by_addr").count() == store.read("pts").count()


def test_zorder_projection_prunes_both_dimensions(spark, tmp_path):
    """Z-order projection: every tile bounds BOTH (addr, block_number),
    so a key probe prunes via min_key/max_key + blooms AND a block
    range prunes via min/max_block — multiplicative when combined,
    which the single-column range layout cannot do (its key sort makes
    every fragment span all blocks)."""
    store = _pts_store(spark, tmp_path, n_batches=8, rows_per=64)
    n = store.build_projection(
        "pts", "z_addr_block", zorder_by=("addr", "block_number"),
        max_fragments=8,
    )
    assert n == 8
    proj = store.current_manifest().projections["pts"]["z_addr_block"]
    assert proj["layout"] == "zorder"
    # every tile bounds both dimensions strictly tighter than the table
    blocks_span = [
        (f.max_block - f.min_block) for f in proj["fragments"]
    ]
    assert all(s <= 7 for s in blocks_span)
    assert any(s < 7 for s in blocks_span)  # some tiles split the block axis
    keys = [(f.min_key, f.max_key) for f in proj["fragments"]]
    assert all(k != (None, None) for k in keys)

    base = store.read("pts")
    probe = "0x0103"
    # key-only prune beats the base (which never prunes keys)...
    via_key = store.read_projection("pts", "z_addr_block", key_equals=probe)
    assert len(via_key.inputFiles()) < len(base.inputFiles())
    # ...and adding the block range prunes FURTHER (two dimensions)
    via_both = store.read_projection(
        "pts", "z_addr_block", key_equals=probe, min_block=100, max_block=101,
    )
    assert len(via_both.inputFiles()) <= len(via_key.inputFiles())
    got = sorted(
        r["id"]
        for r in via_both.filter(
            (F.col("addr") == probe) & F.col("block_number").between(100, 101)
        ).collect()
    )
    want = sorted(
        r["id"]
        for r in base.filter(
            (F.col("addr") == probe) & F.col("block_number").between(100, 101)
        ).collect()
    )
    assert got == want


def test_zorder_projection_refresh_and_rebuild_keep_layout(spark, tmp_path):
    store = _pts_store(spark, tmp_path)
    store.build_projection(
        "pts", "z", zorder_by=("addr", "block_number"), max_fragments=4
    )
    # delta commit → refresh folds it in, layout preserved
    df = spark.createDataFrame(
        [(9000 + i, f"0x{i:04x}", 110) for i in range(32)],
        "id: long, addr: string, block_number: long",
    )
    store.commit({"pts": df})
    assert store.refresh_projection("pts", "z") > 0
    proj = store.projections("pts")["z"]
    assert proj["layout"] == "zorder"
    # compaction staleness → maintain_store rebuilds with the SAME layout
    rep = store.maintain_store(
        MaintenancePolicy(max_fragments=2, max_projection_lag=0)
    )
    assert "z" in rep["tables"]["pts"]["projections_rebuilt"]
    assert store.projections("pts")["z"]["layout"] == "zorder"
    # replay equivalence after the whole lifecycle
    got = store.read_projection("pts", "z").count()
    assert got == store.read("pts").count()


def test_build_projection_rejects_ambiguous_layout(spark, tmp_path):
    store = _pts_store(spark, tmp_path, n_batches=2, rows_per=4)
    with pytest.raises(ValueError, match="exactly one"):
        store.build_projection("pts", "x")
    with pytest.raises(ValueError, match="exactly one"):
        store.build_projection(
            "pts", "x", ("addr",), zorder_by=("addr", "block_number")
        )


def test_routing_prefers_zorder_with_block_bounds(spark, tmp_path):
    """get_logs_from_store layout preference: with block bounds the
    z-order replica wins (both-dimension pruning); without them the
    dedicated key-range layout wins — and results are identical either
    way because get_logs re-applies the full predicate."""
    from rust_evm_indexer_spark.operators import GetLogsFilter, get_logs_from_store

    store = _pts_store(spark, tmp_path)
    # rename columns the router expects on "logs"
    logs = store.read("pts").selectExpr(
        "id", "addr as contract_address", "block_number"
    )
    lstore = TableStore(spark, tmp_path / "lstore", bloom_columns={})
    lstore.commit({"logs": logs})
    lstore.build_projection("logs", "by_address", ("contract_address",))
    lstore.build_projection(
        "logs", "z", zorder_by=("contract_address", "block_number"),
        max_fragments=4,
    )
    projs = lstore.projections("logs")
    assert projs["by_address"]["layout"] == "range"
    assert projs["z"]["layout"] == "zorder"
    probe = "0x00b3"
    bounded = GetLogsFilter(address=probe, from_block=100, to_block=102)
    unbounded = GetLogsFilter(address=probe)
    # result identity across routes (the planner invariant)
    n_b = get_logs_from_store(lstore, bounded).count()
    n_u = get_logs_from_store(lstore, unbounded).count()
    base = lstore.read("logs")
    assert n_b == base.filter(
        (F.lower(F.col("contract_address")) == probe)
        & F.col("block_number").between(100, 102)
    ).count()
    assert n_u == base.filter(
        F.lower(F.col("contract_address")) == probe
    ).count()


def test_store_stats_observability(spark, tmp_path):
    """stats() is the metadata-only ops surface: fragment/row/byte
    counts, index-tier coverage, projection freshness (stale vs lag) —
    all from the manifest + local file metadata, no Spark job."""
    store = _pts_store(spark, tmp_path, n_batches=3)
    store.build_projection("pts", "by_addr", ("addr",), max_fragments=2)
    s = store.stats()
    t = s["tables"]["pts"]
    assert t["fragments"] == 3 and t["rows"] == 120
    assert t["bytes"] > 0
    assert t["bloom_fragments"] == 3  # bloom_columns covers addr
    assert t["min_block"] == 100 and t["max_block"] == 102
    p = t["projections"]["by_addr"]
    assert p["fragments"] == 2 and p["rows"] == 120
    assert p["stale"] is False and p["lag_fragments"] == 0

    # a new commit is the LSM tail: projection lags but is not stale
    df = spark.createDataFrame(
        [(9000 + i, f"0x{i:04x}", 200) for i in range(10)],
        "id: long, addr: string, block_number: long",
    )
    store.commit({"pts": df})
    p = store.stats()["tables"]["pts"]["projections"]["by_addr"]
    assert p["stale"] is False and p["lag_fragments"] == 1

    # compaction removes covered base fragments: projection is stale
    store.compact("pts", max_fragments=1)
    p = store.stats()["tables"]["pts"]["projections"]["by_addr"]
    assert p["stale"] is True
