"""The checkpoint encoding (envelope JSON + parquet fragment list) must
serve the whole store lifecycle: commit / idempotent replay / read with
pruning + blooms / rollback / compaction / projections / time travel /
vacuum.  The parquet fraglist is the metadata tier for million-fragment
tables (manifest-read + prune is O(survivors) — tools/manifest_bench.py);
every checkpoint writes it, and inline-JSON checkpoints from older
stores stay readable until their next checkpoint converts them."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from rust_evm_indexer_spark.store import TableStore
from rust_evm_indexer_spark.store.table_store import (
    DeltaManifest,
    LazyManifest,
    Manifest,
)


def _mk(spark, tmp_path, n_batches=4, rows_per=30):
    store = TableStore(
        spark,
        tmp_path / "store",
        bloom_columns={"pts": ("addr",)},
    )
    for b in range(n_batches):
        rows = [
            (b * 1000 + i, f"0x{(i * n_batches + b):04x}", 100 + b)
            for i in range(rows_per)
        ]
        df = spark.createDataFrame(rows, "id: long, addr: string, block_number: long")
        store.commit({"pts": df}, txn_app_id="t", txn_version=b)
    return store


def _record(store, version: int) -> dict:
    return json.loads((store.root / "_manifests" / f"v{version:06d}.json").read_text())


def test_lifecycle(spark, tmp_path):
    store = _mk(spark, tmp_path)
    # log-structured default: CURRENT is a delta chain whose BASE
    # checkpoint carries the columnar fraglist
    m = store.current_manifest()
    assert isinstance(m, DeltaManifest)
    assert isinstance(m.__dict__["_base"], LazyManifest)
    # idempotent replay is a no-op
    df = spark.createDataFrame([(1, "0xdead", 100)], "id: long, addr: string, block_number: long")
    assert store.commit({"pts": df}, txn_app_id="t", txn_version=0) is False
    assert store.read("pts").count() == 120
    assert store.table_rows("pts") == 120

    # manifest-side block pruning reaches the file listing
    bounded = store.read("pts", min_block=101, max_block=101)
    # one fragment of four survives (fragments may span several part-files)
    assert len(bounded.inputFiles()) < len(store.read("pts").inputFiles())
    assert len(store.fragments_for("pts", min_block=101, max_block=101)) == 1
    assert bounded.filter("block_number = 101").count() == 30

    # bloom pruning composes with the parquet fragment list
    probe = store.read("pts").select("addr").first()[0]
    via = store.read("pts", equals={"addr": probe})
    assert len(via.inputFiles()) < len(store.read("pts").inputFiles())
    assert via.filter(F.col("addr") == probe).count() >= 1

    # time travel; rollback drops the tail atomically
    v_before = store.current_manifest().version
    assert store.rollback_from(103) > 0
    assert store.read("pts").count() == 90
    assert store.read("pts", version=v_before).count() == 120

    # compaction + projection lifecycle
    store.compact("pts", max_fragments=1)
    store.build_projection("pts", "by_addr", ("addr",), max_fragments=2)
    got = (
        store.read_projection("pts", "by_addr", key_equals=probe)
        .filter(F.col("addr") == probe)
        .count()
    )
    want = store.read("pts").filter(F.col("addr") == probe).count()
    assert got == want

    # vacuum reclaims old fragments AND old fraglist sidecars
    removed = store.vacuum(keep_manifests=2)
    assert removed > 0
    mdir = store.root / "_manifests"
    # sidecar names are writer-unique (frags-vNNNNNN-<token8>); each
    # survivor must belong to a kept version AND be the exact name its
    # envelope references
    import re as _re

    kept = {int(p.name[1:7]) for p in mdir.glob("v*.json")}
    for fp in mdir.glob("frags-v*.parquet"):
        ver = int(_re.match(r"frags-v(\d{6})", fp.name).group(1))
        assert ver in kept
        assert _record(store, ver)["tables_pq"] == fp.name
    assert store.read("pts").count() == 90  # current snapshot intact


def test_first_checkpoint_of_small_store_is_parquet(spark, tmp_path):
    """One encoding at every size: the first checkpoint of a store
    holding a single fragment already carries the columnar fraglist,
    with no inline fragment list, and resolves lazily."""
    store = TableStore(spark, tmp_path / "one", bloom_columns={}, dict_columns={})
    df = spark.createDataFrame([(1, "a", 100)], "id: long, addr: string, block_number: long")
    store.commit({"pts": df})
    d = _record(store, store.current_version())
    assert "base" not in d and d["tables"] == {}
    assert (store.root / "_manifests" / d["tables_pq"]).exists()
    m = store.current_manifest()
    assert isinstance(m, LazyManifest)
    assert store.table_rows("pts") == 1
    assert [f.rows for f in m.tables["pts"]] == [1]


def test_format_migration_on_reopen(spark, tmp_path):
    """A store whose checkpoint is inline JSON (the layout written before
    every checkpoint carried the parquet fraglist) reopens, reads, time-
    travels and rolls back; its next checkpoint converts to the fraglist.
    The v1 checkpoint is re-written by hand as ``Manifest.to_json()``
    with its sidecar removed; the v2-v4 delta records are the same JSON
    in both layouts."""
    store = _mk(spark, tmp_path)
    mdir = store.root / "_manifests"
    inline = Manifest.to_json(store.manifest_at(1))  # hydrates the fraglist
    assert inline["tables"]["pts"] and "tables_pq" not in inline
    sidecar = _record(store, 1)["tables_pq"]
    (mdir / "v000001.json").write_text(json.dumps(inline, indent=1))
    (mdir / sidecar).unlink()

    reopened = TableStore(spark, store.root, bloom_columns={"pts": ("addr",)})
    m1 = reopened.manifest_at(1)
    assert type(m1) is Manifest  # inline checkpoint, read eagerly
    assert reopened.read("pts").count() == 120
    assert reopened.table_rows("pts") == 120
    assert len(reopened.fragments_for("pts", min_block=101, max_block=101)) == 1
    for v in range(1, 5):  # time travel across the inline base + deltas
        assert reopened.read("pts", version=v).count() == 30 * v
    assert reopened.rollback_from(103) == 1
    assert reopened.read("pts").count() == 90
    assert reopened.read("pts", version=4).count() == 120
    d = _record(reopened, reopened.current_version())
    assert d["op"] == "rollback" and "tables_pq" in d and d["tables"] == {}
    assert isinstance(reopened.current_manifest(), LazyManifest)


def test_parquet_covers_sidecar_keeps_envelope_small(spark, tmp_path):
    """r10: projection ``covers`` move into a columnar sidecar in every
    checkpoint, so the envelope parse — and every
    operation that never touches projections — stays O(envelope)
    regardless of how many base fragments the projections cover.
    Contract under test: envelope covers empty + covers_pq present,
    lazy hydration on first .projections access only, identical reads,
    delta takedowns/refreshes stacking on top, vacuum reclaiming the
    sidecars with their versions."""
    store = _mk(spark, tmp_path, n_batches=3)
    store.build_projection("pts", "by_addr", ("addr",), max_fragments=1)
    mdir = store.root / "_manifests"
    v = store.current_manifest().version
    d = _record(store, v)
    assert d["covers_pq"].startswith(f"covers-v{v:06d}")  # writer-unique name
    assert d["projections"]["pts"]["by_addr"]["covers"] == []
    assert (mdir / d["covers_pq"]).exists()

    # resolution does NOT load covers until projections are accessed
    m = store.manifest_at(v)
    assert isinstance(m, LazyManifest)
    assert not m.__dict__.get("_covers_loaded")
    covers = m.projections["pts"]["by_addr"]["covers"]
    assert len(covers) == 3 and m.__dict__.get("_covers_loaded")

    # a commit + takedown on the chain never touches projection state
    store.commit({"pts": spark.createDataFrame(
        [(9001, "0xffff", 200)], "id: long, addr: string, block_number: long")})
    dm = store.current_manifest()
    assert isinstance(dm, DeltaManifest)
    assert dm.__dict__.get("_proj_resolved") is None  # still lazy
    # the projected read resolves through the sidecar + delta chain
    assert store.delete_equals("pts", "id", 1)["deleted_rows"] == 1
    got = store.read_projection("pts", "by_addr").count()
    assert got == store.read("pts").count() == 90
    # refresh drains the lag via a projections_delta, covers grow
    assert store.refresh_projection("pts", "by_addr") >= 1
    cur = store.current_manifest()
    assert len(cur.projections["pts"]["by_addr"]["covers"]) == 4
    # reopen from files alone and vacuum: old covers sidecars die with
    # their versions, the kept chain stays resolvable
    reopened = TableStore(spark, tmp_path / "store", bloom_columns={})
    reopened.vacuum(keep_manifests=2)
    kept_json = {p.name[1:7] for p in mdir.glob("v*.json")}
    for cp in mdir.glob("covers-v*.parquet"):
        # names are writer-unique: covers-vNNNNNN-<token8>.parquet
        assert cp.name[len("covers-v"):len("covers-v") + 6] in kept_json
    assert reopened.read_projection("pts", "by_addr").count() == 90
