"""Both manifest formats (inline-JSON and parquet fragment list) must
serve the identical store lifecycle: commit / idempotent replay / read
with pruning + blooms / rollback / compaction / projections / time
travel / vacuum.  The parquet format is the metadata tier for
million-fragment tables (manifest-read + prune is O(survivors) —
tools/manifest_bench.py); writes pick it once total fragments reach
``AUTO_PARQUET_FRAGMENTS`` and reads detect the format per version.
Tests force the parquet layout on small stores by patching that
threshold to 0."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rust_evm_indexer_spark.store import TableStore, table_store
from rust_evm_indexer_spark.store.table_store import DeltaManifest, LazyManifest


def _force_parquet(monkeypatch):
    """Every new manifest version crosses the fragment-count threshold."""
    monkeypatch.setattr(table_store, "AUTO_PARQUET_FRAGMENTS", 0)


@pytest.fixture(params=["json", "parquet"])
def fmt(request, monkeypatch):
    if request.param == "parquet":
        _force_parquet(monkeypatch)
    return request.param


def _mk(spark, tmp_path, fmt, n_batches=4, rows_per=30):
    store = TableStore(
        spark,
        tmp_path / f"store_{fmt}",
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


def test_lifecycle_equivalent_across_formats(spark, tmp_path, fmt):
    store = _mk(spark, tmp_path, fmt)
    if fmt == "parquet":
        # log-structured default: CURRENT is a delta chain whose BASE
        # checkpoint carries the columnar fraglist
        m = store.current_manifest()
        base = m.__dict__["_base"] if isinstance(m, DeltaManifest) else m
        assert isinstance(base, LazyManifest)
    # idempotent replay is a no-op in both formats
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

    # time travel across formats; rollback drops the tail atomically
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
    if fmt == "parquet":
        # sidecar names are writer-unique (frags-vNNNNNN-<token8>); each
        # survivor must belong to a kept version AND be the exact name
        # its envelope references
        import json as _json
        import re as _re

        kept = {int(p.name[1:7]) for p in mdir.glob("v*.json")}
        for fp in mdir.glob("frags-v*.parquet"):
            ver = int(_re.match(r"frags-v(\d{6})", fp.name).group(1))
            assert ver in kept
            env = _json.loads((mdir / f"v{ver:06d}.json").read_text())
            assert env["tables_pq"] == fp.name
    assert store.read("pts").count() == 90  # current snapshot intact


def test_format_migration_on_reopen(spark, tmp_path, monkeypatch):
    """A writer under the other format converts at the next swap; reads
    keep working across mixed-version histories.  CHECKPOINT_INTERVAL=0:
    this test is about the CHECKPOINT format, which only appends write
    deltas against (delta swaps are format-agnostic by design)."""
    store = _mk(spark, tmp_path, "json", n_batches=2)
    _force_parquet(monkeypatch)
    monkeypatch.setattr(table_store, "CHECKPOINT_INTERVAL", 0)
    pq_store = TableStore(spark, store.root, bloom_columns={"pts": ("addr",)})
    assert not isinstance(pq_store.current_manifest(), LazyManifest)
    df = spark.createDataFrame([(7, "0xbeef", 200)], "id: long, addr: string, block_number: long")
    pq_store.commit({"pts": df})
    m = pq_store.current_manifest()
    assert isinstance(m, LazyManifest)
    assert pq_store.read("pts").count() == 61
    # and back: a json-format writer over the parquet history
    monkeypatch.undo()
    back = TableStore(spark, store.root, bloom_columns={"pts": ("addr",)})
    back.commit({"pts": df.withColumn("id", F.lit(8).cast("long"))})
    assert not isinstance(back.current_manifest(), LazyManifest)
    assert back.read("pts").count() == 62


def test_auto_format_switches_at_fragment_threshold(spark, tmp_path):
    """The default ``auto`` writes inline JSON while the store is small
    (read_full — what every mutation pays — is cheaper) and switches new
    versions to the parquet fraglist once total fragments cross
    AUTO_PARQUET_FRAGMENTS, converting on the next swap."""
    import json as _json

    from rust_evm_indexer_spark.store.table_store import (
        AUTO_PARQUET_FRAGMENTS,
        Fragment,
        Manifest,
    )

    store = TableStore(spark, tmp_path / "auto", bloom_columns={}, dict_columns={})
    df = spark.createDataFrame([(1, "a", 100)], "id: long, addr: string, block_number: long")
    store.commit({"pts": df})
    v1 = store.current_manifest().version
    d = _json.loads((store.root / "_manifests" / f"v{v1:06d}.json").read_text())
    assert "tables_pq" not in d  # small store: inline JSON

    # fabricate a version holding >= threshold fragments (metadata only)
    m = store.current_manifest()
    big = Manifest(
        version=m.version + 1,
        tables={
            "pts": m.tables["pts"]
            + [
                Fragment(path=f"data/pts/fake-{i}", rows=1, min_block=i, max_block=i)
                for i in range(AUTO_PARQUET_FRAGMENTS)
            ]
        },
    )
    store._swap(big)
    d2 = _json.loads(
        (store.root / "_manifests" / f"v{big.version:06d}.json").read_text()
    )
    assert "tables_pq" in d2  # crossed the threshold: columnar fraglist
    assert isinstance(store.current_manifest(), LazyManifest)


def test_parquet_covers_sidecar_keeps_envelope_small(spark, tmp_path, monkeypatch):
    """r10: projection ``covers`` move into a columnar sidecar under
    the parquet manifest format, so the envelope parse — and every
    operation that never touches projections — stays O(envelope)
    regardless of how many base fragments the projections cover.
    Contract under test: envelope covers empty + covers_pq present,
    lazy hydration on first .projections access only, identical reads,
    delta takedowns/refreshes stacking on top, vacuum reclaiming the
    sidecars with their versions."""
    import json as _json

    _force_parquet(monkeypatch)
    store = _mk(spark, tmp_path, "parquet", n_batches=3)
    store.build_projection("pts", "by_addr", ("addr",), max_fragments=1)
    mdir = store.root / "_manifests"
    v = store.current_manifest().version
    d = _json.loads((mdir / f"v{v:06d}.json").read_text())
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
    reopened = TableStore(spark, tmp_path / "store_parquet", bloom_columns={})
    reopened.vacuum(keep_manifests=2)
    kept_json = {p.name[1:7] for p in mdir.glob("v*.json")}
    for cp in mdir.glob("covers-v*.parquet"):
        # names are writer-unique: covers-vNNNNNN-<token8>.parquet
        assert cp.name[len("covers-v"):len("covers-v") + 6] in kept_json
    assert reopened.read_projection("pts", "by_addr").count() == 90
