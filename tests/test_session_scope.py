"""The session scope (util.SessionScope) owns everything the engine keeps
between calls: pins, build views and keyed frames until its release
(``catalog.clear_session_caches``), metadata memos until the Spark
application changes."""

from __future__ import annotations

import os
from types import SimpleNamespace

from rust_evm_indexer_spark.catalog import CATALOG, clear_session_caches
from rust_evm_indexer_spark.sources.batch import read_parquet_memo
from rust_evm_indexer_spark.util import SessionScope

from conftest import SF_ORACLE

# one catalog entry per kind of state the scope holds
_LEAK_ENTRIES = (
    "dedup_survivors",  # shingle + pair frames
    "dedup_minhash_lsh",  # build views + pins
    "bm25_search",  # build views + pins
    "corpus_report",  # pins
    "similarity_ivf_knn_join",  # IVF index objects
    "semantic_admit_delta",  # call-local pins
    "jsonl_ingest",  # the corrupt-record boundary pin
)


def _underscore_views(spark) -> list[str]:
    return [
        t.name for t in spark.catalog.listTables()
        if t.isTemporary and t.name.startswith("_")
    ]


def test_release_leaves_no_cache_and_no_build_view(spark):
    """After every release the cache manager is empty and no `_` build
    view remains — on the second loop too, so state from one pass can
    neither leak nor break the next."""
    clear_session_caches()
    spark.catalog.clearCache()  # start from an empty cache manager
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    for _ in range(2):
        for name in _LEAK_ENTRIES:
            CATALOG[name].fn(spark, str(SF_ORACLE)).count()
            clear_session_caches()
            assert cache_manager.isEmpty(), name
            assert _underscore_views(spark) == [], name


def test_read_parquet_memo_rereads_after_a_file_is_deleted(spark, tmp_path):
    """The directory key counts the data files and their bytes: deleting
    one that is not the newest re-resolves the plan."""
    d = tmp_path / "cells"
    spark.range(40).selectExpr("id", "id % 4 AS cell").write.partitionBy(
        "cell"
    ).parquet(str(d))
    victim = sorted(d.rglob("*.parquet"))[0]
    os.utime(victim, ns=(1_000, 1_000))  # the oldest file
    first = read_parquet_memo(spark, d)
    assert read_parquet_memo(spark, d) is first
    n_victim = spark.read.parquet(str(victim)).count()
    assert n_victim > 0
    victim.unlink()
    again = read_parquet_memo(spark, d)
    assert again is not first
    assert again.count() == 40 - n_victim


def test_scope_lifetimes():
    """release() drops pins, views and keyed frames but keeps metadata
    memos; a new application id drops everything (an IVF index loaded
    in a stopped session is never handed to the next one)."""

    def app(app_id):
        return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))

    scope = SessionScope()
    assert scope.bind(app("a")).frame(("ivf",), lambda: "index-a") == "index-a"
    assert scope.memo(("plan",), lambda: "plan-a") == "plan-a"
    scope.release()
    assert scope.bind(app("a")).frame(("ivf",), lambda: "rebuilt") == "rebuilt"
    assert scope.memo(("plan",), lambda: "re-read") == "plan-a"
    scope.bind(app("b"))
    assert scope.frame(("ivf",), lambda: "index-b") == "index-b"
    assert scope.memo(("plan",), lambda: "plan-b") == "plan-b"
