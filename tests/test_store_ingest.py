"""Store atomicity + ingest semantics: idempotent crash-replay, reorg
retraction, retry/backoff (SURVEY.md §5.4-5.5)."""

from __future__ import annotations

import pytest

from rust_evm_indexer_spark import datagen
from rust_evm_indexer_spark.ingest import EvmIngester, explode_batch
from rust_evm_indexer_spark.ingest.commit import attach_receipts
from rust_evm_indexer_spark.sources.rpc import MockRpcClient, TransientRpcError
from rust_evm_indexer_spark.store import TableStore

START = datagen.START_BLOCK


def make_ingester(spark, tmp_path, n_blocks=20, head=None, **kw):
    chain = datagen.generate_chain(n_blocks=n_blocks, seed=11)
    client = MockRpcClient(chain, head=head)
    store = TableStore(spark, tmp_path / "store")
    ing = EvmIngester(
        spark, client, store, start_block=START, backoff_base=0.01, **kw
    )
    return ing, client, store


def test_ingest_end_to_end(spark, tmp_path):
    ing, client, store = make_ingester(spark, tmp_path)
    results = ing.run_until_caught_up()
    assert results[-1].kind == "idle"
    assert ing.last_processed() == client.head

    # every canonical block/tx/log landed exactly once
    blocks = store.read("blocks")
    assert blocks.count() == len(client._by_height)
    got_hashes = {r[0] for r in blocks.select("block_hash").collect()}
    assert got_hashes == {b["block_hash"] for b in client._by_height.values()}
    n_txs = sum(len(v) for k, v in client._txs_by_block.items() if k in got_hashes)
    assert store.read("transactions").count() == n_txs
    # checkpoint telemetry consistent (O-24)
    st = store.read_status()
    assert st["last_processed_block"] == client.head


def test_logs_normalized_and_id_ordered(spark, tmp_path):
    ing, client, store = make_ingester(spark, tmp_path)
    ing.run_until_caught_up()
    logs = store.read("logs").orderBy("block_number", "id").collect()
    assert len(logs) == len(client.chain.logs)
    # packed id preserves (block_number, tx_index, log_index) order — the
    # cursor invariant (O-16/O-17)
    key = [
        (r["block_number"], r["transaction_index_in_block"], r["log_index_in_tx"])
        for r in logs
    ]
    assert key == sorted(key)
    ids = [r["id"] for r in logs]
    assert ids == sorted(ids) and len(set(ids)) == len(ids)
    # topics flattened consistently with the array (O-6)
    for r in logs[:50]:
        tops = r["all_topics"] or []
        for i in range(4):
            want = tops[i] if i < len(tops) else None
            assert r[f"topic{i}"] == want


def test_ingest_batches_capped(spark, tmp_path):
    ing, client, store = make_ingester(spark, tmp_path, n_blocks=12)
    res = ing.run_cycle()
    assert res.kind == "ingested"
    assert res.to_block - res.from_block + 1 <= 5  # BLOCKS_PER_BATCH


def test_commit_idempotent_crash_replay(spark, tmp_path):
    """Replaying an already-committed batch is a no-op (O-8: the Delta
    txnAppId/txnVersion pattern ≙ ON CONFLICT DO NOTHING)."""
    ing, client, store = make_ingester(spark, tmp_path, n_blocks=6)
    ing.run_until_caught_up()
    n0 = store.read("transactions").count()
    raw = attach_receipts(
        client, [client.get_block_with_txs(START + i) for i in range(3)], backoff=0.01
    )
    tables = explode_batch(raw)
    committed = store.commit(
        tables,
        status=store.read_status(),
        txn_app_id=ing.indexer_name,
        txn_version=START + 2,  # already committed watermark
    )
    assert committed is False
    assert store.read("transactions").count() == n0


def test_reorg_rollback_converges(spark, tmp_path):
    ing, client, store = make_ingester(spark, tmp_path, n_blocks=20)
    ing.run_until_caught_up()
    old_tip_hash = client._by_height[client.head]["block_hash"]

    fork = client.schedule_reorg(depth=3)
    results = ing.run_until_caught_up(max_cycles=20)
    assert any(r.kind == "reorg" for r in results)
    assert ing.last_processed() == client.head

    # all orphaned rows retracted from every table (invariant of
    # src/db.rs:34-50); new branch fully present
    blocks = {r[0] for r in store.read("blocks").select("block_hash").collect()}
    assert old_tip_hash not in blocks
    for fb in fork.blocks:
        assert fb["block_hash"] in blocks
    fork_hashes = {b["block_hash"] for b in fork.blocks}
    tx_blocks = {
        r[0] for r in store.read("transactions").select("block_hash").collect()
    }
    assert not (tx_blocks - {b["block_hash"] for b in client.chain.blocks})
    assert fork_hashes <= blocks
    # no duplicate heights survived
    heights = store.read("blocks").groupBy("block_number").count()
    assert heights.filter("count > 1").count() == 0


@pytest.mark.parametrize("fault", ["reorg", "missing"])
def test_mid_batch_fault_never_commits_a_mixed_batch(spark, tmp_path, fault):
    """A reorg between two fetches of one 5-block batch (or a height the
    node does not serve yet) must not land blocks from two branches (or
    a gap) under one checkpoint: the cycle keeps the linked prefix, and
    the next cycle's parent check sees the fork."""
    ing, client, store = make_ingester(
        spark, tmp_path, n_blocks=20, head=START + 14
    )
    for _ in range(2):
        assert ing.run_cycle().kind == "ingested"
    last = ing.last_processed()
    assert last == START + 9

    get_block = client.get_block_with_txs
    fired = []

    def faulty_get_block(number):
        raw = get_block(number)
        if number == last + 3 and not fired:
            fired.append(number)
            if fault == "missing":
                return None
            # head is last+5: the new branch replaces last+3..last+5,
            # so last+4 and last+5 come from it
            client.schedule_reorg(depth=3)
        return raw

    client.get_block_with_txs = faulty_get_block
    results = ing.run_until_caught_up(max_cycles=20)
    assert fired
    assert results[-1].kind == "idle"
    stored = {
        r["block_number"]: r["block_hash"]
        for r in store.read("blocks").collect()
    }
    canonical = {
        n: b["block_hash"]
        for n, b in client._by_height.items()
        if n <= client.head
    }
    assert stored == canonical
    assert ing.last_processed() == client.head
    if fault == "reorg":
        kinds = [r.kind for r in results]
        assert kinds == ["ingested", "reorg", "ingested", "idle"], kinds


def test_rollback_prunes_without_full_rewrite(spark, tmp_path):
    """Fragments wholly above the fork are dropped by manifest edit; only
    the straddling fragment is rewritten — rollback cost ∝ fork depth."""
    ing, client, store = make_ingester(spark, tmp_path, n_blocks=20)
    ing.run_until_caught_up()
    before = {
        f.path for f in store.current_manifest().tables["blocks"]
    }
    store.rollback_from(client.head - 1)
    after_frags = store.current_manifest().tables["blocks"]
    # surviving untouched fragments were reused verbatim (no rewrite)
    untouched = [f for f in after_frags if f.path in before]
    assert untouched, "expected untouched fragments below the fork"
    assert store.read("blocks").filter(
        f"block_number >= {client.head - 1}"
    ).count() == 0


def test_retry_recovers_from_transient_failures(spark, tmp_path):
    ing, client, store = make_ingester(spark, tmp_path, n_blocks=6)
    client.inject_failures(2)  # first two RPC calls fail; retries absorb
    results = ing.run_until_caught_up()
    assert ing.last_processed() == client.head
    assert results[-1].kind == "idle"


def test_retry_exhaustion_raises(spark, tmp_path):
    ing, client, store = make_ingester(spark, tmp_path, n_blocks=6)
    client.inject_failures(50)
    with pytest.raises(TransientRpcError):
        ing.run_cycle()
    # nothing partially committed (src/main.rs:313-329 semantics)
    assert store.read("blocks").count() == 0


def test_vacuum_removes_orphan_fragments(spark, tmp_path):
    ing, client, store = make_ingester(spark, tmp_path, n_blocks=10)
    ing.run_until_caught_up()
    store.rollback_from(client.head - 1)
    removed = store.vacuum()
    assert removed > 0
    # reads still serve the current snapshot
    assert store.read("blocks").count() > 0


def test_compact_preserves_data_and_prunes(spark, tmp_path):
    """Compaction merges fragments atomically; data identical, reads fine,
    vacuum reclaims the old fragments."""
    ing, client, store = make_ingester(spark, tmp_path, n_blocks=20)
    ing.run_until_caught_up()
    before_rows = {
        t: store.read(t).count() for t in ("blocks", "transactions", "logs")
    }
    n_before = store.compact("logs", max_fragments=2)
    assert n_before >= 4  # one fragment per 5-block batch
    # one manifest fragment PER range partition, so the coarse min/max
    # pruning tier survives compaction
    assert 1 <= len(store.current_manifest().tables["logs"]) <= 2
    after_rows = {t: store.read(t).count() for t in ("blocks", "transactions", "logs")}
    assert before_rows == after_rows
    # ids still unique & ordered after compaction
    ids = [r[0] for r in store.read("logs").orderBy("block_number", "id").select("id").collect()]
    assert ids == sorted(ids) and len(set(ids)) == len(ids)
    assert store.vacuum() > 0
    assert store.read("logs").count() == before_rows["logs"]


@pytest.mark.slow
def test_compact_end_to_end_query_and_pruning(spark, tmp_path):
    """VERDICT r3 item 6, end-to-end: ingest → compact → flagship query →
    plan hygiene on the compacted layout.  The compacted store must serve
    byte-identical log pages, keep the manifest's fragment-pruning tier
    alive (per-range fragments with tight min/max spans), and leave
    block_number clustered across row groups so parquet min/max skipping
    still works."""
    import pyarrow.parquet as pq

    from rust_evm_indexer_spark.operators import GetLogsFilter, run_get_logs

    ing, client, store = make_ingester(spark, tmp_path, n_blocks=40)
    ing.run_until_caught_up()
    flt = GetLogsFilter(
        topic0=datagen.TRANSFER_SIG,
        from_block=START + 5,
        to_block=START + 30,
        page_size=100,
    )
    before = run_get_logs(store.read("logs"), flt)
    assert before.logs, "fixture must produce a non-empty page"

    store.compact("logs", max_fragments=4, sort_within=("contract_address", "topic0"))
    assert store.vacuum() > 0

    frags = store.current_manifest().tables["logs"]
    assert 2 <= len(frags) <= 4
    # per-fragment spans are tight and non-overlapping → the coarse tier
    # can prune: a range at the tip must keep strictly fewer fragments
    spans = sorted((f.min_block, f.max_block) for f in frags)
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2
    tip_read = store.read("logs", min_block=client.head - 2)
    assert len(tip_read.inputFiles()) < len(frags)

    # identical page + cursor from the compacted layout
    after = run_get_logs(
        store.read("logs", min_block=START + 5, max_block=START + 30), flt
    )
    assert after.logs == before.logs
    assert (after.next_cursor_block, after.next_cursor_log_id) == (
        before.next_cursor_block,
        before.next_cursor_log_id,
    )

    # row-group clustering: within each fragment file, block_number
    # min/max stats are present and internally ordered (the compaction
    # sort), so parquet row-group skipping has stats to act on
    for f in frags:
        for part in (store.root / f.path).glob("part-*.parquet"):
            md = pq.read_metadata(part)
            idx = next(
                i
                for i in range(md.num_columns)
                if md.schema.column(i).path == "block_number"
            )
            maxes = []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                assert st is not None and st.has_min_max
                if maxes:
                    assert st.min >= maxes[-1][0]  # sorted run across groups
                maxes.append((st.min, st.max))


def test_concurrent_commit_detected(spark, tmp_path):
    """A second writer racing the same manifest version fails loudly
    (O_EXCL create ≙ conditional-put conflict), never lost-updates."""
    ing, client, store = make_ingester(spark, tmp_path, n_blocks=6)
    ing.run_cycle()
    m = store.current_manifest()
    # simulate a racer that already wrote the next version
    (store.root / "_manifests" / f"v{m.version + 1:06d}.json").write_text("{}")
    with pytest.raises(RuntimeError, match="concurrent commit"):
        store.set_status({"indexer_name": "x", "last_processed_block": 1,
                          "chain_head_at_last_poll": 2})


def test_vacuum_grace_period_and_manifest_gc(spark, tmp_path):
    """grace_seconds protects fragments for in-flight readers (fresh
    orphans survive, aged ones go); manifest versions are pruned to the
    newest keep_manifests while CURRENT stays serveable."""
    ing, client, store = make_ingester(spark, tmp_path, n_blocks=20)
    ing.run_until_caught_up()
    store.rollback_from(client.head - 1)
    # fresh orphans within the grace window survive
    assert store.vacuum(grace_seconds=3600) == 0
    assert store.vacuum() > 0  # immediate reclaim without grace
    m = store.current_manifest()
    store.vacuum(keep_manifests=2)
    kept = sorted(
        int(p.name[1:7]) for p in (store.root / "_manifests").glob("v*.json")
    )
    # newest 2 versions survive; the log-structured default additionally
    # retains each kept delta's chain (<= one CHECKPOINT_INTERVAL extra)
    # so every retained version stays resolvable
    assert kept[-2:] == [m.version - 1, m.version]
    for v in kept:
        store.manifest_at(v)
    # CURRENT still resolves and serves the same snapshot
    assert store.current_manifest().version == m.version
    assert store.read("blocks").count() > 0


def test_time_travel_read_pre_reorg(spark, tmp_path):
    """Version-pinned reads (the Delta versionAsOf analog): the
    pre-reorg snapshot stays readable at its manifest version after the
    fork is rolled back and re-ingested — fragments are immutable and
    survive until vacuum — while CURRENT serves the canonical chain."""
    ing, client, store = make_ingester(spark, tmp_path, n_blocks=15)
    ing.run_until_caught_up()
    v_before = store.current_manifest().version
    old_tip = client._by_height[client.head]["block_hash"]

    client.schedule_reorg(depth=3)
    ing.run_until_caught_up(max_cycles=20)

    # CURRENT: orphan gone
    cur_hashes = {
        r[0] for r in store.read("blocks").select("block_hash").collect()
    }
    assert old_tip not in cur_hashes
    # time travel: the orphaned tip is still in the pinned snapshot
    old_hashes = {
        r[0]
        for r in store.read("blocks", version=v_before)
        .select("block_hash")
        .collect()
    }
    assert old_tip in old_hashes
    # vacuumed version raises loudly
    store.vacuum(keep_manifests=1)
    with pytest.raises(ValueError, match="not found"):
        store.manifest_at(v_before)


def test_schema_evolution_additive(spark, tmp_path):
    """Additive evolution: new columns land WITH their data in one swap,
    old fragments read them as NULL, time travel sees the pre-evolution
    schema, and a type change is a loud error (never a silent cast)."""
    store = TableStore(spark, tmp_path / "store")
    base = spark.createDataFrame(
        [(1, "a")], "block_number long, payload string"
    )
    store.commit({"t": base})
    evolved = spark.createDataFrame(
        [(2, "b", "spam")],
        "block_number long, payload string, quality_tag string",
    )
    store.commit({"t": evolved})

    df = store.read("t")
    assert df.columns == ["block_number", "payload", "quality_tag"]
    rows = {(r.block_number, r.payload, r.quality_tag) for r in df.collect()}
    assert rows == {(1, "a", None), (2, "b", "spam")}
    assert df.filter("quality_tag = 'spam'").count() == 1

    # time travel: version 1 predates the evolution → old schema
    old = store.read("t", version=1)
    assert old.columns == ["block_number", "payload"]

    # type change rejected before the manifest swap (fragment orphaned,
    # reclaimed by vacuum — never visible to readers).  Never-referenced
    # dirs sit under the in-flight-writer floor (r12), so age the tree
    # past it the way time would before expecting reclamation.
    bad = spark.createDataFrame([(3, 5)], "block_number long, payload long")
    with pytest.raises(ValueError, match="schema evolution rejected"):
        store.commit({"t": bad})
    assert store.read("t").count() == 2
    assert store.vacuum(keep_manifests=100) == 0  # floor protects orphan
    import os

    for rel in store._dio.list_fragment_dirs():
        old = store._dio.dir_mtime(rel) - store.claim_grace_seconds - 1
        os.utime(store.root / rel, (old, old))
    assert store.vacuum(keep_manifests=100) >= 1  # the orphaned fragment

    # writer dropping a column: evolved schema keeps it, new rows NULL
    dropped = spark.createDataFrame([(4,)], "block_number long")
    store.commit({"t": dropped})
    r4 = store.read("t").filter("block_number = 4").collect()[0]
    assert (r4.payload, r4.quality_tag) == (None, None)


def test_schema_evolution_survives_compaction_and_rollback(spark, tmp_path):
    """Compaction merges pre- and post-evolution fragments under the
    manifest schema; rollback keeps the evolved schema."""
    store = TableStore(spark, tmp_path / "store")
    for b in range(6):
        store.commit(
            {"t": spark.createDataFrame([(b, f"p{b}")], "block_number long, payload string")}
        )
    store.commit(
        {
            "t": spark.createDataFrame(
                [(6, "p6", 0.5)],
                "block_number long, payload string, score double",
            )
        }
    )
    before = store.compact("t", max_fragments=2)
    assert before == 7
    df = store.read("t")
    assert df.columns == ["block_number", "payload", "score"]
    assert df.count() == 7
    assert df.filter("score is not null").count() == 1
    # fragment pruning still works post-compaction on the evolved table
    assert len(store.current_manifest().tables["t"]) <= 2

    store.rollback_from(6)
    df = store.read("t")
    assert df.columns == ["block_number", "payload", "score"]
    assert df.count() == 6
    assert df.filter("score is not null").count() == 0


@pytest.mark.slow
def test_scheduled_maintenance_bounds_fragments(spark, tmp_path):
    """In-loop maintenance (maintenance_policy/maintain_every): streaming
    ingest writes one fragment per 5-block batch; with maintenance
    scheduled every 3 ingesting cycles the fragment count stays bounded
    while the data remains identical to an unmaintained ingest."""
    from rust_evm_indexer_spark.store import MaintenancePolicy

    ing, client, store = make_ingester(
        spark,
        tmp_path,
        n_blocks=40,
        maintenance_policy=MaintenancePolicy(max_fragments=2),
        maintain_every=3,
    )
    results = ing.run_until_caught_up()
    maintained = [r for r in results if r.maintained]
    assert maintained, "maintenance never fired"
    assert maintained[0].maintained["tables"]["logs"]["compacted_from"] > 2
    # 8 ingest cycles, maintenance after cycles 3 and 6 → at most the
    # compaction cap + the post-maintenance tail of fragments
    assert len(store.current_manifest().tables["logs"]) <= 4

    ing2, _, store2 = make_ingester(spark, tmp_path / "plain", n_blocks=40)
    ing2.run_until_caught_up()
    got = sorted(r["id"] for r in store.read("logs").collect())
    want = sorted(r["id"] for r in store2.read("logs").collect())
    assert got == want


def test_maintenance_off_by_default(spark, tmp_path):
    ing, _, store = make_ingester(spark, tmp_path, n_blocks=20)
    results = ing.run_until_caught_up()
    assert all(r.maintained is None for r in results)
    # one fragment per ingesting cycle, untouched
    n_cycles = sum(1 for r in results if r.kind == "ingested")
    assert len(store.current_manifest().tables["logs"]) == n_cycles
