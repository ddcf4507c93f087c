"""Streaming surface: windowed analytics (X-6) + the streaming ingest
wrapper (O-1 cadence, exactly-once via store idempotency)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rust_evm_indexer_spark import datagen
from rust_evm_indexer_spark.ingest import EvmIngester
from rust_evm_indexer_spark.sources.batch import load_driver_table
from rust_evm_indexer_spark.sources.rpc import MockRpcClient
from rust_evm_indexer_spark.store import TableStore
from rust_evm_indexer_spark.streaming import (
    IngestStream,
    session_windows_native,
    sessionize,
    sliding_window_stats,
    stream_dedup_exact,
    streaming_hourly_counts,
    tumbling_window_stats,
)

from conftest import SF_ORACLE


@pytest.fixture(scope="module")
def events(spark):
    return load_driver_table(spark, SF_ORACLE, "events")


def test_tumbling_matches_oracle(events, duck):
    got = tumbling_window_stats(events, "1 hour", watermark=None)
    want = duck.execute(
        """
        SELECT epoch_us(date_trunc('hour', ts)) AS w_start_us,
               epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR) AS w_end_us,
               event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2, 3
        """
    ).df()
    from compare import assert_frames_match

    assert_frames_match(got, want, "tumbling")


def test_sliding_window_multiplicity(events):
    """1h window sliding by 15m ⇒ every event appears in exactly 4 windows."""
    total_events = events.count()
    windowed = sliding_window_stats(events, "1 hour", "15 minutes", watermark=None)
    assert windowed.agg(F.sum("n")).first()[0] == 4 * total_events


def test_sessionize_lag_vs_native(events):
    """The lag/cumsum sessionization and the built-in session_window must
    agree on session count and event totals per user."""
    lag_based = sessionize(events, gap_minutes=5)
    native = session_windows_native(events, "5 minutes", watermark=None)
    a = (
        lag_based.groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"), F.sum("n_events").alias("n_events"))
        .collect()
    )
    b = (
        native.groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"), F.sum("n_events").alias("n_events"))
        .collect()
    )
    assert {
        (r["user_id"], r["n_sessions"], r["n_events"]) for r in a
    } == {(r["user_id"], r["n_sessions"], r["n_events"]) for r in b}


def test_streaming_hourly_counts_end_to_end(spark, duck):
    """readStream → watermarked tumbling agg → memory sink must produce
    the same closed windows as the batch plan."""
    q = streaming_hourly_counts(
        spark, str(SF_ORACLE / "events.parquet"), queryName="t_hourly"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM t_hourly")
    # append mode emits only windows closed by the watermark; check they
    # are a consistent subset of the batch result
    batch = {
        (r["w_start_us"], r["event_type"]): (r["n"], r["sum_value"])
        for r in tumbling_window_stats(
            load_driver_table(spark, SF_ORACLE, "events"), "1 hour", watermark=None
        ).collect()
    }
    emitted = got.collect()
    assert len(emitted) > 0
    for r in emitted:
        assert batch[(r["w_start_us"], r["event_type"])] == (r["n"], r["sum_value"])


def test_streaming_hourly_counts_empty_dir_start(spark, tmp_path):
    """The stream must START on an empty/not-yet-populated directory via
    the explicit schema fallback (a real deployment's sink dir exists
    before its first file), then pick up files that arrive later and
    produce the same closed windows as a warm start (VERDICT r3 item 5 /
    streaming/windows.py fallback branch)."""
    import shutil

    in_dir = tmp_path / "events_in"
    in_dir.mkdir()  # exists but EMPTY: batch-probe raises, fallback used
    q = streaming_hourly_counts(spark, str(in_dir), queryName="t_hourly_empty")
    try:
        q.processAllAvailable()  # zero batches, but the query is live
        assert spark.sql("SELECT * FROM t_hourly_empty").count() == 0
        shutil.copy(SF_ORACLE / "events.parquet", in_dir / "events.parquet")
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM t_hourly_empty").collect()
    assert len(got) > 0
    batch = {
        (r["w_start_us"], r["event_type"]): (r["n"], r["sum_value"])
        for r in tumbling_window_stats(
            load_driver_table(spark, SF_ORACLE, "events"), "1 hour", watermark=None
        ).collect()
    }
    for r in got:
        assert batch[(r["w_start_us"], r["event_type"])] == (r["n"], r["sum_value"])


def test_stream_dedup_drops_redeliveries(spark, tmp_path):
    """At-least-once redelivery: every event arrives twice; the
    watermark-bounded streaming dedup must emit each key exactly once."""
    base = spark.createDataFrame(
        [(i, f"2024-01-01 00:{i:02d}:00", i % 3) for i in range(30)],
        "event_id long, ts_str string, user_id long",
    ).select("event_id", F.col("ts_str").cast("timestamp").alias("ts"), "user_id")
    base.unionAll(base).repartition(4).write.parquet(str(tmp_path / "in"))
    stream = spark.readStream.schema("event_id long, ts timestamp, user_id long").parquet(
        str(tmp_path / "in")
    )
    q = (
        stream_dedup_exact(stream, keys=("event_id",), watermark="1 hour")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_sink")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(
        "SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_sink"
    ).first()
    assert (got["n"], got["d"]) == (30, 30)


def test_ingest_stream_cycles_and_idempotency(spark, tmp_path):
    """The streaming wrapper drives real cycles on its trigger; replaying
    a cycle after catch-up is a no-op (store watermark)."""
    chain = datagen.generate_chain(n_blocks=8, seed=5)
    client = MockRpcClient(chain)
    store = TableStore(spark, tmp_path / "stream_store")
    ing = EvmIngester(
        spark, client, store, start_block=datagen.START_BLOCK, backoff_base=0.01
    )
    stream = IngestStream(spark, ing, poll_interval_seconds=1)
    stream.start()
    try:
        results = stream.await_cycles(3, timeout_seconds=120)
    finally:
        stream.stop()
    assert len(results) >= 3
    assert any(r.kind == "ingested" for r in results)
    # extra idle cycles after catch-up must not duplicate anything
    n_blocks_stored = store.read("blocks").count()
    assert n_blocks_stored == len(client._by_height)
    ing.run_cycle()  # manual replay attempt
    assert store.read("blocks").count() == n_blocks_stored


@pytest.mark.slow
def test_ingest_stream_runs_maintenance_on_cadence(spark, tmp_path):
    """VERDICT r8 item 6: an ingester with a maintenance policy runs
    maintain_store every maintain_every ingesting cycles, so under the
    streaming wrapper fragment count stays bounded by POLICY while the
    stream follows the chain — no external maintenance timer.
    Maintenance runs inside the tick (never concurrent with a commit),
    and the data stays exact across maintenance versions."""
    from rust_evm_indexer_spark.store import MaintenancePolicy

    chain = datagen.generate_chain(n_blocks=40, seed=6)
    client = MockRpcClient(chain)
    store = TableStore(spark, tmp_path / "maint_stream_store")
    pol = MaintenancePolicy(max_fragments=3, keep_manifests=6)
    ing = EvmIngester(
        spark, client, store, start_block=datagen.START_BLOCK,
        backoff_base=0.01, maintenance_policy=pol, maintain_every=3,
    )
    stream = IngestStream(spark, ing, poll_interval_seconds=1)
    stream.start()
    try:
        # 40 blocks / BLOCKS_PER_BATCH(5) = 8 ingest cycles to catch up;
        # wait for 9 so the tail batch lands before the exactness check
        results = stream.await_cycles(9, timeout_seconds=240)
    finally:
        stream.stop()
    assert len(results) >= 9
    reports = [r.maintained for r in stream.results if r.maintained]
    assert len(reports) >= 2  # fired on the cadence
    assert any(
        "blocks" in rep["triggers"] or "logs" in rep["triggers"]
        for rep in reports
    )
    # drain any post-report ingest overshoot, then the policy bound holds
    store.maintain_store(pol)
    st = store.stats()["tables"]
    for table in ("blocks", "transactions", "logs"):
        assert st[table]["fragments"] <= pol.max_fragments, (table, st[table])
    # exactness across compaction/vacuum: every chain block present once
    got = {r["block_number"] for r in store.read("blocks").collect()}
    assert got == set(client._by_height)
    assert store.read("blocks").count() == len(got)


def test_streaming_starts_on_empty_dir(spark, tmp_path):
    """A file stream must start before any data arrives (ADVICE r2): the
    schema probe falls back to the declared events schema when the
    directory is empty, and files landing later flow through."""
    import shutil

    d = tmp_path / "incoming"
    d.mkdir()
    q = streaming_hourly_counts(spark, str(d), queryName="t_empty_start")
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM t_empty_start").count() == 0
        shutil.copy(SF_ORACLE / "events.parquet", d / "events.parquet")
        q.processAllAvailable()
        # micros-NTZ fixture under the fallback schema: rows must flow
        assert q.lastProgress is not None
    finally:
        q.stop()


def test_stream_dedup_canonical_swallows_formatting_variants(spark, tmp_path):
    """Near-dup suppression on the canonical fingerprint: a re-crawl
    differing only in case/punctuation/whitespace is a duplicate; a
    genuinely different doc is not."""
    from rust_evm_indexer_spark.streaming.dedup import stream_dedup_canonical

    rows = [
        (1, "2024-01-01 00:01:00", "The quick brown fox."),
        (2, "2024-01-01 00:02:00", "the  QUICK   brown fox"),  # canonical dup
        (3, "2024-01-01 00:03:00", "a different document entirely"),
        (4, "2024-01-01 00:04:00", "The quick brown fox"),  # dup again
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, ts_str string, text string"
    ).select("doc_id", F.col("ts_str").cast("timestamp").alias("ts"), "text")
    df.coalesce(1).write.parquet(str(tmp_path / "docs_in"))
    stream = spark.readStream.schema("doc_id long, ts timestamp, text string").parquet(
        str(tmp_path / "docs_in")
    )
    q = (
        stream_dedup_canonical(stream, watermark="1 hour")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("canon_sink")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["text"] for r in spark.sql("SELECT text FROM canon_sink").collect()}
    assert len(got) == 2  # one fox variant + the different doc
    assert "a different document entirely" in got


def test_stream_dedup_canonical_passes_null_text_through(spark, tmp_path):
    """Malformed (text-less) records are exempt from the dedup key space:
    NULL keys would otherwise compare equal in the state store and
    swallow unrelated records as duplicates."""
    from rust_evm_indexer_spark.streaming.dedup import stream_dedup_canonical

    rows = [
        (1, "2024-01-01 00:01:00", None),
        (2, "2024-01-01 00:02:00", None),
        (3, "2024-01-01 00:03:00", None),
        (4, "2024-01-01 00:04:00", "real content"),
        # re-DELIVERY of null-text row 1: the id-salted exemption key is
        # stable, so this IS a duplicate and must be swallowed
        (1, "2024-01-01 00:05:00", None),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, ts_str string, text string"
    ).select("doc_id", F.col("ts_str").cast("timestamp").alias("ts"), "text")
    df.coalesce(1).write.parquet(str(tmp_path / "null_in"))
    stream = spark.readStream.schema("doc_id long, ts timestamp, text string").parquet(
        str(tmp_path / "null_in")
    )
    q = (
        stream_dedup_canonical(stream, watermark="1 hour")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("null_sink")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [r["doc_id"] for r in spark.sql("SELECT doc_id FROM null_sink").collect()]
    # all three DISTINCT null-text rows survive; the re-delivered one
    # is deduped on its stable id-salted fingerprint
    assert sorted(got) == [1, 2, 3, 4]


def test_stream_enrich_static_stateless(spark, tmp_path):
    """Stream-static enrichment: every event row gains its dim columns,
    no watermark state, row count preserved under a left join on a
    unique dim key."""
    import shutil

    from rust_evm_indexer_spark.streaming.windows import stream_enrich_static

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    shutil.copy(SF_ORACLE / "events.parquet", in_dir / "a.parquet")
    src = spark.read.parquet(str(in_dir))
    dim = spark.createDataFrame(
        [("click", "engagement"), ("view", "passive")],
        "event_type string, tier string",
    )
    stream = spark.readStream.schema(src.schema).parquet(str(in_dir))
    q = (
        stream_enrich_static(stream, dim)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_enrich")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM t_enrich")
    assert got.count() == src.count()  # left join, unique dim key
    assert got.filter("event_type = 'click' AND tier != 'engagement'").count() == 0
    assert got.filter("tier IS NOT NULL").count() == src.filter(
        "event_type IN ('click','view')"
    ).count()


def test_stream_enrich_refreshing_picks_up_dim_overwrite(spark, tmp_path):
    """The foreachBatch SCD variant must re-resolve the dim per
    micro-batch: after a full dim overwrite between triggers, rows from
    the second batch are enriched under the NEW mapping (a plain
    stream-static join would error on the deleted files — measured)."""
    import shutil

    from rust_evm_indexer_spark.streaming.windows import stream_enrich_refreshing

    in_dir, dim_dir, out_dir = (
        tmp_path / "in",
        str(tmp_path / "dim"),
        str(tmp_path / "out"),
    )
    in_dir.mkdir()
    spark.createDataFrame(
        [("click", "engagement")], "event_type string, tier string"
    ).coalesce(1).write.mode("overwrite").parquet(dim_dir)
    shutil.copy(SF_ORACLE / "events.parquet", in_dir / "a.parquet")
    src = spark.read.parquet(str(in_dir))
    stream = spark.readStream.schema(src.schema).parquet(str(in_dir))
    q = stream_enrich_refreshing(spark, stream, dim_dir, out_dir)
    try:
        q.processAllAvailable()
        n_click = src.filter("event_type = 'click'").count()
        got1 = spark.read.parquet(out_dir)
        assert got1.count() == src.count()
        assert got1.filter("tier = 'engagement'").count() == n_click
        assert got1.filter("tier = 'revenue'").count() == 0
        # full dim overwrite between triggers (new file names)
        spark.createDataFrame(
            [("click", "engagement"), ("purchase", "revenue")],
            "event_type string, tier string",
        ).coalesce(1).write.mode("overwrite").parquet(dim_dir)
        shutil.copy(SF_ORACLE / "events.parquet", in_dir / "b.parquet")
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(out_dir)
    assert got.count() == 2 * src.count()
    # second batch saw the refreshed dim
    assert got.filter("tier = 'revenue'").count() == src.filter(
        "event_type = 'purchase'"
    ).count()


def test_stream_dedup_canonical_null_text_exactly_once_across_restart(
    spark, tmp_path
):
    """Checkpoint-restart replay (VERDICT r4 item 3): the NULL-text
    exemption fingerprint is derived from the STABLE id column, so a
    re-delivery of the same text-less row after a stop/restart from the
    checkpoint must be swallowed as a duplicate — uuid()-keyed
    fingerprints would re-seed on restart and emit it twice, breaking
    the exactly-once contract.  File sink + checkpoint (the memory sink
    is not restart-recoverable), file source re-delivery as the
    at-least-once upstream."""
    from rust_evm_indexer_spark.streaming.dedup import stream_dedup_canonical

    src = tmp_path / "restart_in"
    out = tmp_path / "restart_out"
    ckpt = tmp_path / "restart_ckpt"
    src.mkdir()
    schema = "doc_id long, ts timestamp, text string"

    def _deliver(rows, fname):
        df = spark.createDataFrame(
            rows, "doc_id long, ts_str string, text string"
        ).select("doc_id", F.col("ts_str").cast("timestamp").alias("ts"), "text")
        df.coalesce(1).write.parquet(str(tmp_path / f"stage_{fname}"))
        import shutil

        part = next((tmp_path / f"stage_{fname}").glob("part-*.parquet"))
        shutil.copy(part, src / f"{fname}.parquet")

    def _run_until_drained():
        q = (
            stream_dedup_canonical(
                spark.readStream.schema(schema).parquet(str(src)),
                watermark="1 hour",
            )
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    # run 1: a NULL-text row and a real doc
    _deliver(
        [
            (1, "2024-01-01 00:01:00", None),
            (2, "2024-01-01 00:02:00", "real content"),
        ],
        "batch1",
    )
    _run_until_drained()

    # run 2 (fresh query from the SAME checkpoint): upstream re-delivers
    # the identical NULL-text row, plus a genuinely new text-less row
    _deliver(
        [
            (1, "2024-01-01 00:01:00", None),  # replayed across restart
            (99, "2024-01-01 00:10:00", None),  # new malformed row
        ],
        "batch2",
    )
    _run_until_drained()

    got = sorted(
        r["doc_id"]
        for r in spark.read.schema(schema).parquet(str(out)).collect()
    )
    # row 1 exactly once despite the restart replay; row 99 passes through
    assert got == [1, 2, 99]


def test_stream_dedup_canonical_idless_fallback_restart_stable(
    spark, tmp_path
):
    """Since r6 the id-less fallback hashes ALL columns (restart-stable
    row identity), so a checkpoint replay of the same null-text row is
    swallowed exactly once — the r5 uuid() fallback emitted it twice.
    Distinct null-text rows differing in any column still both pass
    (exercised below via distinct timestamps); rows identical in EVERY
    column are indistinguishable exact duplicates and deduping them IS
    the operator's contract."""
    from rust_evm_indexer_spark.streaming.dedup import stream_dedup_canonical

    src = tmp_path / "idless_in"
    out = tmp_path / "idless_out"
    ckpt = tmp_path / "idless_ckpt"
    src.mkdir()
    schema = "doc_id long, ts timestamp, text string"

    def _deliver(rows, fname):
        df = spark.createDataFrame(
            rows, "doc_id long, ts_str string, text string"
        ).select("doc_id", F.col("ts_str").cast("timestamp").alias("ts"), "text")
        df.coalesce(1).write.parquet(str(tmp_path / f"stage_{fname}"))
        import shutil

        part = next((tmp_path / f"stage_{fname}").glob("part-*.parquet"))
        shutil.copy(part, src / f"{fname}.parquet")

    def _run_until_drained():
        q = (
            stream_dedup_canonical(
                spark.readStream.schema(schema).parquet(str(src)),
                watermark="1 hour",
                id_col=None,
            )
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _deliver([(1, "2024-01-01 00:01:00", None)], "batch1")
    _run_until_drained()
    # replay of the SAME row (all columns equal) + a DISTINCT null-text
    # row (different ts) in one batch
    _deliver(
        [(1, "2024-01-01 00:01:00", None), (1, "2024-01-01 00:02:00", None)],
        "batch2",
    )
    _run_until_drained()
    got = sorted(
        r["ts"].minute
        for r in spark.read.schema(schema).parquet(str(out)).collect()
    )
    # replayed row swallowed once; the distinct null-text row passes
    assert got == [1, 2]
