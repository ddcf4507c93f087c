"""Product quantization: deterministic training, 32x compression with
useful recall against the exact baseline, and corpus-side scoring that
never touches Python."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rust_evm_indexer_spark.operators import pq as PQ
from rust_evm_indexer_spark.operators import similarity as sim
from rust_evm_indexer_spark.sources.batch import load_driver_table

from conftest import SF_ORACLE, assert_no_cache_leak


def _emb(spark):
    return load_driver_table(spark, str(SF_ORACLE), "embeddings")


def test_train_is_deterministic(spark):
    emb = _emb(spark)
    cb1 = PQ.pq_train(emb, m=8, k=16, iters=5)
    cb2 = PQ.pq_train(emb, m=8, k=16, iters=5)
    assert cb1 == cb2
    assert len(cb1) == 8 and len(cb1[0]) == 16 and len(cb1[0][0]) == 8


def test_encode_shape_and_compression(spark):
    emb = _emb(spark)
    cb = PQ.pq_train(emb, m=8, k=16, iters=5)
    codes = PQ.pq_encode(emb, cb)
    rows = codes.collect()
    assert len(rows) == emb.count()
    for r in rows[:20]:
        assert len(r["codes"]) == 8
        assert all(0 <= c < 16 for c in r["codes"])
    # 64 float32 (256 B) -> 8 single-byte codes: 32x memory compression


def test_recall_vs_exact_beats_chance_and_duplicates_rank_top(spark):
    emb = _emb(spark)
    cb = PQ.pq_train(emb, m=8, k=16, iters=8)
    codes = PQ.pq_encode(emb, cb).persist()
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]

    exact = {r["vec_id"] for r in sim.brute_force_topk(
        emb, q, k=10, exclude_ids=(0,)).collect()}
    approx = {r["vec_id"] for r in PQ.pq_search(
        codes, cb, q, topk=10, exclude_ids=(0,)).collect()}
    # random overlap at 10/500 ≈ 0.2 items; PQ must do far better
    assert len(exact & approx) >= 3

    # a vector IDENTICAL to the query quantizes identically → top rank
    clone = emb.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 777000).alias("vec_id"), "embedding"
    )
    codes2 = PQ.pq_encode(
        emb.select("vec_id", "embedding").unionByName(clone), cb
    )
    top = PQ.pq_search(codes2, cb, q, topk=1, exclude_ids=(0,)).first()
    assert top["vec_id"] == 777000
    codes.unpersist()


def test_scoring_plan_is_jvm_only_topk(spark):
    from rust_evm_indexer_spark.plans import physical_plan

    emb = _emb(spark)
    cb = PQ.pq_train(emb, m=8, k=16, iters=3)
    codes = PQ.pq_encode(emb, cb)
    # materialize codes so the scoring plan is measured alone
    codes = spark.createDataFrame(codes.collect(), codes.schema)
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    plan = physical_plan(PQ.pq_search(codes, cb, q, topk=10), "simple")
    assert "ArrowEvalPython" not in plan  # ADC lookups are pure codegen
    assert "TakeOrderedAndProject" in plan


def test_ivfpq_prunes_partitions_and_stays_jvm(spark, tmp_path):
    """IVFADC composition: the probe must reach the code table as a
    PARTITION filter (only the probed cells' files are listed), scoring
    must stay pure codegen (no Python eval anywhere in the search
    plan), and top-k must be TakeOrderedAndProject."""
    from rust_evm_indexer_spark.plans import (
        partition_filters,
        physical_plan,
    )

    emb = _emb(spark)
    idx = sim.IvfIndex.build(emb, tmp_path / "ivf", k=4, iters=2)
    cb = PQ.pq_train(emb, m=8, k=16, iters=3)
    PQ.ivfpq_write_codes(idx, cb, tmp_path / "codes")
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    res = PQ.ivfpq_search(idx, tmp_path / "codes", cb, q, topk=10, n_probe=2)
    pf = partition_filters(res)
    assert any("cell" in f for f in pf), f"no partition filter on cell: {pf}"
    plan = physical_plan(res, "simple")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_ivfpq_matches_flat_pq_on_probed_cells(spark, tmp_path):
    """Global-codebook IVFPQ is EXACTLY flat ADC restricted to the probe
    cells (by_residual=False — same code, same reconstruction), so the
    result must equal pq_search over the probe cells' members."""
    emb = _emb(spark)
    idx = sim.IvfIndex.build(emb, tmp_path / "ivf", k=4, iters=2)
    cb = PQ.pq_train(emb, m=8, k=16, iters=8)
    PQ.ivfpq_write_codes(idx, cb, tmp_path / "codes")
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    got = PQ.ivfpq_search(
        idx, tmp_path / "codes", cb, q, topk=10, n_probe=2,
        exclude_ids=(0,),
    ).collect()

    probe = idx.probe_cells(q, 2)
    members = idx.vectors().filter(F.col("cell").isin(probe)).select(
        "vec_id", "embedding"
    )
    want = PQ.pq_search(
        PQ.pq_encode(members, cb), cb, q, topk=10, exclude_ids=(0,)
    ).collect()
    assert [(r["vec_id"], r["sim_pq"]) for r in got] == [
        (r["vec_id"], r["sim_pq"]) for r in want
    ]
    # recall splits across the two layers: the IVF probe must retain
    # nearly all true neighbors (the quantizer is the coarse layer)...
    exact = {r["vec_id"] for r in sim.brute_force_topk(
        emb, q, k=10, exclude_ids=(0,)).collect()}
    in_probe = {
        r["vec_id"]
        for r in idx.vectors().filter(F.col("cell").isin(probe))
        .select("vec_id").collect()
    }
    assert len(exact & in_probe) >= 8
    # ...and end-to-end through the lossy PQ codes must beat chance
    # (random 10/500 ≈ 0.2 expected overlap) by an order of magnitude
    assert len(exact & {r["vec_id"] for r in got}) >= 3


def test_ivfpq_knn_join_matches_per_query_search(spark, tmp_path):
    """The multi-query IVFADC join must agree with single-query
    ivfpq_search for every query (same probe rule, same ADC math — the
    join materializes per-query lookup tables as rows instead of plan
    literals), and its plan must stay JVM with no cartesian."""
    from rust_evm_indexer_spark.plans import physical_plan

    emb = _emb(spark)
    idx = sim.IvfIndex.build(emb, tmp_path / "ivf", k=4, iters=2)
    cb = PQ.pq_train(emb, m=8, k=16, iters=5)
    PQ.ivfpq_write_codes(idx, cb, tmp_path / "codes")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    joined = PQ.ivfpq_knn_join(
        idx, tmp_path / "codes", cb, queries, k=5, n_probe=2
    )
    got = {
        (r["q_id"], r["rank"]): (r["vec_id"], r["sim_pq"])
        for r in joined.collect()
    }
    for q in range(4):
        qv = emb.filter(F.col("vec_id") == q).first()["embedding"]
        want = PQ.ivfpq_search(
            idx, tmp_path / "codes", cb, qv, topk=5, n_probe=2
        ).collect()
        for rank, r in enumerate(want, start=1):
            assert got[(q, rank)] == (r["vec_id"], r["sim_pq"]), (q, rank)
    plan = physical_plan(joined, "simple")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_ivfpq_append_equals_full_build(spark, tmp_path):
    """Incremental index growth: building on half the corpus then
    appending the other half under the frozen quantizer + codebooks
    must yield the same searchable index as encoding everything at once
    (assignment and encode are deterministic), and the append must only
    ADD files — resident code files are never rewritten."""
    emb = _emb(spark)
    first = emb.filter(F.col("vec_id") % 2 == 0)
    rest = emb.filter(F.col("vec_id") % 2 == 1)
    idx = sim.IvfIndex.build(first, tmp_path / "ivf", k=4, iters=2)
    cb = PQ.pq_train(first, m=8, k=16, iters=5)
    PQ.ivfpq_write_codes(idx, cb, tmp_path / "codes")
    before = set(map(str, (tmp_path / "codes").rglob("*.parquet")))
    n = assert_no_cache_leak(
        spark,
        lambda: PQ.ivfpq_append(idx, cb, tmp_path / "codes", rest),
        tmp_path / "codes",
    )
    assert n == rest.count()
    after = set(map(str, (tmp_path / "codes").rglob("*.parquet")))
    assert before <= after and len(after) > len(before)

    # reference: one-shot encode of the full corpus under the same
    # frozen quantizer + codebooks
    from rust_evm_indexer_spark.operators.similarity import assign_cells

    cents = [idx.centroids[c] for c in sorted(idx.centroids)]
    full = PQ.pq_encode(
        assign_cells(emb, cents), cb, keep=("cell",)
    )
    got = {
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(str(tmp_path / "codes")).collect()
    }
    want = {
        (r["vec_id"], r["cell"], tuple(r["codes"])) for r in full.collect()
    }
    assert got == want
    # and search over the grown index finds the appended row: probing
    # with an appended vector's own embedding ranks it top (its code is
    # the nearest reconstruction to itself)
    q = emb.filter(F.col("vec_id") == 1).first()["embedding"]  # appended row
    top = PQ.ivfpq_search(
        idx, tmp_path / "codes", cb, q, topk=1, n_probe=4
    ).first()
    assert top["vec_id"] == 1


def test_every_probe_rejects_n_probe_below_one(spark, tmp_path):
    """n_probe < 1 is an error on every IVF path — the single-query
    searches (both IVFADC regimes) and both k-NN joins — never an empty
    result or a silently shortened probe list."""
    emb = _emb(spark)
    idx = sim.IvfIndex.build(emb, tmp_path / "ivf", k=4, iters=2)
    cb = PQ.pq_train(emb, m=8, k=16, iters=2)
    codes = tmp_path / "codes"
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    calls = [
        lambda n: idx.search(q, 5, n_probe=n),
        lambda n: idx.knn_join(queries, 3, n_probe=n),
    ] + [
        call
        for res in (False, True)
        for call in (
            lambda n, res=res: PQ.ivfpq_search(
                idx, codes, cb, q, 5, n_probe=n, by_residual=res
            ),
            lambda n, res=res: PQ.ivfpq_knn_join(
                idx, codes, cb, queries, 3, n_probe=n, by_residual=res
            ),
        )
    ]
    for call in calls:
        for n in (0, -1):
            with pytest.raises(ValueError, match="n_probe"):
                call(n)


# --- residual encoding (FAISS IVFADC by_residual=True, Jégou §IV) ----------


def test_residual_train_is_deterministic(spark, tmp_path):
    emb = _emb(spark)
    idx = sim.IvfIndex.build(emb, tmp_path / "ivf", k=4, iters=2)
    cb1 = PQ.pq_train(
        PQ.residual_frame(idx, idx.vectors()),
        m=8, k=16, iters=5,
    )
    cb2 = PQ.pq_train(
        PQ.residual_frame(idx, idx.vectors()),
        m=8, k=16, iters=5,
    )
    assert cb1 == cb2
    assert len(cb1) == 8 and len(cb1[0]) == 16 and len(cb1[0][0]) == 8


def test_residual_search_self_query_ranks_top(spark, tmp_path):
    """Querying with an indexed vector's own embedding must rank that
    vector first with sim ≈ 1: its residual quantizes to the nearest
    codewords, and the reconstruction centroid+r̂ is the closest of any
    indexed vector."""
    emb = _emb(spark)
    idx = sim.IvfIndex.build(emb, tmp_path / "ivf", k=4, iters=2)
    cb = PQ.pq_train(
        PQ.residual_frame(idx, idx.vectors()),
        m=8, k=16, iters=8,
    )
    PQ.ivfpq_write_codes(idx, cb, tmp_path / "codes", by_residual=True)
    for qid in (0, 7, 42):
        q = emb.filter(F.col("vec_id") == qid).first()["embedding"]
        top = PQ.ivfpq_search(
            idx, tmp_path / "codes", cb, q, topk=1, n_probe=1,
            by_residual=True,
        ).first()
        assert top["vec_id"] == qid, qid
        # the estimate is lossy (16 codewords/subspace on high-entropy
        # synthetic vectors, self-sim ~0.8); top-rank is the strong
        # property here — sign/scale bugs are caught by the dedicated
        # estimation-error test below
        assert top["sim_pq"] > 0.7


def test_residual_search_prunes_partitions_and_stays_jvm(spark, tmp_path):
    from rust_evm_indexer_spark.plans import partition_filters, physical_plan

    emb = _emb(spark)
    idx = sim.IvfIndex.build(emb, tmp_path / "ivf", k=4, iters=2)
    cb = PQ.pq_train(
        PQ.residual_frame(idx, idx.vectors()),
        m=8, k=16, iters=3,
    )
    PQ.ivfpq_write_codes(idx, cb, tmp_path / "codes", by_residual=True)
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    res = PQ.ivfpq_search(
        idx, tmp_path / "codes", cb, q, topk=10, n_probe=2,
        by_residual=True,
    )
    pf = partition_filters(res)
    assert any("cell" in f for f in pf), f"no partition filter on cell: {pf}"
    plan = physical_plan(res, "simple")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_residual_knn_join_matches_per_query_search(spark, tmp_path):
    emb = _emb(spark)
    idx = sim.IvfIndex.build(emb, tmp_path / "ivf", k=4, iters=2)
    cb = PQ.pq_train(
        PQ.residual_frame(idx, idx.vectors()),
        m=8, k=16, iters=5,
    )
    PQ.ivfpq_write_codes(idx, cb, tmp_path / "codes", by_residual=True)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    joined = PQ.ivfpq_knn_join(
        idx, tmp_path / "codes", cb, queries, k=5, n_probe=2,
        by_residual=True,
    )
    got = {
        (r["q_id"], r["rank"]): (r["vec_id"], r["sim_pq"])
        for r in joined.collect()
    }
    for q in range(4):
        qv = emb.filter(F.col("vec_id") == q).first()["embedding"]
        want = PQ.ivfpq_search(
            idx, tmp_path / "codes", cb, qv, topk=5, n_probe=2,
            by_residual=True,
        ).collect()
        for rank, r in enumerate(want, start=1):
            assert got[(q, rank)] == (r["vec_id"], r["sim_pq"]), (q, rank)


def test_residual_append_equals_full_build(spark, tmp_path):
    emb = _emb(spark)
    first = emb.filter(F.col("vec_id") % 2 == 0)
    rest = emb.filter(F.col("vec_id") % 2 == 1)
    idx = sim.IvfIndex.build(first, tmp_path / "ivf", k=4, iters=2)
    cb = PQ.pq_train(
        PQ.residual_frame(idx, idx.vectors()),
        m=8, k=16, iters=5,
    )
    PQ.ivfpq_write_codes(idx, cb, tmp_path / "codes", by_residual=True)
    n = PQ.ivfpq_append(idx, cb, tmp_path / "codes", rest, by_residual=True)
    assert n == rest.count()

    from rust_evm_indexer_spark.operators.similarity import assign_cells

    cents = [idx.centroids[c] for c in sorted(idx.centroids)]
    full = PQ.pq_encode(
        PQ.residual_frame(idx, assign_cells(emb, cents)), cb, keep=("cell",)
    )
    got = {
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(str(tmp_path / "codes")).collect()
    }
    want = {
        (r["vec_id"], r["cell"], tuple(r["codes"])) for r in full.collect()
    }
    assert got == want


def test_residual_estimate_is_sane_vs_exact(spark, tmp_path):
    """ADC under residual encoding must track true cosine: small mean
    absolute error over the corpus and max error no worse than ~2x the
    flat regime's documented band (loose, data-stable bounds)."""
    import numpy as np

    emb = _emb(spark)
    idx = sim.IvfIndex.build(emb, tmp_path / "ivf", k=8, iters=3)
    cb = PQ.pq_train(
        PQ.residual_frame(idx, idx.vectors()),
        m=8, k=16, iters=8,
    )
    PQ.ivfpq_write_codes(idx, cb, tmp_path / "codes", by_residual=True)
    rows = emb.filter(F.col("vec_id") < 100).collect()
    X = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    q = X[0]
    got = {
        r["vec_id"]: r["sim_pq"]
        for r in PQ.ivfpq_search(
            idx, tmp_path / "codes", cb, [float(x) for x in q],
            topk=500, n_probe=8, exclude_ids=(0,), by_residual=True,
        ).collect()
    }
    errs = [
        abs(got[i] - float(q @ x / (np.linalg.norm(q) * np.linalg.norm(x))))
        for i, x in X.items()
        if i in got
    ]
    assert len(errs) >= 90
    assert float(np.mean(errs)) < 0.15
    assert float(np.max(errs)) < 0.5
