"""OPQ rotation (Ge et al. CVPR 2013, parametric variant): rotation
properties, identity-rotation bit-equivalence through every IVFPQ
path, and the variance-misalignment regime where the rotation must
beat the plain subspace split."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from rust_evm_indexer_spark.operators import pq as PQ
from rust_evm_indexer_spark.operators import similarity as sim


def _frame(spark, X):
    return spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id: long, embedding: array<double>",
    )


@pytest.fixture(scope="module")
def aniso(spark):
    """Variance aligned AGAINST the subspace split (m=4, d_sub=2):
    subspaces 0/2 carry two high-variance dims each, 1/3 only noise —
    plain PQ wastes half its codebooks, OPQ rebalances one principal
    direction per subspace."""
    rng = np.random.default_rng(5)
    sigma = np.array([10, 10, 0.01, 0.01, 10, 10, 0.01, 0.01])
    X = rng.standard_normal((600, 8)) * sigma
    return _frame(spark, X), X


def test_rotation_is_orthogonal_and_deterministic(spark, aniso):
    df, _ = aniso
    R1 = np.asarray(PQ.opq_train_rotation(df, m=4))
    R2 = np.asarray(PQ.opq_train_rotation(df, m=4))
    assert np.array_equal(R1, R2)  # decimal moments -> bit-stable
    assert np.allclose(R1 @ R1.T, np.eye(8), atol=1e-9)


def test_rotation_balances_subspace_variance(aniso, spark):
    df, X = aniso
    R = np.asarray(PQ.opq_train_rotation(df, m=4))
    Xr = X @ R.T
    plain = [X[:, 2 * s: 2 * s + 2].var() for s in range(4)]
    rot = [Xr[:, 2 * s: 2 * s + 2].var() for s in range(4)]
    # plain: two subspaces ~100x the others; rotated: within ~2x
    assert max(plain) / min(plain) > 50
    assert max(rot) / min(rot) < 3


def test_opq_reduces_quantization_error_when_misaligned(aniso, spark):
    df, X = aniso
    R = PQ.opq_train_rotation(df, m=4)
    Rn = np.asarray(R)

    def recon_err(rotation):
        cb = PQ.pq_train(df, m=4, k=8, iters=8, rotation=rotation)
        codes = {r["vec_id"]: r["codes"] for r in
                 PQ.pq_encode(df, cb, rotation=rotation).collect()}
        C = np.asarray(cb)  # (m, k, d_sub)
        err = 0.0
        for i in range(len(X)):
            rec = np.concatenate([C[s][codes[i][s]] for s in range(4)])
            tgt = Rn @ X[i] if rotation is not None else X[i]
            err += float(((rec - tgt) ** 2).sum())
        return err / len(X)

    e_plain, e_opq = recon_err(None), recon_err(R)
    assert e_opq < e_plain * 0.55, (e_plain, e_opq)


def test_identity_rotation_is_bit_identical_everywhere(spark, tmp_path):
    """rotation=I must reproduce rotation=None EXACTLY (0 + 1.0·x = x
    in IEEE): flat pq_search, global ivfpq_search, and the residual
    path with its rotated cross table."""
    rng = np.random.default_rng(9)
    X = rng.standard_normal((200, 8))
    df = _frame(spark, X)
    eye = [[1.0 if i == j else 0.0 for j in range(8)] for i in range(8)]
    q = [float(x) for x in X[0]]

    cb = PQ.pq_train(df, m=4, k=8, iters=4)
    assert PQ.pq_train(df, m=4, k=8, iters=4, rotation=eye) == cb
    codes = PQ.pq_encode(df, cb)
    got_plain = PQ.pq_search(codes, cb, q, topk=5, exclude_ids=(0,)).collect()
    got_eye = PQ.pq_search(codes, cb, q, topk=5, exclude_ids=(0,),
                           rotation=eye).collect()
    assert got_plain == got_eye

    idx = sim.IvfIndex.build(df, tmp_path / "ivf", k=4, iters=2)
    rcb = PQ.pq_train(
        PQ.residual_frame(idx, idx.vectors()),
        m=4, k=8, iters=4,
    )
    assert PQ.pq_train(
        PQ.residual_frame(idx, idx.vectors()),
        m=4, k=8, iters=4, rotation=eye,
    ) == rcb
    PQ.ivfpq_write_codes(idx, rcb, tmp_path / "rc", by_residual=True)
    PQ.ivfpq_write_codes(idx, rcb, tmp_path / "rc_eye", by_residual=True,
                         rotation=eye)
    a = PQ.ivfpq_search(idx, tmp_path / "rc", rcb, q, topk=5,
                        n_probe=2, by_residual=True).collect()
    b = PQ.ivfpq_search(idx, tmp_path / "rc_eye", rcb, q, topk=5,
                        n_probe=2, by_residual=True, rotation=eye).collect()
    assert a == b


def test_rotated_encode_equals_encoding_rotated_vectors(spark, aniso):
    df, X = aniso
    R = PQ.opq_train_rotation(df, m=4)
    cb = PQ.pq_train(df, m=4, k=8, iters=4, rotation=R)
    via_kernel = {r["vec_id"]: r["codes"] for r in
                  PQ.pq_encode(df, cb, rotation=R).collect()}
    Xr = X @ np.asarray(R).T
    dfr = _frame(spark, Xr)
    pre_rotated = {r["vec_id"]: r["codes"] for r in
                   PQ.pq_encode(dfr, cb).collect()}
    assert via_kernel == pre_rotated


def test_rotated_search_still_estimates_true_cosine(spark, aniso):
    """Recall sanity: OPQ ADC top-5 on the misaligned corpus overlaps
    the exact cosine top-5 at least as well as plain ADC."""
    df, X = aniso
    R = PQ.opq_train_rotation(df, m=4)

    def recall(rotation):
        cb = PQ.pq_train(df, m=4, k=8, iters=8, rotation=rotation)
        codes = PQ.pq_encode(df, cb, rotation=rotation)
        hits = 0
        for qid in range(6):
            q = [float(x) for x in X[qid]]
            exact = {r["vec_id"] for r in sim.brute_force_topk(
                df, q, k=5, exclude_ids=(qid,)).collect()}
            got = {r["vec_id"] for r in PQ.pq_search(
                codes, cb, q, topk=5, exclude_ids=(qid,),
                rotation=rotation).collect()}
            hits += len(exact & got)
        return hits

    assert recall(R) >= recall(None)


def test_rotated_knn_join_matches_per_query_search(spark, tmp_path):
    """OPQ through the multi-query path: ivfpq_knn_join(rotation=R)
    must agree EXACTLY with single-query ivfpq_search(rotation=R) for
    every query, in both encoding regimes (same probe rule, same
    left-to-right folds — the JVM-rows rotation vs the driver-side
    rotate_vec)."""
    rng = np.random.default_rng(13)
    X = rng.standard_normal((300, 8)) * np.array(
        [6, 6, 0.05, 0.05, 6, 6, 0.05, 0.05])
    df = _frame(spark, X)
    idx = sim.IvfIndex.build(df, tmp_path / "ivf", k=4, iters=2)
    R = PQ.opq_train_rotation(df, m=4)
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))

    for res in (False, True):
        if res:
            cb = PQ.pq_train(
                PQ.residual_frame(idx, idx.vectors()),
                m=4, k=8, iters=4, rotation=R,
            )
        else:
            cb = PQ.pq_train(df, m=4, k=8, iters=4, rotation=R)
        d = tmp_path / f"codes_{res}"
        PQ.ivfpq_write_codes(idx, cb, d, by_residual=res, rotation=R)
        joined = {
            (r["q_id"], r["rank"]): (r["vec_id"], r["sim_pq"])
            for r in PQ.ivfpq_knn_join(
                idx, d, cb, queries, k=5, n_probe=2,
                by_residual=res, rotation=R).collect()
        }
        for q in range(3):
            qv = [float(x) for x in X[q]]
            want = PQ.ivfpq_search(
                idx, d, cb, qv, topk=5, n_probe=2,
                by_residual=res, rotation=R).collect()
            for rank, r in enumerate(want, start=1):
                assert joined[(q, rank)] == (r["vec_id"], r["sim_pq"]), (
                    res, q, rank)


def test_rotated_append_matches_bulk_encode(spark, tmp_path):
    """OPQ through the delta path: appending under a frozen rotation +
    codebooks must produce the same stored codes as bulk-encoding the
    full corpus (frozen-quantizer contract)."""
    rng = np.random.default_rng(21)
    X = rng.standard_normal((200, 8))
    df = _frame(spark, X)
    idx_all = sim.IvfIndex.build(df, tmp_path / "ivf_all", k=4, iters=2)
    R = PQ.opq_train_rotation(df, m=4)
    cb = PQ.pq_train(
        PQ.residual_frame(idx_all, idx_all.vectors()),
        m=4, k=8, iters=4, rotation=R,
    )

    bulk = tmp_path / "bulk"
    PQ.ivfpq_write_codes(idx_all, cb, bulk, by_residual=True, rotation=R)

    first = df.filter(F.col("vec_id") < 150)
    delta = df.filter(F.col("vec_id") >= 150)
    idx_first = sim.IvfIndex.build(
        first, tmp_path / "ivf_first", k=4, iters=2,
    )
    # freeze the SAME quantizer for a fair code comparison
    idx_first.centroids = idx_all.centroids
    inc = tmp_path / "inc"
    PQ.ivfpq_write_codes(idx_first, cb, inc, by_residual=True, rotation=R)
    n = PQ.ivfpq_append(idx_all, cb, inc, delta, by_residual=True,
                        rotation=R)
    assert n == 50
    got = {r["vec_id"]: (r["cell"], r["codes"]) for r in
           spark.read.parquet(str(inc)).collect()}
    want = {r["vec_id"]: (r["cell"], r["codes"]) for r in
            spark.read.parquet(str(bulk)).collect()}
    # the delta's codes must be identical to the bulk encode; resident
    # codes differ only where idx_first's own assignment differed
    for vid in range(150, 200):
        assert got[vid] == want[vid], vid


def test_rotate_vec_rejects_mis_sized_matrix(spark):
    with pytest.raises(ValueError, match="rotation is"):
        PQ.rotate_vec([[1.0, 0.0]], [1.0, 2.0, 3.0])
    with pytest.raises(ValueError, match="rotation is"):
        PQ.rotate_vec([[1.0], [0.0]], [1.0, 2.0])
    assert PQ.rotate_vec(None, [1.5, 2.5]) == [1.5, 2.5]
