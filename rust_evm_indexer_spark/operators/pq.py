"""Product quantization (PQ) — the ANN memory-compression tier.

Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search" (TPAMI 2011).  IVF (similarity.py) partitions the corpus into
cells; PQ compresses the residents: a 64-dim float32 vector (256 B)
becomes ``m`` one-byte codes (8 B at m=8) — 32× less memory, so a
1000-executor cluster can hold the codes of a 100 TB embedding corpus
RAM-resident while the raw vectors stay on object storage.

Three tiers, each in its honest place:

- **train** (driver, bounded): codebooks fit on a deterministic sample
  (lowest-id rows, capped) with plain per-subspace Lloyd iterations —
  exactly how production PQ trains (codebooks are universal; fitting on
  more than ~10⁴–10⁵ samples does not move them), so the driver cost is
  O(sample), never O(corpus).
- **encode** (distributed, Arrow): per-subspace nearest-centroid codes
  for every vector via ONE batched numpy distance computation — the
  documented-good-use Pandas UDF category (dense linear algebra, same
  precedent as the hyperplane-LSH signature kernel).
- **search / ADC** (distributed, pure JVM): the query builds per-
  subspace dot-product and norm tables driver-side (m·k scalars), and
  scoring is ``element_at`` lookups into literal arrays indexed by the
  stored codes — whole-stage-codegen'd, no Python anywhere near the
  corpus-sized side, TakeOrderedAndProject top-k.

Asymmetric cosine: ``dot(q, x) ≈ Σ_m dot(q_m, c_m[code_m])`` and
``|x|² ≈ Σ_m |c_m[code_m]|²`` — both decompose over subspaces, so the
cosine estimate needs only the two lookup tables.
"""

from __future__ import annotations

import functools
import math

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.batch import read_parquet_memo
from ..util import ensure_package_shipped, python_task

DEFAULT_M = 8
DEFAULT_K = 16
TRAIN_SAMPLE_CAP = 4096


def opq_train_rotation(
    embeddings: DataFrame,
    m: int = DEFAULT_M,
    *,
    vec_col: str = "embedding",
    dim: int | None = None,
) -> list[list[float]]:
    """Parametric OPQ rotation (Ge, Ke, Sun, CVPR 2013 §4, "OPQ-P"):
    an orthogonal matrix ``R`` applied before the subspace split so
    the m subspaces carry BALANCED variance — the standard fix for the
    regime where raw coordinates misalign with the quantizable
    directions.  ``rotated = R @ x``; rows of R are sign-fixed
    covariance eigenvectors, ORDERED so that eigenvalue products per
    subspace are greedily balanced (largest eigenvalue to the currently
    emptiest-information subspace, each capped at dim/m rows).

    Fitting is on distributed sufficient statistics
    (pca.embedding_moments — DECIMAL-accumulated mean + second moment,
    so R is bit-identical under any partitioning); the driver solves
    one dim×dim eigenproblem.  Deterministic end-to-end."""
    import numpy as np

    from .pca import embedding_moments

    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    mean, S, _ = embedding_moments(embeddings, vec_col, dim)
    mu = np.asarray(mean)
    cov = np.asarray(S) - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1]  # descending eigenvalues
    # greedy balance: assign each eigen-direction (largest first) to
    # the non-full subspace with the smallest log-eigenvalue sum
    buckets: list[list[int]] = [[] for _ in range(m)]
    loads = [0.0] * m
    floor = max(float(vals[order[0]]), 1e-30) * 1e-12
    for idx in order:
        open_b = [b for b in range(m) if len(buckets[b]) < d_sub]
        b = min(open_b, key=lambda b: (loads[b], b))
        buckets[b].append(int(idx))
        loads[b] += float(np.log(max(float(vals[idx]), floor)))
    R = np.empty((dim, dim), dtype=np.float64)
    row = 0
    for b in range(m):
        for idx in buckets[b]:
            w = vecs[:, idx].copy()
            pivot = int(np.argmax(np.abs(w)))  # sign convention: pivot > 0
            if w[pivot] < 0:
                w = -w
            R[row] = w
            row += 1
    return [[float(x) for x in r] for r in R]


def rotate_vec(
    rotation: list[list[float]] | None, vec: list[float]
) -> list[float]:
    """Driver-side ``R @ v`` (None = identity) as LEFT-TO-RIGHT float64
    sums — not numpy matmul, whose BLAS summation order differs in the
    last ulp from DuckDB's sequential ``list_inner_product``, which is
    how the oracle replays the same rotation."""
    if rotation is None:
        return [float(x) for x in vec]
    if len(rotation) != len(vec) or len(rotation[0]) != len(vec):
        # zip() would silently truncate a mis-sized matrix into garbage
        raise ValueError(
            f"rotation is {len(rotation)}x{len(rotation[0])} "
            f"but the vector has dim {len(vec)}"
        )
    return [
        sum(float(r) * float(x) for r, x in zip(row, vec))
        for row in rotation
    ]


def pq_train(
    embeddings: DataFrame,
    m: int = DEFAULT_M,
    k: int = DEFAULT_K,
    iters: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """Fit per-subspace codebooks; returns ``codebooks[m][k][dim/m]``.

    Deterministic end-to-end: the training sample is the
    ``TRAIN_SAMPLE_CAP`` lowest-id rows, initialization is the first
    ``k`` sample subvectors, and Lloyd updates are numpy float64 —
    identical codebooks every run.  ``rotation`` (an OPQ matrix from
    :func:`opq_train_rotation`) trains the codebooks in the ROTATED
    space — encode/search must then be given the same matrix.  Residual
    IVFADC codebooks are this same fit over
    ``residual_frame(index, index.vectors())``."""
    import numpy as np

    rows = (
        embeddings.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(TRAIN_SAMPLE_CAP)
        .collect()
    )
    X = np.asarray([r[vec_col] for r in rows], dtype=np.float64)
    if rotation is not None:
        X = np.asarray([rotate_vec(rotation, row) for row in X.tolist()])
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    codebooks: list[list[list[float]]] = []
    for s in range(m):
        Xs = X[:, s * d_sub : (s + 1) * d_sub]
        C = Xs[:k].copy()  # deterministic init: first k sample subvectors
        for _ in range(iters):
            d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(k):
                mask = assign == j
                if mask.any():
                    C[j] = Xs[mask].mean(axis=0)
        codebooks.append(C.tolist())
    return codebooks


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: tuple[str, ...] = (),
    rotation: list[list[float]] | None = None,
) -> DataFrame:
    """(vec_id, [keep...,] codes array<int>) — nearest centroid per
    subspace, one Arrow-batched numpy pass per partition batch.
    ``keep`` carries extra columns (e.g. the IVF ``cell``) through.
    ``rotation`` applies the OPQ matrix (one extra GEMM per Arrow
    batch) before the subspace split — codes then index ROTATED-space
    codebooks.  Only the argmax consumes the rotated values, so the
    encode side needs no cross-engine float-order care (the exported
    CODES are what both engines read)."""
    ensure_package_shipped(embeddings.sparkSession)  # cold-cache safety
    import numpy as np

    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    C = np.asarray(codebooks, dtype=np.float64)  # (m, k, d_sub)
    Rt = (None if rotation is None
          else np.asarray(rotation, dtype=np.float64).T)

    @F.pandas_udf("array<int>")
    @python_task
    def enc(vecs: pd.Series) -> pd.Series:
        X = np.asarray(vecs.tolist(), dtype=np.float64)  # (n, dim)
        if Rt is not None:
            X = X @ Rt
        n = X.shape[0]
        out = np.empty((n, m), dtype=np.int32)
        for s in range(m):
            Xs = X[:, s * d_sub : (s + 1) * d_sub]
            # argmin |x - c|^2 = argmax (2 x·c - |c|^2)
            scores = 2.0 * Xs @ C[s].T - (C[s] ** 2).sum(axis=1)[None, :]
            out[:, s] = scores.argmax(axis=1)
        return pd.Series(list(out))

    return embeddings.select(
        id_col, *keep, enc(F.col(vec_col)).alias("codes")
    )


def _adc_dots(
    codebooks: list[list[list[float]]], vec: list[float]
) -> list[list[float]]:
    """Driver-side ADC lookup table ``dot(vec_s, C_s[j])`` for every
    subspace s and codeword j, each a left-to-right float64 sum (the
    order DuckDB's ``list_inner_product`` replays).  ``vec`` is the
    (rotated) query for the dot table, a (rotated) centroid for the
    residual cross table."""
    d_sub = len(codebooks[0][0])
    return [
        [
            sum(q * c for q, c in zip(vec[s * d_sub : (s + 1) * d_sub], cent))
            for cent in book
        ]
        for s, book in enumerate(codebooks)
    ]


def _adc_norms(codebooks: list[list[list[float]]]) -> list[list[float]]:
    """Driver-side lookup table ``|C_s[j]|²``, left-to-right sums."""
    return [[sum(c * c for c in cent) for cent in book] for book in codebooks]


def _cross_table(
    codebooks: list[list[list[float]]],
    centroid: list[float],
    rotation: list[list[float]] | None,
) -> list[list[float]]:
    """Residual cross table ``dot(c_s, C_s[j])`` of one cell — query-
    independent.  The codes reconstruct R(x − c), so the slices come
    from the ROTATED centroid (R orthogonal: dot(c, x − c) =
    dot(Rc, R(x − c)))."""
    return _adc_dots(
        codebooks, rotate_vec(rotation, [float(x) for x in centroid])
    )


def _qnorm(vec: list[float]) -> float:
    return math.sqrt(sum(x * x for x in vec)) or 1.0


def _adc_sum_expr(tables: list[list[float]], codes_col: str = "codes") -> str:
    """SQL text of the per-row ADC fold: Σ_s table_s[code_s] — one
    element_at into a literal double array per subspace, emitted as a
    single parseable expression."""
    return " + ".join(
        "element_at(array("
        + ", ".join(f"{float(v)!r}D" for v in tables[s])
        + f"), element_at({codes_col}, {s + 1}) + 1)"
        for s in range(len(tables))
    )


def _adc_sim(
    dot: Column,
    norm2: Column,
    qnorm: Column,
    residual: tuple[Column, Column, Column] | None = None,
) -> Column:
    """The ADC cosine estimate every search path scores with, rounded to
    6dp: ``Σ dt / (|q| · sqrt(Σ nr))``.  ``residual = (qc, nc, cross)``
    adds the per-cell corrections of the residual encoding:
    ``(dot(q, c) + Σ dt) / (|q| · sqrt(|c|² + 2·Σ cs + Σ nr))``."""
    if residual is not None:
        qc, nc, cross = residual
        dot = qc + dot
        norm2 = nc + F.lit(2.0) * cross + norm2
    return F.round(dot / (qnorm * F.sqrt(norm2)), 6)


def pq_search(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    topk: int = 10,
    *,
    id_col: str = "vec_id",
    exclude_ids: tuple[int, ...] = (),
    rotation: list[list[float]] | None = None,
) -> DataFrame:
    """Asymmetric-distance cosine top-k over PQ codes — (vec_id,
    sim_pq), sim rounded to 6dp, ordered sim DESC then id ASC.

    The corpus side is JVM-only: two ``element_at`` lookups per
    subspace into literal tables built from the query driver-side.
    With ``rotation`` the query rotates driver-side (R is orthogonal,
    so dot(q,x) = dot(Rq,Rx) and |x| = |Rx| — the rotated-space ADC
    estimates the SAME cosine) and the lookup tables are built from
    the rotated query against the rotated-space codebooks; nothing on
    the corpus side changes shape."""
    query_vec = rotate_vec(rotation, query_vec)
    # the m lookup tables × k literals each are built as ONE F.expr parse
    # instead of m·k py4j Column constructions (~0.3-0.5 s of plan build
    # per query at m=8,k=16; r12 optimization round).  repr() emits the
    # shortest round-trip decimal and the 'D' suffix makes it a double
    # literal, so the parsed values are bit-identical to F.lit(float).
    sum_dot = F.expr(_adc_sum_expr(_adc_dots(codebooks, query_vec)))
    sum_norm = F.expr(_adc_sum_expr(_adc_norms(codebooks)))
    out = codes
    if exclude_ids:
        out = out.where(~F.col(id_col).isin(*exclude_ids))
    return (
        out.select(
            id_col,
            _adc_sim(sum_dot, sum_norm, F.lit(_qnorm(query_vec))).alias(
                "sim_pq"
            ),
        )
        .orderBy(F.desc("sim_pq"), id_col)
        .limit(topk)
    )


# -- IVF + PQ composition (IVFADC, Jégou et al. TPAMI 2011 §V) ----------
#
# Flat ADC above scans the WHOLE code table per query — 32× cheaper per
# row than raw vectors, but still O(corpus).  Composing with the
# materialized IVF index (similarity.py::IvfIndex) restores the probe
# economics: codes are stored PARTITIONED BY CELL, the coarse quantizer
# picks n_probe cells (IvfIndex.probe_cells / probe_join), and ADC
# scores only the probe cells' residents — scan cost n_probe/n_cells of
# the code table, which is itself 32× smaller than the corpus.
#
# Both encoding regimes run one estimator, :func:`_adc_sim`; they
# differ only in what is encoded and in the per-cell correction terms
# (``by_residual``, default False):
#
# - **global-codebook** (FAISS IndexIVFPQ ``by_residual=False``): codes
#   of x itself under :func:`pq_train` codebooks — the same code means
#   the same reconstruction everywhere, one codebook export serves both
#   the flat and IVF path, and the ADC lookup tables stay query-only.
# - **residual** (``by_residual=True`` — FAISS's DEFAULT IVFADC
#   configuration, Jégou §IV): codes of the residual x − centroid(cell)
#   (:func:`residual_frame`), under codebooks that :func:`pq_train` fits
#   on the same residuals.  Residuals concentrate around the origin, so
#   the same k codewords cover a much tighter distribution — measurably
#   better recall at identical code size.  The price is per-probe-cell
#   correction terms:
#       dot(q, x)  ≈ dot(q, cₚ) + Σₛ dot(qₛ, Cₛ[codeₛ])
#       |x|²       ≈ |cₚ|² + 2·Σₛ dot(cₚ,ₛ, Cₛ[codeₛ]) + Σₛ |Cₛ[codeₛ]|²
#   where cₚ is the cell centroid.  dot(q, cₚ)/|cₚ|² are per-(query,
#   cell) scalars and the cross table dot(cₚ,ₛ, Cₛ[j]) is
#   query-INDEPENDENT — n_cells·m·k scalars, precomputable and bounded
#   by index design — so the corpus-side scoring stays pure-JVM table
#   lookups in both regimes.
#
# The global regime is NOT the residual formula with a zero centroid:
# that would add a join and literal terms to its plans, and the flat
# OPQ path normalizes by |Rq| where the residual path uses |q|.


def residual_frame(index, vectors: DataFrame) -> DataFrame:
    """Cell-assigned ``vectors`` with the vector column replaced by
    x − centroid(cell): a broadcast join against the index's centroid
    table + one zip_with, float64 subtraction — JVM-side, no Python
    before the encode kernel."""
    return (
        vectors.join(F.broadcast(index.centroid_frame()), "cell")
        .withColumn(
            index.vec_col,
            F.expr(
                f"zip_with({index.vec_col}, centroid, (x, y) -> double(x) - y)"
            ),
        )
        .drop("centroid")
    )


def _write_cell_codes(
    index,
    codebooks: list[list[list[float]]],
    codes_dir: "str | Path",
    assigned: DataFrame,
    mode: str,
    by_residual: bool,
    rotation: list[list[float]] | None,
) -> None:
    """Encode cell-assigned vectors and write them partitioned by
    ``cell`` — the one code writer of the index build and the append."""
    if by_residual:
        assigned = residual_frame(index, assigned)
    pq_encode(
        assigned,
        codebooks,
        id_col=index.id_col,
        vec_col=index.vec_col,
        keep=("cell",),
        rotation=rotation,
    ).write.mode(mode).partitionBy("cell").parquet(str(codes_dir))


def ivfpq_write_codes(
    index,
    codebooks: list[list[list[float]]],
    codes_dir: "str | Path",
    *,
    by_residual: bool = False,
    rotation: list[list[float]] | None = None,
) -> None:
    """Encode the IVF corpus and write the code table partitioned by
    ``cell`` — the one-time index-build step (Arrow-batched encode, one
    pass; the write is cell-partitioned so the probe filter prunes at
    file-listing level, same layout contract as IvfIndex.VECTORS).
    With ``by_residual=True`` the codebooks must be fit on
    :func:`residual_frame` and each vector is encoded as its residual
    against the cell centroid.  ``rotation`` must match the matrix the
    codebooks were trained under (applied inside the encode kernel,
    after the residual subtraction when both are set)."""
    _write_cell_codes(
        index, codebooks, codes_dir, index.vectors(), "overwrite",
        by_residual, rotation,
    )


def ivfpq_search(
    index,
    codes_dir: "str | Path",
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    topk: int = 10,
    n_probe: int = 2,
    *,
    exclude_ids: tuple[int, ...] = (),
    by_residual: bool = False,
    rotation: list[list[float]] | None = None,
) -> DataFrame:
    """IVFADC top-k: probe cells from the stored coarse centroids
    (driver-side), then ADC over ONLY the probe cells' code partitions
    — ``cell IN (...)``/``cell = c`` is a partition filter
    (plan-asserted in tests/test_pq.py), scoring is pure-JVM
    ``element_at`` lookup chains, top-k is TakeOrderedAndProject.

    ``by_residual=False``: flat :func:`pq_search` over the probe cells.
    ``by_residual=True`` (the stored codes must have been written under
    the same flag): each probe cell scans with the query's lookup tables
    PLUS its own correction scalars dot(q, cₚ), |cₚ|² and cross table
    dot(cₚ,ₛ, Cₛ[j]) — m·k+2 driver-side floats per probe cell, bounded
    by index design.  The n_probe per-cell scans union before one
    global top-k.

    ``rotation`` (OPQ): the coarse probe and the per-cell correction
    scalars stay in the ORIGINAL space (the coarse quantizer is not
    rotated); only the PQ lookup tables rotate — dots from Rq, the
    cross table from R·centroid slices — because the stored codes
    reconstruct the ROTATED residual R(x − c), and R orthogonal makes
    dot(q, x−c) = dot(Rq, R(x−c))."""
    probe = index.probe_cells(query_vec, n_probe)
    # a memoized read of the immutable codes export: one parquet
    # resolution however many cells are probed (r12 optimization round)
    codes = read_parquet_memo(index.spark, codes_dir)
    if not by_residual:
        return pq_search(
            codes.filter(F.col("cell").isin(probe)),
            codebooks,
            query_vec,
            topk,
            id_col=index.id_col,
            exclude_ids=exclude_ids,
            rotation=rotation,
        )

    sum_dot = F.expr(
        _adc_sum_expr(_adc_dots(codebooks, rotate_vec(rotation, query_vec)))
    )
    sum_norm = F.expr(_adc_sum_expr(_adc_norms(codebooks)))
    qnorm = F.lit(_qnorm(query_vec))
    scans = []
    for c in probe:
        cent = [float(x) for x in index.centroids[c]]
        sim = _adc_sim(
            sum_dot,
            sum_norm,
            qnorm,
            (
                F.lit(sum(q * v for q, v in zip(query_vec, cent))),
                F.lit(sum(v * v for v in cent)),
                F.expr(_adc_sum_expr(_cross_table(codebooks, cent, rotation))),
            ),
        )
        scans.append(
            codes.filter(F.col("cell") == int(c)).select(
                index.id_col, sim.alias("sim_pq")
            )
        )
    out = functools.reduce(DataFrame.unionByName, scans)
    if exclude_ids:
        out = out.where(~F.col(index.id_col).isin(*exclude_ids))
    return out.orderBy(F.desc("sim_pq"), index.id_col).limit(topk)


def ivfpq_knn_join(
    index,
    codes_dir: "str | Path",
    codebooks: list[list[list[float]]],
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    *,
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    by_residual: bool = False,
    rotation: list[list[float]] | None = None,
) -> DataFrame:
    """IVFADC k-NN JOIN — the multi-query scale path (same relationship
    to :func:`ivfpq_search` as IvfIndex.knn_join to IvfIndex.search):
    works for 5 queries or 5 billion, and the corpus side stays PQ
    codes, never raw vectors.

    Plan shape, all JVM:

    1. probe assignment is DISTRIBUTED (:meth:`IvfIndex.probe_join`) —
       the centroid table broadcasts against the query frame, a
       per-query rank window keeps the ``n_probe`` most-similar cells
       (ties → lower cell id, matching ``probe_cells``);
    2. each query's ADC lookup table materializes as ROWS, not plan
       literals: query frame × broadcast exploded codebook (m·k rows,
       bounded by index design) → ONE compact zip_with/aggregate fold
       per (query, subspace, centroid) row.  Cost ∝ queries, never
       corpus — and the expression tree stays small (a literal-array
       formulation compiles m·k·d_sub terms, blows past janino method
       limits, and falls back to interpreted eval);
    3. candidates = probes ⋈ codes on ``cell`` (shuffle keyed by cell;
       unprobed cells prunable), codes posexploded to (vec_id, s, code)
       — the m× row expansion is the ADC price and still ~dim/m smaller
       than exploding raw vectors — then joined to the lookup rows on
       (q_id, s, code).  No broadcast hint on the lookup side: it grows
       with the query set, so the planner/AQE picks (repo rule —
       forced broadcasts only on bounded-by-design tables);
    4. per-(query, vector) sums folded in subspace ORDER (collect →
       sort → fold — float addition is non-associative and a plain SUM
       would wobble last bits vs the oracle's ORDER BY s replay);
       per-query rank window keeps k.

    ``by_residual=True`` adds only the correction terms of
    :func:`_adc_sim`: dot(q, cₚ)/|cₚ|² as ``_qc``/``_nc`` columns of
    the probe rows (JVM folds), and the query-independent cross table
    dot(cₚ,ₛ, Cₛ[j]) as n_cells·m·k broadcast rows joined on (cell, s,
    code).

    Output: (q_id, vec_id, sim_pq, rank), rank ≤ k per query.

    ``rotation`` (OPQ): queries rotate JVM-side as ROWS — the dim-row
    rotation matrix broadcasts against the query frame and Rq folds one
    inner product per (query, output-dim) row (the same
    materialize-as-rows rule as the lookup tables; a literal-matrix
    formulation would compile dim² terms).  Probing and the residual
    correction scalars stay in the ORIGINAL space, the cross table uses
    rotated centroid slices — bit-consistent with
    :func:`ivfpq_search`'s rotated single-query math by the same
    left-to-right folds."""
    from pyspark.sql import Window

    spark = index.spark
    d_sub = len(codebooks[0][0])
    # residual corrections per (query, probe cell): dot(q, centroid)
    # and |centroid|^2 — left-to-right IEEE folds matching the oracle's
    # list_inner_product
    corr = ["_qc", "_nc"] if by_residual else []
    probes = index.probe_join(queries, n_probe, q_id_col, q_vec_col).select(
        q_id_col,
        q_vec_col,
        "cell",
        *(
            [
                F.expr(
                    f"aggregate(zip_with({q_vec_col}, centroid,"
                    " (x, y) -> double(x) * y), 0D, (a, x) -> a + x)"
                ).alias("_qc"),
                F.expr(
                    "aggregate(centroid, 0D, (a, x) -> a + x * x)"
                ).alias("_nc"),
            ]
            if by_residual
            else []
        ),
    )
    qv_eff = q_vec_col
    if rotation is not None:
        rotdf = spark.createDataFrame(
            [(i, [float(x) for x in row]) for i, row in enumerate(rotation)],
            "i int, vrow array<double>",
        )
        qrot = (
            queries.select(q_id_col, q_vec_col)
            .crossJoin(F.broadcast(rotdf))
            .select(
                q_id_col,
                "i",
                F.expr(
                    f"aggregate(zip_with({q_vec_col}, vrow,"
                    " (x, y) -> double(x) * y), 0D, (a, x) -> a + x)"
                ).alias("ip"),
            )
            .groupBy(q_id_col)
            .agg(
                F.array_sort(F.collect_list(F.struct("i", "ip"))).alias("_r")
            )
            .select(
                q_id_col,
                F.expr("transform(_r, s -> s.ip)").alias("_qrot"),
            )
        )
        probes = probes.join(qrot, q_id_col)
        qv_eff = "_qrot"

    # exploded codebook: (s, code, cent, nr) — m·k rows, bounded by
    # index design, broadcast-safe
    norms = _adc_norms(codebooks)
    cbdf = spark.createDataFrame(
        [
            (s, j, [float(c) for c in cent], float(norms[s][j]))
            for s, book in enumerate(codebooks)
            for j, cent in enumerate(book)
        ],
        "s int, code int, cent array<double>, nr double",
    )
    # qnorm space mirrors the single-query paths exactly: pq_search
    # (the flat path) computes |Rq| from the ROTATED query, the
    # residual path keeps |q| in the original space
    qnorm_src = q_vec_col if by_residual else qv_eff
    qnorm = F.sqrt(
        F.expr(f"aggregate({qnorm_src}, 0D, (a, x) -> a + double(x) * double(x))")
    )
    # per-(query, subspace, centroid) ADC terms: dot(q_s, c) as one
    # left-to-right fold — the same IEEE order as pq_search's
    # driver-side tables and DuckDB's list_inner_product
    qd = (
        probes.select(
            q_id_col, *dict.fromkeys((q_vec_col, qv_eff, qnorm_src))
        )
        .distinct()
        .crossJoin(F.broadcast(cbdf))
        .select(
            q_id_col,
            "s",
            "code",
            "nr",
            qnorm.alias("_qnorm"),
            F.expr(
                f"aggregate(zip_with(slice({qv_eff}, s * {d_sub} + 1,"
                f" {d_sub}), cent, (x, y) -> double(x) * y),"
                " 0D, (a, x) -> a + x)"
            ).alias("dt"),
        )
    )

    keep = ["cell", *corr] if by_residual else []
    cand = (
        probes.select(q_id_col, "cell", *corr)
        .join(read_parquet_memo(spark, codes_dir), "cell")
        .select(
            q_id_col,
            *keep,
            F.col(index.id_col),
            F.posexplode("codes").alias("s", "code"),
        )
    )
    terms = ["s", "dt", "nr"]
    scored = cand.join(qd, [q_id_col, "s", "code"])
    if by_residual:
        # query-independent cross table: n_cells·m·k rows, bounded by
        # index design, broadcast-safe
        crossdf = spark.createDataFrame(
            [
                (int(c), s, j, float(cs))
                for c, v in sorted(index.centroids.items())
                for s, row in enumerate(_cross_table(codebooks, v, rotation))
                for j, cs in enumerate(row)
            ],
            "cell int, s int, code int, cs double",
        )
        scored = scored.join(F.broadcast(crossdf), ["cell", "s", "code"])
        terms.append("cs")

    def fold(field: str) -> Column:
        return F.expr(f"aggregate(terms, 0D, (a, x) -> a + x.{field})")

    scored = (
        scored.select(
            q_id_col,
            index.id_col,
            "_qnorm",
            *corr,
            F.struct(*terms).alias("term"),
        )
        .groupBy(q_id_col, index.id_col, "_qnorm", *corr)
        .agg(F.array_sort(F.collect_list("term")).alias("terms"))
        .select(
            q_id_col,
            index.id_col,
            _adc_sim(
                fold("dt"),
                fold("nr"),
                F.col("_qnorm"),
                (F.col("_qc"), F.col("_nc"), fold("cs"))
                if by_residual
                else None,
            ).alias("sim_pq"),
        )
    )
    return (
        scored.withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy(q_id_col).orderBy(
                    F.desc("sim_pq"), F.asc(index.id_col)
                )
            ),
        )
        .where(F.col("rank") <= k)
        .select(q_id_col, index.id_col, "sim_pq", "rank")
    )


def ivfpq_append(
    index,
    codebooks: list[list[list[float]]],
    codes_dir: "str | Path",
    new_embeddings: DataFrame,
    *,
    by_residual: bool = False,
    rotation: list[list[float]] | None = None,
) -> int:
    """Admit NEW vectors into an existing IVFPQ index — the delta-only
    maintenance step a continuously-growing corpus needs.

    Cells come from the STORED coarse quantizer (:meth:`IvfIndex.assign`)
    and codes from the STORED codebooks, both frozen: the production
    regime (quantizers train once on a bounded sample and the index
    grows under them; retraining is a rebuild, not maintenance).  New
    codes append as extra files inside the cell partitions — resident
    codes are never rewritten, and searches see the union at the next
    partition listing.  Cost is O(delta): one assignment pass + one
    Arrow encode pass over the new vectors only.

    Pairs with ``TableStore.changes``: feed each round's survivor delta
    here and the ANN index keeps pace with the corpus — the same
    "only the delta pays" regime as the incremental deduper.  Returns
    the number of vectors appended."""
    n = new_embeddings.count()
    _write_cell_codes(
        index, codebooks, codes_dir, index.assign(new_embeddings), "append",
        by_residual, rotation,
    )
    return n
