#!/usr/bin/env python3
"""Layered IVFPQ recall across encoding regimes × corpus geometry ×
probe width (VERDICT r7 items 3 + 5; r8 item 4 tightened the
measurement: NQ >= 128 so the numbers carry ~±0.1 sampling error
instead of r8's ±0.4 at NQ=16, and an n_probe sweep so the default
n_probe=2 is justified by a recall/probe-cost CURVE, not a point).

Measures recall@10 (overlap with exact brute-force cosine top-10,
averaged over NQ held-in queries, self excluded) through the SAME
IVF probe for four encodings:

    flat        global-codebook ADC          (by_residual=False)
    residual    FAISS-default residual ADC   (by_residual=True)
    opq_flat    OPQ rotation + global ADC
    opq_resid   OPQ rotation over residuals

at n_probe in (2, 4, 6), on two corpora:

    isotropic   the driver's sf0.01 embeddings (~uniform on the
                sphere, residual norm ratio ≈0.965 — r7 measured that
                residual CANNOT help here; the bound is geometry)
    clustered   datagen.write_clustered_embeddings — mixture of
                Gaussians, the regime real text embeddings live in

Also reports the probe-layer ceiling per n_probe (recall of the exact
top-10 that survives the probed cells — no encoding can beat it) and
the residual norm ratio per corpus.  Prints one JSON line; SCALE.md
records the table.

NQ=128 stays tractable because everything batches through the
multi-query JOIN paths (one Spark job per regime × n_probe instead of
one per query): exact truth via similarity.knn_join, encodings via
pq.ivfpq_knn_join — the same operators the catalog entries pin.

Run: ``python tools/pq_recall_bench.py`` (~4-6 min).
"""
from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

M, K, ITERS = 8, 16, 8
N_CELLS = 8
N_PROBES = (2, 4, 6)
NQ, TOPK = 128, 10
ISO = "/root/testdata/sf0.01"


def _topk_sets(rows, *, drop_self: bool, k: int) -> dict[int, set[int]]:
    """(q_id, vec_id, rank)-rows -> per-query top-k id set.  Rows come
    rank-ordered with k+1 requested, so after dropping the self match
    the first k survivors remain — identical treatment for the exact
    truth and every encoding."""
    by_q: dict[int, list[tuple[int, int]]] = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append((r["rank"], r["vec_id"]))
    out: dict[int, set[int]] = {}
    for q, pairs in by_q.items():
        pairs.sort()
        ids = [v for _, v in pairs if not (drop_self and v == q)]
        out[q] = set(ids[:k])
    return out


def main() -> int:
    import numpy as np

    from pyspark.sql import functions as F

    from rust_evm_indexer_spark.operators import pq as PQ
    from rust_evm_indexer_spark.operators import similarity as sim
    from rust_evm_indexer_spark.session import get_spark
    from rust_evm_indexer_spark import datagen

    spark = get_spark("pq-recall-bench")
    work = Path(tempfile.mkdtemp(prefix="pq_recall_"))
    clustered_dir = datagen.write_clustered_embeddings(
        work / "clustered", n=2000, dim=64, n_clusters=8, spread=0.06,
        seed=11,
    )
    corpora = {
        "isotropic": str(Path(ISO) / "embeddings.parquet"),
        "clustered": str(clustered_dir / "embeddings.parquet"),
    }
    t0 = time.perf_counter()
    out: dict = {"bench": "pq_recall", "m": M, "k": K,
                 "n_cells": N_CELLS, "n_probes": list(N_PROBES),
                 "topk": TOPK, "nq": NQ, "corpora": {}}

    for cname, path in corpora.items():
        emb = spark.read.parquet(path)
        idx = sim.IvfIndex.build(emb, work / f"ivf_{cname}", k=N_CELLS,
                                 iters=5)
        # residual energy: mean |x - centroid(cell)| / |x|
        cents = {int(c): np.asarray(v) for c, v in idx.centroids.items()}
        sample = idx.vectors().orderBy("vec_id").limit(512).collect()
        ratios = []
        for r in sample:
            x = np.asarray(r["embedding"], dtype=np.float64)
            c = cents[int(r["cell"])]
            ratios.append(float(np.linalg.norm(x - c) / np.linalg.norm(x)))
        R = PQ.opq_train_rotation(emb, m=M)
        regimes = {
            "flat": dict(rot=None, res=False),
            "residual": dict(rot=None, res=True),
            "opq_flat": dict(rot=R, res=False),
            "opq_resid": dict(rot=R, res=True),
        }
        dirs = {}
        books = {}
        for rname, cfg in regimes.items():
            if cfg["res"]:
                cb = PQ.pq_train(
                    PQ.residual_frame(idx, idx.vectors()),
                    m=M, k=K, iters=ITERS, rotation=cfg["rot"],
                )
            else:
                cb = PQ.pq_train(emb, m=M, k=K, iters=ITERS,
                                 rotation=cfg["rot"])
            d = work / f"codes_{cname}_{rname}"
            PQ.ivfpq_write_codes(idx, cb, d, by_residual=cfg["res"],
                                 rotation=cfg["rot"])
            dirs[rname], books[rname] = d, cb

        queries = (
            emb.orderBy("vec_id").limit(NQ)
            .select(F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("q_vec"))
        )
        qvecs = {
            r["q_id"]: [float(x) for x in r["q_vec"]]
            for r in queries.collect()
        }
        # exact truth: ONE brute-force knn join for all queries (k+1 so
        # the self match can be dropped symmetrically)
        exact = _topk_sets(
            sim.knn_join(emb, queries, k=TOPK + 1).collect(),
            drop_self=True, k=TOPK,
        )
        cell_of = {r["vec_id"]: int(r["cell"])
                   for r in idx.vectors().select("vec_id", "cell").collect()}
        creport = {
            "residual_norm_ratio": round(sum(ratios) / len(ratios), 3),
            "probe_ceiling": {},
            "recall_at_10": {rname: {} for rname in regimes},
        }
        for n_probe in N_PROBES:
            ceiling = 0
            for q, truth in exact.items():
                probe = set(idx.probe_cells(qvecs[q], n_probe))
                ceiling += sum(1 for v in truth if cell_of[v] in probe)
            creport["probe_ceiling"][str(n_probe)] = round(
                ceiling / len(exact), 2
            )
            for rname, cfg in regimes.items():
                got = _topk_sets(
                    PQ.ivfpq_knn_join(
                        idx, dirs[rname], books[rname], queries,
                        k=TOPK + 1, n_probe=n_probe,
                        by_residual=cfg["res"], rotation=cfg["rot"],
                    ).collect(),
                    drop_self=True, k=TOPK,
                )
                hits = sum(len(exact[q] & got.get(q, set())) for q in exact)
                creport["recall_at_10"][rname][str(n_probe)] = round(
                    hits / len(exact), 2
                )
        out["corpora"][cname] = creport
        print(f"{cname}: ratio={creport['residual_norm_ratio']} "
              f"ceiling={creport['probe_ceiling']} "
              f"{creport['recall_at_10']}", file=sys.stderr)

    out["wall_sec"] = round(time.perf_counter() - t0, 1)
    spark.stop()
    print(json.dumps(out, separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
