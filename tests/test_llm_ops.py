"""LLM-pipeline operator semantics: LSH recall/precision vs the exact
join, simhash sanity, IVF recall vs brute force, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rust_evm_indexer_spark.operators import corpus as cp
from rust_evm_indexer_spark.operators import dedup as dd
from rust_evm_indexer_spark.operators import multimodal as mm
from rust_evm_indexer_spark.operators import similarity as sim
from rust_evm_indexer_spark.operators import textops as tx

from conftest import SF_ORACLE


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(str(SF_ORACLE / "documents.parquet"))


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(str(SF_ORACLE / "embeddings.parquet"))


@pytest.fixture(scope="module")
def exact_pairs(docs):
    return {
        (r["a_id"], r["b_id"])
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }


def test_exact_pairs_found(exact_pairs):
    assert len(exact_pairs) == 25  # planted near-dups at sf0.01


def test_minhash_lsh_equals_exact(docs, exact_pairs):
    """Verified-LSH output must equal the exact join on this corpus
    (recall ≈ 1 at J≥0.8, precision = 1 by construction) — this is what
    licenses sharing the oracle SQL."""
    got = {
        (r["a_id"], r["b_id"])
        for r in dd.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert got == exact_pairs


def test_dedup_survivors(docs, exact_pairs):
    pairs = dd.ngram_jaccard_pairs(docs, threshold=0.5)
    surv = dd.dedup_survivors(docs, pairs)
    n_losers = len({b for _, b in exact_pairs})
    assert surv.count() == docs.count() - n_losers
    # survivors contain no b-side of any pair
    ids = {r["doc_id"] for r in surv.select("doc_id").collect()}
    assert not ids & {b for _, b in exact_pairs}


def test_simhash_finds_planted_dups(docs, exact_pairs):
    """SimHash hamming≤3 should recover most planted J≈0.98 pairs and
    stay precise (no explosion of false pairs)."""
    got = {
        (r["a_id"], r["b_id"]) for r in dd.simhash_pairs(docs, max_hamming=6).collect()
    }
    assert len(got & exact_pairs) >= len(exact_pairs) * 0.8
    assert len(got) <= len(exact_pairs) * 3


def test_exact_dedup_identity_corpus(docs):
    """No exact duplicates planted at sf0.01 → survivors = all docs."""
    out = dd.exact_dedup(docs)
    assert out.count() == docs.count()
    assert out.filter(F.col("n_copies") > 1).count() == 0


def test_ivf_recall_vs_brute_force(emb):
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    exact = [r["vec_id"] for r in sim.brute_force_topk(emb, q, 10, exclude_ids=(0,)).collect()]
    approx = [
        r["vec_id"]
        for r in sim.ivf_topk(emb, q, 10, n_probe=2, exclude_ids=(0,)).collect()
    ]
    # labels are arbitrary cells, not k-means — still expect real overlap,
    # and the contract: approx ⊆ probed cells, |approx| == 10
    assert len(approx) == 10
    assert len(set(exact) & set(approx)) >= 3


def test_embedding_cosine_pairs_recover_planted_dups(docs, exact_pairs):
    """Sparse bigram-cosine at 0.8 should recover the planted near-dup
    pairs (they score ≥0.9) with no background noise (99.9th pct ≈0.19)."""
    vecs = dd.doc_term_vectors(docs, n=2)
    got = {
        (r["a_id"], r["b_id"])
        for r in dd.embedding_cosine_pairs(vecs, threshold=0.8).collect()
    }
    assert got == exact_pairs


def test_embedding_cosine_top_dim_cap_noop_here(docs):
    """Cap above the corpus's max dim df (338 at sf0.1, 46 at sf0.01)
    must not change the output — it only guards hot-dim fan-out."""
    vecs = dd.doc_term_vectors(docs, n=2)
    a = sorted(
        (r["a_id"], r["b_id"], r["cos_sim"])
        for r in dd.embedding_cosine_pairs(vecs, threshold=0.8).collect()
    )
    b = sorted(
        (r["a_id"], r["b_id"], r["cos_sim"])
        for r in dd.embedding_cosine_pairs(
            vecs, threshold=0.8, top_dim_cap=500
        ).collect()
    )
    assert a == b


def test_hyperplane_lsh_finds_exact_duplicates(emb):
    """Planted exact copies MUST all be recovered (identical vectors →
    identical signatures → all bands collide) and nothing else passes
    the cos≥0.99 verification on this corpus (natural max ≈0.51)."""
    base = emb.select("vec_id", "embedding")
    copies = base.where(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    got = {
        (r["a_id"], r["b_id"], r["cos_sim"])
        for r in sim.hyperplane_lsh_pairs(
            base.unionByName(copies), threshold=0.99
        ).collect()
    }
    assert got == {(i, i + 100000, 1.0) for i in range(20)}


def test_ivf_index_matches_inmemory_ivf(emb, tmp_path):
    """Materialized index ≡ per-query recompute: same cells, same probe,
    same top-k — only the physics differ (partition-pruned scan vs full
    scan + assignment)."""
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    idx = sim.IvfIndex.build(emb, tmp_path / "ivf_label", cell_col="label")
    got = [
        (r["vec_id"], r["sim"])
        for r in idx.search(q, 10, n_probe=2, exclude_ids=(0,)).collect()
    ]
    want = [
        (r["vec_id"], r["sim"])
        for r in sim.ivf_topk(emb, q, 10, n_probe=2, exclude_ids=(0,)).collect()
    ]
    assert got == want
    # reload round-trip: persisted centroids identical
    idx2 = sim.IvfIndex.load(emb.sparkSession, tmp_path / "ivf_label")
    assert idx2.centroids == idx.centroids
    # idempotent rebuild: DONE marker short-circuits
    idx3 = sim.IvfIndex.build(emb, tmp_path / "ivf_label", cell_col="label")
    assert idx3.centroids == idx.centroids


def test_ivf_index_kmeans_recall(emb, tmp_path):
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    idx = sim.IvfIndex.build(emb, tmp_path / "ivf_km", k=8, iters=3)
    exact = [
        r["vec_id"]
        for r in sim.brute_force_topk(emb, q, 10, exclude_ids=(0,)).collect()
    ]
    approx = [
        r["vec_id"] for r in idx.search(q, 10, n_probe=2, exclude_ids=(0,)).collect()
    ]
    assert len(approx) == 10
    assert len(set(exact) & set(approx)) >= 4


def test_knn_join_self_rank1(emb):
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = sim.knn_join(emb, queries, k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["q_id"], []).append(r)
    for q_id, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert rows[0]["vec_id"] == q_id  # self is its own nearest neighbor
        assert rows[0]["sim"] == pytest.approx(1.0)
        assert len(rows) == 3


def test_multimodal_features_batched(spark, docs):
    notes: list[int] = []
    assets = mm.documents_as_assets(docs.limit(100)).repartition(4)
    out = mm.extract_features(assets, deterministic_fake=True, batch_note=notes)
    rows = out.collect()
    assert len(rows) == 100
    for r in rows[:10]:
        assert len(r["features"]) == mm.FEATURE_DIM
        assert r["byte_len"] > 0 and len(r["payload_md5"]) == 32


def test_multimodal_resize_shape_and_determinism(docs):
    assets = mm.documents_as_assets(docs.limit(20))
    out = mm.resize_images(assets, 8, 8).collect()
    assert len(out) == 20
    for r in out:
        assert len(bytes(r["payload"])) == 64
        assert (r["width"], r["height"]) == (8, 8)
        assert r["pixel_sum"] == sum(bytes(r["payload"]))
    again = mm.resize_images(assets, 8, 8).collect()
    assert {r["resized_md5"] for r in out} == {r["resized_md5"] for r in again}


def test_bilinear_resize_fidelity_hand_computed():
    """r10 real-resize kernel vs a hand-computed 4×4 → 2×2 case.

    Source (4 wide, 4 tall, row-major):
        0  10  20  30
       40  50  60  70
       80  90 100 110
      120 130 140 150
    Half-pixel-centers downscale by 2: output pixel (i, j) samples
    source coordinate ((i+0.5)·2 − 0.5, (j+0.5)·2 − 0.5) = (0.5, 0.5),
    (0.5, 2.5), (2.5, 0.5), (2.5, 2.5) — each the exact mean of a 2×2
    block: (0+10+40+50)/4=25, (20+30+60+70)/4=45, (80+90+120+130)/4=105,
    (100+110+140+150)/4=125."""
    src = bytes([0, 10, 20, 30, 40, 50, 60, 70,
                 80, 90, 100, 110, 120, 130, 140, 150])
    assert mm.bilinear_resize_bytes(src, 4, 2, 2) == bytes([25, 45, 105, 125])
    # upscale 2×2 -> 4×4: corners replicate under edge clamping, the
    # interior interpolates at quarter weights
    up = mm.bilinear_resize_bytes(bytes([0, 100, 200, 40]), 2, 4, 4)
    # row 0: x coords clamp to 0, .25, .75, 1 -> 0, 25, 75, 100
    assert up[:4] == bytes([0, 25, 75, 100])
    assert up[-4:] == bytes([200, 160, 80, 40])
    # degenerate inputs keep the contract: empty -> all-black target
    assert mm.bilinear_resize_bytes(b"", 64, 2, 2) == bytes(4)
    # identity resize of a single row is the row itself
    assert mm.bilinear_resize_bytes(bytes([7, 9]), 2, 2, 1) == bytes([7, 9])


def test_bilinear_kernel_matches_independent_scalar_reference():
    """The vectorized numpy kernel and the catalog oracle's scalar
    pure-Python implementation agree byte-for-byte on arbitrary
    payload shapes (the float64 expressions are structured
    identically, so IEEE rounding matches)."""
    from rust_evm_indexer_spark.catalog import _bilinear_ref_scalar

    import random

    rng = random.Random(10)
    for n in (0, 1, 7, 63, 64, 65, 257, 4096):
        payload = bytes(rng.randrange(256) for _ in range(n))
        for (tw, th) in ((8, 8), (3, 5), (1, 1)):
            assert mm.bilinear_resize_bytes(payload, 64, tw, th) == \
                _bilinear_ref_scalar(payload, 64, tw, th), (n, tw, th)


def test_multimodal_frame_sampling_explodes_rows(docs):
    """1→N fan-out: every asset yields ceil(n_frames/10) rows with
    monotone frame indexes and fps-derived timestamps."""
    assets = mm.documents_as_assets(docs.limit(20))
    rows = mm.sample_frames(assets, every_n=10).collect()
    by_asset: dict = {}
    for r in rows:
        by_asset.setdefault(r["asset_id"], []).append(r)
    payload_len = {
        r["asset_id"]: r["byte_len"] for r in mm.asset_metadata(assets).collect()
    }
    for aid, frames in by_asset.items():
        n_frames = max(payload_len[aid] // 64, 1)
        assert len(frames) == len(range(0, n_frames, 10))
        for f in frames:
            assert f["frame_ts_ms"] == f["frame_index"] * 1000 // 30


def test_multimodal_decode_stub_raises_without_fake():
    with pytest.raises(NotImplementedError):
        mm.decode_image_stub(b"abc", deterministic_fake=False)


def test_multimodal_meta_matches_features(spark, docs):
    assets = mm.documents_as_assets(docs.limit(50))
    meta = {r["asset_id"]: r for r in mm.asset_metadata(assets).collect()}
    feats = {r["asset_id"]: r for r in mm.extract_features(assets).collect()}
    assert set(meta) == set(feats)
    for aid in meta:
        # JVM md5(binary) must equal the Python-side md5 in the kernel
        assert meta[aid]["payload_md5"] == feats[aid]["payload_md5"]
        assert meta[aid]["byte_len"] == feats[aid]["byte_len"]


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_approx_distinct_accuracy(spark, sf_dir):
    """The driver-verifiable bound-check shape (r3 d610184): the entry
    emits ``(event_type, exact_users, within_5pct)`` where within_5pct
    compares the HLL++ estimate (rsd=0.01) to the exact count
    Spark-side.  At TWO scale factors: every bound bit must be TRUE and
    exact_users must equal an independently computed COUNT(DISTINCT),
    so the bound check can't pass vacuously on a broken exact count."""
    from rust_evm_indexer_spark.catalog import CATALOG

    got = {
        r["event_type"]: r
        for r in CATALOG["approx_distinct_users"].fn(spark, sf_dir).collect()
    }
    from rust_evm_indexer_spark.sources.batch import load_driver_table

    exact = {
        r["event_type"]: r["n"]
        for r in load_driver_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for et, row in got.items():
        assert row["within_5pct"] is True
        assert row["exact_users"] == exact[et]


@pytest.mark.slow
def test_kmeans_ivf_improves_over_label_cells(emb, tmp_path):
    """Trained quantizer: k-means cells must give ≥ recall of arbitrary
    label cells at the same probe budget, and assignment is deterministic."""
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    exact = {
        r["vec_id"]
        for r in sim.brute_force_topk(emb, q, 10, exclude_ids=(0,)).collect()
    }
    cents = sim.kmeans_fit(emb, k=8, iters=4)
    assert len(cents) == 8 and all(len(c) == 64 for c in cents)
    cents2 = sim.kmeans_fit(emb, k=8, iters=4)
    assert cents == cents2  # deterministic

    idx = sim.IvfIndex.build(emb, tmp_path / "ivf", k=8, iters=4)
    trained = {
        r["vec_id"]
        for r in idx.search(q, 10, n_probe=2, exclude_ids=(0,)).collect()
    }
    label_cells = {
        r["vec_id"]
        for r in sim.ivf_topk(emb, q, 10, n_probe=2, exclude_ids=(0,)).collect()
    }
    assert len(trained & exact) >= len(label_cells & exact)
    assert len(trained & exact) >= 5  # real recall from a trained index


def test_ivf_knn_join_matches_exact_knn(emb, tmp_path):
    """The distributed IVF knn-join must agree with the exact broadcast
    knn_join wherever the probed cells contain the true neighbors, and
    always return exactly k ranked rows per query with self at rank 1."""
    idx = sim.IvfIndex.build(emb, tmp_path / "ivf", k=8, iters=3)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    approx = idx.knn_join(queries, k=3, n_probe=2).collect()
    assert len(approx) == 15  # 5 queries x 3 ranks
    by_q = {}
    for r in approx:
        by_q.setdefault(r["q_id"], []).append(r)
    exact = {
        (r["q_id"], r["rank"]): r["vec_id"]
        for r in sim.knn_join(emb, queries, k=3).collect()
    }
    recall_hits = 0
    for q_id, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert rows[0]["vec_id"] == q_id and rows[0]["sim"] == 1.0  # self
        recall_hits += sum(
            1 for r in rows if exact[(q_id, r["rank"])] == r["vec_id"]
        )
    # probing 2/8 cells must still find most true neighbors
    assert recall_hits >= 10


# -- pure-Python xxHash64: independent verification of the simhash
# signature basis.  Spark's xxhash64 cannot be replayed in DuckDB, so
# the catalog oracle for dedup_simhash verifies the PAIR computation
# over exported signatures; this reimplementation (straight from the
# public xxHash64 spec, seed 42 = Spark's default) closes the remaining
# gap by verifying the signature computation itself — normalization,
# shingling, hashing, and the per-bit majority vote — against an engine
# that shares no code with Spark.

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl64(x, r):
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_round(acc, inp):
    acc = (acc + inp * _P2) & _M64
    return (_rotl64(acc, 31) * _P1) & _M64


def _xxh_merge(acc, val):
    acc ^= _xxh_round(0, val)
    return (acc * _P1 + _P4) & _M64


def _xxh64(data: bytes, seed: int = 42) -> int:
    """xxHash64 (public spec), returned as Spark's signed long."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            v1 = _xxh_round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _xxh_round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _xxh_round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _xxh_round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (
            _rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)
        ) & _M64
        for v in (v1, v2, v3, v4):
            h = _xxh_merge(h, v)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _xxh_round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl64(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        h = (_rotl64(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl64(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def _py_simhash(text: str, k: int = 3) -> int | None:
    """Reference simhash: normalize → distinct word k-grams → xxh64 →
    per-bit ±1 majority vote (ties → 0, matching `> 0`)."""
    import re

    norm = re.sub(" +", " ", re.sub("[^a-z0-9 ]", "", text.lower())).strip()
    words = norm.split(" ")
    grams = {
        " ".join(words[j : j + k]) for j in range(len(words) - k + 1)
    } - {""}
    if not grams:
        return None
    votes = [0] * 64
    for g in grams:
        h = _xxh64(g.encode("utf-8")) & _M64
        for b in range(64):
            votes[b] += 1 if (h >> b) & 1 else -1
    sig = 0
    for b in range(64):
        if votes[b] > 0:
            sig |= 1 << b
    return sig - (1 << 64) if sig >= (1 << 63) else sig


def test_xxhash64_matches_spark(spark):
    """The pure-Python xxHash64 agrees with Spark's builtin on every
    length class (empty, <4, 4-7, 8-15, 16-31, >=32 bytes)."""
    strs = ["", "a", "abc", "word", "1234567", "12345678", "x" * 15,
            "y" * 16, "z" * 31, "w" * 32, "v" * 57,
            "the quick brown fox jumps over the lazy dog"]
    got = spark.createDataFrame([(s,) for s in strs], "s string").select(
        "s", F.xxhash64("s").alias("h")
    ).collect()
    for r in got:
        assert _xxh64(r["s"].encode("utf-8")) == r["h"], repr(r["s"])


def test_simhash_signatures_match_pure_python(docs):
    """End-to-end signature parity: Spark's simhash_signatures (split /
    regex / xxhash64 / 64 vote-sums, all JVM builtins) equals the pure-
    Python reference for EVERY sf0.01 document — the cross-engine check
    the DuckDB oracle cannot provide for a hash it lacks."""
    spark_sigs = {
        r["doc_id"]: r["simhash"]
        for r in dd.simhash_signatures(docs).collect()
    }
    rows = docs.select("doc_id", "text").collect()
    assert len(spark_sigs) > 0
    checked = 0
    for r in rows:
        expect = _py_simhash(r["text"])
        if expect is None:
            assert r["doc_id"] not in spark_sigs
            continue
        assert spark_sigs[r["doc_id"]] == expect, r["doc_id"]
        checked += 1
    assert checked == len(spark_sigs)


def test_semantic_dedup_finds_planted_pairs(spark, emb):
    """SemDeDup (similarity.semantic_dedup_pairs): scaled copies (cosine
    exactly 1) are always found — scaling preserves both direction AND
    cell assignment; natural sf0.01 pairs (max cos ~0.51) never cross
    the threshold; every emitted pair shares a cell (the blocking
    invariant)."""
    cents = sim.kmeans_fit(emb, k=4, iters=2)
    scaled = emb.where(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    corpus = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    ).unionByName(scaled)
    pairs = sim.semantic_dedup_pairs(corpus, cents, threshold=0.98).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {(i, i + 100000) for i in range(10)}
    assert all(r["sim"] == 1.0 for r in pairs)


def test_semantic_dedup_cell_blocking_bounds_comparisons(spark, emb):
    """The pair join is cell-blocked: a pair in different cells is never
    compared, so candidate volume is Σ|cell|², not N² — checked by
    recomputing each emitted pair's cells independently."""
    cents = sim.kmeans_fit(emb, k=4, iters=2)
    corpus = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    cells = {
        r["vec_id"]: r["cell"]
        for r in sim.assign_cells(corpus, cents).select("vec_id", "cell").collect()
    }
    pairs = sim.semantic_dedup_pairs(corpus, cents, threshold=0.3).collect()
    assert pairs, "threshold 0.3 must produce within-cell pairs"
    for r in pairs:
        assert cells[r["id_a"]] == cells[r["id_b"]] == r["cell"]


def test_bm25_matches_python_model(spark, docs):
    """bm25_topk against a 15-line pure-Python BM25 over the collected
    corpus: same scores (6dp) and same ranking."""
    import math
    import re as _re

    rows = docs.select("doc_id", "text").collect()
    norm = lambda s: _re.sub(" +", " ", _re.sub("[^a-z0-9 ]", "", s.lower())).strip()
    toks = {r["doc_id"]: [w for w in norm(r["text"]).split(" ") if w] for r in rows}
    toks = {d: ws for d, ws in toks.items() if ws}
    n_docs = len(toks)
    avgdl = sum(len(ws) for ws in toks.values()) / n_docs
    terms = ["vector", "stream", "hash"]
    dfreq = {t: sum(1 for ws in toks.values() if t in ws) for t in terms}
    k1, b = 1.2, 0.75
    want = {}
    for d, ws in toks.items():
        s = 0.0
        hits = 0
        for t in terms:
            tf = ws.count(t)
            if not tf:
                continue
            hits += 1
            idf = math.log(1.0 + (n_docs - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + (b * len(ws)) / avgdl))
        if hits:
            want[d] = (round(s, 6), hits)
    got = tx.bm25_topk(docs, terms, k=20).collect()
    assert len(got) == min(20, len(want))
    expected_order = sorted(want.items(), key=lambda kv: (-kv[1][0], kv[0]))[:20]
    for r, (d, (score, hits)) in zip(got, expected_order):
        assert r["doc_id"] == d
        assert abs(r["score"] - score) < 1e-6
        assert r["n_terms_hit"] == hits


def test_bm25_rerank_general_linkage(spark, docs, emb):
    """VERDICT r11 item 2: the doc→vector linkage is an explicit
    argument, not the fixture's baked-in ``doc_id % n_vecs`` — a
    NON-modular (affine-permuted) mapping rescores against a pure-Python
    cosine model — identically through both linkage forms (a docs column
    name, and a Column expression over the candidates)."""
    import math

    terms = ["vector", "stream", "hash"]
    n_vecs = emb.count()
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).select("embedding").first()[0]]

    # ground truth in Python: BM25 top-20 via the already-verified
    # operator, then cosine under the permuted linkage
    link = lambda d: (d * 7919 + 13) % n_vecs
    cands = tx.bm25_topk(docs, terms, k=20).collect()
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in emb.collect()}
    qq = math.sqrt(sum(x * x for x in qv))
    want = []
    for r in cands:
        v = vecs[link(r["doc_id"])]
        dot = sum(a * b for a, b in zip(v, qv))
        vv = math.sqrt(sum(a * a for a in v))
        want.append((r["doc_id"], round(dot / (vv * qq), 6)))
    want = sorted(want, key=lambda t: (-t[1], t[0]))[:10]

    # form 1: linkage as a COLUMN NAME on docs
    docs2 = docs.withColumn(
        "my_vec", ((F.col("doc_id") * 7919 + 13) % n_vecs).cast("long"))
    got_name = tx.bm25_rerank(
        docs2, emb, terms, query_vec=qv, vec_id="my_vec", k_first=20, k=10)
    # form 2: linkage as a Column EXPRESSION over the candidates
    got_expr = tx.bm25_rerank(
        docs, emb, terms, query_vec=qv,
        vec_id=(F.col("doc_id") * 7919 + 13) % n_vecs, k_first=20, k=10)

    for got in (got_name, got_expr):
        rows = got.collect()
        assert [(r["doc_id"], r["rerank_cos"]) for r in rows] == want
    # the permuted mapping must actually differ from the modular default
    got_mod = tx.bm25_rerank(
        docs, emb, terms, query_vec=qv, n_vecs=n_vecs, k_first=20, k=10)
    assert [(r["doc_id"], r["rerank_cos"]) for r in got_mod.collect()] != want

    with pytest.raises(ValueError, match="linkage"):
        tx.bm25_rerank(docs, emb, terms, query_vec=qv)


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_approx_quantile_bound(spark, sf_dir):
    """Quantile twin of the HLL bound check: at two scale factors every
    within_rank_bound bit must be TRUE, and the rank-band endpoints must
    equal independently computed exact percentiles so the bound can't
    pass vacuously on a broken exact side."""
    from rust_evm_indexer_spark.catalog import CATALOG
    from rust_evm_indexer_spark.sources.batch import load_driver_table

    got = {
        r["event_type"]: r
        for r in CATALOG["approx_quantile_p90"].fn(spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r
        for r in load_driver_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.885)").alias("lo"),
            F.expr("percentile(value, 0.915)").alias("hi"),
        )
        .collect()
    }
    assert set(got) == set(exact)
    for et, row in got.items():
        assert row["within_rank_bound"] is True
        assert row["lo_rank_value"] == exact[et]["lo"]
        assert row["hi_rank_value"] == exact[et]["hi"]


# -- incremental semantic dedup (semantic_admit) ----------------------------


def _seed_index(spark, tmp_path, emb):
    from rust_evm_indexer_spark.operators import similarity as sim

    seed = emb.filter(F.col("vec_id") < 300)
    return sim.IvfIndex.build(seed, tmp_path / "semidx", k=4, iters=2)


def test_semantic_admit_drops_cross_round_and_within_batch_dups(spark, tmp_path):
    """Delta regime: a new vector that is a scaled copy of a STORED one
    (cosine 1.0) is dropped; a scaled copy of a smaller-id BATCH sibling
    is dropped within-batch; novel vectors are admitted and appended so
    the NEXT batch dedups against them."""
    from rust_evm_indexer_spark.operators import similarity as sim
    from rust_evm_indexer_spark.sources.batch import load_driver_table

    from conftest import SF_ORACLE

    emb = load_driver_table(spark, str(SF_ORACLE), "embeddings").select(
        "vec_id", "embedding"
    )
    idx = _seed_index(spark, tmp_path, emb)
    novel = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 320))
    dup_of_stored = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 900000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    dup_of_sibling = novel.filter(F.col("vec_id") < 303).select(
        (F.col("vec_id") + 950000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(3.0)).alias("embedding"),
    )
    batch = novel.unionByName(dup_of_stored).unionByName(dup_of_sibling)
    kept, stats = sim.semantic_admit(idx, batch, threshold=0.999999)
    kept_ids = {r["vec_id"] for r in kept.collect()}
    assert stats["batch"] == 28
    assert stats["cross_dropped"] >= 5  # the 5 scaled copies of stored
    assert stats["within_dropped"] >= 3  # the 3 scaled batch siblings
    assert not (kept_ids & {900000 + i for i in range(5)})
    assert not (kept_ids & {950000 + i for i in range(300, 303)})
    assert {r["vec_id"] for r in novel.collect()} <= kept_ids | {
        300, 301, 302
    }  # novels admitted (siblings' originals included)
    # admitted vectors are IN the index now: replaying the same novel
    # batch drops everything as cross-round dups
    kept2, stats2 = sim.semantic_admit(
        idx, novel.select((F.col("vec_id") + 980000).alias("vec_id"), "embedding"),
        threshold=0.999999,
    )
    assert stats2["admitted"] == 0 and stats2["cross_dropped"] == 20


def test_semantic_admit_stored_side_partition_pruned_never_shuffled(
    spark, tmp_path
):
    """The stored vector table is the one structure that grows: the
    cross-round candidate join must read it with a PARTITION filter on
    the delta's cells and probe it with the broadcast delta — zero
    Exchange and zero unprobed-cell I/O on the stored side."""
    from rust_evm_indexer_spark.operators import similarity as sim
    from rust_evm_indexer_spark.plans import partition_filters, physical_plan
    from rust_evm_indexer_spark.sources.batch import load_driver_table

    from conftest import SF_ORACLE

    emb = load_driver_table(spark, str(SF_ORACLE), "embeddings").select(
        "vec_id", "embedding"
    )
    idx = _seed_index(spark, tmp_path, emb)
    batch = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 310))
    # the cross-round join as semantic_admit builds it, before `kept`
    # is materialized (the checkpointed frame no longer shows the plan)
    pins = []
    try:
        joined, _, _ = sim._admit_flag_join(idx, batch, 0.999999, pins)
        pf = partition_filters(joined)
        assert any("cell" in f for f in pf), f"no partition filter: {pf}"
        plan = physical_plan(joined, "simple")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
    finally:
        for df in pins:
            df.unpersist()


# --- round 6c: Stupid Backoff bigram LM + RAG chunking --------------------


def _sb_docs(spark):
    rows = [
        ("m1", "a b a c"),   # model + scored
        ("d2", "a d c"),     # unseen bigrams + OOV word -> backoff path
        ("d3", "b"),         # single word: unigram term only
        ("d4", "zzz"),       # OOV single word: alpha/T floor
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_stupid_backoff_matches_hand_reference(spark):
    """Every branch of the scoring contract against a by-hand model:
    seen bigram, unseen bigram w/ in-vocab continuation, unseen bigram
    w/ OOV continuation, first-word unigram, OOV floor."""
    import math

    df = _sb_docs(spark)
    model = df.where(F.col("doc_id") == "m1")
    got = {
        r["doc_id"]: (r["n_words"], r["avg_nll"])
        for r in tx.stupid_backoff_ngram_nll(df, model_df=model, n=2).collect()
    }
    # model: c1 = {a:2, b:1, c:1}, T=4; bigrams (a,b),(b,a),(a,c) once each
    ref = {
        "m1": (4, -(math.log(2 / 4) + math.log(1 / 2) + math.log(1 / 1)
                    + math.log(1 / 2)) / 4),
        "d2": (3, -(math.log(2 / 4) + math.log(0.4 * 0.4 / 4)
                    + math.log(0.4 * 1 / 4)) / 3),
        "d3": (1, -math.log(1 / 4)),
        "d4": (1, -math.log(0.4 / 4)),
    }
    assert set(got) == set(ref)
    for k, (n, nll) in ref.items():
        assert got[k][0] == n
        assert got[k][1] == pytest.approx(nll, abs=1e-6), k
    for bad in (1, 6):  # orders outside 2..5 are refused up front
        with pytest.raises(ValueError, match="n must be"):
            tx.stupid_backoff_ngram_nll(df, n=bad)


def test_stupid_backoff_self_model_never_backs_off(spark):
    """Fit on the full corpus = every scored bigram is in-model, so the
    score equals pure bigram MLE (no alpha anywhere); sanity-check one
    doc against the conditional-count ratio."""
    import math

    df = _sb_docs(spark).where(F.col("doc_id").isin("m1", "d3"))
    got = {
        r["doc_id"]: r["avg_nll"]
        for r in tx.stupid_backoff_ngram_nll(df, n=2).collect()
    }
    # corpus: c1 = {a:2, b:2, c:1}, T=5; doc m1 bigrams all seen once
    exp = -(math.log(2 / 5) + math.log(1 / 2) + math.log(1 / 2)
            + math.log(1 / 2)) / 4
    assert got["m1"] == pytest.approx(exp, abs=1e-6)


def test_chunk_documents_layout(spark):
    """Exact window layout: 10 words, size=4, stride=3 -> starts
    1,4,7,10 with the tail single-word chunk kept."""
    df = spark.createDataFrame(
        [("d1", " ".join(f"w{i}" for i in range(1, 11)))], ["doc_id", "text"]
    )
    out = tx.chunk_documents(df, size=4, stride=3).orderBy("chunk_id").collect()
    assert [(r["chunk_id"], r["word_start"], r["n_words"]) for r in out] == [
        (0, 1, 4), (1, 4, 4), (2, 7, 4), (3, 10, 1)
    ]
    assert out[0]["chunk_text"] == "w1 w2 w3 w4"
    assert out[1]["chunk_text"] == "w4 w5 w6 w7"  # overlap of size-stride
    assert out[3]["chunk_text"] == "w10"
    # every word is covered by at least one chunk
    covered = set()
    for r in out:
        covered.update(r["chunk_text"].split())
    assert covered == {f"w{i}" for i in range(1, 11)}


def test_chunk_documents_short_and_empty_docs(spark):
    df = spark.createDataFrame(
        [("one", "hello"), ("empty", "!!!"), ("two", "x y")],
        ["doc_id", "text"],
    )
    out = tx.chunk_documents(df, size=32, stride=24).collect()
    by_doc = {(r["doc_id"], r["chunk_id"]): r for r in out}
    assert set(by_doc) == {("one", 0), ("two", 0)}  # '!!!' normalizes away
    assert by_doc[("one", 0)]["chunk_text"] == "hello"
    assert by_doc[("two", 0)]["n_words"] == 2


def test_chunk_documents_matches_python_model(spark):
    """Randomized (size, stride, doc length) layouts against a pure-
    Python model of the contract."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        n_words=st.integers(min_value=1, max_value=60),
        size=st.integers(min_value=1, max_value=12),
        stride=st.integers(min_value=1, max_value=15),
    )
    def run(n_words, size, stride):
        words = [f"w{i}" for i in range(n_words)]
        df = spark.createDataFrame([("d", " ".join(words))], ["doc_id", "text"])
        got = sorted(
            (r.chunk_id, r.word_start, r.n_words, r.chunk_text)
            for r in tx.chunk_documents(df, size=size, stride=stride).collect()
        )
        exp = [
            (
                i,
                s + 1,
                len(words[s:s + size]),
                " ".join(words[s:s + size]),
            )
            for i, s in enumerate(range(0, n_words, stride))
        ]
        assert got == exp

    run()


# --- winnowing fingerprints (Schleimer et al. SIGMOD 2003) -----------------


@pytest.mark.parametrize("hash_fn", ["md5", "xxhash64"])
def test_winnowing_guarantee_shared_run_detected(spark, hash_fn):
    """The winnowing theorem: two documents sharing a word run of
    length >= k + window - 1 (= 6 here) MUST share a fingerprint, no
    matter what surrounds it — for BOTH hash backends (the guarantee
    is hash-agnostic; xxhash64 is the cheap pipeline path)."""
    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"one two three {shared} four five six"),
        (2, f"totally different prefix words {shared} and other tail"),
        (3, "nothing in common with anyone at all here today friends"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r.a_id, r.b_id)
        for r in dd.winnow_pairs(
            df, k=3, window=4, min_shared=1, hash_fn=hash_fn
        ).collect()
    }
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


@pytest.mark.parametrize("hash_fn", ["md5", "xxhash64"])
def test_winnowing_recovers_planted_dups(docs, exact_pairs, hash_fn):
    got = {
        (r.a_id, r.b_id)
        for r in dd.winnow_pairs(
            docs, k=3, window=4, min_shared=2, hash_fn=hash_fn
        ).collect()
    }
    assert exact_pairs <= got  # exact dups share every fingerprint


def test_winnowing_xxhash_fps_are_longs(spark):
    df = spark.createDataFrame([(1, "a b c d e f g h")], ["doc_id", "text"])
    fp = dd.winnow_fingerprints(df, k=3, window=4, hash_fn="xxhash64")
    assert dict(fp.dtypes)["fp"] == "bigint"
    with pytest.raises(ValueError, match="hash_fn"):
        dd.winnow_fingerprints(df, hash_fn="sha1")


def test_winnowing_density_and_short_docs(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "x y"), (3, "p q r")],
        ["doc_id", "text"],
    )
    fp = dd.winnow_fingerprints(df, k=3, window=4)
    per = {r.doc_id: r.n for r in
           fp.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    # doc 2 has < k words -> no grams -> absent; doc 3 has exactly one
    # gram -> one whole-window fingerprint
    assert 2 not in per and per[3] == 1
    # doc 1: 8 grams, 5 full windows -> between 1 and 5 distinct minima,
    # strictly fewer fingerprints than grams (the winnowing compression)
    assert 1 <= per[1] <= 5


def test_semantic_admit_keeps_no_caches_and_kept_never_reads_the_index(
    spark, tmp_path
):
    """The "cached, then written" bug class: once semantic_admit returns,
    none of its frames is still cached, and the returned `kept` plan has
    no file scan under the index dir the call appended to — so acting
    on `kept` after the append can never re-run the cross-round join
    against the grown index."""
    from rust_evm_indexer_spark.operators import similarity as sim
    from rust_evm_indexer_spark.sources.batch import load_driver_table

    from conftest import SF_ORACLE, assert_no_cache_leak

    emb = load_driver_table(spark, str(SF_ORACLE), "embeddings").select(
        "vec_id", "embedding"
    )
    idx = _seed_index(spark, tmp_path, emb)
    batch = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 305))
    kept, stats = assert_no_cache_leak(
        spark,
        lambda: sim.semantic_admit(idx, batch, threshold=0.999999),
        idx.index_dir,
    )
    assert stats["admitted"] == 5
    assert len(kept.collect()) == stats["admitted"]  # after the append


def test_ivf_index_append_assigns_frozen_cells_and_keeps_no_cache(
    spark, tmp_path
):
    """IvfIndex.append: the delta lands in the cells the frozen
    quantizer assigns (the same rule as the build), resident files are
    never rewritten, and the call leaves no cache behind."""
    from rust_evm_indexer_spark.operators import similarity as sim
    from rust_evm_indexer_spark.sources.batch import load_driver_table

    from conftest import SF_ORACLE, assert_no_cache_leak

    emb = load_driver_table(spark, str(SF_ORACLE), "embeddings").select(
        "vec_id", "embedding"
    )
    idx = _seed_index(spark, tmp_path, emb)
    vec_dir = idx.index_dir / idx.VECTORS
    before = set(map(str, vec_dir.rglob("*.parquet")))
    delta = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 320))
    n = assert_no_cache_leak(spark, lambda: idx.append(delta), vec_dir)
    assert n == 20
    after = set(map(str, vec_dir.rglob("*.parquet")))
    assert before < after
    cents = [idx.centroids[c] for c in sorted(idx.centroids)]
    want = {
        r["vec_id"]: r["cell"]
        for r in sim.assign_cells(delta, cents).collect()
    }
    got = {
        r["vec_id"]: r["cell"]
        for r in idx.vectors().filter(F.col("vec_id") >= 300).collect()
    }
    assert got == want


def test_kmeans_rejects_fewer_vectors_than_cells(spark, tmp_path):
    """A corpus smaller than k cannot seed k centroids: the build must
    say so (n and k named) instead of failing on a missing seed."""
    from rust_evm_indexer_spark.operators import similarity as sim

    tiny = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5]) for i in range(5)],
        "vec_id: long, embedding: array<double>",
    )
    with pytest.raises(ValueError, match=r"k=8.*n=5"):
        sim.IvfIndex.build(tiny, tmp_path / "ivf")


# --- round 7: trigram Stupid Backoff with count-cutoff pruning -------------


def test_stupid_backoff_trigram_matches_hand_reference(spark):
    """Every branch against a by-hand model: retained trigram, PRUNED
    trigram -> bigram hop, unseen trigram + unseen bigram -> unigram
    hop (in-vocab and OOV), first-word/second-word terms, OOV floor."""
    import math

    rows = [
        ("m1", "a b c a b c"),  # model: tri (a,b,c) x2 retained; others pruned
        ("d2", "a b d"),        # unseen tri, unseen bigram hop, OOV cont.
        ("d3", "b a c"),        # unseen tri, unseen bigram, in-vocab cont.
        ("d4", "c a"),          # bigram-only doc (no trigram terms)
        ("d5", "x"),            # OOV floor
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    model = df.where(F.col("doc_id") == "m1")
    got = {
        r["doc_id"]: (r["n_words"], r["avg_nll"])
        for r in tx.stupid_backoff_ngram_nll(
            df, model_df=model, alpha=0.4, n=3, min_count=2
        ).collect()
    }
    # model: c1={a:2,b:2,c:2} T=6; c2={(a,b):2,(b,c):2,(c,a):1};
    # c3={(a,b,c):2 RETAINED, (b,c,a):1 pruned, (c,a,b):1 pruned}
    ln = math.log
    ref = {
        "m1": (6, -(ln(2 / 6) + ln(2 / 2)        # s(a), s(b|a)
                    + ln(2 / 2)                   # (a,b,c) retained
                    + ln(0.4 * 1 / 2)             # (b,c,a) pruned -> s(a|c)
                    + ln(0.4 * 2 / 2)             # (c,a,b) pruned -> s(b|a)
                    + ln(2 / 2)) / 6),            # (a,b,c) retained
        "d2": (3, -(ln(2 / 6) + ln(2 / 2)
                    + ln(0.4 * 0.4 * 0.4 / 6)) / 3),  # OOV continuation
        "d3": (3, -(ln(2 / 6) + ln(0.4 * 2 / 6)       # (b,a) unseen bigram
                    + ln(0.4 * 0.4 * 2 / 6)) / 3),    # in-vocab continuation
        "d4": (2, -(ln(2 / 6) + ln(1 / 2)) / 2),      # s(c), s(a|c)
        "d5": (1, -ln(0.4 / 6)),
    }
    assert set(got) == set(ref)
    for k, (n, nll) in ref.items():
        assert got[k][0] == n, k
        assert got[k][1] == pytest.approx(nll, abs=1e-6), k


def test_stupid_backoff_trigram_pruning_lever(spark):
    """Raising the cutoff prunes more trigrams -> more backoff -> the
    score of a doc whose trigrams were retained gets WORSE (backoff
    multiplies by alpha < 1), never better."""
    rows = [("m", "p q r p q r p q r")]  # (p,q,r) x3
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    keep = tx.stupid_backoff_ngram_nll(
        df, n=3, min_count=1).first()["avg_nll"]
    prune = tx.stupid_backoff_ngram_nll(
        df, n=3, min_count=10).first()["avg_nll"]
    assert prune > keep


def test_backoff_fractional_cutoff_is_not_truncated(spark):
    """A fractional count cutoff compares as given: at 2.5 the count-2
    trigram (p,q,r) is pruned exactly as at 3, never retained as at 2
    (``int(2.5)`` used to turn it into 2)."""
    df = spark.createDataFrame([("m", "p q r p q r")], ["doc_id", "text"])

    def nll(cut):
        return tx.stupid_backoff_ngram_nll(
            df, n=3, min_count=cut).first()["avg_nll"]

    assert nll(2.5) == nll(3)
    assert nll(2.5) != nll(2)


@pytest.mark.slow
def test_semantic_gate_index_growth_equals_survivors(spark, tmp_path):
    """The full three-stage 'only the delta pays' admission path
    (examples/demo_delta_pipeline.py): each round's delta passes the
    semantic gate against the FROZEN quantizer, and ONLY the admitted
    survivors are PQ-encoded into the IVFADC code table — so per-round
    index growth must equal that round's semantic survivors exactly,
    and the final code table is precisely the union of all admitted
    ids."""
    from rust_evm_indexer_spark.operators import pq as PQ
    from rust_evm_indexer_spark.operators import similarity as sim
    from rust_evm_indexer_spark.sources.batch import load_driver_table

    from conftest import SF_ORACLE

    emb = load_driver_table(spark, str(SF_ORACLE), "embeddings").select(
        "vec_id", "embedding"
    )
    seed = emb.filter(F.col("vec_id") < 300)
    idx = sim.IvfIndex.build(seed, tmp_path / "ivf", k=4, iters=2)
    cb = PQ.pq_train(seed, m=4, k=8, iters=4)
    codes_dir = tmp_path / "codes"
    PQ.ivfpq_write_codes(idx, cb, codes_dir)
    n_codes = spark.read.parquet(str(codes_dir)).count()
    assert n_codes == 300
    admitted_ids: set[int] = set(r["vec_id"] for r in seed.collect())

    # round 1: novel vectors + scaled copies of STORED ones (dropped);
    # round 2: novel vectors + scaled copies of ROUND-1 admits (dropped)
    r1 = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 310)).unionByName(
        emb.filter(F.col("vec_id") < 3).select(
            (F.col("vec_id") + 900000).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
        )
    )
    r2 = emb.filter((F.col("vec_id") >= 310) & (F.col("vec_id") < 318)).unionByName(
        emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 302)).select(
            (F.col("vec_id") + 950000).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(3.0)).alias("embedding"),
        )
    )
    for batch in (r1, r2):
        kept, stats = sim.semantic_admit(idx, batch, threshold=0.999999)
        grown = PQ.ivfpq_append(
            idx, cb, codes_dir, kept.select("vec_id", "embedding")
        )
        now = spark.read.parquet(str(codes_dir)).count()
        # this round's index growth == this round's semantic survivors
        assert grown == stats["admitted"]
        assert now - n_codes == stats["admitted"]
        n_codes = now
        admitted_ids |= {r["vec_id"] for r in kept.select("vec_id").collect()}

    final_ids = {
        r["vec_id"] for r in spark.read.parquet(str(codes_dir)).collect()
    }
    assert final_ids == admitted_ids
    assert not any(v >= 900000 for v in final_ids)  # no dup ever encoded


def test_stupid_backoff_trigram_matches_python_model(spark):
    """Randomized corpora against a pure-Python reference of the full
    scoring contract (all hops, pruning, floors) — words drawn from a
    tiny alphabet so every branch fires with high probability."""
    import math
    import random

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    def py_score(model_texts, doc_words, alpha, cutoff):
        uni, bi, tri = {}, {}, {}
        for t in model_texts:
            ws = t.split()
            for w in ws:
                uni[w] = uni.get(w, 0) + 1
            for a, b in zip(ws, ws[1:]):
                bi[(a, b)] = bi.get((a, b), 0) + 1
            for a, b, c in zip(ws, ws[1:], ws[2:]):
                tri[(a, b, c)] = tri.get((a, b, c), 0) + 1
        tri = {k: v for k, v in tri.items() if v >= cutoff}
        T = float(sum(uni.values()))

        def s1(w):
            return (uni.get(w, alpha) if w in uni else alpha) / T

        total = -math.log(s1(doc_words[0]))
        if len(doc_words) >= 2:
            a, b = doc_words[0], doc_words[1]
            if (a, b) in bi:
                total += -math.log(bi[(a, b)] / uni[a])
            else:
                total += -math.log(alpha * s1(b))
        for i in range(2, len(doc_words)):
            a, b, c = doc_words[i - 2], doc_words[i - 1], doc_words[i]
            if (a, b, c) in tri:
                total += -math.log(tri[(a, b, c)] / bi[(a, b)])
            elif (b, c) in bi:
                total += -math.log(alpha * bi[(b, c)] / uni[b])
            else:
                total += -math.log(alpha * alpha * s1(c))
        return total / len(doc_words)

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(seed=st.integers(min_value=0, max_value=10_000))
    def run(seed):
        rng = random.Random(seed)
        vocab = ["aa", "bb", "cc", "dd"]
        model_texts = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 12)))
            for _ in range(3)
        ]
        score_texts = model_texts[:1] + [
            " ".join(
                rng.choice(vocab + ["zz"])  # zz = OOV, exercises floors
                for _ in range(rng.randint(1, 10))
            )
            for _ in range(3)
        ]
        rows = [(f"m{i}", t) for i, t in enumerate(model_texts)] + [
            (f"d{i}", t) for i, t in enumerate(score_texts)
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        model = df.where(F.col("doc_id").startswith("m"))
        got = {
            r["doc_id"]: r["avg_nll"]
            for r in tx.stupid_backoff_ngram_nll(
                df, model_df=model, alpha=0.4, n=3, min_count=2
            ).collect()
        }
        for i, t in enumerate(score_texts):
            want = py_score(model_texts, t.split(), 0.4, 2)
            assert got[f"d{i}"] == pytest.approx(want, abs=1e-6), (seed, t)

    run()


# --- round 7: corpus diagnostics (Zipf fit, length histogram) --------------


def test_zipf_slope_recovers_planted_exponent(spark):
    """A corpus built with freq(rank) = round(C / rank) must fit slope
    ≈ −1; a group with a single distinct word (zero x-variance) is
    dropped, not NaN'd."""
    rows = []
    for rank in range(1, 51):
        word = f"w{rank:03d}"
        for rep in range(max(1, round(200 / rank))):
            rows.append(("zipf", f"{word} filler{rep % 3}"))
    rows.append(("tiny", "onlyword"))
    df = spark.createDataFrame(
        [(i, g, t) for i, (g, t) in enumerate(rows)],
        ["doc_id", "lang", "text"],
    )
    got = {r["lang"]: r for r in
           tx.zipf_slope(df, by="lang", top_ranks=40).collect()}
    assert "tiny" not in got  # single word -> no fit
    assert got["zipf"]["n_types"] == 40
    assert -1.6 < got["zipf"]["slope"] < -0.6  # fillers skew the tail


def test_zipf_slope_deterministic_under_repartition(spark):
    rows = [(i, "en", f"alpha beta gamma w{i % 17} w{i % 5}")
            for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    a = tx.zipf_slope(df).collect()[0]["slope"]
    b = tx.zipf_slope(df.repartition(13)).collect()[0]["slope"]
    assert a == b  # DECIMAL sums: partial-agg order cannot wobble bits


def test_length_histogram_exact_buckets(spark):
    docs = [
        (1, "s1", "one"),                      # 1 token  -> bucket 0
        (2, "s1", "two words"),                # 2        -> bucket 1
        (3, "s1", "now three words here"[:15]),  # 3      -> bucket 1
        (4, "s1", " ".join(["w"] * 32)),       # 32       -> bucket 5
        (5, "s1", " ".join(["w"] * 63)),       # 63       -> bucket 5
        (6, "s2", "!!!"),                      # normalizes away -> dropped
    ]
    df = spark.createDataFrame(docs, ["doc_id", "source", "text"])
    got = {(r["source"], r["bucket"]): (r["n_docs"], r["min_len"],
                                        r["max_len"], r["total_tokens"])
           for r in cp.length_histogram(df, by="source").collect()}
    assert got == {
        ("s1", 0): (1, 1, 1, 1),
        ("s1", 1): (2, 2, 3, 5),
        ("s1", 5): (2, 32, 63, 95),
    }


def test_stupid_backoff_quad_hand_reference(spark):
    """n=4 specifics: a RETAINED 4-gram scores c4/c3(ctx); a pruned
    4-gram hops to the trigram with one alpha; the deepest chain pays
    alpha^3 to the unigram floor."""
    import math

    rows = [
        ("m1", "a b c d a b c d"),  # 4-grams: (a,b,c,d)x2 kept, others x1 pruned
        ("d2", "a b c d"),          # all retained path
        ("d3", "x y z w v"),        # OOV everything: alpha^3 floors
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    model = df.where(F.col("doc_id") == "m1")
    got = {r["doc_id"]: (r["n_words"], r["avg_nll"]) for r in
           tx.stupid_backoff_ngram_nll(
               df, model_df=model, alpha=0.4, n=4, min_count=2).collect()}
    ln = math.log
    # model: c1={a:2,b:2,c:2,d:2} T=8; c2 all=2 except (d,a)=1;
    # c3: (a,b,c)x2,(b,c,d)x2 kept; (c,d,a)(d,a,b) pruned;
    # c4: (a,b,c,d)x2 kept; others pruned
    exp_d2 = -(ln(2 / 8)          # s(a)
               + ln(2 / 2)        # s(b|a) bigram (avail=2)
               + ln(2 / 2)        # s(c|a,b) trigram kept (avail=3)
               + ln(2 / 2)) / 4   # s(d|a,b,c) 4-gram kept
    exp_d3 = -(ln(0.4 / 8)                 # OOV unigram floor
               + ln(0.4 * 0.4 / 8)         # avail=2, alpha^1
               + ln(0.4 ** 2 * 0.4 / 8)    # avail=3, alpha^2
               + 2 * ln(0.4 ** 3 * 0.4 / 8)) / 5  # avail=4, alpha^3
    assert got["d2"] == (4, pytest.approx(exp_d2, abs=1e-6))
    assert got["d3"] == (5, pytest.approx(exp_d3, abs=1e-6))


def test_stupid_backoff_quad_mixed_chain_pins_generated_oracle(spark):
    """VERDICT r7 #2: the quad driver entry's oracle SQL is GENERATED
    by the same order-parameterized template as the operator
    (catalog._sbn_sql), so a template bug specific to n=4 could hide.
    This fixture makes every backoff depth fire at FULL context —
    retained 4-gram, pruned-4→retained-trigram hop, double-pruned→
    bigram hop, and the in-vocab unigram floor after three hops — and
    pins BOTH the operator and the n=4 generated SQL (executed by
    DuckDB) against independently hand-computed values."""
    import math

    import duckdb
    import pandas as pd

    from rust_evm_indexer_spark.catalog import _sbn_sql

    rows = [
        ("m1", "en", "a b c d a b c d"),
        ("d5", "xx", "b c d a b"),
        ("d6", "xx", "x a b c"),
        ("d7", "xx", "x x x a"),
    ]
    # model counts: c1={a,b,c,d: 2}, T=8; c2: (a,b)(b,c)(c,d)=2,(d,a)=1;
    # c3 kept: (a,b,c)(b,c,d)=2, pruned: (c,d,a)(d,a,b)=1;
    # c4 kept: (a,b,c,d)=2, pruned: the three wrap-around 4-grams.
    ln = math.log
    exp = {
        "d5": (5, round(-(
            ln(2 / 8)            # i1 'b'   in-vocab unigram, avail=1
            + ln(2 / 2)          # i2 c|b   bigram hit, avail=2
            + ln(2 / 2)          # i3 d|b,c trigram kept, avail=3
            + ln(0.16 * 1 / 2)   # i4 a|b,c,d  4g+3g pruned -> c2(d,a)/c1(d)
            + ln(0.16 * 2 / 2)   # i5 b|c,d,a  4g+3g pruned -> c2(a,b)/c1(a)
        ) / 5, 6)),
        "d6": (4, round(-(
            ln(0.4 / 8)          # i1 'x'   OOV floor, avail=1
            + ln(0.4 * 2 / 8)    # i2 a|x   no bigram -> unigram, one hop
            + ln(0.4 * 2 / 2)    # i3 b|x,a no trigram -> c2(a,b)/c1(a)
            + ln(0.4 * 2 / 2)    # i4 c|x,a,b  4g PRUNED -> RETAINED c3(a,b,c)/c2(a,b)
        ) / 4, 6)),
        "d7": (4, round(-(
            ln(0.4 / 8)              # i1 'x' OOV
            + ln(0.4 * 0.4 / 8)      # i2 one hop to OOV floor
            + ln(0.16 * 0.4 / 8)     # i3 two hops
            + ln(0.064 * 2 / 8)      # i4 a|x,x,x  three hops, IN-VOCAB unigram
        ) / 4, 6)),
    }

    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    got_spark = {r["doc_id"]: (r["n_words"], r["avg_nll"]) for r in
                 tx.stupid_backoff_ngram_nll(
                     df, model_df=df.where(F.col("lang") == "en"),
                     alpha=0.4, n=4, min_count=2).collect()}
    for doc_id, (n_words, nll) in exp.items():
        assert got_spark[doc_id][0] == n_words
        assert got_spark[doc_id][1] == pytest.approx(nll, abs=1e-6), doc_id

    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "lang", "text"])
    )
    got_sql = {r[0]: (r[1], r[2])
               for r in con.execute(_sbn_sql(4, 2, 0.4)).fetchall()}
    for doc_id, (n_words, nll) in exp.items():
        assert got_sql[doc_id][0] == n_words
        assert got_sql[doc_id][1] == pytest.approx(nll, abs=1e-6), doc_id
    # and the two engines agree bit-wise after the shared round(…, 6)
    for doc_id in exp:
        assert got_spark[doc_id] == got_sql[doc_id]


def test_corpus_report_sections_and_empty_corpus(spark):
    """Shape contract: the health report is long-format
    (section, k, metric, value double) with exactly the three sections,
    and an EMPTY corpus degrades to the three 'corpus' total rows
    (n_docs 0, null sums) instead of throwing — the dashboard stays up
    while a source is dark."""
    docs = spark.createDataFrame(
        [(1, "en", "s1", "alpha beta gamma"), (2, "en", "s2", "alpha")],
        ["doc_id", "lang", "source", "text"],
    )
    rep = cp.corpus_report(docs).collect()
    assert {r["section"] for r in rep} == {"corpus", "zipf", "length"}
    by = {(r["section"], r["k"], r["metric"]): r["value"] for r in rep}
    assert by[("corpus", "all", "n_docs")] == 2.0
    assert by[("corpus", "all", "total_tokens")] == 4.0
    assert by[("length", "s1/1", "n_docs")] == 1.0  # 3 tokens -> bucket 1

    empty = docs.where("doc_id < 0")
    rep0 = cp.corpus_report(empty).collect()
    assert {r["section"] for r in rep0} == {"corpus"}
    vals = {r["metric"]: r["value"] for r in rep0}
    assert vals["n_docs"] == 0.0
    assert vals["total_tokens"] is None and vals["mean_tokens"] is None
