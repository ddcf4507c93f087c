"""Deduplication operators for LLM-training-data pipelines (X-1/X-2).

Four families, all expressed Spark-first over a ``documents``-shaped table
(``doc_id long, text string``):

- **exact** — normalize → groupBy, the hash-dedup everyone runs first;
- **n-gram Jaccard** — exact similarity join via a shingle inverted index
  (explode → self-equi-join → per-pair intersection counts).  No UDFs: the
  quadratic all-pairs problem is reduced to an equi-join that shuffles on
  the shingle key, which is how it stays tractable at 100 TB;
- **MinHash + LSH** — 64 xxhash64 permutations, banded into LSH buckets;
  candidate pairs come from a bucket equi-join (shuffle on band hash, not
  all-pairs), then are *verified* with exact Jaccard so precision is 1.0;
- **SimHash** — 64-bit signature via per-bit majority vote over token
  hashes; near-dup candidates from 16-bit band blocking, verified by
  hamming distance.

Scale notes: every family is (narrow map) → (explode) → (hash-shuffle
equi-join) → (agg).  Hot shingles (stop-phrases) are the skew hazard —
``top_shingle_cap`` drops shingles whose document frequency exceeds a cap,
the standard trick to bound inverted-index fan-out (a shingle shared by
10k docs generates 10k² candidate pairs while carrying no signal).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..util import persist_shared, register_temp_view, spread_small_input


def normalize_text(col: Column | str) -> Column:
    """Canonical text form for dedup: lowercase, strip non-alphanumerics,
    collapse whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.regexp_replace(c, "[^a-z0-9 ]", "")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """X-1: survivors after exact (normalized) dedup — keeps the smallest
    id per text group, counts the group.  One hash shuffle on the
    normalized text; at scale substitute ``xxhash64(norm)`` as the group
    key to shuffle 8-byte keys instead of full documents."""
    return (
        df.groupBy(normalize_text(text_col).alias("norm_text"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("n_copies"),
        )
        .select(id_col, "n_copies")
    )


def word_shingles(df: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """(id, shingle) pairs: distinct word k-grams of the normalized text.
    Pure built-ins: split → sequence → transform(concat of k words).

    The word array is materialized behind a ``select`` boundary BEFORE the
    transform: expressions referenced inside a lambda are re-evaluated per
    array element, so inlining ``split(normalize(text))`` into the k-gram
    lambda re-runs the regex pipeline k·n times per document (measured
    ~30× slowdown at 5k docs).
    """
    words = spread_small_input(df, "doc_id").select(
        F.col("doc_id"), F.split(normalize_text(text_col), " ").alias("_ws")
    )
    ws = F.col("_ws")
    n = F.size(ws) - (k - 1)
    # guard: sequence(1, 0) is DESCENDING [1,0] in Spark, not empty
    idx = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    kgrams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.try_element_at(ws, i + j) for j in range(k)]
        ),
    )
    return words.select(
        "doc_id", F.explode(F.array_distinct(kgrams)).alias("shingle")
    ).where(F.col("shingle") != "")


def _pair_jaccard(
    shingles: DataFrame, *, top_shingle_cap: int | None = None
) -> DataFrame:
    """All-pairs Jaccard from an (doc_id, shingle) inverted index."""
    if top_shingle_cap is not None:
        df_freq = shingles.groupBy("shingle").agg(F.count("*").alias("df"))
        # pin the capped frame: the sizes aggregate and BOTH self-join
        # sides consume it, and each would otherwise re-run the
        # broadcast anti-join over the corpus-sized shingle stream —
        # three passes instead of one (r12 optimization round).  KEPT
        # after the r13 reconciliation of PERF_r12's 0.75x/0.69x flags
        # on survivors/clusters: the unpinned shape re-measured on the
        # driver's own protocol (5 reps) is 47%/11% SLOWER (survivors
        # 2.75 s -> 4.05 s, clusters 4.48 s -> 4.99 s) — the driver's
        # r12 numbers were single-drive spikes (see OPTIMIZATION_r13.md
        # and the 2.0/1.7/10.2 s ngram_jaccard baseline drives).
        shingles = persist_shared(
            shingles.join(
                F.broadcast(df_freq.filter(F.col("df") > top_shingle_cap)),
                "shingle",
                "left_anti",
            )
        )
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = shingles.alias("a")
    b = shingles.alias("b")
    inter = (
        a.join(b, "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(F.count("*").alias("isect"))
    )
    na = sizes.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n_sh").alias("nb"))
    return (
        inter.join(na, "a_id")
        .join(nb, "b_id")
        .select(
            "a_id",
            "b_id",
            (
                F.col("isect").cast("double")
                / (F.col("na") + F.col("nb") - F.col("isect"))
            ).alias("jaccard"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    top_shingle_cap: int | None = None,
    *,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """X-2 (exact flavor): near-duplicate pairs by word-k-gram Jaccard.
    Output: (a_id, b_id, jaccard), a_id < b_id.  Pass a precomputed
    (persisted) ``shingles`` frame to share the shingle scan across
    several dedup flavors in one session."""
    return _pair_jaccard(
        shingles if shingles is not None else word_shingles(df, k=k),
        top_shingle_cap=top_shingle_cap,
    ).where(F.col("jaccard") >= threshold)


# -- MinHash + LSH -------------------------------------------------------

N_PERM = 64  # minhash permutations
LSH_BANDS = 16  # 16 bands × 4 rows: P(candidate | J=0.8) ≈ 0.9996


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    n_perm: int = N_PERM,
    bands: int = LSH_BANDS,
    *,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """X-2 (scalable flavor): MinHash signatures → LSH band buckets →
    candidate pairs from a bucket equi-join → exact-Jaccard verification.

    The band join is the scale move: instead of the inverted-index join on
    raw shingles (fan-out ∝ shingle document frequency), docs only meet if
    an entire band of ``n_perm // bands`` minhashes collides.  Verification
    keeps precision at 1.0, so the output equals the exact operator
    wherever LSH recall reaches (≈1 for J ≥ 0.8 at 16×4; for J ≥ 0.5
    workloads use ``bands=32`` — 32×2 banding has recall ≈ 0.9999 there).

    The shingle frame feeds BOTH the signature pass and the verification
    join, so it is persisted for the duration of the call (or supplied
    pre-persisted via ``shingles``) — without the pin Spark recomputes
    the normalize/split/k-gram pipeline once per consumer.
    """
    rows_per_band = n_perm // bands
    own_shingles = shingles is None
    sh = word_shingles(df, k=k) if own_shingles else shingles
    if own_shingles:
        sh = persist_shared(sh)
    # fused: the 64 per-doc min-hashes and the banded bucket hashes are
    # one groupBy + one projection (no intermediate signature array);
    # both built as single-string F.expr parses — the nested-Column form
    # costs hundreds of py4j round-trips per plan construction (~0.5 s,
    # measured) for byte-identical expressions
    per_doc = sh.groupBy("doc_id").agg(
        *[F.expr(f"min(xxhash64({i}, shingle)) AS h{i}") for i in range(n_perm)]
    )
    bands_col = F.expr(
        "array("
        + ", ".join(
            f"struct({b} AS band, xxhash64("
            + ", ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band))
            + ") AS bucket)"
            for b in range(bands)
        )
        + ")"
    )
    # pin the banded frame (bands·1 rows per doc — bounded, tiny next to
    # the shingle stream): the bucket self-join consumes it on BOTH
    # sides, and without the pin the 64-wide minhash aggregate subtree
    # is embedded — and executed, and JIT-compiled — twice (r12
    # optimization round; measured ~1 s of the entry)
    banded = persist_shared(
        per_doc.select("doc_id", F.explode(bands_col).alias("bb")).select(
            "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
        )
    )
    # The candidate + verify tail is built as three staged spark.sql
    # statements over temp views instead of ~20 incremental DataFrame
    # ops (r12 optimization round): PySpark classic eagerly re-analyzes
    # the ENTIRE logical tree on every op, and over the 64-wide minhash
    # subtree each op costs ~40 ms — measured ~1.3 s of plan build
    # incrementally vs ~0.5 s as single-analysis SQL.  The SQL spells
    # the IDENTICAL operations (same joins, same predicates, same
    # broadcast hint, same persist boundaries), so the optimized
    # physical plan — and the output — are unchanged.
    # The views live until the scope's release (util.SessionScope): once
    # analysis has inlined them into `out` they are no longer needed, but
    # dropping one here would also uncache its pinned plan (measured
    # 3.4 s -> 8.6 s on this entry).
    spark = sh.sparkSession
    v_banded = register_temp_view(banded, "mh_banded")
    # candidate pairs: bucket equi-join; pinned — it feeds the verify
    # semi-join and the final join, and without the pin the banded
    # self-join over the 64-wide signature aggregate is embedded in
    # every consumer subtree, multiplying execution AND codegen
    cand = persist_shared(
        spark.sql(
            f"SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id"
            f" FROM {v_banded} a JOIN {v_banded} b USING (band, bucket)"
            f" WHERE a.doc_id < b.doc_id"
        )
    )
    v_cand = register_temp_view(cand, "mh_cand")
    v_sh = register_temp_view(sh, "mh_sh")
    # verify ONLY candidates: restrict the shingle index to docs that
    # appear in some candidate pair before the (expensive) intersection
    # join — verification cost scales with duplicate density, not
    # corpus².  Pinned: the exact-Jaccard computation consumes the
    # slice THREE times (both join sides + the per-doc sizes).
    sh_cand = persist_shared(
        spark.sql(
            f"SELECT /*+ BROADCAST(c) */ s.doc_id, s.shingle"
            f" FROM {v_sh} s LEFT SEMI JOIN"
            f" (SELECT a_id AS doc_id FROM {v_cand}"
            f"  UNION SELECT b_id FROM {v_cand}) c"
            f" ON s.doc_id = c.doc_id"
        )
    )
    v_shc = register_temp_view(sh_cand, "mh_shc")
    # exact Jaccard over the candidate slice — _pair_jaccard's algebra
    # verbatim (intersection equi-join on the shingle, per-doc sizes,
    # |A∩B| / (|A| + |B| − |A∩B|)), one analysis pass
    thr = f"{float(threshold)!r}D"
    out = spark.sql(
        f"""
        WITH sizes AS (SELECT doc_id, count(*) AS n_sh FROM {v_shc}
                       GROUP BY doc_id),
        inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                         count(*) AS isect
                  FROM {v_shc} a JOIN {v_shc} b
                    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                  GROUP BY a.doc_id, b.doc_id)
        SELECT c.a_id, c.b_id,
               CAST(i.isect AS DOUBLE) / (na.n_sh + nb.n_sh - i.isect)
                 AS jaccard
        FROM {v_cand} c
        JOIN inter i ON i.a_id = c.a_id AND i.b_id = c.b_id
        JOIN sizes na ON na.doc_id = c.a_id
        JOIN sizes nb ON nb.doc_id = c.b_id
        WHERE CAST(i.isect AS DOUBLE) / (na.n_sh + nb.n_sh - i.isect)
              >= {thr}
        """
    )
    return out


def dedup_survivors(df: DataFrame, pairs: DataFrame) -> DataFrame:
    """Drop every doc that has a near-duplicate with a smaller id (the
    standard keep-first policy; an anti-join, no connected components
    needed for the keep-one-per-pair contract)."""
    losers = pairs.select(F.col("b_id").alias("doc_id")).distinct()
    return df.join(losers, "doc_id", "left_anti")


# -- Embedding-cosine near-dup -------------------------------------------


def doc_term_vectors(
    df: DataFrame, text_col: str = "text", n: int = 2
) -> DataFrame:
    """Sparse term-count vectors: (doc_id, term, cnt) over word n-grams of
    the normalized text — a deterministic, engine-portable 'embedding'
    (the implicit dimension space is the n-gram vocabulary; no hashing, so
    any SQL engine can replay it exactly)."""
    words = spread_small_input(df, "doc_id").select(
        F.col("doc_id"), F.split(normalize_text(text_col), " ").alias("_ws")
    )
    ws = F.col("_ws")
    nn = F.size(ws) - (n - 1)
    idx = F.when(nn >= 1, F.sequence(F.lit(1), nn)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.try_element_at(ws, i + j) for j in range(n)]
        ),
    )
    return (
        words.select("doc_id", F.explode(grams).alias("term"))
        .where(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("cnt"))
    )


def embedding_cosine_pairs(
    vectors: DataFrame,
    threshold: float = 0.8,
    *,
    id_col: str = "doc_id",
    dim_col: str = "term",
    val_col: str = "cnt",
    top_dim_cap: int | None = None,
) -> DataFrame:
    """X-2 (embedding flavor): EXACT cosine-similarity near-dup pairs over
    a sparse (id, dim, value) vector table — the standard sparse
    similarity join.  Dot products come from a dimension equi-join (two
    vectors only meet on dimensions both touch), so the shuffle is keyed
    by dimension and all-pairs never materializes: the same inverted-index
    shape as the n-gram Jaccard join, and the same skew guard
    (``top_dim_cap`` drops dimensions hotter than the cap — stop-dims
    carry no discriminative signal but d² candidate fan-out).

    Integer values keep the dot product EXACT (no float accumulation
    order issues), which is what makes the output hash-comparable across
    engines.  Dense ``array<float>`` embeddings should instead go through
    hyperplane-LSH bucketing or :class:`~..similarity.IvfIndex` cells for
    candidates — dense dims join everything with everything.
    Output: (a_id, b_id, cos_sim), a_id < b_id, cos_sim rounded to 6dp.

    **Contract** (ADVICE r12): ``vectors`` must be UNIQUE on
    ``(id_col, dim_col)`` — the sparse-vector invariant every producer
    in this package satisfies (:func:`doc_term_vectors` ends in a
    groupBy on exactly that key).  ``top_dim_cap`` computes document
    frequency as ``count(*)`` per dim under that contract; a table with
    duplicate (id, dim) rows would overcount df AND double-count dot
    products, so pre-aggregate (``groupBy(id, dim).sum(val)``) before
    calling if uniqueness is not guaranteed.
    """
    # the vector table feeds the hot-dim aggregate, the norms, and both
    # sides of the dimension join — persist it once or the (possibly
    # expensive) generator plan is embedded once per consumer
    vectors = persist_shared(vectors)
    if top_dim_cap is not None:
        # a sparse vector table is unique on (id, dim) by contract, so
        # count(*) per dim IS the distinct-doc frequency — the old
        # count_distinct paid the distinct machinery for nothing (r12)
        hot = (
            vectors.groupBy(dim_col)
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > top_dim_cap)
        )
        # pin the FILTERED frame too: norms and both join sides consume
        # it, and each would otherwise re-run the broadcast anti-join
        # over the cached vectors — three passes instead of one (r12)
        vectors = persist_shared(
            vectors.join(F.broadcast(hot), dim_col, "left_anti")
        )
    norms = vectors.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col(val_col) * F.col(val_col))).alias("nrm")
    )
    a = vectors.alias("a")
    b = vectors.alias("b")
    dots = (
        a.join(b, dim_col)
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id")
        )
        .agg(F.sum(F.col(f"a.{val_col}") * F.col(f"b.{val_col}")).alias("dot"))
    )
    na = norms.select(F.col(id_col).alias("a_id"), F.col("nrm").alias("na"))
    nb = norms.select(F.col(id_col).alias("b_id"), F.col("nrm").alias("nb"))
    cos = F.round(F.col("dot").cast("double") / (F.col("na") * F.col("nb")), 6)
    return (
        dots.join(na, "a_id")
        .join(nb, "b_id")
        .select("a_id", "b_id", cos.alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


# -- SimHash -------------------------------------------------------------

SIMHASH_BITS = 64
SIMHASH_BANDS = 8  # 8 × 8-bit bands ⇒ hamming ≤ 7 always collides somewhere


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    *,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, simhash long): per-bit majority vote over shingle hashes.

    Features are word k-gram shingles (not unigrams: over a small
    vocabulary, distinct-unigram sets barely separate documents — shingles
    carry the ordering signal that makes simhash discriminative).

    Shape: explode shingles → hash once per (doc, shingle) row → one
    groupBy with 64 ±1-vote sums → pack the sign bits.  The explode form
    (same as minhash) matters: folding 64 ``aggregate()`` lambdas over an
    array column re-evaluates the split/hash pipeline per bit — 64× the
    work; here xxhash64 runs once per shingle and the 64 sums are cheap
    partial aggregates with map-side combine.
    """
    sh = shingles if shingles is not None else word_shingles(df, text_col=text_col, k=k)
    # single-string F.expr parses for the 64 vote aggregates and the
    # 64-term bit pack: the nested-Column form costs hundreds of py4j
    # round-trips per plan construction for identical expressions
    hashed = sh.select("doc_id", F.xxhash64("shingle").alias("h"))
    votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1 ELSE -1 END)"
            f" AS v{b}"
        )
        for b in range(SIMHASH_BITS)
    ]
    agg = hashed.groupBy("doc_id").agg(*votes)
    pack = " | ".join(
        f"shiftleft(CAST(v{b} > 0 AS LONG), {b})" for b in range(SIMHASH_BITS)
    )
    return agg.select("doc_id", F.expr(pack).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 6,
    text_col: str = "text",
    *,
    shingles: DataFrame | None = None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance ≤ ``max_hamming``,
    candidates from 8-bit band blocking.  Pigeonhole: distance ≤ 7 over
    8 bands guarantees one identical band, so for ``max_hamming ≤ 7``
    the band join is a LOSSLESS candidate generator and the output is
    exactly {(a,b): hamming(sig_a, sig_b) ≤ max_hamming} — which is what
    lets the catalog oracle verify the pair set from exported signatures."""
    sigs = (
        signatures
        if signatures is not None
        else simhash_signatures(df, text_col, shingles=shingles)
    )
    band_width = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << band_width) - 1
    bands_col = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * band_width)
                .bitwiseAND(F.lit(mask))
                .alias("bucket"),
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    # banded feeds both sides of the bucket self-join: persist it once
    # or the 64-vote signature aggregate is embedded (and run) twice
    banded = persist_shared(
        sigs.select("doc_id", "simhash", F.explode(bands_col).alias("bb")).select(
            "doc_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
        )
    )
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bucket"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        cand.select("a_id", "b_id", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


# -- Winnowing fingerprints (Schleimer et al., SIGMOD 2003) ----------------


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
    id_col: str = "doc_id",
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, fp) pairs: winnowed document fingerprints — the MOSS
    local-document-fingerprinting scheme (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003).  Hash every word ``k``-gram, slide a ``window`` over
    the hash sequence, keep each window's MINIMUM: any shared substring
    of length >= k + window - 1 words is GUARANTEED to share a
    fingerprint, while only ~2/(window+1) of the grams are retained.

    Two hash backends (the winnowing guarantee is hash-agnostic — it
    needs only a deterministic total order over gram hashes):

    - ``"md5"`` (default): hex-string digests, identical in Spark and
      DuckDB — the ORACLE path, every selection decision replayable
      cross-engine.  32-char strings carried through explode + join
      make it the slower path (VERDICT r6).
    - ``"xxhash64"``: 8-byte long fingerprints for the PIPELINE path
      (incremental dedup, large corpora) — same retained-gram density
      and the same guarantee at ~2× the throughput (longs sort/compare/
      shuffle cheaper than 32-char strings); Spark-only, so no oracle
      entry uses it.

    All in-array (transform / slice / array_min under whole-stage
    codegen): zero shuffle and zero Python until the fingerprints
    explode, and the word array is materialized behind a select
    boundary so the normalize pipeline runs once per doc, not once per
    lambda element (the word_shingles lesson).  Documents shorter than
    ``k`` words have no grams and drop out, matching the SQL mirror.
    """
    if k < 1 or window < 1:
        raise ValueError("k and window must be >= 1")
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    words = spread_small_input(df, id_col).select(
        F.col(id_col), F.split(normalize_text(text_col), " ").alias("_ws")
    ).where((F.size("_ws") >= k) & (F.element_at("_ws", 1) != ""))
    # md5 hashes the joined gram text (what the SQL oracle replays);
    # xxhash64 hashes the word-slice ARRAY directly — Spark chains the
    # element hashes, so word boundaries are preserved without paying
    # the array_join string materialization per gram
    gram = (
        f"md5(array_join(slice(_ws, i, {k}), ' '))"
        if hash_fn == "md5"
        else f"xxhash64(slice(_ws, i, {k}))"
    )
    grams = words.select(
        id_col,
        F.expr(
            f"transform(sequence(1, size(_ws) - {k} + 1), i -> {gram})"
        ).alias("_h"),
    )
    fps = grams.select(
        id_col,
        F.when(
            F.size("_h") >= window,
            F.expr(
                f"transform(sequence(1, size(_h) - {window} + 1), "
                f"j -> array_min(slice(_h, j, {window})))"
            ),
        )
        .otherwise(F.array(F.array_min("_h")))
        .alias("_fps"),
    )
    return fps.select(
        id_col, F.explode(F.array_distinct("_fps")).alias("fp")
    )


def winnow_pairs(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    doc_freq_cap: int = 50,
    id_col: str = "doc_id",
    hash_fn: str = "md5",
) -> DataFrame:
    """Candidate near-dup pairs sharing >= ``min_shared`` winnowed
    fingerprints: (a_id, b_id, n_shared), a_id < b_id.

    The inverted-index self-join shape shared by every dedup flavor
    here: fingerprints whose document frequency exceeds
    ``doc_freq_cap`` are dropped FIRST (boilerplate grams — a
    fingerprint in f docs contributes f² join rows, so the cap bounds
    the worst key's fan-out; same recall trade as ngram_jaccard's
    top_shingle_cap, and winnowing guarantees survivors for any shared
    run longer than k+window-1 words)."""
    # the fingerprint frame feeds the df-cap aggregate AND both sides
    # of the pair self-join: without the persist the whole winnowing
    # generator (split → md5 grams → window-min → explode) is embedded
    # THREE times in the physical plan and executed three times
    fp = persist_shared(
        winnow_fingerprints(
            df, text_col=text_col, k=k, window=window, id_col=id_col,
            hash_fn=hash_fn,
        )
    )
    rare = fp.groupBy("fp").agg(F.count("*").alias("_df")).where(
        F.col("_df") <= doc_freq_cap
    )
    fp = fp.join(rare.select("fp"), "fp")
    a = fp.select(F.col("fp"), F.col(id_col).alias("a_id"))
    b = fp.select(F.col("fp"), F.col(id_col).alias("b_id"))
    return (
        a.join(b, "fp")
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
