"""Similarity search over embedding columns (X-3).

Embeddings are ``array<float>`` columns; all math runs JVM-side in double
precision through ``zip_with`` + ``aggregate`` folds (deterministic
left-to-right accumulation — important for oracle parity and for
reproducible top-k boundaries).  No Python touches the hot path.

Tiers:

- :func:`brute_force_topk` — exact cosine top-k for one query vector.
  The baseline and the verifier for approximate tiers, and the scoring
  step of both IVF searches below.  Plans as scan → narrow projection →
  TakeOrderedAndProject: no shuffle at all.
- :func:`knn_join` — exact k-NN for a (small) query *set* via broadcast
  nested-loop + per-query top-k window.  Right side must be broadcastable.
- :class:`IvfIndex` — the MATERIALIZED IVF index (label cells or a
  k-means quantizer, corpus written partitioned by cell): one centroid
  table, one driver-side probe (:meth:`IvfIndex.probe_cells`), one
  distributed probe (:meth:`IvfIndex.probe_join`) and one cell
  assignment for new vectors (:meth:`IvfIndex.assign`), shared with the
  IVFADC paths in ``pq.py``.  This is the 100 TB path: the probe filter
  is a partition filter, so unprobed cells' files are never opened.
- :func:`ivf_topk` — IVF without a materialized index: centroids of a
  provided ``cell`` column recomputed per call, for one-off queries.
"""

from __future__ import annotations

import json
import math
from pathlib import Path

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..util import persist_shared, python_task


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double, sequential fold (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: tuple[int, ...] = (),
) -> DataFrame:
    """Exact cosine top-k against a literal query vector.
    Output: (vec_id, sim) — sim rounded to 6 decimals for cross-engine
    stability, ordered sim DESC, id ASC."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    df = embeddings
    if exclude_ids:
        df = df.filter(~F.col(id_col).isin(*exclude_ids))
    return (
        df.select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), 6).alias("sim"),
        )
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )


def knn_join(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact k-NN join: every query row gets its k nearest corpus rows.
    Queries are broadcast (they are the small side by construction);
    per-query top-k via a rank window partitioned by query id — the
    standard top-k-per-group pattern, shuffle only on q_id."""
    from pyspark.sql import Window

    joined = embeddings.crossJoin(F.broadcast(queries)).select(
        F.col(q_id_col),
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col(q_vec_col)), 6).alias("sim"),
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(q_id_col, id_col, "sim", "rank")
    )


def cell_centroids(
    embeddings: DataFrame, *, cell_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-cell mean vector (the IVF coarse quantizer).  Element-wise mean
    via posexplode → groupBy(cell, pos) → collect back ordered — a single
    shuffle keyed by (cell, pos)."""
    exploded = embeddings.select(
        F.col(cell_col).alias("cell"), F.posexplode(vec_col).alias("pos", "v")
    )
    per_dim = exploded.groupBy("cell", "pos").agg(F.avg("v").alias("m"))
    return (
        per_dim.groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            "cell",
            F.transform(F.col("pm"), lambda s: s["m"]).alias("centroid"),
        )
    )


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic Lloyd's k-means over the embedding column — the IVF
    coarse quantizer, trained in Spark.

    Each iteration: assign (narrow projection against broadcast-literal
    centroids, argmax of k dot products) → update (posexplode + grouped
    mean, one shuffle keyed by (cell, dim)).  Only the k×dim centroid
    matrix crosses the driver per iteration — the per-point work stays
    distributed, which is the property that matters at 10⁹ vectors.
    Init: the k lowest-id vectors (deterministic, no RNG)."""
    seeds = (
        embeddings.orderBy(id_col).limit(k).select(vec_col).collect()
    )
    if len(seeds) < k:
        raise ValueError(
            f"k-means needs at least k={k} vectors, got n={len(seeds)}"
        )
    cents = [list(map(float, r[0])) for r in seeds]
    for _ in range(iters):
        assigned = assign_cells(
            embeddings, cents, id_col=id_col, vec_col=vec_col
        )
        new = (
            assigned.select("cell", F.posexplode(vec_col).alias("pos", "v"))
            .groupBy("cell", "pos")
            .agg(F.avg("v").alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cell", F.transform("pm", lambda s: s["m"]).alias("c"))
            .collect()
        )
        by_cell = {r["cell"]: list(map(float, r["c"])) for r in new}
        # empty cells keep their previous centroid
        cents = [by_cell.get(i, cents[i]) for i in range(k)]
    return cents


def assign_cells(
    embeddings: DataFrame,
    centroids: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Add a 0-based ``cell`` column: argmax cosine over the centroid
    list, ties → lowest cell id.

    Up to 16 centroids: k sim columns + array_position argmax, all
    codegen'd.  Centroid norms are constants — computed driver-side
    (left-to-right double sum + sqrt, bit-identical to the JVM fold) —
    and the row's norm folds once behind a select boundary, so each row
    costs k dot folds + 1, not 3k (the SCALE.md lambda-re-evaluation
    lesson).  Above 16 the literal array leaves codegen, so the
    broadcast-join form :func:`_assign_cells_join` runs instead — same
    rule, bit-identical sims."""
    if len(centroids) > 16:
        return _assign_cells_join(
            embeddings, centroids, id_col=id_col, vec_col=vec_col
        )
    cnorms = []
    for c in centroids:
        acc = 0.0
        for x in c:
            acc += float(x) * float(x)
        cnorms.append(math.sqrt(acc))
    cols = embeddings.columns
    staged = embeddings.select("*", _norm(F.col(vec_col)).alias("_vn"))
    sims = F.array(
        *[
            _dot(F.col(vec_col), F.array(*[F.lit(x) for x in c]))
            / (F.col("_vn") * F.lit(cn))
            for c, cn in zip(centroids, cnorms)
        ]
    )
    return staged.withColumn(
        "cell", (F.array_position(sims, F.array_max(sims)) - 1).cast("int")
    ).select(*cols, "cell")


def _assign_cells_join(
    embeddings: DataFrame,
    centroids: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``assign_cells`` via a broadcast centroid JOIN + argmax
    aggregation instead of a k-wide literal expression array.  Same rule
    (argmax cosine, ties → lowest cell) and bit-identical sims, but the
    centroid matrix rides as DATA, so it scales to large k where the
    literal form blows past codegen limits and falls back to
    interpreted evaluation (measured ~10× at k≈80).

    The argmax is ``min_by(cell, struct(-sim, cell))`` under a
    ``groupBy(id)`` — the r12 optimization form: the cross-joined rows
    for one vector sit in one input partition, so the partial aggregate
    collapses k rows (each dragging the full embedding array) to ONE
    before the exchange, where the old rank-window form shuffled all
    k copies and sorted them (guide §2.3, aggregate before you
    shuffle).  Selection is identical: max sim, ties to the lowest
    cell; the non-key columns are constant within a group, so first()
    is deterministic."""
    spark = embeddings.sparkSession
    cent_rows = []
    for i, c in enumerate(centroids):
        acc = 0.0
        for x in c:
            acc += float(x) * float(x)
        cent_rows.append((i, [float(x) for x in c], math.sqrt(acc)))
    cents = spark.createDataFrame(
        cent_rows, "cell int, _cent array<double>, _cn double"
    )
    staged = embeddings.select("*", _norm(F.col(vec_col)).alias("_vn"))
    sim = _dot(F.col(vec_col), F.col("_cent")) / (F.col("_vn") * F.col("_cn"))
    rest = [c for c in embeddings.columns if c != id_col]
    return (
        staged.crossJoin(F.broadcast(cents))
        .withColumn("_sim", sim)
        .groupBy(id_col)
        .agg(
            F.expr("min_by(cell, struct(-_sim, cell))").alias("cell"),
            *[F.first(c).alias(c) for c in rest],
        )
        .select(*embeddings.columns, "cell")
    )


def semantic_dedup_pairs(
    embeddings: DataFrame,
    centroids: list[list[float]],
    threshold: float,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space with k-means, then mark within-cluster pairs whose
    cosine similarity ≥ ``threshold`` as semantic duplicates — documents
    that say the same thing in different words, invisible to MinHash/
    SimHash lexical dedup.

    The cell equi-join IS the blocking step: candidate generation costs
    Σ|cell|² instead of N², and at scale k grows with N (the paper uses
    ~100k clusters for web corpora) to hold cell sizes — and therefore
    per-cell quadratic work — constant.  Same shuffle shape as the IVF
    knn join: one hash shuffle keyed by cell, no cartesian product.

    Output: (cell, id_a, id_b, sim) with id_a < id_b, sim rounded to 6dp
    BEFORE the threshold compare so the boundary is cross-engine stable.
    Survivor selection (keep one doc per duplicate group) composes with
    ``operators.dedup.dedup_survivors`` / ``corpus.connected_components``
    exactly like the lexical pair generators."""
    # Each vector's norm is computed ONCE here, behind a select boundary,
    # instead of inside the pair expression — cosine() would otherwise
    # fold ‖a‖ and ‖b‖ per PAIR (3 array folds × Σ|cell|² pairs; measured
    # 3× the whole entry's cost at sf0.1).  dot/(na·nb) is the exact same
    # IEEE expression the oracle computes, so parity is unaffected.
    # Assignment goes through assign_cells, which picks the
    # broadcast-join form once k outgrows the literal form: k grows
    # with the corpus under the SemDeDup scaling rule.
    # The assigned frame feeds BOTH sides of the pair join below; without
    # the persist the whole assign subtree (corpus scan + assignment)
    # is embedded twice in the physical plan
    # and the corpus pays two full assignment passes.  The pin lives
    # until the session scope's release (util.SessionScope).
    assigned = persist_shared(
        assign_cells(embeddings, centroids, id_col=id_col, vec_col=vec_col).select(
            F.col(id_col), F.col("cell"), F.col(vec_col), _norm(F.col(vec_col)).alias("_n")
        )
    )
    a = assigned.select(
        F.col(id_col).alias("id_a"),
        "cell",
        F.col(vec_col).alias("_va"),
        F.col("_n").alias("_na"),
    )
    bb = assigned.select(
        F.col(id_col).alias("id_b"),
        "cell",
        F.col(vec_col).alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    sim = F.round(
        _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6
    )
    return (
        a.join(bb, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("sim", sim)
        .where(F.col("sim") >= threshold)
        .select("cell", "id_a", "id_b", "sim")
    )


def _py_cos(a: list[float], b: list[float]) -> float:
    d = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return d / (na * nb) if na and nb else 0.0


def _check_n_probe(n_probe: int) -> None:
    if n_probe < 1:
        raise ValueError(f"n_probe must be >= 1, got {n_probe}")


class IvfIndex:
    """A MATERIALIZED IVF index — the 100 TB search path.

    Build once: assign every vector a ``cell`` (either a provided label
    column or a k-means quantizer trained in Spark), write the corpus
    parquet **partitioned by cell**, and persist the k×dim centroid
    matrix alongside.  Search: pick probe cells driver-side from the
    stored centroids (k×dim floats — trivial), then scan ONLY the probe
    cells' files: the ``cell IN (...)`` filter is a *partition* filter,
    so Spark never opens the other cells' files.  Scan cost is
    n_probe/n_cells of the corpus — physically, not nominally.

    The index owns the stages every IVF and IVFADC path shares: the
    centroid table (:meth:`centroid_frame`), the driver-side and the
    distributed probe (:meth:`probe_cells`, :meth:`probe_join`) and the
    cell assignment of new vectors (:meth:`assign`).
    """

    VECTORS = "vectors"
    CENTROIDS_FILE = "centroids.json"
    DONE = "_INDEX_DONE"

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str | Path,
        centroids: dict[int, list[float]],
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        self.spark = spark
        self.index_dir = Path(index_dir)
        self.centroids = centroids
        self.id_col = id_col
        self.vec_col = vec_col

    # -- lifecycle ---------------------------------------------------------

    @classmethod
    def build(
        cls,
        embeddings: DataFrame,
        index_dir: str | Path,
        *,
        cell_col: str | None = None,
        k: int = 8,
        iters: int = 3,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        overwrite: bool = False,
    ) -> "IvfIndex":
        """One-time index build (the expensive, amortized step).

        ``cell_col`` given → use the stored labels as cells and compute
        their mean centroids; else train a deterministic k-means
        quantizer (:func:`kmeans_fit`) and assign cells with it.  Either
        way the corpus is written partitioned by ``cell`` so the probe
        filter prunes at the file-listing level.
        """
        index_dir = Path(index_dir)
        spark = embeddings.sparkSession
        if not overwrite and (index_dir / cls.DONE).exists():
            return cls.load(spark, index_dir, id_col=id_col, vec_col=vec_col)
        if cell_col is not None:
            assigned = embeddings.withColumn("cell", F.col(cell_col).cast("int"))
            cents = {
                int(r["cell"]): [float(x) for x in r["centroid"]]
                for r in cell_centroids(
                    embeddings, cell_col=cell_col, vec_col=vec_col
                ).collect()
            }
        else:
            trained = kmeans_fit(
                embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col
            )
            assigned = assign_cells(
                embeddings, trained, id_col=id_col, vec_col=vec_col
            )
            cents = dict(enumerate(trained))
        index_dir.mkdir(parents=True, exist_ok=True)
        assigned.write.mode("overwrite").partitionBy("cell").parquet(
            str(index_dir / cls.VECTORS)
        )
        (index_dir / cls.CENTROIDS_FILE).write_text(
            json.dumps({str(c): v for c, v in cents.items()})
        )
        (index_dir / cls.DONE).write_text("ok")
        return cls(spark, index_dir, cents, id_col=id_col, vec_col=vec_col)

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        index_dir: str | Path,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IvfIndex":
        cents = {
            int(c): [float(x) for x in v]
            for c, v in json.loads(
                (Path(index_dir) / cls.CENTROIDS_FILE).read_text()
            ).items()
        }
        return cls(spark, index_dir, cents, id_col=id_col, vec_col=vec_col)

    # -- shared stages -----------------------------------------------------

    def centroid_frame(self) -> DataFrame:
        """(cell int, centroid array<double>) — n_cells rows, bounded by
        index design, so every consumer may broadcast it."""
        return self.spark.createDataFrame(
            [
                (int(c), [float(x) for x in v])
                for c, v in sorted(self.centroids.items())
            ],
            "cell int, centroid array<double>",
        )

    def probe_cells(self, query_vec: list[float], n_probe: int) -> list[int]:
        """Driver-side coarse quantization: the ``n_probe`` cells whose
        centroids are most cosine-similar to the query, ties → lower
        cell id.  k×dim floats, no Spark job."""
        _check_n_probe(n_probe)
        q = [float(x) for x in query_vec]
        return sorted(
            self.centroids, key=lambda c: (-_py_cos(self.centroids[c], q), c)
        )[:n_probe]

    def probe_join(
        self, queries: DataFrame, n_probe: int, q_id_col: str, q_vec_col: str
    ) -> DataFrame:
        """DISTRIBUTED probe for a query frame: (q_id, q_vec, cell,
        centroid), one row per (query, probe cell).  The centroid table
        broadcasts against the queries and a per-query rank window keeps
        the ``n_probe`` most-similar cells — the same rule and the same
        cosine folds as :meth:`probe_cells`."""
        from pyspark.sql import Window

        _check_n_probe(n_probe)
        rank = Window.partitionBy(q_id_col).orderBy(
            F.desc(cosine(F.col(q_vec_col), F.col("centroid"))), F.asc("cell")
        )
        return (
            queries.crossJoin(F.broadcast(self.centroid_frame()))
            .withColumn("_rk", F.row_number().over(rank))
            .where(F.col("_rk") <= n_probe)
            .select(q_id_col, q_vec_col, "cell", "centroid")
        )

    def assign(self, embeddings: DataFrame) -> DataFrame:
        """Cells of NEW vectors under the FROZEN quantizer, in the
        index's cell-id space (:func:`assign_cells`, whose form is
        chosen from the cell count)."""
        cell_ids = sorted(self.centroids)
        assigned = assign_cells(
            embeddings,
            [self.centroids[c] for c in cell_ids],
            id_col=self.id_col,
            vec_col=self.vec_col,
        )
        if cell_ids != list(range(len(cell_ids))):
            # label-built indexes can have non-contiguous cell ids: map
            # the positional argmax back to the stored id space
            id_map = F.array(*[F.lit(int(c)) for c in cell_ids])
            assigned = assigned.withColumn(
                "cell", F.element_at(id_map, F.col("cell") + 1)
            )
        return assigned

    def vectors(self) -> DataFrame:
        # through the session table-plan memo (~150 ms of listing +
        # footer + relation resolution per spark.read.parquet call).
        # Safe for a MUTABLE index dir since r13: the memo key anchors
        # on the newest data file found RECURSIVELY (appends write new
        # files inside cell partitions, so the key changes and the plan
        # re-resolves; the r12 non-recursive glob would have missed
        # them, which is why this dir was excluded then — ADVICE r12).
        from ..sources.batch import read_parquet_memo

        return read_parquet_memo(self.spark, self.index_dir / self.VECTORS)

    # -- maintenance and query ----------------------------------------------

    def append(self, embeddings: DataFrame, *, cell_col: str | None = None) -> int:
        """Admit NEW vectors under the FROZEN coarse quantizer — the
        delta-only maintenance step of a continuously-growing corpus
        (quantizers train once on a bounded sample and the index grows
        under them; retraining is a rebuild).  Cells come from
        :meth:`assign`, appended as new files inside the cell
        partitions; resident files never rewritten, searches see the
        union at the next partition listing.  Pass ``cell_col`` when
        rows are already assigned (e.g. the survivors of
        :func:`semantic_admit` — avoids a second assignment pass).
        Returns the number of vectors appended."""
        if cell_col is None:
            assigned = self.assign(embeddings)
        else:
            assigned = embeddings.withColumnRenamed(cell_col, "cell")
        # appended files must match the resident parquet schema exactly
        # (a double-typed delta next to float-typed residents fails the
        # unioned read with PARQUET_COLUMN_DATA_TYPE_MISMATCH)
        stored_t = self.vectors().schema[self.vec_col].dataType
        assigned = assigned.withColumn(
            self.vec_col, F.col(self.vec_col).cast(stored_t)
        )
        n = assigned.count()
        assigned.write.mode("append").partitionBy("cell").parquet(
            str(self.index_dir / self.VECTORS)
        )
        return n

    def search(
        self,
        query_vec: list[float],
        k: int = 10,
        n_probe: int = 2,
        *,
        exclude_ids: tuple[int, ...] = (),
    ) -> DataFrame:
        """Partition-pruned approximate top-k: :func:`brute_force_topk`
        over the probe cells only — the scan touches only their parquet
        files (``PartitionFilters: cell IN ...`` — asserted by
        tests/test_plan_hygiene.py)."""
        probe = self.probe_cells(query_vec, n_probe)
        return brute_force_topk(
            self.vectors().filter(F.col("cell").isin(probe)),
            query_vec,
            k,
            id_col=self.id_col,
            vec_col=self.vec_col,
            exclude_ids=exclude_ids,
        )

    def knn_join(
        self,
        queries: DataFrame,
        k: int = 10,
        n_probe: int = 2,
        *,
        q_id_col: str = "q_id",
        q_vec_col: str = "q_vec",
    ) -> DataFrame:
        """Approximate k-NN JOIN through the index — the scale path for
        query sets too large to broadcast (``knn_join`` above holds the
        whole query side in a broadcast nested loop; this one never
        does).

        Probe assignment is DISTRIBUTED (:meth:`probe_join`), and
        candidates come from a ``cell`` equi-join against the
        cell-partitioned corpus — shuffle keyed by cell, all-pairs never
        materializes, and dynamic partition pruning can skip unprobed
        cells' files entirely.  Works for 5 queries or 5 billion.

        Output: (q_id, vec_id, sim, rank), rank ≤ k per query — same
        shape as :func:`knn_join`.
        """
        from pyspark.sql import Window

        probes = self.probe_join(queries, n_probe, q_id_col, q_vec_col).select(
            q_id_col, q_vec_col, "cell"
        )
        cand = probes.join(
            self.vectors().select(self.id_col, self.vec_col, "cell"), "cell"
        )
        scored = cand.select(
            F.col(q_id_col),
            F.col(self.id_col),
            F.round(
                cosine(F.col(self.vec_col), F.col(q_vec_col)), 6
            ).alias("sim"),
        )
        return (
            scored.withColumn(
                "rank",
                F.row_number().over(
                    Window.partitionBy(q_id_col).orderBy(
                        F.desc("sim"), F.asc(self.id_col)
                    )
                ),
            )
            .where(F.col("rank") <= k)
            .select(q_id_col, self.id_col, "sim", "rank")
        )


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    exclude_ids: tuple[int, ...] = (),
) -> DataFrame:
    """IVF approximate top-k WITHOUT a materialized index: probe the
    ``n_probe`` cells whose centroids are most cosine-similar to the
    query, then :func:`brute_force_topk` inside them.

    This flavor recomputes centroids from the corpus per call — fine for
    exploratory one-offs; repeated querying should go through
    :class:`IvfIndex` (build once, partition-pruned scans per query),
    which is what the catalog entries use.
    """
    _check_n_probe(n_probe)
    cents = cell_centroids(embeddings, cell_col=cell_col, vec_col=vec_col)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    probe = [
        r["cell"]
        for r in cents.select(
            "cell", cosine(F.col("centroid"), q).alias("sim")
        )
        .orderBy(F.desc("sim"))
        .limit(n_probe)
        .collect()
    ]
    return brute_force_topk(
        embeddings.filter(F.col(cell_col).isin(probe)),
        query_vec,
        k,
        id_col=id_col,
        vec_col=vec_col,
        exclude_ids=exclude_ids,
    )


def hyperplane_lsh_pairs(
    embeddings: DataFrame,
    threshold: float = 0.99,
    *,
    n_bits: int = 64,
    bands: int = 4,
    seed: int = 13,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Cosine near-duplicate pairs over DENSE ``array<float>`` embeddings —
    the scale path for dense vectors, where a dimension equi-join (the
    sparse trick in ``dedup.embedding_cosine_pairs``) degenerates to
    all-pairs.

    Random-hyperplane LSH (SimHash for vectors, Charikar '02): bit i =
    sign(v · rᵢ) for ``n_bits`` fixed Gaussian planes; two vectors at
    angle θ agree on a bit with probability 1 − θ/π.  Bits are grouped
    into ``bands`` LSH bands — candidates come from a band-bucket
    equi-join (shuffle keyed by (band, bucket), never all-pairs) and are
    then VERIFIED with the exact cosine, so precision is 1.0 and recall
    is the banded collision probability (=1 for exact duplicates: all
    bits agree).  Planes are derived from a seeded RNG, so the signature
    is deterministic across runs and engines.

    Band width is the candidate-volume knob: a random (uncorrelated)
    pair collides on a w-bit band with probability ~2⁻ʷ, so the default
    4×16-bit banding yields ~4·n²/65536 random candidates — at 16 bits
    the bucket join stays sparse even for billions of vectors.  (The
    first cut used 8×4-bit bands: 16 distinct buckets per band ⇒ ~n²/16
    candidates — an accidental all-pairs.  Wide bands trade recall at
    moderate thresholds for candidate sparsity; near-dup dedup at
    cos≥0.99 keeps recall ≈1 because bit-agreement is ≥0.95 there.)
    Output: (a_id, b_id, cos_sim), a_id < b_id, rounded to 6dp.
    """
    import random as _random

    # array<float> carries no dimension in the schema; callers that know
    # it pass ``dim`` and skip the one-row probe job entirely
    if dim is None:
        first = embeddings.select(vec_col).first()
        if first is None:
            return embeddings.sparkSession.createDataFrame(
                [], "a_id long, b_id long, cos_sim double"
            )
        dim = len(first[0])
    rng = _random.Random(seed)
    planes = [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_bits)
    ]
    rows_per_band = n_bits // bands

    # Signature = one vectorized Arrow-batched matmul: n_bits nested
    # JVM dot-product folds in a single projection blow up codegen
    # (32 folds × 64-dim literal arrays ≈ 15 s of plan compile measured
    # at sf0.1), while numpy computes sign(V·Mᵀ) for a whole batch at
    # once — this is the documented good use of a Pandas UDF: dense
    # linear algebra the built-ins can't express compactly.
    @F.pandas_udf("long")
    @python_task
    def _sig(v: pd.Series) -> pd.Series:
        import numpy as np

        mat = np.asarray(planes, dtype=np.float64)
        arr = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        bits = (arr @ mat.T) > 0
        weights = 1 << np.arange(bits.shape[1], dtype=np.uint64)
        return pd.Series(
            (bits.astype(np.uint64) * weights).sum(axis=1).astype(np.int64)
        )

    sigs = embeddings.select(F.col(id_col), _sig(F.col(vec_col)).alias("sig"))
    mask = (1 << rows_per_band) - 1
    bands_col = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("sig"), b * rows_per_band)
                .bitwiseAND(F.lit(mask))
                .alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    banded = sigs.select(id_col, F.explode(bands_col).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bucket"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id")
        )
        .distinct()
    )
    va = embeddings.select(
        F.col(id_col).alias("a_id"), F.col(vec_col).alias("_va")
    )
    vb = embeddings.select(
        F.col(id_col).alias("b_id"), F.col(vec_col).alias("_vb")
    )
    return (
        cand.join(va, "a_id")
        .join(vb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.round(cosine(F.col("_va"), F.col("_vb")), 6).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def semantic_admit(
    index: IvfIndex,
    new_embeddings: DataFrame,
    *,
    threshold: float = 0.95,
    append: bool = True,
) -> tuple[DataFrame, dict]:
    """Delta-only SemDeDup: admit a batch of new embeddings against a
    MATERIALIZED IVF index — the semantic twin of
    ``incremental_dedup.IncrementalDeduper`` (lexical), completing the
    "only the delta pays" family.

    Per-batch cost, by construction:

    - cells assigned under the FROZEN quantizer (:meth:`IvfIndex.assign`
      — the SemDeDup blocking step, cost ∝ delta);
    - within-batch semantic losers: same-cell pairwise cosine among the
      DELTA only (keep-first by id — `dedup.dedup_survivors` policy);
    - cross-round candidates: the stored vector table is read with a
      PARTITION filter on the delta's cells and probed by the
      BROADCAST delta — zero Exchange and zero unprobed-cell I/O on
      the one structure that grows with the corpus (the same posture
      as the incremental deduper's band join, plan-asserted in
      tests/test_plan_hygiene.py);
    - survivors append into the index's cell partitions
      (:meth:`IvfIndex.append`) so the NEXT batch dedups against them.

    A new vector is dropped iff a smaller-id batch sibling or ANY
    stored vector in its cell has cosine ≥ ``threshold`` (rounded to
    6dp before the compare, cross-engine stable).  Returns
    ``(kept_df_with_cell, stats)``.

    ``kept`` is MATERIALIZED (a local checkpoint) before the append and
    the call keeps no caches: a returned frame that still read the index
    dir would re-run the cross-round join against the grown index, where
    every admitted vector matches itself at cosine 1.0."""
    pins: list[DataFrame] = []
    try:
        kept_flagged, n_batch, n_within_dropped = _admit_flag_join(
            index, new_embeddings, threshold, pins
        )
        # pinned: the cross-dropped count and `kept` both read it
        kept_flagged = kept_flagged.persist()
        pins.append(kept_flagged)
        n_cross_dropped = kept_flagged.agg(F.count("_xl").alias("x")).first()["x"]
        kept = (
            kept_flagged.where(F.col("_xl").isNull())
            .select(index.id_col, index.vec_col, "cell")
            .localCheckpoint(eager=True)
        )
        n_kept = n_batch - n_within_dropped - n_cross_dropped
        if append and n_kept:
            index.append(kept, cell_col="cell")
    finally:
        for df in pins:
            df.unpersist()
    stats = {
        "batch": n_batch,
        "within_dropped": n_within_dropped,
        "cross_dropped": n_cross_dropped,
        "admitted": n_kept,
    }
    return kept, stats


def _admit_flag_join(
    index: IvfIndex, new_embeddings: DataFrame, threshold: float,
    pins: list[DataFrame],
) -> tuple[DataFrame, int, int]:
    """:func:`semantic_admit` up to its cross-round join.  Returns
    ``(kept_flagged, n_batch, n_within_dropped)``: the lazy
    within-batch survivors, flagged ``_xl`` where a stored vector
    duplicates them.  Every frame it persists is appended to ``pins``
    for the caller to unpersist."""
    idc, vc = index.id_col, index.vec_col
    assigned = index.assign(new_embeddings).select(
        idc, "cell", vc, _norm(F.col(vc)).alias("_n")
    ).persist()
    pins.append(assigned)

    a = assigned.select(
        F.col(idc).alias("id_a"), "cell",
        F.col(vc).alias("_va"), F.col("_n").alias("_na"),
    )
    b = assigned.select(
        F.col(idc).alias("id_b"), "cell",
        F.col(vc).alias("_vb"), F.col("_n").alias("_nb"),
    )
    wsim = F.round(
        _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6
    )
    within_losers = (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .where(wsim >= threshold)
        .select(F.col("id_b").alias(idc), F.lit(True).alias("_wl"))
        .distinct()
    )
    # FLAG-join instead of anti-join (r13, guide §2.4 fewer passes):
    # a left join against the distinct loser ids keeps every batch row
    # once, so ONE aggregation job returns n_batch, the within-dropped
    # count AND the survivors' probe cells.  Survivor rows are
    # `_wl IS NULL` (join key non-null, right side distinct), identical
    # to a left_anti.  Pinned: the stats aggregate and the cross-round
    # probe below both consume it.
    flagged = assigned.join(F.broadcast(within_losers), idc, "left").persist()
    pins.append(flagged)
    row = flagged.agg(
        F.count("*").alias("n_batch"),
        F.count("_wl").alias("n_within_dropped"),
        F.collect_set(F.when(F.col("_wl").isNull(), F.col("cell"))).alias(
            "cells"
        ),
    ).first()
    delta_cells = [int(c) for c in row["cells"]]
    kept_within = flagged.where(F.col("_wl").isNull()).drop("_wl")
    stored = index.vectors().filter(F.col("cell").isin(delta_cells))
    st = stored.select(
        "cell", F.col(vc).alias("_vs"), _norm(F.col(vc)).alias("_ns")
    )
    d = kept_within.select(
        F.col(idc), "cell", F.col(vc).alias("_vd"), F.col("_n").alias("_nd")
    )
    xsim = F.round(
        _dot(F.col("_vs"), F.col("_vd")) / (F.col("_ns") * F.col("_nd")), 6
    )
    cross_losers = (
        st.join(F.broadcast(d), "cell")
        .where(xsim >= threshold)
        .select(F.col(idc), F.lit(True).alias("_xl"))
        .distinct()
    )
    # the same flag-join fusion for the cross-round stage: one
    # count(_xl) aggregate replaces a separate kept.count() job
    kept_flagged = kept_within.join(F.broadcast(cross_losers), idc, "left")
    return kept_flagged, row["n_batch"], row["n_within_dropped"]
