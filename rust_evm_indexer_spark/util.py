"""Runtime utilities."""

from __future__ import annotations

import functools
import inspect
import sys
import tempfile
import zipfile
import zipimport
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


class SessionScope:
    """Everything the engine keeps between calls, for ONE Spark
    application.  There are exactly two lifetimes:

    - until :meth:`release` — pinned multi-consumer frames (:meth:`pin`),
      staged-SQL build views (:meth:`view`) and keyed frames or index
      objects shared across calls (:meth:`frame`: shingle scans, capped
      pair lists, IVF indexes).  ``catalog.clear_session_caches()`` is
      this release; the cold bench calls it between entries so each
      entry pays its own scans.
    - the whole application — driver-side metadata memos (:meth:`memo`:
      lazy table plans, scan-spread decisions, the shipped-package
      flag).  They hold no rows and no pins, the same category as
      Spark's own FileStatusCache, which a cache clear keeps too.

    :meth:`bind` drops both when ``sparkContext.applicationId`` changes:
    a stopped application's frames point into a dead JVM."""

    def __init__(self) -> None:
        self._reset(None)

    def _reset(self, app_id: str | None) -> None:
        self.app_id = app_id
        self.pins: list[DataFrame] = []
        self.views: list[tuple[SparkSession, str]] = []
        self.frames: dict[tuple, object] = {}
        self.memos: dict[tuple, object] = {}
        self.view_seq = 0

    def bind(self, spark: SparkSession) -> SessionScope:
        app_id = spark.sparkContext.applicationId
        if app_id != self.app_id:
            self._reset(app_id)
        return self

    def pin(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self.pins.append(df)
        return df

    def view(self, df: DataFrame, prefix: str) -> str:
        self.view_seq += 1
        name = f"_{prefix}_{self.view_seq}"
        df.createOrReplaceTempView(name)
        self.views.append((df.sparkSession, name))
        return name

    def frame(self, key: tuple, build: Callable[[], object]):
        if key not in self.frames:
            self.frames[key] = build()
        return self.frames[key]

    def memo(self, key: tuple | None, build: Callable[[], object]):
        if key is None:
            return build()
        if key not in self.memos:
            self.memos[key] = build()
        return self.memos[key]

    def release(self) -> None:
        """Unpersist the pins, THEN drop the views, then forget the
        keyed frames.  Views wait for this release because dropTempView
        also uncaches the view's plan: dropped inline, a view whose plan
        is a live pin unpins it mid-entry (3.4 s -> 8.6 s on
        dedup_minhash_lsh).  Metadata memos survive."""
        for df in self.pins:
            try:
                df.unpersist()
            except Exception:
                pass
        for spark, name in self.views:
            try:
                spark.catalog.dropTempView(name)
            except Exception:
                pass
        self.pins, self.views, self.frames = [], [], {}


SCOPE = SessionScope()


def persist_shared(df: DataFrame) -> DataFrame:
    """Persist an operator-internal frame that feeds SEVERAL consumers
    of one plan (exploded grams, winnowed fingerprints, span carves):
    without it the generator subtree is embedded once per consumer.
    Default MEMORY_AND_DISK level, so it spills rather than OOMs;
    held until :meth:`SessionScope.release`."""
    return SCOPE.bind(df.sparkSession).pin(df)


def register_temp_view(df: DataFrame, prefix: str) -> str:
    """Register ``df`` as a uniquely-named temp view for a staged-SQL
    build (one ``spark.sql`` parse instead of eager re-analysis per
    DataFrame op), dropped at :meth:`SessionScope.release` — never
    inline (see there).  Returns the view name."""
    return SCOPE.bind(df.sparkSession).view(df, prefix)


def spread_small_input(
    df: DataFrame, key: str | None = None, target: int | None = None
) -> DataFrame:
    """Scale-adaptive scan spreading (optimization guide §2.5: one
    unsplittable input file ⇒ "repartition immediately after the read").

    The local test corpora are single-row-group parquet files, so the
    scan — and every narrow transform ABOVE it (normalize / split /
    k-gram explode / hash chains, exactly where the dedup and text
    operators spend their compute) — runs as ONE task on one core.
    Repartitioning the raw rows first costs one tiny exchange (the
    un-exploded documents) and parallelizes the expensive exploded
    stage across the executor width.

    Scale adaptivity: the repartition fires only when the scan is
    narrower than half the default parallelism.  On a real layout
    (100 TB ⇒ tens of thousands of row-group splits) the partition
    count already exceeds the core count and this is a NO-OP — the
    added shuffle is bounded by (cores × maxPartitionBytes), never
    data-scaled.  With ``key`` the exchange is hash partitioning (no
    sort-before-repartition pass); otherwise round-robin.
    """
    spark = df.sparkSession
    sc = spark.sparkContext
    target = target or sc.defaultParallelism
    # memoize the (plan → spread?) decision: the partition-count probe
    # costs ~45 ms of py4j + physical planning per call, and a catalog
    # drive re-asks it for the same handful of scans hundreds of times.
    # Keyed by the ANALYZED plan's semantic hash, so two reads of the
    # same parquet path share one probe; bounded by the number of
    # distinct source frames in a session (a dozen), never data-scaled.
    try:
        ck = ("spread", df._jdf.queryExecution().analyzed().semanticHash(), target)
    except Exception:
        ck = None
    try:
        small = SCOPE.bind(spark).memo(
            ck, lambda: df.rdd.getNumPartitions() * 2 < target
        )
    except Exception:  # non-scan frames with exotic plans: leave as-is
        return df
    if not small:
        return df
    return df.repartition(target, key) if key else df.repartition(target)


def python_task(fn: Callable) -> Callable:
    """Wrap a function that runs on a Python worker (a ``mapInArrow`` /
    ``mapInPandas`` / ``applyInPandasWithState`` kernel or a
    ``pandas_udf`` body) so that when it returns, or a generator kernel
    is exhausted, the worker forgets its cached zipimporters.

    Why: every task PySpark starts on a reused worker calls
    ``importlib.invalidate_caches()`` (``worker_util.setup_spark_files``),
    and on CPython 3.11 each zipimporter in ``sys.path_importer_cache``
    then re-reads its archive's central directory: ~10 ms for each of
    the dozen ``pyspark.zip`` sub-package importers and 25-45 ms for
    each of the two spark-core jar importers, ~0.2 s per task in all
    (SCALE.md, "Cost of one Python task").  Dropping the entries leaves nothing to re-read.
    Modules already imported keep their loaders, and a later import
    rebuilds the importer it needs from zipimport's module-level
    directory cache without reading the archive.  The kernel's own
    thread pools must be joined before it returns.

    The wrapper carries ``fn``'s signature and type hints, so pandas UDF
    eval-type inference sees ``fn`` itself, and it references nothing of
    this package: a kernel pickled by value still runs on a worker that
    cannot import the package."""

    def drop_zipimporters() -> None:
        cache = sys.path_importer_cache
        for path, finder in list(cache.items()):
            if isinstance(finder, zipimport.zipimporter):
                cache.pop(path, None)

    if inspect.isgeneratorfunction(fn):

        @functools.wraps(fn)
        def task(*args, **kwargs):
            try:
                yield from fn(*args, **kwargs)
            finally:
                drop_zipimporters()

    else:

        @functools.wraps(fn)
        def task(*args, **kwargs):
            try:
                return fn(*args, **kwargs)
            finally:
                drop_zipimporters()

    # getfullargspec (pandas UDF validation, the worker's arity checks)
    # does not follow __wrapped__, but honours __signature__
    task.__signature__ = inspect.signature(fn)
    return task


def ensure_package_shipped(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Closures that cross the Python-worker boundary (``mapInPandas``
    kernels, pickled connector clients) reference module-level symbols by
    *module path* — the driver process importing the package is not
    enough, because workers have their own ``sys.path`` (pytest masks
    this by running with the repo as cwd; a driver launched elsewhere
    does not).  ``addPyFile`` of a package zip is the cluster-correct
    fix: Spark distributes it to every executor and prepends it to the
    worker path.  Once per Spark application (a scope memo).
    """
    SCOPE.bind(spark).memo(("shipped",), lambda: _ship_package(spark))


def _ship_package(spark: SparkSession) -> bool:
    pkg_dir = Path(__file__).resolve().parent
    zpath = Path(tempfile.mkdtemp(prefix="pkgship-")) / "rust_evm_indexer_spark.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for p in sorted(pkg_dir.rglob("*.py")):
            z.write(p, f"{pkg_dir.name}/{p.relative_to(pkg_dir)}")
    spark.sparkContext.addPyFile(str(zpath))
    return True
