"""Batch parquet sources with explicit schemas.

Two table families:

- the driver-provided generic tables at ``$SF_DIR/{name}.parquet``
  (TESTDATA.md) — schema comes from parquet footers (they are the oracle's
  ground truth, so we take them verbatim);
- EVM-shaped tables (fixtures or store output) — read through the explicit
  StructTypes in ``schemas.py`` so drift fails loudly.

All reads are plain ``spark.read.parquet`` — Catalyst predicate pushdown,
column pruning, and row-group skipping apply downstream.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import DRIVER_TABLES, EVM_SCHEMAS
from ..util import SCOPE

# Application-level TABLE-PLAN memo (optimization guide §1.2/§6: planning
# and file-listing cost is driver-side, single-process work — a real
# engine resolves a table once per session through its catalog, not once
# per query).  ``spark.read.parquet`` costs ~150 ms per call on this host
# (file listing + footer schema read + relation resolution), and a full
# catalog drive issues ~200 such calls for the same ten immutable files.
# The memo (util.SCOPE.memo) stores the LAZY DataFrame (logical plan +
# schema) only — no rows, no ``.persist()`` — so every downstream action
# still scans the parquet from disk; this is metadata caching, the same
# category as Spark's own session-scoped FileStatusCache.  Keyed by file
# identity so a rewritten fixture invalidates naturally.


def _plan_key(kind: str, path: Path) -> tuple | None:
    """A file keys on its size + mtime.  A directory keys on its data
    files, found RECURSIVELY (cell-partitioned exports have no top-level
    files, and a rewritten cell subdir does not touch the parent's
    mtime): their count, total bytes and newest mtime, so an append, a
    rewrite or a deletion all re-resolve the plan."""
    try:
        if path.is_dir():
            sts = [f.stat() for f in path.rglob("*.parquet")]
            ident = (
                len(sts),
                sum(st.st_size for st in sts),
                max((st.st_mtime_ns for st in sts), default=0),
            )
        else:
            st = path.stat()
            ident = (st.st_size, st.st_mtime_ns)
    except OSError:
        return None
    return (kind, str(path), *ident)


def load_driver_table(spark: SparkSession, sf_dir: str | Path, name: str) -> DataFrame:
    """Read one driver table.  Parquet TIMESTAMP(NANOS) columns (the
    ``events.ts`` physical type) are unsupported by Spark's vectorized
    reader, so they are read as nano longs (``nanosAsLong``) and normalized
    back to TimestampType at the scan — a codegen'd projection, precision
    truncated ns→µs exactly like DuckDB's ``epoch_us``.

    The session timezone is pinned to UTC here because the caller (the
    driver) owns the SparkSession: timestamp *literals* in catalog queries
    parse in session tz, and the DuckDB oracle's timestamps are UTC-naive —
    a non-UTC session would shift every literal boundary."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = Path(sf_dir) / f"{name}.parquet"

    def read() -> DataFrame:
        df = spark.read.parquet(str(path))
        if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df

    return SCOPE.bind(spark).memo(_plan_key("driver", path), read)


def read_parquet_memo(spark: SparkSession, path: str | Path) -> DataFrame:
    """``spark.read.parquet`` through the session table-plan memo — for
    immutable materialized exports (PQ codes, IVF stores, fixture
    snapshots) that many catalog entries re-resolve per call.  A
    regenerated, appended or pruned export invalidates naturally
    (:func:`_plan_key`)."""
    p = Path(path)
    return SCOPE.bind(spark).memo(
        _plan_key("parquet", p), lambda: spark.read.parquet(str(p))
    )


def load_driver_tables(
    spark: SparkSession, sf_dir: str | Path, names: tuple[str, ...] = DRIVER_TABLES
) -> dict[str, DataFrame]:
    return {n: load_driver_table(spark, sf_dir, n) for n in names}


def register_views(
    spark: SparkSession, sf_dir: str | Path, names: tuple[str, ...] = DRIVER_TABLES
) -> None:
    """Register the driver tables as temp views for the SQL surface."""
    for n in names:
        load_driver_table(spark, sf_dir, n).createOrReplaceTempView(n)


def load_evm_tables(spark: SparkSession, fixture_dir: str | Path) -> dict[str, DataFrame]:
    """Read EVM-shaped parquet through the declared StructTypes."""
    out: dict[str, DataFrame] = {}
    for name, schema in EVM_SCHEMAS.items():
        path = Path(fixture_dir) / f"{name}.parquet"
        if path.exists():
            out[name] = SCOPE.bind(spark).memo(
                _plan_key("evm", path),
                lambda: spark.read.schema(schema).parquet(str(path)),
            )
    return out
