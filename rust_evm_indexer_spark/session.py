"""SparkSession factory.

One session per process; tuned for local[N] testing while keeping every
setting cluster-valid (nothing here assumes a single JVM except the driver
memory sizing).  AQE is on so skewed shuffles re-plan at runtime — at 100 TB
the skew-join and partition-coalescing rules matter far more than any static
``spark.sql.shuffle.partitions`` choice.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# UTC session timezone is load-bearing: the DuckDB oracle treats parquet
# timestamps as UTC-naive, so Spark must agree (see BASELINE.md targets).
_BASE_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # parquet scans: keep row-group pruning + column pruning effective
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.ui.enabled": "false",
    # console progress bars interleave with stdout when the harness merges
    # streams — they corrupted the bench JSON line in round 2's capture
    "spark.ui.showConsoleProgress": "false",
}


def default_cpus() -> int:
    """The session's core count: ``$SPARK_GRAFT_CPUS`` (driver contract)
    else all cores."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4


def get_spark(
    app_name: str = "rust_evm_indexer_spark",
    *,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the process-wide SparkSession.

    ``cpus`` defaults to :func:`default_cpus`.  ``shuffle_partitions``
    defaults to the core count: at local scale 200 partitions would just
    add scheduling overhead; on a real cluster callers pass an explicit
    value sized to the data.
    """
    cpus = cpus or default_cpus()
    shuffle = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # Local-mode-only JIT posture: whole-stage codegen emits very large
        # classes (the 64-wide minhash aggregate alone costs ~60 s of C2
        # compile time), and a short-lived local session never amortizes
        # that.  C1-only compilation is ~50x cheaper to JIT at ~30% lower
        # peak code quality — a large net win for an interactive/bench
        # session.  On a real cluster (long-lived executors, hours-long
        # scans) leave the default tiered C2: the warm-up amortizes and
        # peak throughput wins; this flag is driver-JVM-only and is NOT
        # set on spark.executor.extraJavaOptions for exactly that reason.
        #
        # ReservedCodeCacheSize: 2g, up from the r7 512m — precautionary
        # headroom only.  An r12 A/B first suggested 512m caused within-
        # session drift, but -Xlog:codecache over a full catalog drive
        # showed max_used = 65 MB: the cache never approached either
        # limit, and the drift/per-entry spikes reproduce with 2g too
        # (they are host-level noise, not JVM-internal).  Kept at 2g
        # because reserved ≠ committed (pages commit only as used), so
        # the larger reservation costs address space, not RAM.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JVM_OPTS",
                "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=2g",
            ),
        )
    )
    for k, v in _BASE_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
