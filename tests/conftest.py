"""Shared fixtures: one SparkSession per test session, EVM fixture chain,
driver testdata dirs, and a DuckDB connection with the same tables — the
local analog of the driver's oracle gate."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from rust_evm_indexer_spark import datagen  # noqa: E402
from rust_evm_indexer_spark.session import get_spark  # noqa: E402
from rust_evm_indexer_spark.sources import load_evm_tables  # noqa: E402

TESTDATA = Path("/root/testdata")
SF_SMOKE = TESTDATA / "sf0.001"
SF_ORACLE = TESTDATA / "sf0.01"


def assert_no_cache_leak(spark, call, *written):
    """The "cached, then written" guard every mutating operator's test
    runs its call through: ``call()`` starts from an empty cache
    manager, and once it returns no cache may remain and no DataFrame
    it returned (alone or in a tuple) may read a file under a path in
    ``written`` — so acting on a returned frame after the write can
    never re-run a plan against the mutated data.  Returns ``call()``'s
    result."""
    from pyspark.sql import DataFrame

    from rust_evm_indexer_spark.catalog import clear_session_caches

    clear_session_caches()
    spark.catalog.clearCache()
    out = call()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    for df in out if isinstance(out, tuple) else (out,):
        if isinstance(df, DataFrame):
            hits = [
                f for f in df.inputFiles() for w in written if str(w) in f
            ]
            assert not hits, hits
    return out


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def evm_dir(tmp_path_factory) -> Path:
    out = tmp_path_factory.mktemp("evm_fixtures")
    datagen.write_fixtures(out)
    return out


@pytest.fixture(scope="session")
def evm(spark, evm_dir):
    """dict of blocks/transactions/logs/indexer_status DataFrames."""
    return load_evm_tables(spark, evm_dir)


@pytest.fixture(scope="session")
def duck(evm_dir):
    """DuckDB connection with both fixture families registered as views."""
    con = duckdb.connect()
    for name in ("blocks", "transactions", "logs", "indexer_status"):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{evm_dir}/{name}.parquet')"
        )
    for p in sorted(SF_ORACLE.glob("*.parquet")):
        con.execute(
            f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')"
        )
    return con


@pytest.fixture(scope="session")
def moto_s3():
    """A moto S3 server on localhost (genuine HTTP, enforces S3
    conditional writes) + a factory for prefix-isolated S3ManifestIO
    instances.  Skips cleanly where moto/boto3 are absent."""
    moto_server = pytest.importorskip("moto.server")
    boto3 = pytest.importorskip("boto3")
    import uuid as _uuid

    server = moto_server.ThreadedMotoServer(port=0)
    server.start()
    _, port = server.get_host_and_port()
    client = boto3.client(
        "s3", endpoint_url=f"http://127.0.0.1:{port}",
        region_name="us-east-1",
        aws_access_key_id="testing", aws_secret_access_key="testing",
    )
    client.create_bucket(Bucket="manifest-tier")

    def make_io():
        from rust_evm_indexer_spark.store.manifest_io import S3ManifestIO

        return S3ManifestIO(
            "manifest-tier", prefix=f"store-{_uuid.uuid4().hex[:12]}",
            client=client,
        )

    make_io.client = client
    yield make_io
    server.stop()
