"""Text-corpus ingestion from the formats LLM corpora actually ship in.

Parquet is the engine's at-rest format, but raw corpora arrive as JSONL
(one JSON document per line — the Common Crawl / RedPajama / Dolma
convention) or delimited text.  These readers normalize either into the
engine's ``documents`` shape (doc_id, text, lang, source, n_chars) with
an explicit schema and LOUD handling of malformed rows — the two
failure modes that silently corrupt a corpus at scale are schema drift
(Spark's inferred schema changing under a new shard) and dropped
corrupt records (a bad shard vanishing instead of being counted).

Scale posture: both readers are plain ``spark.read`` with an explicit
schema — no inference pass over 100 TB (inference reads every file
TWICE: once to sample schema, once for data); JSONL splits by line so
shards parallelize by HDFS/S3 block; malformed lines land in a
``_corrupt_record`` column and are COUNTED into the returned report
rather than dropped.  Derived fields (n_chars, doc_id when absent) are
codegen projections.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..util import persist_shared

#: the engine-wide documents shape (TESTDATA.md / documents.parquet)
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)

_CORRUPT = "_corrupt_record"


def read_jsonl_documents(
    spark: SparkSession,
    path: str | Path,
    *,
    source: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """JSONL shards → (documents frame, corrupt-lines frame).

    Returns the well-formed rows normalized to :data:`DOCUMENTS_SCHEMA`
    (doc_id derived as a deterministic xxhash64 of the text when the
    shard carries none; n_chars recomputed — upstream counts lie) and a
    SEPARATE frame of raw malformed lines for quarantine — count it,
    write it next to the corpus, never let it vanish."""
    read_schema = T.StructType(
        list(DOCUMENTS_SCHEMA.fields)
        + [T.StructField(_CORRUPT, T.StringType(), True)]
    )
    raw = (
        spark.read.schema(read_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", _CORRUPT)
        .json(str(path))
    )
    # PERMISSIVE parsing needs the corrupt column materialized before
    # filtering on it (Spark requires a cache/select boundary); pinned
    # until the session scope's release
    raw = persist_shared(raw)
    corrupt = raw.where(F.col(_CORRUPT).isNotNull()).select(
        F.col(_CORRUPT).alias("raw_line")
    )
    good = raw.where(F.col(_CORRUPT).isNull()).drop(_CORRUPT)
    docs = good.select(
        F.coalesce(
            F.col("doc_id"), F.abs(F.xxhash64(F.col("text")))
        ).alias("doc_id"),
        "text",
        "lang",
        F.coalesce(F.col("source"), F.lit(source)).alias("source"),
        F.coalesce(
            F.length(F.col("text")).cast("long"), F.lit(0)
        ).alias("n_chars"),
    )
    return docs, corrupt


def read_csv_documents(
    spark: SparkSession,
    path: str | Path,
    *,
    sep: str = "\t",
    source: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Delimited text shards (TSV by default) → same contract as
    :func:`read_jsonl_documents`: explicit schema, corrupt rows
    quarantined not dropped, derived fields recomputed."""
    read_schema = T.StructType(
        list(DOCUMENTS_SCHEMA.fields)
        + [T.StructField(_CORRUPT, T.StringType(), True)]
    )
    raw = persist_shared(  # same corrupt-column boundary as JSONL
        spark.read.schema(read_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", _CORRUPT)
        .option("sep", sep)
        .option("header", "true")
        .csv(str(path))
    )
    corrupt = raw.where(F.col(_CORRUPT).isNotNull()).select(
        F.col(_CORRUPT).alias("raw_line")
    )
    good = raw.where(F.col(_CORRUPT).isNull()).drop(_CORRUPT)
    docs = good.select(
        F.coalesce(
            F.col("doc_id"), F.abs(F.xxhash64(F.col("text")))
        ).alias("doc_id"),
        "text",
        "lang",
        F.coalesce(F.col("source"), F.lit(source)).alias("source"),
        F.coalesce(
            F.length(F.col("text")).cast("long"), F.lit(0)
        ).alias("n_chars"),
    )
    return docs, corrupt
