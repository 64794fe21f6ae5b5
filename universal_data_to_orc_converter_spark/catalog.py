"""Fixture-table catalog.

The reference's unit of data is "a directory of part files = one table"
(``data_to_orc_converter.sh:623``, README.md:189). Spark's native
``read.parquet`` / ``read.orc`` share that exact layout, so the catalog
is just a thin loader keyed by table name.

Tables (driver fixtures, one parquet per table — see TESTDATA.md):
    region nation customer supplier part orders lineitem
    events documents embeddings
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: Metadata-only schema cache, keyed by (path, mtime). ``read.parquet``
#: with schema inference costs ~100 ms of driver-side footer reading
#: per call; with an explicit schema it is ~23 ms (r15 measurement).
#: A real deployment gets this from the catalog (Hive metastore /
#: Iceberg manifest) — the moral equivalent of Spark's own per-session
#: file-listing cache (spark.sql.hive.filesourcePartitionFileCacheSize).
#: Strictly metadata: every query still computes from the parquet
#: bytes; the (mtime_ns, size) key invalidates the entry if a fixture
#: path is rewritten (tests rewrite tmp fixtures in place; r16 ADVICE:
#: second-granularity mtime could serve a stale schema to a same-second
#: rewrite, so the key is nanosecond mtime + file size). Bounded: the
#: oldest entry is evicted past _SCHEMA_CACHE_MAX (a long-lived session
#: over many tmp fixture dirs must not grow without bound).
_SCHEMA_CACHE: dict[tuple[str, int, int], StructType] = {}
_SCHEMA_CACHE_MAX = 512


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` with the footer-inference result memoized
    per (path, mtime_ns, size). First read infers and seeds the cache."""
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        return spark.read.parquet(path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        if len(_SCHEMA_CACHE) >= _SCHEMA_CACHE_MAX:
            _SCHEMA_CACHE.pop(next(iter(_SCHEMA_CACHE)))
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Small dimension tables that should always be broadcast when joined
#: against a fact table. At 100 TB the facts (lineitem/orders/events)
#: scale linearly while these stay tiny-to-moderate, so broadcasting
#: them removes a full shuffle of the fact side.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part", "customer"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def events_ts(df: DataFrame) -> DataFrame:
    """Surface ``events.ts`` as TIMESTAMP (ltz), whatever physical type
    the fixture generation shipped — the one rule every events reader
    (batch ``load`` and the streaming readers) applies.

    ``events.ts`` has shipped as TIMESTAMP(NANOS), which Spark surfaces
    as bigint under ``nanosAsLong``, and as plain timestamp[us]. We
    therefore probe the observed dtype and convert ns→µs only when the
    column arrives as bigint — never assume the unit. Truncating
    integer division matches DuckDB's ns→µs behavior, so oracle
    comparisons line up either way. ``timestamp_ntz`` is cast to
    TIMESTAMP so batch and stream paths agree on dtype (watermarks
    require ltz — EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE otherwise); the
    session timezone is pinned to UTC, so the cast is value-preserving.
    ``withColumn`` works on batch and streaming frames alike."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. Lazy: nothing is read until an action.
    ``events`` is read under ``nanosAsLong`` and its ``ts`` normalized
    by ``events_ts``."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return events_ts(_read_parquet(spark, table_path(sf_dir, name)))
    return _read_parquet(spark, table_path(sf_dir, name))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for ``spark.sql``."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
