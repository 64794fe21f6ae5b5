"""Shared fixtures: one SparkSession per test run, DuckDB oracle
connection with fixture views registered, and the comparison helper
replicating the driver's gate (row count + schema + order-insensitive
value hash)."""

from __future__ import annotations

import math
import os
from datetime import date, datetime
from decimal import Decimal

import duckdb
import pytest

from universal_data_to_orc_converter_spark.catalog import TABLES, table_path
from universal_data_to_orc_converter_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("udoc-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{table_path(SF_DIR, t)}'"
        )
    yield con
    con.close()


def _norm(v):
    """Normalize a cell for cross-engine comparison."""
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bytearray):
        return bytes(v)
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def assert_frames_match(spark_df, duck_rel, name="", allow_complex=False):
    """Driver-gate replica: same row count, same column names, same
    multiset of value tuples (columns sorted by name, rows sorted).

    Unlike this repr-sorting replica, the DRIVER's canonicalizer
    pandas-``sort_values``-es every column and dies on unhashable cells
    (``TypeError: unhashable type: 'list'`` — the r4
    ``op_embedding_quantize`` red row). Reject array/map/struct output
    columns up front so a query that would crash the driver fails HERE
    first; stringify (``array_join`` / ``to_json``) on both sides
    instead, or pass ``allow_complex=True`` for internal-only
    comparisons that never reach the driver."""
    if not allow_complex:
        from pyspark.sql.types import ArrayType, MapType, StructType

        bad = [
            f.name
            for f in spark_df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        assert not bad, (
            f"{name}: columns {bad} are array/map/struct-typed — the "
            "driver's canonicalizer cannot hash them; emit a canonical "
            "string (array_join / to_json) on both sides"
        )
    s_cols = sorted(spark_df.columns)
    d_cols = sorted(duck_rel.columns)
    assert s_cols == d_cols, f"{name}: columns {s_cols} != {d_cols}"

    s_rows = [
        tuple(_norm(row[c]) for c in s_cols) for row in spark_df.collect()
    ]
    d_idx = {c: i for i, c in enumerate(duck_rel.columns)}
    d_rows = [
        tuple(_norm(r[d_idx[c]]) for c in s_cols) for r in duck_rel.fetchall()
    ]
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} != {len(d_rows)}"
    )
    s_sorted = sorted(s_rows, key=repr)
    d_sorted = sorted(d_rows, key=repr)
    mism = [
        (a, b) for a, b in zip(s_sorted, d_sorted) if a != b
    ]
    assert not mism, f"{name}: {len(mism)} mismatched rows; first: {mism[:3]}"


def _write_documents(spark, tmp_path, docs):
    """Write a documents.parquet fixture with the catalog schema."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": list(range(len(docs))),
            "text": docs,
            "lang": ["en"] * len(docs),
            "source": ["test"] * len(docs),
            "n_chars": [len(d) for d in docs],
        }
    )
    df = spark.createDataFrame(pdf)
    df = df.selectExpr(
        "CAST(doc_id AS BIGINT) doc_id",
        "text",
        "lang",
        "source",
        "CAST(n_chars AS BIGINT) n_chars",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)
