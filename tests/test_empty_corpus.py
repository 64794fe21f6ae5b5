"""Degenerate-input tests: empty relations, single rows, NULLs, empty
or one-token documents, all-equal values and zero-row Arrow batches.

At 100 TB an operator routinely receives an EMPTY relation — a
predicate that matches nothing, a partition-pruned read, an upstream
dedup that kept zero rows. Every op must degrade to a well-defined
(usually empty) result, not die on a driver-side ``first()[...]``, an
ML ``fit`` over zero rows, or a write-then-read whose dynamic-
partition write produced no schema-bearing files.

``scripts/empty_corpus_audit.py`` swept all 258 registered queries
and found 21 crashing; this module pins the fixed behavior for
exactly those ops (the other 237 passed the sweep — re-run the audit
script if a new op class appears). The zero-row fixture mirrors the
driver testdata layout: one single-file parquet per table with the
real generator's schema.

The tests at the end pin single regressions on degenerate inputs
where Spark and DuckDB could diverge, or where a kernel crashed.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from universal_data_to_orc_converter_spark.catalog import TABLES
from universal_data_to_orc_converter_spark.registry import load_all_queries

from .conftest import SF_SMOKE, _write_documents

QUERIES = load_all_queries()

#: the 21 ops the audit found crashing, by failure class
FIXED_OPS = [
    # driver-side first()/collect() on an empty aggregate
    "op_embedding_covariance",
    "op_pca_project",
    "op_curriculum_shards",
    "op_surrogate_key",
    "op_jdbc_roundtrip",
    "op_zorder_clustered_scan",
    # ML fit / quantizer training over zero rows
    "op_kmeans",
    "op_semdedup",
    "op_kcenter_coreset",
    "op_dedup_embedding_cell",
    "op_sim_ann_lsh",
    "op_sim_ann_ivf",
    "op_sim_ann_ivfpq",
    # write-then-read losing the schema on empty writes
    "op_orc_partitioned_scan",
    "op_partition_pruned_join",
    "op_incremental_file_ingest",
    # stream choreography anchored on data-derived driver values
    "op_stream_cdc_upsert",
    "op_stream_cdc_delete",
    "op_stream_interval_join_full",
    "op_stream_interval_join_outer",
    "op_stream_interval_join_right",
]


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory):
    import pyarrow.parquet as pq

    src = SF_SMOKE
    dst = tmp_path_factory.mktemp("sf_empty")
    for t in TABLES:
        tbl = pq.read_table(f"{src}/{t}.parquet")
        pq.write_table(tbl.slice(0, 0), str(dst / f"{t}.parquet"))
    return str(dst)


@pytest.mark.parametrize("name", FIXED_OPS)
def test_op_degrades_to_empty_result(spark, empty_sf, name):
    out = QUERIES[name].fn(spark, empty_sf)
    assert out.count() == 0
    # the schema must still be the op's real schema, not a collapsed
    # placeholder — column names are the contract the driver hashes
    assert out.columns, name


#: ops the SINGLE-ROW audit (n_rows=1 — the off-by-one boundary: one
#: vector has no possible neighbor, one observed day has sigma 0)
#: found crashing; fixed to degrade to zero rows
BOUNDARY_OPS = [
    "op_dedup_embedding_cell",  # adaptive n_cells clamped to k>=2 gate
    "op_sim_ann_ivf",           # quantizer cells clamp to the corpus
    "op_sim_ann_ivfpq",         # + PQ code count clamps to the sample
    "op_sim_ann_lsh",           # tolerant already — pinned here
    "op_zscore_anomaly",        # try_divide: sigma-0 day -> null z,
    #                             dropped by the filter on BOTH engines
    #                             (DuckDB x/0 is NULL — measured)
]


@pytest.fixture(scope="module")
def one_row_sf(tmp_path_factory):
    import pyarrow.parquet as pq

    src = SF_SMOKE
    dst = tmp_path_factory.mktemp("sf_one")
    for t in TABLES:
        tbl = pq.read_table(f"{src}/{t}.parquet")
        pq.write_table(tbl.slice(0, 1), str(dst / f"{t}.parquet"))
    return str(dst)


@pytest.mark.parametrize("name", BOUNDARY_OPS)
def test_op_degrades_on_single_row_corpus(spark, one_row_sf, name):
    out = QUERIES[name].fn(spark, one_row_sf)
    assert out.count() == 0
    assert out.columns, name


#: ops the DIRTY-CORPUS audit (every 3rd documents.text and
#: embeddings.embedding NULLed — the crawl regime the clean synthetic
#: fixtures never exercise) found crashing; fixed under the contract:
#: vector ops EXCLUDE null embeddings (SQL-aggregate null semantics,
#: mirrored in their oracles), media kernels skip null-text rows, and
#: the compression gate requires non-empty text. op_sim_ann_lsh also
#: pins a Spark-internals class: the optimizer infers
#: isnotnull(hash(arrayToVector(u))) predicates from the ML join into
#: the same Filter as the null guard, and codegen CSE evaluates the
#: hoisted UDF chain BEFORE the AND short-circuit — only a row-level
#: TOTAL expression (dim-correct never-null input, never-zero
#: divisor) survives arbitrary predicate placement.
DIRTY_OPS = [
    "op_compression_ratio",
    "op_dedup_embedding_cell",
    "op_kcenter_coreset",
    "op_kmeans",
    "op_mapinarrow_norm",
    "op_multimodal_audio",
    "op_multimodal_decode",
    "op_semdedup",
    "op_sim_ann_ivf",
    "op_sim_ann_ivfpq",
    "op_sim_ann_lsh",
    "op_sim_topk",
]


@pytest.fixture(scope="module")
def dirty_sf(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = SF_SMOKE
    dst = tmp_path_factory.mktemp("sf_dirty")
    null_cols = {"documents": "text", "embeddings": "embedding"}
    for t in TABLES:
        tbl = pq.read_table(f"{src}/{t}.parquet")
        if t in null_cols:
            c = null_cols[t]
            i = tbl.schema.get_field_index(c)
            mask = pa.array([j % 3 == 0 for j in range(len(tbl))])
            nulled = pc.if_else(
                mask,
                pa.nulls(len(tbl), type=tbl.schema.field(c).type),
                tbl.column(c).combine_chunks(),
            )
            tbl = tbl.set_column(i, tbl.schema.field(c), nulled)
        pq.write_table(tbl, str(dst / f"{t}.parquet"))
    return str(dst)


@pytest.mark.parametrize("name", DIRTY_OPS)
def test_op_survives_nullified_corpus(spark, dirty_sf, name):
    out = QUERIES[name].fn(spark, dirty_sf)
    # the non-null two-thirds of the corpus must still produce results
    assert out.count() > 0


def test_sim_topk_arrow_kernel_matches_hof_on_dirty_corpus(
    spark, dirty_sf
):
    """r16 moved op_sim_topk's scoring into a mapInArrow kernel whose
    contract is BIT-identity with the former zip_with/aggregate form
    (left-to-right float64 accumulation). The clean fixtures exercise
    only the kernel's uniform fast path; a nullified corpus (every 3rd
    embedding NULL) drives the null/ragged fallback. Compare against
    the JVM higher-order-function reference, doubles by bits."""
    import struct

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from universal_data_to_orc_converter_spark.catalog import load
    from universal_data_to_orc_converter_spark.operators.similarity import (
        _N_QUERY_VECS,
        _TOP_K,
        _dot,
    )

    em = load(spark, dirty_sf, "embeddings")
    q = em.filter(F.col("vec_id") < _N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    pairs = em.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("q_id")
    )
    cosine = _dot(F.col("embedding"), F.col("q_emb")) / (
        F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
        * F.sqrt(_dot(F.col("q_emb"), F.col("q_emb")))
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), "vec_id")
    ref = (
        pairs.select("q_id", "vec_id", cosine.alias("cosine"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
        .select("q_id", "vec_id", "cosine")
    )

    def canon(rows):
        return sorted(
            (
                r[0],
                r[1],
                None if r[2] is None else struct.pack("<d", r[2]).hex(),
            )
            for r in rows
        )

    got = canon(QUERIES["op_sim_topk"].fn(spark, dirty_sf).collect())
    want = canon(ref.collect())
    assert got == want


def test_unit_vectors_drop_zero_norm(spark):
    """Vector-op null contract, zero-vector clause (r11 ADVICE): an
    all-zero embedding has no direction, so ``_unit_vectors`` excludes
    it exactly like NULL. The brute-force/DuckDB semantics give it a
    NULL cosine (0/0) and never rank it; letting it through would
    score cosine 0 against everything and silently diverge the ANN
    ranking on a dirty corpus. No-op on the clean fixtures."""
    from universal_data_to_orc_converter_spark.operators.similarity import (
        _unit_vectors,
    )

    df = spark.createDataFrame(
        [(0, [3.0, 4.0]), (1, [0.0, 0.0]), (2, None), (3, [0.0, 1.0])],
        "vec_id bigint, embedding array<float>",
    )
    got = sorted(r["vec_id"] for r in _unit_vectors(df).collect())
    assert got == [0, 3]


def test_ivfpq_encode_guards_empty_batch():
    """encode() must skip zero-row Arrow batches like adc() does.
    Source-level check plus a direct empty-frame drive of the same
    np.stack call path the guard protects."""
    import inspect

    from universal_data_to_orc_converter_spark.operators import similarity

    src = inspect.getsource(similarity)
    # every mapInPandas closure that np.stack's a column must guard
    enc = src[src.index("def encode(") : src.index("encoded = assigned")]
    assert "if len(pdf) == 0" in enc, (
        "encode() lost its empty-batch guard — np.stack raises on "
        "zero-row batches"
    )


def test_collocations_survives_single_token_docs(spark, tmp_path):
    """1-token docs contribute no bigrams (DuckDB empty-series parity)."""
    docs = ["solo"] * 3 + ["pair bond"] * 25
    sf = _write_documents(spark, tmp_path, docs)
    q = load_all_queries()["op_collocations"]
    rows = q.fn(spark, sf).collect()  # round 1: ANSI crash here
    got = {(r["w1"], r["w2"]): r["n_ab"] for r in rows}
    assert got == {("pair", "bond"): 25}


def test_udaf_all_null_group_returns_null(spark, tmp_path):
    """SUM/MAX over an all-NULL '$.k' group must be NULL, not 0/crash."""
    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "ts": pd.to_datetime(["2024-01-01"] * 4),
            "user_id": [1, 1, 2, 2],
            "event_type": ["with_k", "with_k", "no_k", "no_k"],
            "value": [1.0, 2.0, 3.0, 4.0],
            "props": ['{"k": 3}', '{"k": 4}', "{}", '{"other": 1}'],
        }
    )
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    q = load_all_queries()["op_udaf"]
    got = {r["event_type"]: (r["total_k"], r["max_k"]) for r in q.fn(
        spark, str(tmp_path)
    ).collect()}
    assert got == {"with_k": (7, 4), "no_k": (None, None)}


def _compare(spark, sf_dir, name, tables):
    con = duckdb.connect()
    for t in tables:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    sdf = QUERIES[name].fn(spark, sf_dir)
    cols = sorted(sdf.columns)
    srows = sorted(map(tuple, sdf.select(*cols).collect()))
    opdf = con.sql(QUERIES[name].oracle).df()
    orows = sorted(map(tuple, opdf[cols].itertuples(index=False)))
    assert srows == orows, (name, srows[:3], orows[:3])


def test_span_corruption_empty_document(spark, tmp_path):
    """An all-whitespace document has zero tokens; sequence(0,-1) must
    NOT manufacture phantom blocks (it auto-steps downward) — both
    engines must yield zero blocks, empty corrupted/target."""
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["", "   ", "three little tokens here now"],
            "lang": ["en"] * 3,
            "source": ["t"] * 3,
            "n_chars": [0, 3, 29],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    _compare(spark, str(tmp_path), "op_span_corruption", ["documents"])


def test_histogram_all_equal_values(spark, tmp_path):
    """hi == lo makes the bucket width 0; Spark's NaN->0 cast and
    DuckDB's CAST error must both be short-circuited to bucket 0."""
    pd.DataFrame(
        {
            "o_orderkey": [1, 2, 3],
            "o_custkey": [1, 1, 2],
            "o_orderstatus": ["F", "O", "F"],
            "o_totalprice": [100.0, 100.0, 100.0],
            "o_orderdate": pd.to_datetime(["2020-01-01"] * 3).astype("datetime64[us]"),
            "o_orderpriority": ["1-URGENT"] * 3,
        }
    ).to_parquet(tmp_path / "orders.parquet")
    _compare(spark, str(tmp_path), "op_histogram", ["orders"])
