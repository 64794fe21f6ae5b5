"""Similarity search over embeddings — SURVEY.md §2.I (EXT).

Two tiers, mirroring how a 100 TB pipeline actually runs ANN:

* **brute-force cosine top-k** (the correctness baseline): query
  vectors broadcast against the corpus; the dot product is a JVM
  higher-order function (`zip_with` + `aggregate`), no Python in the
  loop. Cost O(|corpus| · |queries| · dim) — fine for small query sets,
  the oracle for everything else.
* **LSH-bucketed ANN** (the scale path): normalized vectors hashed by
  random hyperplanes (BucketedRandomProjectionLSH, fixed seed), join
  only within buckets. Sub-linear candidate generation; recall is
  checked against the brute-force baseline in tests.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import query
from . import textprep

_N_QUERY_VECS = 3
_TOP_K = 10
#: the embeddings table's fixed dimensionality — imported from linalg
#: (the single source of truth) rather than re-stated as a literal, so
#: a corpus dim change cannot silently desynchronize the coalesce
#: fallback in _unit_vectors from the real contract (r11 ADVICE); used
#: only for the never-evaluated-row fallback — see the totality note.
from .linalg import DIM as _EMB_DIM  # noqa: E402


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double, accumulated left-to-right in index order (the
    same order DuckDB's list_dot_product uses, so results match
    bit-for-bit)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@query(
    "op_sim_topk",
    oracle=f"""
        WITH q AS (
          SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb
          FROM embeddings WHERE vec_id < {_N_QUERY_VECS}
        ),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        scored AS (
          SELECT q.q_id, e.vec_id,
                 list_dot_product(e.emb, q.q_emb)
                   / (sqrt(list_dot_product(e.emb, e.emb))
                      * sqrt(list_dot_product(q.q_emb, q.q_emb))) AS cosine
          FROM e, q
          WHERE e.vec_id <> q.q_id
        )
        SELECT q_id, vec_id, cosine
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                           ORDER BY cosine DESC, vec_id) AS rn
              FROM scored)
        WHERE rn <= {_TOP_K}
    """,
    notes="Brute-force cosine top-k, query side broadcast. vec_id "
    "tiebreak makes the k-selection total.",
    tags=("similarity",),
)
def op_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for a small query set. The corpus
    never shuffles: queries broadcast, scores reduce via per-partition
    top-k heaps (WindowGroupLimit) before the final exchange.

    r15 removed the upfront ``repartition(par, "vec_id")`` (a full
    corpus shuffle contradicting the op's own contract); r16 replaces
    the interpreted higher-order-function dot products with ONE
    Arrow-batched numpy pass against the collected query block (guide
    §4.2): the query side is ``_N_QUERY_VECS`` rows of bounded driver
    metadata — the same broadcast-small-side pattern as the ANN
    family's centers — and each corpus vector crosses the Python
    boundary exactly once. The kernel accumulates every dot product
    left-to-right in index order over float64 (vectorized across rows,
    scalar order per row), so every cosine is BIT-IDENTICAL to the
    previous zip_with/aggregate form and to DuckDB's
    list_dot_product oracle — verified by a full collect-compare and
    the unchanged oracle hash."""
    em = load(spark, sf_dir, "embeddings")
    q_rows = (
        em.filter(F.col("vec_id") < _N_QUERY_VECS)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
        .collect()
    )
    scored = em.select("vec_id", "embedding").mapInArrow(
        _make_topk_score_batches(q_rows),
        "q_id bigint, vec_id bigint, cosine double",
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
        .select("q_id", "vec_id", "cosine")
    )


def _make_topk_score_batches(q_rows):
    """Build the op_sim_topk scoring kernel: cosine of every (corpus
    row, query) pair, queries closed over as driver metadata.

    Exactness contract (the reason this is NOT a plain ``E @ Q.T``):
    the oracle and the former JVM form both accumulate Σ aᵢ·bᵢ
    LEFT-TO-RIGHT in index order over float64 (_dot's docstring), and
    BLAS matmuls use pairwise/blocked summation that can differ in the
    last ulp. The kernel therefore runs one vectorized
    ``acc += E[:, i] * q[i]`` loop per dim — the identical IEEE op
    sequence per row, vectorized across rows — for the pair dots, the
    corpus norms, and the (scalar) query norms. Division/sqrt/multiply
    are single correctly-rounded IEEE ops on both engines.

    Null/ragged handling mirrors zip_with/aggregate semantics: a NULL
    embedding, a NULL query vector, or a dimension mismatch (zip_with
    null-pads the shorter side) yields NULL cosine; a zero-norm row
    divides to ±inf/nan identically in numpy and the JVM."""
    import numpy as np

    qs = [
        (r["q_id"], None if r["q_emb"] is None
         else np.asarray(r["q_emb"], dtype=np.float64))
        for r in q_rows
    ]
    qnorms = []
    for _, qv in qs:
        if qv is None:
            qnorms.append(None)
            continue
        acc = 0.0
        for x in qv:
            acc += float(x) * float(x)
        qnorms.append(np.sqrt(acc))

    def score_batches(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0 or not qs:
                continue
            ids = batch.column("vec_id").to_numpy(zero_copy_only=False)
            col = batch.column("embedding")
            lens = col.value_lengths().to_numpy(zero_copy_only=False)
            uniform = (
                col.null_count == 0
                and n > 0
                and (lens == lens[0]).all()
            )
            out_q, out_v, out_c = [], [], []
            if uniform:
                d = int(lens[0])
                E = (
                    col.flatten()
                    .to_numpy(zero_copy_only=False)
                    .astype(np.float64)
                    .reshape(n, d)
                )
                # corpus norms: left-to-right accumulation per row
                en_acc = np.zeros(n, dtype=np.float64)
                for i in range(d):
                    en_acc += E[:, i] * E[:, i]
                enorm = np.sqrt(en_acc)
                for (qid, qv), qn in zip(qs, qnorms):
                    keep = ids != qid
                    if qv is None or len(qv) != d:
                        # zip_with null-pads mismatched dims -> NULL
                        cos = np.full(n, np.nan)
                        mask = np.zeros(n, dtype=bool)
                    else:
                        acc = np.zeros(n, dtype=np.float64)
                        for i in range(d):
                            acc += E[:, i] * qv[i]
                        with np.errstate(
                            divide="ignore", invalid="ignore"
                        ):
                            cos = acc / (enorm * qn)
                        mask = np.ones(n, dtype=bool)
                    out_q.append(np.full(keep.sum(), qid, dtype=np.int64))
                    out_v.append(ids[keep])
                    out_c.append(
                        pa.array(cos[keep], type=pa.float64(),
                                 mask=~mask[keep])
                    )
            else:
                # ragged/null fallback: scalar left-to-right per row
                rows = col.to_pylist()
                for (qid, qv), qn in zip(qs, qnorms):
                    vids, coss, valid = [], [], []
                    for rid, emb in zip(ids, rows):
                        if rid == qid:
                            continue
                        vids.append(rid)
                        if (
                            emb is None
                            or qv is None
                            or len(emb) != len(qv)
                        ):
                            coss.append(0.0)
                            valid.append(False)
                            continue
                        # emb values arrive as exact float32→double
                        # widenings, the same promotion the JVM cast does
                        dot = 0.0
                        nrm = 0.0
                        for i in range(len(qv)):
                            x = float(emb[i])
                            dot += x * float(qv[i])
                            nrm += x * x
                        with np.errstate(
                            divide="ignore", invalid="ignore"
                        ):
                            coss.append(
                                dot / (np.sqrt(nrm) * qn)
                            )
                        valid.append(True)
                    out_q.append(np.full(len(vids), qid, dtype=np.int64))
                    out_v.append(np.asarray(vids, dtype=np.int64))
                    out_c.append(
                        pa.array(
                            np.asarray(coss, dtype=np.float64),
                            type=pa.float64(),
                            mask=~np.asarray(valid, dtype=bool),
                        )
                    )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q), type=pa.int64()),
                    pa.array(np.concatenate(out_v), type=pa.int64()),
                    pa.concat_arrays(out_c),
                ],
                names=["q_id", "vec_id", "cosine"],
            )

    return score_batches


@query(
    "op_sim_ann_lsh",
    oracle=None,
    notes="Random-hyperplane LSH (BucketedRandomProjectionLSH, "
    "seed=42 → deterministic planes). Approximate by construction — "
    "rows-only check; recall vs op_sim_topk asserted in "
    "tests/test_quality.py (test_ann_lsh_recall_vs_brute_force and "
    "test_lsh_recall_on_clustered_corpus).",
    tags=("similarity", "approx"),
)
def op_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via bucketed random projections over L2-normalized vectors
    (unit-sphere euclidean distance is monotone in cosine, so the LSH
    preserves cosine ranking). Candidates come from
    approxSimilarityJoin — a bucket-equi-join, never a cross join."""
    par = spark.sparkContext.defaultParallelism
    em = load(spark, sf_dir, "embeddings").repartition(par, "vec_id")
    return lsh_topk(spark, em)


def lsh_topk(
    spark: SparkSession,
    em: DataFrame,
    n_query: int = _N_QUERY_VECS,
    top_k: int = _TOP_K,
) -> DataFrame:
    """LSH ANN core over any (vec_id, embedding) frame — shared by
    op_sim_ann_lsh and the clustered-corpus recall test (the same
    code-path-on-both-regimes evidence pattern as ivf_topk /
    ivfpq_topk)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    # _unit_vectors let-binds the norm outside the per-element
    # division (the O(dim²) duplication fix, r9 audit + r9 advice) —
    # reuse it instead of a third hand-rolled normalize.
    unit = _unit_vectors(em).select(
        "vec_id", array_to_vector(F.col("u")).alias("features")
    )
    if unit.isEmpty():
        # LSH fit on zero rows throws; an empty corpus has an empty
        # neighbor list (empty-corpus audit, r11-restart)
        return unit.limit(0).select(
            F.col("vec_id").alias("q_id"),
            "vec_id",
            F.lit(None).cast("double").alias("dist"),
        )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=0.5,
        numHashTables=8,
        seed=42,
    )
    model = lsh.fit(unit)
    queries_df = unit.filter(F.col("vec_id") < n_query)
    # threshold 1.5 ⇔ cosine ≳ −0.13 on unit vectors: wide enough that
    # a true top-10 neighbor of a random 64-dim query (cos ~0.2-0.4,
    # dist ~1.1-1.27) is never cut off by the radius, only by rank
    joined = model.approxSimilarityJoin(queries_df, unit, 1.5, distCol="dist")
    out = joined.select(
        F.col("datasetA.vec_id").alias("q_id"),
        F.col("datasetB.vec_id").alias("vec_id"),
        F.col("dist"),
    ).filter(F.col("q_id") != F.col("vec_id"))
    from pyspark.sql import Window as W

    w = W.partitionBy("q_id").orderBy(F.col("dist").asc(), "vec_id")
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .select("q_id", "vec_id", "dist")
    )


@query(
    "op_embedding_stats",
    oracle="""
        SELECT label,
               COUNT(*) AS n_vecs,
               CAST(MIN(len(embedding)) AS INT) AS min_dim,
               CAST(MAX(len(embedding)) AS INT) AS max_dim
        FROM embeddings
        GROUP BY label
    """,
    tags=("similarity",),
)
def op_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus sanity stats per label — the cheap pre-flight before any
    ANN run (dimension drift detection)."""
    em = load(spark, sf_dir, "embeddings")
    return em.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.min(F.size("embedding")).cast("int").alias("min_dim"),
        F.max(F.size("embedding")).cast("int").alias("max_dim"),
    )


@query(
    "op_dedup_embedding",
    oracle=f"""
        WITH e AS (
          SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
        ),
        scored AS (
          SELECT a.vec_id, b.vec_id AS nn_vec_id,
                 list_cosine_similarity(a.emb, b.emb) AS nn_cos
          FROM e a JOIN e b
            ON a.label = b.label AND a.vec_id <> b.vec_id
        ),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY nn_cos DESC, nn_vec_id) AS rn
          FROM scored
        )
        SELECT vec_id, nn_vec_id, nn_cos,
               CASE WHEN nn_cos >= 0.95 THEN TRUE ELSE FALSE END AS is_dup
        FROM ranked WHERE rn = 1
    """,
    notes="Embedding-cosine near-dup: nearest neighbor within the "
    "label block + duplicate flag at cos ≥ 0.95. The label join is "
    "the IVF-style blocking step — at 100 TB the block would be an "
    "ANN cell id, but the pipeline shape (block → score → top-1 → "
    "threshold) is identical. Cosines are bit-exact vs DuckDB "
    "(same left-to-right accumulation), so fully oracle-checked.",
    tags=("similarity", "dedup"),
)
def op_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-duplicate detection: per vector, its most
    similar neighbor within the same label block, flagged as duplicate
    above a cosine threshold. Blocking bounds the join to Σ|block|²
    instead of n². Label blocks are exact-oracle-checkable but their
    size follows label skew; op_dedup_embedding_cell is the same
    pipeline with the IVF cell id as the block — the scale path."""
    from pyspark.sql import Window as W

    par = spark.sparkContext.defaultParallelism
    em = load(spark, sf_dir, "embeddings").repartition(par, "vec_id")
    a = em.select("vec_id", "label", F.col("embedding").alias("emb_a"))
    b = em.select(
        F.col("vec_id").alias("nn_vec_id"),
        F.col("label").alias("label_b"),
        F.col("embedding").alias("emb_b"),
    )
    pairs = a.join(
        b,
        (F.col("label") == F.col("label_b"))
        & (F.col("vec_id") != F.col("nn_vec_id")),
    )
    cos = _dot(F.col("emb_a"), F.col("emb_b")) / (
        F.sqrt(_dot(F.col("emb_a"), F.col("emb_a")))
        * F.sqrt(_dot(F.col("emb_b"), F.col("emb_b")))
    )
    scored = pairs.select("vec_id", "nn_vec_id", cos.alias("nn_cos"))
    w = W.partitionBy("vec_id").orderBy(F.col("nn_cos").desc(), "nn_vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "nn_vec_id",
            "nn_cos",
            (F.col("nn_cos") >= 0.95).alias("is_dup"),
        )
    )


def _unit_vectors(em: DataFrame) -> DataFrame:
    """L2-normalized embeddings: (vec_id, u array<double>).

    The O(dim) norm must be evaluated ONCE per row, not once per
    element inside the divide lambda (O(dim²) — the textprep.let
    duplication class, r9 audit). The r9 attempt materialized the norm
    as an intermediate projected column, but CollapseProject inlines a
    non-cheap producer referenced exactly once, putting the aggregate
    right back inside the per-element lambda (r9 ADVICE, verified on
    the optimizedPlan). ``textprep.let`` survives the optimizer —
    the norm becomes a bound HOF lambda variable, which Catalyst
    cannot inline — asserted on the optimized plan by
    tests/test_plans.py::test_unit_vectors_norm_hoisted_out_of_lambda.
    """
    # NULL embeddings are excluded here, centrally, for every consumer
    # (LSH/IVF/PQ/cell-dedup): a null vector has no norm, no cell and
    # no neighbors — SQL-aggregate null semantics (dirty-corpus audit,
    # r11-restart; the clean fixtures make this a no-op).
    # The expression is ALSO made row-level TOTAL — never-null input
    # (dim-correct zero-vector fallback) and never-zero divisor — not
    # because rows can pass the filter null, but because downstream ML
    # joins make the optimizer INFER predicates like
    # isnotnull(hash(arrayToVector(u))) into the same Filter as the
    # isnotnull(embedding) conjunct, and codegen's common-
    # subexpression elimination evaluates the hoisted UDF chain
    # BEFORE the AND short-circuit: arrayToVector NPEs on null and
    # BLAS gemv rejects a dim-0 fallback (both measured on
    # op_sim_ann_lsh over the nullified corpus). A total, dim-correct
    # expression is the only predicate-placement-independent guard.
    # The zero-norm branch doubles as the all-zero-embedding guard
    # (ANSI mode turns its 0/0 into an exception): a zero vector
    # "normalizes" to itself.
    emb = F.coalesce(
        F.col("embedding"),
        F.array_repeat(F.lit(0.0).cast("float"), _EMB_DIM),
    )
    raw_norm = F.sqrt(
        F.aggregate(
            F.transform(emb, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    norm = F.when(raw_norm == 0.0, F.lit(1.0)).otherwise(raw_norm)
    # Zero-norm (all-zero) embeddings are excluded along with NULLs: a
    # zero vector has no direction, so under the vector-op null
    # contract it gets the same treatment as NULL — dropped here for
    # every consumer. (The oracle/brute-force semantics yield NULL
    # cosine for it via 0/0; keeping it would score cosine 0 and
    # silently diverge the ranking on a dirty corpus — r11 ADVICE.
    # The zero-norm FALLBACK above must stay regardless: codegen CSE
    # can evaluate the divide chain on rows this filter later drops.)
    sq_norm = F.aggregate(
        F.transform(
            F.col("embedding"), lambda x: x.cast("double") * x.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    em = em.filter(F.col("embedding").isNotNull() & (sq_norm > 0.0))
    return em.select(
        "vec_id",
        textprep.let(
            norm,
            lambda n: F.transform(emb, lambda x: x.cast("double") / n),
        ).alias("u"),
    )


#: Partitions of the IVF quantizer's training input. KMeans' seeded
#: k-means|| init samples partition by partition, so the fit reads a
#: fixed hash layout sorted by vec_id: the centroids then depend on the
#: corpus and the seed, never on the host's core count.
_FIT_PARTITIONS: int = 32


def _ivf_index(
    spark: SparkSession, unit: DataFrame, n_cells: int, n_assign: int = 1
) -> tuple[DataFrame, DataFrame]:
    """Coarse IVF quantizer: KMeans(seed=42) centroids over the unit
    vectors, each vector assigned to its ``n_assign`` nearest cells
    (n_assign>1 = index-side multi-probe: a vector near a Voronoi
    boundary lands in both adjacent cells, so boundary-straddling
    near-dup pairs still share a block). Returns (assigned
    [vec_id, u, cell], broadcast centers [cell, center]).

    The ml.KMeans fit (euclidean, 5 iterations, seed 42) was kept
    DELIBERATELY after an r10 experiment: a driver-side numpy fit on a
    bounded sample (FAISS-style, ~6 s cheaper at fixture scale) was
    built, measured, and REVERTED — converging the quantizer harder
    (best-of-16 kmeans++ restarts, Lloyd to convergence) RAISED
    coarse-fit quality but DROPPED IVF-PQ agreement 0.8→0.67: tighter
    cells make within-cell distances more uniform, which is precisely
    the regime where 4-bit ADC codes cannot order candidates
    (tests/test_quality.py::test_ivfpq_adc_error_is_resolution_bound
    documents the same effect from the code-width side). The loose
    5-iteration fit is load-bearing for the shipped PQ calibration;
    see PERF.md r10 "IVF quantizer experiment"."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import Window as W

    km = KMeans(k=n_cells, seed=42, maxIter=5, featuresCol="features")
    fit_input = (
        unit.repartition(_FIT_PARTITIONS, "vec_id")
        .sortWithinPartitions("vec_id")
        .select(array_to_vector("u").alias("features"))
    )
    model = km.fit(fit_input)
    centers = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    centers_df = F.broadcast(
        spark.createDataFrame(centers, "cell int, center array<double>")
    )
    # nearest cell(s) by dot product (unit vectors ⇔ cosine argmax)
    scored_cells = unit.crossJoin(centers_df).select(
        "vec_id",
        "u",
        "cell",
        _dot(F.col("u"), F.col("center")).alias("cell_score"),
    )
    w_assign = W.partitionBy("vec_id").orderBy(
        F.col("cell_score").desc(), "cell"
    )
    assigned = (
        scored_cells.withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") <= n_assign)
        .select("vec_id", "u", "cell")
    )
    return assigned, centers_df


#: Per-chunk score budget for the GEMM block kernel: one chunk's
#: similarity matrix holds at most this many float64s (2^21 ≈ 16 MiB),
#: so a task's peak memory is O(chunk·|block|) = O(budget) no matter
#: how large a skewed cell grows — the r10 verdict's `weak`: the
#: unchunked ``U @ U.T`` materialized the FULL |block|² matrix in one
#: task, which goes quadratic in RAM exactly when a hot cell
#: concentrates the corpus.
_GEMM_CHUNK_ELEMS: int = 1 << 21

#: Argmax tie tolerance for the block kernel. BLAS kernels for
#: different chunk shapes compute the SAME logical dot product to
#: different last-ulp values (measured: a 1-row GEMV and the full GEMM
#: disagree by 5.5e-17 on an exact-duplicate pair — found by the
#: hypothesis property test, tests/test_quality.py::
#: test_cell_block_chunking_property), so a raw argmax's tie-break
#: would depend on chunk width. Scores within this band of the row max
#: are treated as tied and broken to the SMALLEST index. 1e-9 sits far
#: above kernel summation noise (~dim·ulp ≈ 1e-13 at dim 256) and far
#: below any meaningful cosine distinction.
_ARGMAX_TIE_EPS: float = 1e-9


def _gemm_chunk_rows(n: int, budget: int = _GEMM_CHUNK_ELEMS) -> int:
    """Rows per GEMM chunk so one chunk's (rows × n) score matrix holds
    at most ``budget`` doubles; floor 1 (a single row-vs-block product
    is the irreducible minimum). Unit-tested against the bound in
    tests/test_quality.py."""
    return max(1, budget // max(n, 1))


def _cell_block_top1(pdf):
    """The GEMM block kernel of op_dedup_embedding_cell (module-level
    so tests exercise THE op's implementation, not a copy —
    tests/test_quality.py::test_cell_block_gemm_matches_pairwise_reference).
    MUST stay single-parameter: applyInPandas treats a two-parameter
    callable as the (key, pdf) signature. The budget-parameterized
    core is `_block_top1_chunked` (tested directly with forced tiny
    budgets)."""
    return _block_top1_chunked(pdf, _GEMM_CHUNK_ELEMS)


def _block_top1_chunked(pdf, _chunk_elems: int):
    """Rows are sorted by vec_id so argmax tie-breaks to the SMALLEST
    nn_vec_id, matching the window's (nn_cos desc, nn_vec_id asc)
    order. The product runs in row chunks of ``_gemm_chunk_rows(n)``
    with a running per-row argmax, so peak task memory is bounded by
    ``_chunk_elems`` doubles instead of |block|².

    The per-row selection is an EPSILON-TOLERANT argmax (scores within
    ``_ARGMAX_TIE_EPS`` of the row max tie-break to the smallest
    index, hence smallest vec_id after the sort): a raw argmax's
    tie-break would depend on chunk width, because BLAS kernels for
    different chunk shapes compute the same logical dot to different
    last-ulp values (see _ARGMAX_TIE_EPS). With the tolerant form the
    SELECTED neighbor is identical in every chunk width (hypothesis
    property test + forced-chunking equivalence test); the reported
    score can still carry the kernel's last-ulp — compare with
    tolerance, not bytes.

    Residual bound, stated honestly: a task still holds the block's
    VECTORS (|block|·dim doubles) — O(√n·dim) expected under the
    ⌈√n⌉-cell blocking, and the Arrow batch carries them in anyway.
    If a pathologically hot cell ever makes that the binding term,
    the next lever is a sub-block equi-join (row-chunks × full cell
    as separate tasks, argmax-merged by the existing downstream
    window) — a plan change, noted here so it isn't re-derived."""
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    n = len(pdf)
    if n < 2:
        return pd.DataFrame(
            {"vec_id": [], "nn_vec_id": [], "nn_cos": []}
        ).astype({"vec_id": "int64", "nn_vec_id": "int64",
                  "nn_cos": "float64"})
    U = np.stack(pdf["u"].to_numpy())
    ids = pdf["vec_id"].to_numpy()
    chunk = _gemm_chunk_rows(n, _chunk_elems)
    best_idx = np.empty(n, dtype=np.int64)
    best_cos = np.empty(n, dtype=np.float64)
    for lo in range(0, n, chunk):
        hi = min(lo + chunk, n)
        S = U[lo:hi] @ U.T  # (hi-lo) × n ≤ _chunk_elems doubles
        S[np.arange(hi - lo), np.arange(lo, hi)] = -np.inf  # self
        m = S.max(axis=1)
        # first column within eps of the row max = smallest tied index
        b = (S >= (m - _ARGMAX_TIE_EPS)[:, None]).argmax(axis=1)
        best_idx[lo:hi] = b
        best_cos[lo:hi] = S[np.arange(hi - lo), b]
    return pd.DataFrame(
        {
            "vec_id": ids,
            "nn_vec_id": ids[best_idx],
            "nn_cos": best_cos,
        }
    )


def _adaptive_n_cells(n: int) -> int:
    """⌈√n⌉ cells with a floor of 16 (and a cap of n so KMeans always
    has ≥1 point per requested center). √n is the standard IVF rule:
    it balances cell count against expected cell population √n, so
    Σ|block|² stays O(n·√n) instead of O(n²/n_cells) with a constant
    n_cells. Unit-tested in tests/test_quality.py."""
    ceil_sqrt = math.isqrt(n - 1) + 1 if n > 0 else 0
    return max(1, min(max(16, ceil_sqrt), n))


@query(
    "op_dedup_embedding_cell",
    oracle=None,
    notes="Scale path for op_dedup_embedding: blocking key is the IVF "
    "cell id (KMeans seed=42 → deterministic) instead of the data's "
    "label, so block size is bounded by cell population — which the "
    "quantizer balances — rather than by label skew. Model-dependent "
    "blocking ⇒ rows-only; recall of its is_dup pairs vs the exact "
    "label-blocked op_dedup_embedding is asserted in "
    "tests/test_quality.py.",
    tags=("similarity", "dedup", "approx"),
)
def op_dedup_embedding_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup detection blocked by IVF cell id. Same
    pipeline shape as op_dedup_embedding (block → score → top-1 →
    threshold) with Σ|block|² bounded by cell size: n_cells is DERIVED
    from the corpus as ⌈√n⌉ (floor 16 — `_adaptive_n_cells`, from a
    single bounded count, same cost class as the prefix ops' corpus
    certificates), keeping every block shuffle-partition-sized at
    100 TB, where a label/source block can be a constant fraction of
    the corpus. Vectors are assigned to their 2 nearest cells so
    boundary-straddling near-dup pairs still meet."""
    from pyspark.sql import Window as W

    par = spark.sparkContext.defaultParallelism
    em = load(spark, sf_dir, "embeddings").repartition(par, "vec_id")
    unit = _unit_vectors(em).cache()
    # bounded driver metadata: one long per partition → a sum. Also
    # warms the unit-vector cache the KMeans fit reads next.
    n = unit.count()
    if n < 2:
        # an upstream filter can legitimately empty the corpus (or
        # leave one vector, which has no possible neighbor); there is
        # nothing to block or score — empty result with the op's
        # schema, not a KMeans k<2 crash (empty/single-row-corpus
        # audits, r11-restart)
        unit.unpersist()
        return unit.limit(0).select(
            "vec_id",
            F.lit(None).cast("bigint").alias("nn_vec_id"),
            F.lit(None).cast("double").alias("nn_cos"),
            F.lit(None).cast("boolean").alias("is_dup"),
        )
    n_cells = _adaptive_n_cells(n)
    assigned, _ = _ivf_index(spark, unit, n_cells, n_assign=2)

    # Per-cell scoring as ONE numpy GEMM per block (applyInPandas)
    # instead of a pair self-join + interpreted per-pair dot: the pair
    # join materialized |block|² rows each carrying TWO dim-length
    # arrays through the shuffle, and the HOF dot is interpreted
    # (never codegen). Here each vector crosses the shuffle once per
    # assigned cell, the |block|² work happens inside BLAS, and only
    # |block| top-1 rows come back — measured 6.8 s → <1 s on the
    # scoring stage at sf0.1 (PERF.md r10). Rows are sorted by vec_id
    # inside the block so argmax tie-breaks to the SMALLEST nn_vec_id,
    # matching the window's (nn_cos desc, nn_vec_id asc) order.
    scored = assigned.groupBy("cell").applyInPandas(
        _cell_block_top1, "vec_id long, nn_vec_id long, nn_cos double"
    )
    # a vector assigned to 2 cells has one top-1 row per cell (a pair
    # sharing both cells scores identically); the global window keeps
    # the best
    w = W.partitionBy("vec_id").orderBy(F.col("nn_cos").desc(), "nn_vec_id")
    out = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "nn_vec_id",
            "nn_cos",
            (F.col("nn_cos") >= 0.95).alias("is_dup"),
        )
    )
    try:
        # per-vector output: materialize eagerly so the unit-vector
        # cache can be released (the caller-owned-cache leak this
        # file's text-op siblings already fixed — review finding)
        return out.localCheckpoint(eager=True)
    finally:
        unit.unpersist()


def ivf_topk(
    spark: SparkSession,
    em: DataFrame,
    n_cells: int = 16,
    n_probe: int = 4,
    n_query: int = _N_QUERY_VECS,
    top_k: int = _TOP_K,
) -> DataFrame:
    """IVF-Flat search core over any (vec_id, embedding) DataFrame:
    train the coarse quantizer, assign corpus vectors to their nearest
    cell, probe the ``n_probe`` best cells per query (queries =
    vec_id < n_query), exact cosine within probed cells, top-k. Shared
    by op_sim_ann_ivf (fixture corpus) and the clustered-corpus recall
    test in tests/test_quality.py — same code path, different data
    regime.

    ``n_cells`` stays an EXPLICIT caller knob here (unlike
    op_dedup_embedding_cell, which derives ⌈√n⌉ via
    `_adaptive_n_cells`): for SEARCH, recall is set by the FRACTION
    of cells probed (n_probe/n_cells), so the two knobs must be
    calibrated jointly — silently growing n_cells with the corpus
    while n_probe stays put would quietly collapse recall. Callers
    scaling the corpus should scale both (√n cells with √n-
    proportional n_probe is the standard operating point)."""
    from pyspark.sql import Window as W

    par = spark.sparkContext.defaultParallelism
    em = em.repartition(par, "vec_id")
    unit = _unit_vectors(em).cache()
    n = unit.count()
    if n < 2:
        # zero vectors: nothing to train the quantizer on; one
        # vector: no possible neighbor (candidates exclude self) —
        # empty search result, not a KMeans-fit crash
        # (empty/single-row-corpus audits, r11-restart)
        unit.unpersist()
        return unit.limit(0).select(
            F.col("vec_id").alias("q_id"),
            "vec_id",
            F.lit(None).cast("double").alias("cosine"),
        )
    # each corpus vector in exactly its nearest cell; cells clamp to
    # the corpus so tiny inputs stay valid KMeans problems (the
    # fixture regime n >= n_cells is unchanged)
    assigned, centers_df = _ivf_index(
        spark, unit, max(2, min(n_cells, n)), n_assign=1
    )

    # queries probe their n_probe best cells
    queries_df = assigned.filter(F.col("vec_id") < n_query).select(
        F.col("vec_id").alias("q_id"), F.col("u").alias("q_u")
    )
    probe = (
        queries_df.crossJoin(centers_df)
        .select(
            "q_id", "q_u", "cell",
            _dot(F.col("q_u"), F.col("center")).alias("cell_score"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("q_id").orderBy(F.col("cell_score").desc(), "cell")
            ),
        )
        .filter(F.col("rn") <= n_probe)
        .select("q_id", "q_u", "cell")
    )

    # exact cosine, but only within probed cells
    cand = probe.join(assigned, "cell").filter(F.col("vec_id") != F.col("q_id"))
    cos = _dot(F.col("q_u"), F.col("u"))
    w_rank = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), "vec_id")
    out = (
        cand.select("q_id", "vec_id", cos.alias("cosine"))
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= top_k)
        .select("q_id", "vec_id", "cosine")
    )
    try:
        # top-k rows: eager materialize, then release the unit cache
        return out.localCheckpoint(eager=True)
    finally:
        unit.unpersist()


@query(
    "op_sim_ann_ivf",
    oracle=None,
    notes="IVF-Flat ANN: KMeans(seed=42) coarse quantizer → queries "
    "probe the nprobe=4 nearest cells → exact cosine within probed "
    "cells. Deterministic (seeded init over a deterministic input "
    "partitioning) but model-dependent — rows-only; recall vs "
    "op_sim_topk asserted in tests/test_quality.py. Note: the random "
    "fixture vectors are IVF's worst case (no cluster structure, so "
    "true neighbors scatter uniformly — recall ~53% at 25% of cells "
    "probed ≈ the information-theoretic floor); real embedding "
    "corpora cluster, which is the regime IVF exists for — the "
    "clustered-corpus recall test in tests/test_quality.py runs this "
    "same ivf_topk code path at ≥0.9 recall.",
    tags=("similarity", "approx"),
)
def op_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-file ANN: the corpus is partitioned into Voronoi cells
    by a trained coarse quantizer; a query scores only the few cells
    whose centroids are nearest. At 100 TB the cell id becomes the
    table's partition key, so a query's probe set maps to partition
    pruning — the scan never touches the other cells."""
    return ivf_topk(spark, load(spark, sf_dir, "embeddings"))


@query(
    "op_sim_ann_ivfpq",
    oracle=None,
    notes="IVF-PQ ANN: coarse quantizer (KMeans seed=42) + per-subspace "
    "product-quantization codebooks (seeded numpy Lloyd on a "
    "deterministic sample) -> 8-byte codes per vector -> ADC "
    "(asymmetric distance computation) candidate scoring -> exact "
    "re-rank of the ADC top-3k. Deterministic but model-dependent => "
    "rows-only; recall vs the exact-scoring op_sim_ann_ivf over the "
    "same probed cells is asserted in tests/test_quality.py.",
    tags=("similarity", "approx"),
)
def op_sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ over the embeddings fixture (core: ivfpq_topk)."""
    return ivfpq_topk(spark, load(spark, sf_dir, "embeddings"))


def ivfpq_topk(
    spark: SparkSession,
    em: DataFrame,
    n_cells: int = 16,
    n_probe: int = 4,
    n_sub: int = 8,
    n_codes: int = 16,
    n_query: int = _N_QUERY_VECS,
    top_k: int = _TOP_K,
    rerank_factor: int = 3,
) -> DataFrame:
    """IVF-PQ search core over any (vec_id, embedding) frame — shared
    by op_sim_ann_ivfpq and the clustered-corpus recall test.
    ``n_cells``/``n_probe`` are joint caller knobs (see ivf_topk's
    docstring for why search does NOT auto-derive cell count).
    ``rerank_factor`` sizes the exact-re-rank shortlist
    (rerank_factor * top_k): the knob that trades ADC distortion for
    re-rank cost — tightly-clustered corpora need a deeper shortlist
    because the true top-k are fine distinctions among near-identical
    distances that 4-bit sub-codes cannot order. Measured (r6,
    tests/test_quality.py::test_ivfpq_adc_error_is_resolution_bound):
    ADC-only recall on the clustered fixture is resolution-bound —
    0.495 at the default 8x16 codes (4 B/vec), 0.90 at FAISS-default
    PQ16x8 (16 B/vec) — so at high compression the re-rank is
    REQUIRED, and the remedy scales with code width, not probe count.

    The 100 TB shape for ANN candidate scoring. Vectors are
    stored as (cell, 8 sub-codes) — 8 bytes instead of 256+ — so the
    probe stage streams codes, not vectors; ADC turns each query into
    8 lookup tables of 16 entries and scores candidates with gathers;
    only the ADC top-3k per query fetch their full vectors for the
    exact re-rank. Codebooks train on a bounded deterministic sample
    — deliberately NOT corpus-scale distributed KMeans: sampled
    codebook training is the standard PQ recipe (a few hundred points
    per centroid suffices; FAISS trains exactly this way), and the
    encode pass that follows IS distributed, so corpus size only ever
    touches the Arrow-batched encoder."""
    import numpy as np
    from pyspark.sql import Window as W

    rerank = rerank_factor * top_k

    par = spark.sparkContext.defaultParallelism
    em = em.repartition(par, "vec_id")
    unit = _unit_vectors(em).cache()
    n = unit.count()
    if n < 2:
        # same degradation as ivf_topk: no quantizer, no codebooks,
        # no candidates (empty/single-row-corpus audits, r11-restart)
        unit.unpersist()
        return unit.limit(0).select(
            F.col("vec_id").alias("q_id"),
            "vec_id",
            F.lit(None).cast("double").alias("cosine"),
        )
    assigned, centers_df = _ivf_index(
        spark, unit, max(2, min(n_cells, n)), n_assign=1
    )
    centers = {
        r["cell"]: np.array(r["center"], dtype=np.float64)
        for r in centers_df.collect()
    }
    dim = len(next(iter(centers.values())))
    sub = dim // n_sub

    # --- train PQ codebooks on a deterministic bounded sample of
    # residuals (vector - its cell centroid), one codebook per subspace
    samp = (
        assigned.orderBy("vec_id")
        .limit(2048)
        .select("vec_id", "u", "cell")
        .collect()
    )
    res = np.stack(
        [np.array(r["u"], dtype=np.float64) - centers[r["cell"]] for r in samp]
    )
    rng = np.random.default_rng(42)

    def lloyd(x, k, iters=10):
        cb = x[rng.choice(len(x), size=k, replace=False)]
        for _ in range(iters):
            d2 = ((x[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            for j in range(k):
                m = a == j
                if m.any():
                    cb[j] = x[m].mean(axis=0)
        return cb

    # code count clamps to the sample so the seeded init can draw
    # without replacement on tiny corpora (fixture regime unchanged)
    n_codes = min(n_codes, len(res))
    codebooks = np.stack(
        [
            lloyd(res[:, m * sub : (m + 1) * sub], n_codes)
            for m in range(n_sub)
        ]
    )  # (n_sub, n_codes, sub)

    # --- encode every vector: 8 sub-codes via nearest codeword on the
    # residual, vectorized per Arrow batch
    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            u = np.stack(pdf["u"].to_numpy())
            cell = pdf["cell"].to_numpy()
            cent = np.stack([centers[c] for c in cell])
            r = u - cent
            codes = np.empty((len(pdf), n_sub), dtype=np.int32)
            for m in range(n_sub):
                xm = r[:, m * sub : (m + 1) * sub]
                d2 = (
                    (xm[:, None, :] - codebooks[m][None, :, :]) ** 2
                ).sum(axis=2)
                codes[:, m] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cell": cell,
                    "codes": list(codes),
                }
            )

    encoded = assigned.mapInPandas(
        encode, "vec_id bigint, cell int, codes array<int>"
    )

    # --- queries probe their n_probe nearest cells
    qdf = assigned.filter(F.col("vec_id") < n_query).select(
        F.col("vec_id").alias("q_id"), F.col("u").alias("q_u")
    )
    probe = (
        qdf.crossJoin(centers_df)
        .select(
            "q_id", "q_u", "cell",
            _dot(F.col("q_u"), F.col("center")).alias("cell_score"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("q_id").orderBy(F.col("cell_score").desc(), "cell")
            ),
        )
        .filter(F.col("rn") <= n_probe)
        .select("q_id", "q_u", "cell")
    )

    # --- ADC: score = q . center_cell + sum_m lut[m][code_m], where
    # lut[m][j] = q_m . codebook[m][j]; gathers only, no vector reads
    cand = probe.join(encoded, "cell").filter(F.col("vec_id") != F.col("q_id"))

    def adc(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            qu = np.stack(pdf["q_u"].to_numpy())
            cell = pdf["cell"].to_numpy()
            codes = np.stack(pdf["codes"].to_numpy())
            cent = np.stack([centers[c] for c in cell])
            base = (qu * cent).sum(axis=1)
            score = base
            for m in range(n_sub):
                qm = qu[:, m * sub : (m + 1) * sub]
                # (rows, n_codes) lut for this subspace, then gather
                lut = qm @ codebooks[m].T
                score = score + lut[np.arange(len(pdf)), codes[:, m]]
            yield pd.DataFrame(
                {
                    "q_id": pdf["q_id"],
                    "vec_id": pdf["vec_id"],
                    "adc": score,
                }
            )

    scored = cand.mapInPandas(adc, "q_id bigint, vec_id bigint, adc double")
    w_adc = W.partitionBy("q_id").orderBy(F.col("adc").desc(), "vec_id")
    short = (
        scored.withColumn("rn", F.row_number().over(w_adc))
        .filter(F.col("rn") <= rerank)
        .select("q_id", "vec_id")
    )

    # --- exact re-rank: only the ADC short-list fetches full vectors
    qv = qdf.select("q_id", F.col("q_u").alias("qq"))
    uv = unit.select("vec_id", F.col("u").alias("uu"))
    w_rank = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), "vec_id")
    out = (
        short.join(F.broadcast(qv), "q_id")
        .join(uv, "vec_id")
        .select("q_id", "vec_id", _dot(F.col("qq"), F.col("uu")).alias("cosine"))
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= top_k)  # the parameter, not _TOP_K
        .select("q_id", "vec_id", "cosine")
    )
    try:
        # top-k rows: eager materialize, then release the unit cache
        return out.localCheckpoint(eager=True)
    finally:
        unit.unpersist()


@query(
    "op_embedding_quantize",
    oracle="""
        WITH s AS (
          SELECT vec_id, embedding,
                 list_max(list_transform(embedding, x -> abs(x))) AS scale
          FROM embeddings
        ),
        q AS (
          SELECT vec_id, embedding, scale,
                 list_transform(embedding, x ->
                   CASE WHEN scale = 0 THEN 0
                        ELSE CAST(FLOOR(x * 127.0 / scale + 0.5) AS INTEGER)
                   END) AS codes
          FROM s
        )
        SELECT vec_id,
               CAST(scale AS DOUBLE) AS scale,
               array_to_string(codes, ',') AS codes,
               CAST(list_sum(list_transform(range(1, len(embedding) + 1), i ->
                      CAST(FLOOR((embedding[i] - codes[i] * (CAST(scale AS DOUBLE) / 127.0))
                                 * (embedding[i] - codes[i] * (CAST(scale AS DOUBLE) / 127.0))
                                 * 1000000000000.0 + 0.5) AS BIGINT)))
                    AS DOUBLE)
                 / 1000000000000.0 / len(embedding) AS mse
        FROM q
    """,
    notes="Int8 embedding quantization (symmetric absmax — the "
    "compression every 100 TB vector store applies before serving): "
    "per-vector scale = max|x|, codes = round(x*127/scale), plus the "
    "exact reconstruction MSE. The MSE is a fixed-point integer sum "
    "(floor(err*1e12+0.5) per element) so it is order-independent and "
    "hash-identical across engines — the float32→double promotions "
    "and round-half-up are the same IEEE ops on both sides. Zero "
    "shuffle: pure map stage.",
    tags=("similarity", "training"),
)
def op_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantize embeddings to int8 with per-vector absmax scales."""
    em = load(spark, sf_dir, "embeddings")
    scale = F.array_max(F.transform("embedding", lambda x: F.abs(x)))
    with_scale = em.select("vec_id", "embedding", scale.alias("scale"))
    codes = F.transform(
        "embedding",
        lambda x: F.when(F.col("scale") == 0, F.lit(0)).otherwise(
            F.floor(x * 127.0 / F.col("scale") + 0.5).cast("int")
        ),
    )
    with_codes = with_scale.withColumn("codes", codes)
    dscale = F.col("scale").cast("double")
    err = F.zip_with(
        "embedding",
        "codes",
        lambda x, c: F.floor(
            (x - c * (dscale / 127.0))
            * (x - c * (dscale / 127.0))
            * 1000000000000.0
            + F.lit(0.5)
        ).cast("bigint"),
    )
    # The driver's canonicalizer pandas-sorts every column and cannot
    # hash list cells (r4 red row) — emit codes as a canonical CSV
    # string on both sides instead of a raw array<int>.
    return with_codes.select(
        "vec_id",
        dscale.alias("scale"),
        F.array_join(
            F.transform("codes", lambda c: c.cast("string")), ","
        ).alias("codes"),
        (
            F.aggregate(err, F.lit(0).cast("bigint"), lambda a, e: a + e)
            .cast("double")
            / 1000000000000.0
            / F.size("embedding")
        ).alias("mse"),
    )
