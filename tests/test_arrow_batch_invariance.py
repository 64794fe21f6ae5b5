"""Arrow batch-width invariance sweep over every Arrow-batched kernel.

The r11 embedding-cell property test proved this bug class is real in
THIS repo: a kernel whose visible result depends on how rows are
batched (there, BLAS last-ulp drift across GEMM chunk widths flipped
an argmax tie). ``spark.sql.execution.arrow.maxRecordsPerBatch`` is
the engine-level knob that re-batches every ``mapInPandas`` /
``pandas_udf`` input: users (and Spark version bumps) change it
freely, so any op whose OUTPUT shifts with it is silently broken at
exactly the moment someone tunes Arrow transfer sizes on a large
cluster.

This sweep runs each registered op that routes through an Arrow
kernel twice — ambient batch width vs. a pathological width of 7 rows
— and asserts the result multiset is IDENTICAL (exact equality,
floats included: the same computation must not see batch boundaries).
``applyInPandas`` ops are included even though groups arrive whole:
their inputs often pass through an upstream ``mapInPandas`` stage and
the assertion is free.

Kernel inventory (every non-streaming mapInPandas/applyInPandas call
site, mapped to the registered op that exercises it):
  mapInPandas  — op_doc_winnow, op_dedup_minhash_lsh, op_dedup_simhash,
                 op_heavy_hitters, op_heavy_hitters_son,
                 op_distinct_intersection_kmv, op_curriculum_shards,
                 op_multimodal_meta/decode/audio, op_unigram_train,
                 op_kmeans + op_semdedup (kmeans_assignments),
                 op_sim_ann_ivf/op_sim_ann_ivfpq (encode + ADC scan)
  mapInArrow   — op_sim_topk (r16: cosine scoring vs the collected
                 query block; left-to-right accumulation per row, so
                 batch width is invisible by construction),
                 op_embedding_covariance (r16: per-batch int64 Q^T Q
                 partials; integer sums re-associate exactly, so
                 batch width is invisible by construction)
  applyInArrow — op_udtf_grouped_map, op_cogroup_asof (r15: moved off
                 applyInPandas; groups still arrive whole, so the
                 batch-width sweep still applies to their upstream)
  applyInPandas — op_dedup_embedding_cell (per-cell GEMM)
  pandas_udf   — op_udf_scalar, op_udaf (vectorized batch width is the
                 same knob; cross-row state would read boundaries)
Excluded, with reasons: streaming kernels (dedup_stream,
heavy_hitters_stream — stream-equals-batch tests already pin them to
batch ops swept here, and availableNow choreography is ~10 s per op);
maintenance.py's MG partials (store-writing maintenance op, covered by
its own maintain/replay tests — MG summaries are mergeable by
construction so batch splits only re-associate merges).
"""

from __future__ import annotations

import pytest

from universal_data_to_orc_converter_spark.registry import load_all_queries

from .conftest import SF_SMOKE, _norm

QUERIES = load_all_queries()

ARROW_OPS = [
    "op_doc_winnow",
    "op_dedup_minhash_lsh",
    "op_dedup_simhash",
    "op_heavy_hitters",
    "op_heavy_hitters_son",
    "op_distinct_intersection_kmv",
    "op_curriculum_shards",
    "op_multimodal_meta",
    "op_multimodal_decode",
    "op_multimodal_audio",
    "op_unigram_train",
    "op_kmeans",
    "op_semdedup",
    "op_sim_ann_ivf",
    "op_sim_ann_ivfpq",
    "op_sim_topk",
    "op_embedding_covariance",
    "op_udtf_grouped_map",
    "op_cogroup_asof",
    "op_dedup_embedding_cell",
    "op_udf_scalar",
    "op_udaf",
]

_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _rows(spark, name):
    df = QUERIES[name].fn(spark, SF_SMOKE)
    return sorted(
        (tuple(_norm(v) for v in r) for r in df.collect()), key=repr
    )


@pytest.mark.parametrize("name", ARROW_OPS)
def test_result_invariant_to_arrow_batch_width(spark, name):
    ambient = spark.conf.get(_KEY)
    base = _rows(spark, name)
    assert base, f"{name}: empty result makes this sweep vacuous"
    try:
        spark.conf.set(_KEY, "7")
        tiny = _rows(spark, name)
    finally:
        spark.conf.set(_KEY, ambient)
    assert tiny == base, (
        f"{name}: result changed when Arrow re-batched its input "
        f"(maxRecordsPerBatch 7 vs ambient {ambient}) — the kernel is "
        "reading batch boundaries"
    )


def test_sweep_covers_every_arrow_call_site():
    """Tripwire: a new mapInPandas/applyInPandas/pandas_udf call site
    must either join ARROW_OPS or be consciously excluded above."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "universal_data_to_orc_converter_spark"
    )
    sites = []
    for py in sorted(pkg.rglob("*.py")):
        if py.parts[-2] == "streaming":
            continue  # excluded class, see module docstring
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if re.search(
                r"\.(mapInPandas|applyInPandas|mapInArrow|applyInArrow)\(",
                line,
            ):
                sites.append(f"{py.name}:{i}")
    # one count per file; update BOTH this dict and ARROW_OPS (or the
    # exclusion notes) when a kernel is added or removed
    known = {
        "aggregates.py": 2,        # SON phase A, KMV partials
        "dedup.py": 2,             # minhash signatures, simhash
        "linalg.py": 2,            # kmeans_assignments (kmeans/semdedup),
                                   # covariance partials (mapInArrow, r16)
        "maintenance.py": 1,       # MG partials (excluded, mergeable)
        "multimodal.py": 2,        # decode digest, audio digest
        "sampling.py": 1,          # curriculum shard ranker
        "similarity.py": 4,        # cell GEMM, PQ encode, ADC scan,
                                   # sim_topk scoring (mapInArrow, r16)
        "text.py": 2,              # winnow, heavy-hitters
        "tokenizer_train.py": 2,   # unigram substr counts, EM e-step
        "udfs.py": 3,              # grouped map + cogroup as-of
                                   # (applyInArrow), mapInArrow norm
    }
    got: dict[str, int] = {}
    for s in sites:
        got[s.split(":")[0]] = got.get(s.split(":")[0], 0) + 1
    assert got == known, (
        "Arrow call-site census drifted — new kernel? Add it to "
        f"ARROW_OPS or the exclusion notes. Census: {got}"
    )


# ---------------------------------------------------------------------------
# shuffle-partition-width invariance (the second re-batching axis)
# ---------------------------------------------------------------------------

#: ops whose kernels hold PER-PARTITION state (sketches, local top-k,
#: samplers, partition-local ranks) — the ones where a result that
#: moves with spark.sql.shuffle.partitions is most conceivable. The
#: full registry was swept clean once (258/258 invariant, PERF.md
#: r11-restart; rerun: scripts/conf_invariance_audit.py
#: spark.sql.shuffle.partitions 5); this
#: standing subset keeps the riskiest class pinned in the suite.
PARTITION_STATE_OPS = [
    "op_heavy_hitters",
    "op_heavy_hitters_son",
    "op_distinct_intersection_kmv",
    "op_reservoir_sample",
    "op_epoch_shuffle",
    "op_curriculum_shards",
    "op_agg_salted_twophase",
    "op_agg_approx_quantile",
]

_PKEY = "spark.sql.shuffle.partitions"


@pytest.mark.parametrize("name", PARTITION_STATE_OPS)
def test_result_invariant_to_shuffle_partition_width(spark, name):
    ambient = spark.conf.get(_PKEY)
    base = _rows(spark, name)
    assert base, f"{name}: empty result makes this sweep vacuous"
    try:
        spark.conf.set(_PKEY, "5")
        narrow = _rows(spark, name)
    finally:
        spark.conf.set(_PKEY, ambient)
    assert narrow == base, (
        f"{name}: result changed with {_PKEY} (5 vs ambient {ambient})"
        " — the driver hash gate would break at any other cluster size"
    )
