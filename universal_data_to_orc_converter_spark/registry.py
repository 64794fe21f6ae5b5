"""Query registry — the driver-facing correctness contract.

Every operator from SURVEY.md §2 lands here as a named query:
a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (when the
semantics are SQL-expressible) an equivalent ANSI-SQL oracle string that
DuckDB runs over the same parquet fixtures. ``__spark_entry__.py``
re-exports this registry verbatim, headliners first, then registration
order.

Conventions that keep the Spark result and the DuckDB oracle
bit-identical (the driver compares row count + schema + an
order-insensitive value hash):

* **Alias every computed column identically on both sides** — the
  driver sorts columns by name before hashing.
* **Sums over doubles go through exact fixed-point integers** (see
  ``exprs.py``): per-row ``FLOOR(x·10⁶ + 0.5)``, exact wide-integer
  accumulation, one final double division — order-independent and
  bit-identical across engines. A raw double SUM would differ in the
  last bits between any two engines (or any two runs) because float
  addition is not associative.
* **Averages** are written as ``CAST(SUM(dec) AS DOUBLE) / COUNT(x)``
  on both sides — identical operands, identical double division.
* **Top-k / LIMIT queries order by a total order** (unique-key
  tiebreakers) so both engines pick the same rows.
* **Integer-returning scalar funcs are cast explicitly** (DuckDB
  ``year()`` returns BIGINT, Spark ``year()`` returns INT, etc.).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None
    #: free-form notes for the judge (scale posture, why rows-only, ...)
    notes: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


QUERIES: dict[str, QuerySpec] = {}


def query(
    name: str,
    oracle: str | None = None,
    notes: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    """Register a query. ``oracle=None`` => driver runs rows-only check
    (reserved for genuinely non-SQL-expressible ops: approximate
    sketches, LSH, streaming state)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = QuerySpec(name, fn, oracle, notes, tags)
        return fn

    return deco


#: The queries bench.py times, in its order: the flagship star-join,
#: the wide aggregate scan, a fact-fact shuffle join, grouped top-k
#: (window), MinHash-LSH dedup, cosine top-k, event-time windowing and
#: text stats — one per operator family. ``load_all_queries`` returns
#: them first.
HEADLINE: tuple[str, ...] = (
    "flagship_revenue_by_nation",
    "op_agg_groupby",
    "op_join_shuffle",
    "op_win_topk_group",
    "op_dedup_minhash_lsh",
    "op_sim_topk",
    "op_stream_tumbling",
    "op_text_stats",
)


def load_all_queries() -> dict[str, QuerySpec]:
    """Import every module that registers queries, then return the
    registry with the ``HEADLINE`` names first, then everything else in
    registration order."""
    # Imports are side-effecting registrations; keep the list explicit so
    # a missing module is an ImportError, not silent lost coverage.
    from .operators import (  # noqa: F401
        aggregates,
        analytics,
        curate,
        dedup,
        graph,
        io,
        joins,
        linalg,
        maintenance,
        multimodal,
        relational,
        sampling,
        setops,
        similarity,
        sorts,
        subqueries,
        text,
        tokenizer_train,
        tpch,
        udfs,
        windows,
        zorder,
    )
    from .functions import scalar, semistructured  # noqa: F401
    from .sources import eventdump_writer, replay_stream  # noqa: F401
    from .streaming import (  # noqa: F401
        batch_windows,
        cdc,
        dedup_stream,
        heavy_hitters_stream,
    )

    ordered = {n: QUERIES[n] for n in HEADLINE}
    ordered.update((n, s) for n, s in QUERIES.items() if n not in ordered)
    return ordered

