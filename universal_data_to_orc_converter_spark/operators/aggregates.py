"""Aggregations — SURVEY.md §2.D.

The only aggregate in the reference is the COUNT(*) pre-pass that sizes
its chunk loop (data_to_orc_converter.sh:216); the full surface is the
README's analytical promise. All aggregates here are hash aggregates
with map-side partial aggregation — at 100 TB the shuffle carries one
partial row per (task × group), not the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..exprs import davg, dsum, revenue, sql_davg, sql_dsum
from ..registry import query


@query(
    "op_row_count",
    oracle="SELECT COUNT(*) AS n_rows FROM lineitem",
    tags=("agg",),
)
def op_row_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's one true aggregate (sh:216). In a DSv2 source
    this pushes down to metadata; on parquet it reads only footers."""
    return load(spark, sf_dir, "lineitem").agg(F.count("*").alias("n_rows"))


@query(
    "op_agg_global",
    oracle=f"""
        SELECT COUNT(*) AS n_rows,
               {sql_dsum("l_quantity", "sum_qty")},
               {sql_davg("l_extendedprice", "avg_price")},
               MIN(l_extendedprice) AS min_price,
               MAX(l_extendedprice) AS max_price
        FROM lineitem
    """,
    tags=("agg",),
)
def op_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped aggregate: partials per partition, single-row final."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        dsum(F.col("l_quantity"), "sum_qty"),
        davg(F.col("l_extendedprice"), "avg_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


@query(
    "op_agg_groupby",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {sql_dsum("l_quantity", "sum_qty")},
               {sql_dsum("l_extendedprice", "sum_base_price")},
               {sql_dsum("l_extendedprice * (1 - l_discount)", "sum_disc_price")},
               {sql_dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge")},
               {sql_davg("l_quantity", "avg_qty")},
               {sql_davg("l_extendedprice", "avg_price")},
               {sql_davg("l_discount", "avg_disc")},
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    notes="TPC-H Q1 pricing summary — the canonical wide-agg scan.",
    tags=("agg", "flagship"),
)
def op_agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: one scan, 8 aggregates, tiny
    group cardinality — the ideal map-side-combine workload."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp")
    )
    charge = (
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), "sum_qty"),
            dsum(F.col("l_extendedprice"), "sum_base_price"),
            dsum(revenue(), "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg(F.col("l_quantity"), "avg_qty"),
            davg(F.col("l_extendedprice"), "avg_price"),
            davg(F.col("l_discount"), "avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "op_agg_count_distinct",
    oracle="""
        SELECT o_orderstatus,
               COUNT(DISTINCT o_custkey) AS n_customers,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY o_orderstatus
    """,
    tags=("agg",),
)
def op_agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct count (expand + two-phase agg). At 100 TB prefer
    op_agg_approx_distinct unless exactness is contractual."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
    )


@query(
    "op_agg_approx_distinct",
    oracle=None,
    notes="HyperLogLog++ sketch — approximate by construction, so no "
    "SQL oracle; rows-only check. Deterministic for a fixed input "
    "partitioning. Validated in tests against exact count (rsd bound).",
    tags=("agg", "approx"),
)
def op_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++, rsd=0.01): constant memory per
    group — the 100 TB-safe distinct count."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", 0.01).alias("approx_customers")
    )


@query(
    "op_agg_rollup",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_rows,
               {sql_dsum("l_quantity", "sum_qty")}
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg",),
)
def op_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals; grouped-out keys surface as NULL in both
    engines."""
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"), dsum(F.col("l_quantity"), "sum_qty")
    )


@query(
    "op_agg_cube",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_rows,
               {sql_dsum("l_quantity", "sum_qty")}
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("agg",),
)
def op_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping-key combinations (2^k grouping sets)."""
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"), dsum(F.col("l_quantity"), "sum_qty")
    )


@query(
    "op_agg_gsets",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_rows,
               {sql_dsum("l_quantity", "sum_qty")}
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    tags=("agg",),
)
def op_agg_gsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets via Spark SQL (the DataFrame API exposes
    only rollup/cube; GROUPING SETS is SQL-level in both engines)."""
    # unique view name: never clobber a caller's own "lineitem" view
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("udoc_gsets_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_rows,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        FROM udoc_gsets_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "op_agg_having",
    oracle=f"""
        SELECT o_custkey,
               {sql_dsum("o_totalprice", "total_spent")},
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY o_custkey
        HAVING CAST(SUM(CAST(FLOOR(o_totalprice * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 > 400000.0
    """,
    tags=("agg",),
)
def op_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING) — a filter above the agg node;
    Catalyst cannot push it below, but the agg output is already tiny."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            dsum(F.col("o_totalprice"), "total_spent"),
            F.count("*").alias("n_orders"),
        )
        .filter(F.col("total_spent") > 400000.0)
    )


@query(
    "op_agg_percentile",
    oracle="""
        SELECT o_orderstatus,
               quantile_cont(o_totalprice, 0.5) AS p50,
               quantile_cont(o_totalprice, 0.9) AS p90,
               MIN(o_totalprice) AS p0,
               MAX(o_totalprice) AS p100
        FROM orders
        GROUP BY o_orderstatus
    """,
    notes="Exact interpolated percentiles: Spark percentile() and "
    "DuckDB quantile_cont() share the (1−f)·a[i] + f·a[i+1] "
    "definition over the same sorted values — verified bit-identical. "
    "At 100 TB swap to approx_percentile (KLL/GK sketch, rows-only).",
    tags=("agg",),
)
def op_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group. Exact percentile materializes the
    group's values — fine for bounded groups; the sketch variant is
    the unbounded-cardinality path."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
        F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
        F.min("o_totalprice").alias("p0"),
        F.max("o_totalprice").alias("p100"),
    )


@query(
    "op_agg_stats",
    oracle="""
        WITH m AS (
          SELECT l_returnflag,
                 COUNT(*) AS n,
                 CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s_q,
                 CAST(SUM(CAST(l_quantity AS BIGINT)
                          * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS ss_q,
                 CAST(SUM(CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))
                      AS DOUBLE) AS s_d,
                 CAST(SUM(CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)
                          * CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))
                      AS DOUBLE) AS ss_d,
                 CAST(SUM(CAST(l_quantity AS BIGINT)
                          * CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))
                      AS DOUBLE) AS s_qd
          FROM lineitem
          GROUP BY l_returnflag
        )
        SELECT l_returnflag,
               n,
               sqrt((ss_q - s_q * s_q / n) / (n - 1)) AS stddev_qty,
               (s_qd - s_q * s_d / n)
                   / (sqrt(ss_q - s_q * s_q / n) * sqrt(ss_d - s_d * s_d / n))
                   AS corr_qty_disc
        FROM m
    """,
    notes="stddev / correlation from exact integer moments (quantity "
    "is integral, discount is exact at 2dp): both engines accumulate "
    "identical integers and apply the identical closed form, so even "
    "second-moment statistics hash-match. Spark's own stddev/corr use "
    "Welford updates whose float error depends on partition order — "
    "unusable for cross-engine comparison.",
    tags=("agg",),
)
def op_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-class statistics via exact moment sums: one pass, one
    shuffle of 5 integers per group — the moment trick is also the
    scalable way to fuse many statistics into one aggregation."""
    li = load(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("bigint")
    dd = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("bigint")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(q).cast("double").alias("s_q"),
        F.sum(q * q).cast("double").alias("ss_q"),
        F.sum(dd).cast("double").alias("s_d"),
        F.sum(dd * dd).cast("double").alias("ss_d"),
        F.sum(q * dd).cast("double").alias("s_qd"),
    )
    n = F.col("n")
    stddev_qty = F.sqrt(
        (F.col("ss_q") - F.col("s_q") * F.col("s_q") / n) / (n - 1)
    )
    corr = (F.col("s_qd") - F.col("s_q") * F.col("s_d") / n) / (
        F.sqrt(F.col("ss_q") - F.col("s_q") * F.col("s_q") / n)
        * F.sqrt(F.col("ss_d") - F.col("s_d") * F.col("s_d") / n)
    )
    return m.select(
        "l_returnflag",
        "n",
        stddev_qty.alias("stddev_qty"),
        corr.alias("corr_qty_disc"),
    )


@query(
    "op_agg_mode",
    oracle="""
        SELECT c_nationkey, c_mktsegment AS mode_segment
        FROM (
          SELECT c_nationkey, c_mktsegment,
                 ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                    ORDER BY COUNT(*) DESC, c_mktsegment) AS rn
          FROM customer
          GROUP BY c_nationkey, c_mktsegment
        )
        WHERE rn = 1
    """,
    notes="Mode (most frequent value) per group with a lexicographic "
    "tiebreak — Spark's mode() picks an arbitrary value among ties, "
    "so the deterministic count+rank formulation is used on both "
    "sides.",
    tags=("agg",),
)
def op_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common market segment per nation (deterministic mode)."""
    from pyspark.sql import Window as W

    c = load(spark, sf_dir, "customer")
    counts = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("cnt")
    )
    w = W.partitionBy("c_nationkey").orderBy(
        F.col("cnt").desc(), "c_mktsegment"
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_nationkey", F.col("c_mktsegment").alias("mode_segment"))
    )


@query(
    "op_agg_salted_twophase",
    oracle=f"""
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               {sql_dsum("o_totalprice", "total_price")}
        FROM orders
        GROUP BY o_orderstatus
    """,
    notes="Explicit two-phase (salted) aggregation: partial sums per "
    "(key, salt) then a final merge per key — the oracle is the plain "
    "GROUP BY, proving the salted plan is semantically transparent. "
    "Because the partials are exact fixed-point integers, regrouping "
    "is lossless (a double partial sum would NOT be).",
    tags=("agg", "skew"),
)
def op_agg_salted_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof aggregation for hot keys: salt the key into 16
    subgroups, aggregate, then merge the partials.

    Scale posture: with a pathological key distribution (one status
    holding 90% of rows), a plain groupBy sends the hot key's entire
    volume to one reducer; salting bounds any reducer at 1/16 of the
    hot key. Spark's own partial aggregation usually makes this moot —
    this operator is the explicit form for aggregates where map-side
    combine is disabled (e.g. collect_list-class) or where AQE skew
    handling doesn't apply (it only splits JOIN partitions)."""
    o = load(spark, sf_dir, "orders")
    scaled = F.floor(F.col("o_totalprice") * 1_000_000 + F.lit(0.5)).cast(
        "decimal(18,0)"
    )
    partial = (
        o.withColumn("salt", F.pmod(F.col("o_orderkey"), F.lit(16)))
        .groupBy("o_orderstatus", "salt")
        .agg(
            F.count("*").alias("pn"),
            F.sum(scaled).alias("ps"),
        )
    )
    return partial.groupBy("o_orderstatus").agg(
        F.sum("pn").alias("n_orders"),
        (F.sum("ps").cast("double") / 1_000_000.0).alias("total_price"),
    )


@query(
    "op_agg_approx_quantile",
    oracle=None,
    notes="approx_percentile (Greenwald-Khanna sketch, accuracy 1e4) "
    "per order status — the unbounded-cardinality sibling of "
    "op_agg_percentile's exact interpolation. No SQL oracle (DuckDB's "
    "approx_quantile uses t-digest, a different sketch); instead "
    "tests/test_quality.py asserts every approx value sits within the "
    "GK rank-error bound of the exact percentile, and the driver's "
    "rows-only check asserts run-to-run determinism (GK merge is "
    "deterministic for a fixed partitioning).",
    tags=("agg", "approx"),
)
def op_agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles: the 100 TB path where exact
    percentile's per-group sort is unaffordable."""
    o = load(spark, sf_dir, "orders")
    acc = 10000
    return o.groupBy("o_orderstatus").agg(
        F.expr(f"approx_percentile(o_totalprice, 0.5, {acc})").alias("p50"),
        F.expr(f"approx_percentile(o_totalprice, 0.9, {acc})").alias("p90"),
        F.expr(f"approx_percentile(o_totalprice, 0.99, {acc})").alias("p99"),
    )


@query(
    "op_histogram",
    oracle="""
        WITH b AS (
          SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
          FROM orders
        )
        SELECT CASE WHEN hi = lo THEN 0
                    ELSE LEAST(CAST(FLOOR((o_totalprice - lo)
                                          / ((hi - lo) / 20.0)) AS BIGINT),
                               19) END AS bucket,
               COUNT(*) AS n
        FROM orders, b
        GROUP BY 1
    """,
    notes="Equal-width 20-bucket histogram with data-driven bounds. "
    "The [min,max] bounds come from a single-row aggregate cross-"
    "joined back (broadcast) — never a driver-side collect — so the "
    "two passes are two scans at 100 TB, both whole-stage-codegen "
    "maps. Bucket arithmetic is identical double ops on both engines "
    "(sub/div/floor are IEEE-exact), so the hash matches despite "
    "float bounds.",
    tags=("agg",),
)
def op_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution sketching: histogram of order totals."""
    o = load(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    return (
        o.crossJoin(F.broadcast(bounds))
        .select(
            # hi == lo (all-equal values) would make the width 0 and
            # the division NaN — Spark's non-ANSI cast silently maps
            # NaN to 0 while DuckDB errors, so both sides guard the
            # degenerate distribution into bucket 0 explicitly.
            F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("bigint"))
            .otherwise(
                F.least(
                    F.floor(
                        (F.col("o_totalprice") - F.col("lo"))
                        / ((F.col("hi") - F.col("lo")) / 20.0)
                    ).cast("bigint"),
                    F.lit(19).cast("bigint"),
                )
            )
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


@query(
    "op_zscore_anomaly",
    oracle="""
        WITH daily AS (
          SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                 COUNT(*) AS n
          FROM events GROUP BY 1, 2
        ),
        stats AS (
          SELECT event_type,
                 SUM(n) AS s, SUM(n * n) AS ss, COUNT(*) AS d
          FROM daily GROUP BY event_type
        )
        SELECT daily.event_type, day, n,
               (CAST(n AS DOUBLE) - CAST(s AS DOUBLE) / d)
                 / sqrt((CAST(ss AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / d) / d)
                 AS z
        FROM daily JOIN stats ON daily.event_type = stats.event_type
        WHERE ABS((CAST(n AS DOUBLE) - CAST(s AS DOUBLE) / d)
                 / sqrt((CAST(ss AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / d) / d))
              > 1.5
    """,
    notes="Volume-anomaly detection: daily event counts more than "
    "1.5 population-sigma from their type's mean. Moments are exact "
    "integer sums (never Welford/stddev builtins, which cross-engine "
    "drift — see exprs.py); mean/sigma/z are then the same IEEE double "
    "ops in the same order on both engines, so even the z values "
    "hash-match. Two shuffles at scale: daily rollup, then a tiny "
    "per-type stats broadcast join.",
    tags=("agg", "timeseries"),
)
def op_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose event volume is anomalous for their event type."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("n"))
    stats = daily.groupBy("event_type").agg(
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("ss"),
        F.count("*").alias("d"),
    )
    # try_divide: a type with ONE observed day has sigma 0, and ANSI
    # mode turns the 0/0 into an ArithmeticException where DuckDB
    # yields NULL (measured: DuckDB x/0 -> NULL) — null z is then
    # dropped by the same abs(z) > 1.5 filter on both engines; for
    # sigma > 0 try_divide is the identical IEEE division
    # (single-row-fixture audit, r11-restart)
    z = F.try_divide(
        F.col("n").cast("double") - F.col("s").cast("double") / F.col("d"),
        F.sqrt(
            (
                F.col("ss").cast("double")
                - F.col("s").cast("double")
                * F.col("s").cast("double")
                / F.col("d")
            )
            / F.col("d")
        ),
    )
    return (
        daily.join(F.broadcast(stats), "event_type")
        .select("event_type", "day", "n", z.alias("z"))
        .filter(F.abs(F.col("z")) > 1.5)
    )


@query(
    "op_table_stats",
    oracle="""
        SELECT 'l_quantity' AS col_name, COUNT(*) AS n_rows,
               COUNT(*) - COUNT(l_quantity) AS n_nulls,
               COUNT(DISTINCT l_quantity) AS n_distinct,
               CAST(MIN(l_quantity) AS DOUBLE) AS min_val,
               CAST(MAX(l_quantity) AS DOUBLE) AS max_val
        FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice', COUNT(*),
               COUNT(*) - COUNT(l_extendedprice),
               COUNT(DISTINCT l_extendedprice),
               CAST(MIN(l_extendedprice) AS DOUBLE),
               CAST(MAX(l_extendedprice) AS DOUBLE)
        FROM lineitem
        UNION ALL
        SELECT 'l_discount', COUNT(*), COUNT(*) - COUNT(l_discount),
               COUNT(DISTINCT l_discount),
               CAST(MIN(l_discount) AS DOUBLE),
               CAST(MAX(l_discount) AS DOUBLE)
        FROM lineitem
        UNION ALL
        SELECT 'l_tax', COUNT(*), COUNT(*) - COUNT(l_tax),
               COUNT(DISTINCT l_tax),
               CAST(MIN(l_tax) AS DOUBLE),
               CAST(MAX(l_tax) AS DOUBLE)
        FROM lineitem
    """,
    notes="ANALYZE-style per-column statistics (row count, nulls, "
    "exact NDV, min/max) — the warehouse-health op behind every "
    "cost-based optimizer and ingest audit. Spark computes all four "
    "columns' stats in ONE scan: a single multi-distinct aggregate "
    "(Catalyst's Expand handles the per-distinct duplication with "
    "map-side partials) then an explode of the packed stat structs "
    "into the per-column rows. The oracle spells the same numbers as "
    "four UNION ALL scans — per-engine plan freedom, identical "
    "values. At 100 TB swap exact NDV for approx_count_distinct "
    "(op_agg_approx_distinct is the engine's HLL tier).",
    tags=("agg", "io", "scale"),
)
def op_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of lineitem's numeric measures in one pass."""
    li = load(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"{c}_nn"),
            F.countDistinct(c).alias(f"{c}_nd"),
            F.min(c).cast("double").alias(f"{c}_min"),
            F.max(c).cast("double").alias(f"{c}_max"),
        ]
    one = li.agg(*aggs)
    packed = one.select(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("col_name"),
                    F.col("n_rows"),
                    (F.col("n_rows") - F.col(f"{c}_nn")).alias("n_nulls"),
                    F.col(f"{c}_nd").alias("n_distinct"),
                    F.col(f"{c}_min").alias("min_val"),
                    F.col(f"{c}_max").alias("max_val"),
                )
                for c in cols
            ]
        ).alias("stats")
    )
    return packed.select(F.explode("stats").alias("s")).select("s.*")


@query(
    "op_agg_conditional",
    oracle="""
        SELECT l.l_linestatus,
               CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count,
               CAST(COUNT(*) FILTER (WHERE l.l_returnflag = 'R') AS BIGINT)
                   AS returned_count
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate <  TIMESTAMP '1997-01-01'
        GROUP BY l.l_linestatus
    """,
    notes="TPC-H Q12 shape (adapted to the fixture's columns): "
    "conditional aggregation — CASE-sum pivoted counters plus a "
    "FILTER-clause count in one grouped pass. One fact-fact join, one "
    "rollup; the date predicate pushes to the lineitem scan. All "
    "integer arithmetic, exact on both engines.",
    tags=("agg", "join", "composite"),
)
def op_agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High/low-priority line counts per linestatus in a ship-date
    window — conditional counters inside a single aggregation."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    o = load(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0))
            .cast("bigint")
            .alias("low_line_count"),
            F.count_if(F.col("l_returnflag") == "R")
            .cast("bigint")
            .alias("returned_count"),
        )
    )


@query(
    "op_agg_listagg",
    oracle="""
        SELECT n.n_name,
               string_agg(s.s_name, ',' ORDER BY s.s_name) AS suppliers,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_name
    """,
    notes="Ordered string aggregation (LISTAGG / string_agg): names "
    "concatenated in an explicit ORDER BY inside the aggregate — "
    "without the order clause the result is partition-order-dependent "
    "and can never hash-match across engines. Spark 4's listagg "
    "supports ordered input via sort_array over collect_list "
    "semantics; here array_join(sort_array(collect_list(...))) spells "
    "it explicitly so the oracle equivalence is by construction.",
    tags=("agg",),
)
def op_agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comma-joined supplier names per nation, deterministically
    ordered inside the aggregate."""
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("s_name")), ","
            ).alias("suppliers"),
            F.count("*").cast("bigint").alias("n_suppliers"),
        )
    )


@query(
    "op_agg_bitwise",
    oracle="""
        SELECT event_type,
               CAST(bit_and(event_id) AS BIGINT) AS band,
               CAST(bit_or(event_id) AS BIGINT) AS bor,
               CAST(bit_xor(event_id) AS BIGINT) AS bxor
        FROM events
        GROUP BY event_type
    """,
    notes="Bitwise aggregates (bit_and/or/xor) — the flag-mask rollup "
    "(permission masks, feature bitmaps, bloom-ish membership "
    "folding). Associative + commutative, so map-side partials are "
    "free and the result is order-independent by algebra, not by "
    "convention.",
    tags=("agg",),
)
def op_agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type bitwise fold of event ids."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.bit_and("event_id").cast("bigint").alias("band"),
        F.bit_or("event_id").cast("bigint").alias("bor"),
        F.bit_xor("event_id").cast("bigint").alias("bxor"),
    )


@query(
    "op_agg_grouping_id",
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    notes="GROUPING() flags over grouping sets — the disambiguation "
    "every BI layer on top of the engine needs: a NULL grouping "
    "column can mean 'subtotal row' OR 'the data really was NULL', "
    "and only the grouping flag tells them apart. Emitted as one "
    "0/1 INT per grouping column (the portable decomposition of "
    "Spark's grouping_id() bitmask, which DuckDB numbers in the "
    "same column order via its own GROUPING()). Same Expand-based "
    "single-scan plan as op_agg_gsets.",
    tags=("agg",),
)
def op_agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-set subtotal rows with explicit grouping flags."""
    load(spark, sf_dir, "orders").createOrReplaceTempView(
        "udoc_gid_orders"
    )
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
               COUNT(*) AS n_orders
        FROM udoc_gid_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "op_skew_profile",
    oracle="""
        WITH c AS (
          SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(cnt) AS BIGINT) AS n_rows,
               CAST(MAX(cnt) AS BIGINT) AS max_cnt,
               CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) AS top1_share,
               quantile_cont(cnt, 0.5) AS p50_cnt,
               quantile_cont(cnt, 0.99) AS p99_cnt,
               CAST(MAX(cnt) AS DOUBLE) / quantile_cont(cnt, 0.5)
                 AS max_over_median
        FROM c
    """,
    notes="Key-skew diagnostic — the measurement you run BEFORE "
    "choosing a skew mitigation (op_join_salted / "
    "op_agg_salted_twophase / AQE skew join are the remedies; this "
    "op is the trigger). Two-level aggregate: per-key counts "
    "shuffle once on the key (map-side partial combine makes the "
    "exchange carry one row per key per mapper), then a single-row "
    "global profile — max/median ratio and top-1 share are the "
    "standard straggler predictors. Percentiles over the per-key "
    "count distribution use the same interpolated definition both "
    "engines share (see op_agg_percentile); the share/ratio "
    "divisions are single double ops on exact integers — "
    "bit-identical. At 100 TB the candidate-key profile is the "
    "cheapest full-data diagnostic there is: its output is O(1).",
    tags=("agg", "scale"),
)
def op_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row skew profile of the events.user_id key distribution."""
    e = load(spark, sf_dir, "events")
    c = e.groupBy("user_id").agg(F.count("*").alias("cnt"))
    return c.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
        (F.max("cnt").cast("double") / F.sum("cnt")).alias("top1_share"),
        F.expr("percentile(cnt, 0.5)").alias("p50_cnt"),
        F.expr("percentile(cnt, 0.99)").alias("p99_cnt"),
        (
            F.max("cnt").cast("double") / F.expr("percentile(cnt, 0.5)")
        ).alias("max_over_median"),
    )


@query(
    "op_winsorize",
    oracle=f"""
        WITH b AS (
          SELECT event_type,
                 quantile_cont(value, 0.05) AS lo,
                 quantile_cont(value, 0.95) AS hi
          FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               {sql_dsum("LEAST(GREATEST(e.value, b.lo), b.hi)",
                         "winsorized_sum")}
        FROM events e JOIN b USING (event_type)
        GROUP BY e.event_type
    """,
    notes="Winsorized (percentile-clamped) aggregation — the robust "
    "mean used to stop a handful of corrupt readings from dominating "
    "a metric. Two passes: per-group p05/p95 bounds (a scalars-only "
    "aggregate, one row per group), then a BROADCAST join of those "
    "bounds back onto the fact scan with LEAST/GREATEST clamping "
    "feeding the exact fixed-point sum. The bounds table stays tiny "
    "at any scale (|groups| rows), so the second pass adds zero "
    "shuffles beyond the final group agg; at 100 TB swap the exact "
    "percentile for approx_percentile and the shape is unchanged. "
    "Percentile interpolation and the clamp are bit-identical across "
    "engines (see op_agg_percentile).",
    tags=("agg", "scale"),
)
def op_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type sum of values clamped to the [p05, p95] band."""
    e = load(spark, sf_dir, "events")
    bounds = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("lo"),
        F.expr("percentile(value, 0.95)").alias("hi"),
    )
    clamped = e.join(F.broadcast(bounds), "event_type").withColumn(
        "v_w", F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    )
    return clamped.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        dsum(F.col("v_w"), "winsorized_sum"),
    )


@query(
    "op_agg_bucketed_no_shuffle",
    oracle=f"""
        SELECT o_custkey,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {sql_dsum("o_totalprice", "total_price")}
        FROM orders
        GROUP BY o_custkey
    """,
    notes="The aggregation sibling of op_join_bucketed: a groupBy on "
    "a table BUCKETED by the grouping key needs NO exchange at all — "
    "Catalyst sees the bucket layout already satisfies the "
    "aggregate's clustering requirement, so the whole plan is "
    "scan→hash-agg (zero-exchange, asserted in tests/test_plans.py). "
    "At 100 TB this is why fact tables are bucketed by their "
    "most-aggregated key: every per-key rollup afterwards is "
    "shuffle-free. The oracle is the identical aggregate over the "
    "raw parquet, so the bucketed write+read is also value-exact.",
    tags=("agg", "io", "scale"),
)
def op_agg_bucketed_no_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free per-customer rollup via bucket co-location."""
    from ..sinks.orc import write_orc_bucketed

    t = "q_bucketed_orders_cust"
    write_orc_bucketed(
        load(spark, sf_dir, "orders"), t, "o_custkey", n_buckets=8,
    )
    o = spark.table(t)
    return o.groupBy("o_custkey").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        dsum(F.col("o_totalprice"), "total_price"),
    )


@query(
    "op_heavy_hitters_son",
    oracle="""
        WITH keyed AS (
          SELECT CASE WHEN event_id % 10 < 4 THEN -1
                      WHEN event_id % 10 < 6 THEN -2
                      WHEN event_id % 10 < 7 THEN -3
                      ELSE event_id % 5000 END AS k
          FROM events
        )
        SELECT k, CAST(COUNT(*) AS BIGINT) AS n_occur
        FROM keyed
        GROUP BY k
        HAVING COUNT(*) * 100 > (SELECT COUNT(*) FROM keyed)
        ORDER BY n_occur DESC, k
    """,
    notes="EXACT heavy hitters with a BOUNDED shuffle — the "
    "SON/two-pass decomposition (Savasere-Omiecinski-Navathe, the "
    "MMDS frequent-items recipe): pass 1 counts each partition "
    "LOCALLY inside an Arrow batch iterator and forwards only keys "
    "beating the support threshold locally (count*100 > n_p) plus "
    "one per-partition total sentinel; since a globally-frequent key "
    "must be locally frequent in >=1 partition (sum argument), the "
    "candidate union provably contains every answer. Pass 2 "
    "broadcast-semi-joins the tiny candidate set and computes EXACT "
    "counts for candidates only. The shuffle therefore carries "
    "O(candidates) rows instead of |keyspace| — the difference vs "
    "op_token_topk's full-vocab exchange that matters when the key "
    "space is billions. The fixture's native keys are uniform (no "
    "key reaches any support level — measured r6), so the op derives "
    "a DOCUMENTED skewed key from event_id: three hot keys at "
    "40/20/10% plus a ~5000-key uniform tail; at 1% support exactly "
    "the three hot keys qualify and every tail key is pruned "
    "partition-locally. Oracle = the plain GROUP BY/HAVING over the "
    "same derived key.",
    tags=("agg", "udf", "scale"),
)
def op_heavy_hitters_son(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact support-1% heavy hitters via local-support pruning +
    exact candidate recount."""
    key = (
        F.when(F.col("event_id") % 10 < 4, F.lit(-1))
        .when(F.col("event_id") % 10 < 6, F.lit(-2))
        .when(F.col("event_id") % 10 < 7, F.lit(-3))
        .otherwise(F.col("event_id") % 5000)
        .cast("bigint")
    )
    keyed = load(spark, sf_dir, "events").select(key.alias("k"))

    def local_counts(batches):
        from collections import Counter

        import pandas as pd

        counts: Counter = Counter()
        n_p = 0
        for pdf in batches:
            n_p += len(pdf)
            counts.update(pdf["k"].astype("int64").tolist())
        # local-support survivors + the partition-total sentinel
        ks = [k for k, c in counts.items() if c * 100 > n_p]
        yield pd.DataFrame(
            {
                "k": pd.array(ks + [None], dtype="Int64"),
                "c": [counts[k] for k in ks] + [n_p],
            }
        )

    phase_a = keyed.mapInPandas(
        local_counts, "k bigint, c bigint"
    ).localCheckpoint(eager=True)  # one pass; reused for n and cands
    n = phase_a.filter(F.col("k").isNull()).agg(F.sum("c")).first()[0]
    cands = phase_a.filter(F.col("k").isNotNull()).select("k").distinct()
    return (
        keyed.join(F.broadcast(cands), "k", "left_semi")
        .groupBy("k")
        .agg(F.count("*").cast("bigint").alias("n_occur"))
        .filter(F.col("n_occur") * 100 > F.lit(int(n)))
        .orderBy(F.desc("n_occur"), "k")
    )


KMV_K = 2048


@query(
    "op_distinct_intersection_kmv",
    oracle="""
        WITH pairs AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b
          FROM (SELECT DISTINCT event_type FROM events) a
          JOIN (SELECT DISTINCT event_type FROM events) b
            ON a.event_type < b.event_type
        )
        SELECT p.type_a, p.type_b,
               CAST((SELECT COUNT(DISTINCT e1.user_id)
                     FROM events e1 JOIN events e2
                       ON e1.user_id = e2.user_id
                     WHERE e1.event_type = p.type_a
                       AND e2.event_type = p.type_b) AS BIGINT)
                 AS n_common_users
        FROM pairs p
        ORDER BY type_a, type_b
    """,
    notes="Distinct-set INTERSECTION counts via KMV (k-minimum-values) "
    "sketches — the set algebra HLL registers cannot do (HLL unions; "
    "it cannot intersect): per event_type the state is the k smallest "
    "xxhash64(user_id) values, built bottom-up as mergeable partials "
    "(per-partition k-min arrays -> flatten/dedup/sort/slice at the "
    "merge — union IS the KMV merge operator), and pairwise common-"
    "user counts come from intersecting the sketches driver-side "
    "(|types|^2/2 array intersections over k-length arrays — "
    "metadata math, like the PCA power iteration). EXACTNESS REGIME: "
    "with "
    "k=2048 >= the fixture's distinct users per type, the sketch IS "
    "the full hashed set, so intersections are exact and the SQL "
    "oracle pins them (the same documented-regime contract as the "
    "maintained-HLL rollup); below that regime KMV degrades to the "
    "standard estimator (error ~1/sqrt(k)), property-tested in "
    "tests/test_quality.py::test_kmv_estimator_below_exact_regime. "
    "At 100 TB the corpus shuffles only (type, k-min array) partials "
    "— state is k hashes per group per partition, never the user "
    "set.",
    tags=("agg", "approx", "scale"),
)
def op_distinct_intersection_kmv(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise common-distinct-user counts per event_type pair via
    mergeable KMV sketches (exact at this fixture's cardinality)."""
    return kmv_intersections(
        load(spark, sf_dir, "events"), KMV_K
    )


def kmv_intersections(e: DataFrame, k: int) -> DataFrame:
    """KMV build + pairwise intersection core (shared with the
    below-exact-regime property test)."""
    spark = e.sparkSession
    hashed = e.select(
        "event_type", F.xxhash64("user_id").alias("h")
    )

    def partition_kmv(batches):
        # truly k-BOUNDED per-partition state: per type, keep only the
        # k smallest hashes seen so far (numpy partial sort per Arrow
        # batch) — never the partition's full distinct set
        import numpy as np
        import pandas as pd

        state: dict[str, "np.ndarray"] = {}
        for pdf in batches:
            for typ, grp in pdf.groupby("event_type"):
                h = grp["h"].to_numpy(dtype="int64")
                prev = state.get(typ)
                merged = np.unique(
                    h if prev is None else np.concatenate([prev, h])
                )
                state[typ] = merged[:k]  # np.unique sorts ascending
        # dtype=object explicitly: an EMPTY partition yields empty
        # columns, and pandas defaults those to float64 — which Arrow
        # cannot convert to list<int64> (NumPyConverter crash; hit the
        # first time a fixture was large enough to leave a partition
        # empty, sf0.1 audit)
        yield pd.DataFrame(
            {
                "event_type": pd.Series(list(state), dtype="object"),
                "kmin": pd.Series(
                    [s.tolist() for s in state.values()], dtype="object"
                ),
            }
        )

    partial = hashed.mapInPandas(
        partition_kmv, "event_type string, kmin array<bigint>"
    )
    # merged per type with the KMV merge operator
    # (flatten -> dedup -> sort -> first k)
    sketches = partial.groupBy("event_type").agg(
        F.slice(
            F.sort_array(F.array_distinct(F.flatten(F.collect_list("kmin")))),
            1,
            k,
        ).alias("kmin")
    )
    # |types| sketches to the driver: bounded metadata (k hashes each)
    rows = sketches.collect()
    out = []
    for i, a in enumerate(rows):
        for b in rows[i + 1 :]:
            ta, tb = a["event_type"], b["event_type"]
            if ta > tb:
                ta, tb = tb, ta
                sa, sb = set(b["kmin"]), set(a["kmin"])
            else:
                sa, sb = set(a["kmin"]), set(b["kmin"])
            n_a, n_b = len(sa), len(sb)
            inter = sa & sb
            if n_a < k and n_b < k:
                # exact regime: both sketches hold their full sets
                est = len(inter)
            else:
                # standard KMV estimator: intersect within the unified
                # k-min window, scale by the union estimate
                union = sorted(sa | sb)[:k]
                tau = union[-1]
                window = set(union)
                jac = len(inter & window) / len(window)
                # guard the actual denominator, not tau itself: tau is
                # a SIGNED xxhash64 value, so the degenerate case is
                # tau == -2**63 (denominator 0), while tau == 0 is a
                # perfectly valid mid-range k-th minimum (the old
                # `if tau` guard crashed the former and zeroed the
                # latter — review finding)
                denom = tau + 2**63
                u_est = (k - 1) * (2**64) / denom if denom else 0
                est = int(round(jac * u_est))
            out.append((ta, tb, est))
    return spark.createDataFrame(
        sorted(out),
        "type_a string, type_b string, n_common_users bigint",
    )
