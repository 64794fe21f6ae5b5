"""Joins — SURVEY.md §2.C.

The reference implements zero joins (its output is consumed by
Presto/Spark, README.md:211-219, which is where joins happen). Here they
are first-class, with the physical strategy chosen for 100 TB:

* constant-size dimensions (region = 5 rows, nation = 25 rows,
  literal bounds) carry an unconditional broadcast hint — no shuffle
  of the fact side at any scale;
* corpus-proportional dimensions (customer/part/supplier grow
  linearly with scale factor) carry NO static hint
  (plans.hints.hint_broadcast): size statistics broadcast them at
  fixture scale, and at 100 TB they fall to sort-merge with AQE's
  runtime broadcast conversion deciding on observed bytes;
* fact ⋈ fact equi-joins are sort-merge with AQE skew splitting;
* the only nested-loop join is against a tiny literal bounds table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..plans.hints import hint_broadcast
from ..exprs import dsum, revenue, sql_dsum
from ..registry import query


@query(
    "flagship_revenue_by_nation",
    oracle=f"""
        SELECT n.n_name,
               {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
               COUNT(*) AS n_items
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY n.n_name
        ORDER BY revenue DESC, n_name
    """,
    notes="Flagship: scan+filter+3 joins+agg+sort in one plan. "
    "nation hinted broadcast; customer left to stats/AQE (broadcast "
    "at fixture scale, sort-merge at 100 TB); lineitem⋈orders "
    "sort-merge under AQE.",
    tags=("join", "agg", "flagship"),
)
def flagship_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by nation over a 2-year order window.

    Plan shape at scale: lineitem (100 TB) ⋈ orders (10 TB) shuffles on
    orderkey once. nation (25 rows, constant) is hinted broadcast;
    customer grows with the corpus, so it carries no static hint — at
    fixture scale the size statistics still broadcast it (plan pinned
    in tests/test_plans.py::test_flagship_broadcasts_dims), while at
    100 TB it joins sort-merge on custkey with AQE free to re-upgrade
    on observed bytes. Final 25-group aggregate is partial map-side,
    exchanging 25 rows."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(hint_broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(dsum(revenue(), "revenue"), F.count("*").alias("n_items"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@query(
    "op_join_broadcast",
    oracle=f"""
        SELECT r.r_name,
               COUNT(*) AS n_customers,
               {sql_dsum("c.c_acctbal", "total_acctbal")}
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    """,
    tags=("join",),
)
def op_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ broadcast dims: customers rolled up to region. Both dims
    broadcast — zero shuffles before the 5-group aggregate."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            dsum(F.col("c_acctbal"), "total_acctbal"),
        )
    )


@query(
    "op_join_shuffle",
    oracle=f"""
        SELECT o.o_orderstatus,
               {sql_dsum("l.l_quantity", "sum_qty")},
               COUNT(*) AS n_rows
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderstatus
    """,
    tags=("join",),
)
def op_join_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large ⋈ large equi-join (lineitem ⋈ orders): sort-merge join,
    one shuffle on the join key each side. At 100 TB this is the join
    to co-locate via bucketing on orderkey, which removes both
    exchanges (see sinks/orc.py bucketed-write helper)."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(dsum(F.col("l_quantity"), "sum_qty"), F.count("*").alias("n_rows"))
    )


@query(
    "op_join_outer",
    oracle="""
        SELECT c.c_custkey,
               COUNT(o.o_orderkey) AS n_orders,
               CAST(SUM(CAST(FLOOR((COALESCE(o.o_totalprice, 0.0)) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS total_spent
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey
    """,
    tags=("join",),
)
def op_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders —
    COUNT(col) skips the nulls the outer side introduces."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum(F.coalesce(F.col("o_totalprice"), F.lit(0.0)), "total_spent"),
        )
    )


@query(
    "op_join_semi",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'F')
    """,
    tags=("join",),
)
def op_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a left-semi join: emits each matching left row once,
    never widens the row, and the right side only ships its join key."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "op_join_anti",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_totalprice > 300000)
    """,
    notes="NOT EXISTS as a left-anti join. The price predicate exists "
    "so the result is NON-EMPTY at every fixture scale (every "
    "customer has some order, so the unfiltered anti-join verified "
    "0 = 0 rows — a vacuous check); filtering the build side also "
    "shows the anti-join's pushdown shape: the predicate prunes "
    "orders BEFORE the join, not after.",
    tags=("join",),
)
def op_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no order above 300k — left-anti join against a
    filtered build side."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "op_join_theta",
    oracle="""
        SELECT b.bucket, COUNT(*) AS n_events
        FROM events e
        JOIN (VALUES ('low', 0.0, 5.0),
                     ('mid', 5.0, 15.0),
                     ('high', 15.0, 1e9)) AS b(bucket, lo, hi)
          ON e.value >= b.lo AND e.value < b.hi
        GROUP BY b.bucket
    """,
    tags=("join",),
)
def op_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range (non-equi) join against a tiny bounds table —
    BroadcastNestedLoopJoin. Safe at scale only because the build side
    is O(1) rows; a large-large range join should be rewritten as a
    bucketized equi-join instead (see op_join_range_bucketized)."""
    e = load(spark, sf_dir, "events")
    b = spark.createDataFrame(
        [("low", 0.0, 5.0), ("mid", 5.0, 15.0), ("high", 15.0, 1e9)],
        "bucket string, lo double, hi double",
    )
    return (
        e.join(
            F.broadcast(b),
            (e.value >= b.lo) & (e.value < b.hi),
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_events"))
    )


@query(
    "op_join_range_bucketized",
    oracle="""
        SELECT s.s_suppkey, s.s_name, COUNT(*) AS n_richer_customers
        FROM supplier s
        JOIN customer c
          ON s.s_nationkey = c.c_nationkey
         AND s.s_acctbal < c.c_acctbal
        GROUP BY s.s_suppkey, s.s_name
    """,
    tags=("join",),
)
def op_join_range_bucketized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi key + range residual: Catalyst hashes on the equi key
    (nationkey) and applies the range as a post-join filter — the
    scalable shape for mixed predicates (no nested loop)."""
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    return (
        s.join(
            c,
            (s.s_nationkey == c.c_nationkey) & (s.s_acctbal < c.c_acctbal),
        )
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("n_richer_customers"))
    )


@query(
    "op_join_multiway",
    oracle=f"""
        SELECT r.r_name,
               {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
        FROM region r
        JOIN nation n   ON n.n_regionkey = r.r_regionkey
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        JOIN orders o   ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY r.r_name
    """,
    tags=("join",),
)
def op_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-table star join; Catalyst reorders so the broadcasts happen
    after the single fact-fact shuffle."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(hint_broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(dsum(revenue(), "revenue"))
    )


@query(
    "op_join_asof",
    oracle="""
        SELECT event_id, user_id, ts,
               o_orderkey AS asof_orderkey,
               o_totalprice AS asof_totalprice
        FROM (
          SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY e.event_id
                                    ORDER BY o.o_orderdate DESC,
                                             o.o_orderkey DESC) AS rn
          FROM events e
          JOIN orders o
            ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
        )
        WHERE rn = 1
    """,
    notes="As-of join (time-series staple Spark lacks natively): each "
    "event matched to the key's most recent order at event time. "
    "Implemented as equi+range join → per-event WindowGroupLimit "
    "top-1; the o_orderkey tiebreak makes same-timestamp matches "
    "total, so the oracle (same construction in SQL) is exact.",
    tags=("join", "streaming"),
)
def op_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASOF join: latest order per (user, event-time). The equi key
    bounds the join to per-user order history; WindowGroupLimit keeps
    one row per event before the exchange. For long histories at
    100 TB, pre-bucket orders by custkey and time-bucket the range so
    each event scans O(1) buckets instead of the full history."""
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    j = e.join(
        o,
        (e.user_id == o.o_custkey) & (o.o_orderdate <= e.ts),
    )
    w = W.partitionBy("event_id").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("o_orderkey").alias("asof_orderkey"),
            F.col("o_totalprice").alias("asof_totalprice"),
        )
    )


#: salt fan-out for the skew-join demo
_N_SALTS = 8


@query(
    "op_join_salted",
    oracle="""
        SELECT c.c_mktsegment,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(FLOOR(e.value * 1000000 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1000000.0 AS sum_value
        FROM events e
        JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c.c_mktsegment
    """,
    notes="Manual key-salting pattern: the fact side derives a "
    "deterministic salt (event_id % 8), the dim side replicates 8× — "
    "a hot key spreads over 8 reducers instead of one. The oracle is "
    "the plain unsalted join, proving salting is result-invariant. "
    "(AQE skew-join handles this automatically for sort-merge joins; "
    "salting remains necessary for skewed AGGREGATION keys and "
    "pre-AQE engines.)",
    tags=("join", "skew"),
)
def op_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant join via key salting, result-identical to the
    plain join."""
    e = load(spark, sf_dir, "events").withColumn(
        # pmod, not %: a negative key under sign-following % yields a
        # negative salt that matches none of the replicated dim salts
        # 0..N-1 and the row silently vanishes (review finding; the
        # sibling op_agg_salted_twophase already used pmod)
        "salt", F.pmod(F.col("event_id"), F.lit(_N_SALTS)).cast("int")
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    salts = spark.range(_N_SALTS).select(F.col("id").cast("int").alias("salt"))
    c_salted = c.crossJoin(F.broadcast(salts))
    joined = e.join(
        c_salted,
        (e.user_id == c_salted.c_custkey) & (e.salt == c_salted.salt),
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        (
            F.sum(F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("decimal(18,0)"))
            .cast("double")
            / 1000000.0
        ).alias("sum_value"),
    )


@query(
    "op_join_nullsafe",
    oracle="""
        SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b
        FROM (SELECT c_custkey,
                     CASE WHEN c_acctbal < 0 THEN NULL
                          ELSE CAST(FLOOR(c_acctbal / 1000) AS BIGINT) END AS bal_band
              FROM customer) a
        JOIN (SELECT c_custkey,
                     CASE WHEN c_acctbal < 0 THEN NULL
                          ELSE CAST(FLOOR(c_acctbal / 1000) AS BIGINT) END AS bal_band
              FROM customer) b
          ON a.bal_band IS NOT DISTINCT FROM b.bal_band
         AND a.c_custkey < b.c_custkey
    """,
    notes="Null-safe equality (<=> / IS NOT DISTINCT FROM): NULL bands "
    "match each other — the join semantics regular '=' silently drops.",
    tags=("join",),
)
def op_join_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join on a nullable derived key with null-safe equality;
    negative balances band to NULL and must pair with each other."""
    c = load(spark, sf_dir, "customer")
    band = F.when(F.col("c_acctbal") < 0, None).otherwise(
        F.floor(F.col("c_acctbal") / 1000).cast("bigint")
    )
    x = c.select(F.col("c_custkey").alias("cust_a"), band.alias("band_a"))
    y = c.select(F.col("c_custkey").alias("cust_b"), band.alias("band_b"))
    return (
        x.join(
            y,
            F.col("band_a").eqNullSafe(F.col("band_b"))
            & (F.col("cust_a") < F.col("cust_b")),
        )
        .select("cust_a", "cust_b")
    )


@query(
    "op_join_bloom",
    oracle=f"""
        SELECT o.o_orderpriority,
               COUNT(*) AS n_items,
               {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'F' AND o.o_totalprice > 150000
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
    """,
    notes="Runtime bloom-filter join pruning: Catalyst's "
    "InjectRuntimeFilter plants bloom_filter_agg over the selective "
    "orders side and a might_contain() filter on lineitem's scan side, "
    "so non-matching fact rows die before the shuffle. Bloom false "
    "positives are removed by the exact join that follows — the result "
    "is exact, hence the full SQL oracle. Plan shape asserted in "
    "tests/test_plans.py.",
    tags=("join", "scale"),
)
def op_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact join with a runtime bloom filter pruning the big side.

    At 100 TB neither lineitem nor filtered orders broadcasts; the win
    is dropping ~2/3 of lineitem BEFORE its shuffle for the sort-merge
    join, at the cost of one 1 MB bloom broadcast. Locally the
    injection thresholds are lowered (the fixture scan is tiny) and
    broadcast is disabled for THIS plan only — the physical plan is
    materialized under the temporary confs and cached on the returned
    DataFrame, then the session confs are restored, so sibling queries
    keep their dimension broadcasts. On a real cluster the only conf
    that matters is `runtime.bloomFilter.enabled` (default true) —
    orders at 10 TB trips the default thresholds by itself.
    """
    tmp = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in tmp}
    for k, v in tmp.items():
        spark.conf.set(k, v)
    try:
        li = load(spark, sf_dir, "lineitem")
        o = load(spark, sf_dir, "orders").filter(
            (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 150000)
        )
        out = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n_items"),
                dsum(revenue(), "revenue"),
            )
            .orderBy("o_orderpriority")
        )
        # Materialize (and cache) the physical plan while the confs are
        # active; .collect() later reuses it.
        out._jdf.queryExecution().executedPlan()
        return out
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@query(
    "op_tpch_q3_shipping_priority",
    oracle=f"""
        SELECT l.l_orderkey,
               {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
               o.o_orderdate,
               o.o_orderpriority
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1997-01-01'
          AND l.l_shipdate  > TIMESTAMP '1997-01-01'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
        LIMIT 10
    """,
    notes="TPC-H Q3 shape (shipping priority): selective dim filter -> "
    "two joins -> group -> global top-10 by revenue. Total order via "
    "(revenue, o_orderdate, l_orderkey) tiebreak so both engines pick "
    "identical rows. customer (corpus-proportional) carries no static "
    "hint — stats/AQE broadcast it at fixture scale; the filtered dim "
    "stays the build side either way.",
    tags=("join", "agg", "composite"),
)
def op_tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite query: the classic 'unshipped orders by revenue'."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(hint_broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue(), "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "op_join_bucketed",
    oracle=f"""
        SELECT l.l_returnflag,
               COUNT(*) AS n_items,
               {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY l.l_returnflag
    """,
    notes="Co-located fact⋈fact join over BUCKETED ORC tables: both "
    "sides are written bucketBy(8, orderkey), so the sort-merge join "
    "runs with ZERO exchanges on the join key — at 100 TB this is the "
    "single biggest shuffle the engine can eliminate (write once "
    "bucketed, join forever free). Absence of the exchange is "
    "asserted in tests/test_plans.py; the oracle is the identical "
    "join over the raw parquet, so the bucketed write+read must also "
    "be value-exact.",
    tags=("join", "io", "scale"),
)
def op_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free sort-merge join via bucketed table co-location."""
    from ..sinks.orc import write_orc_bucketed

    li_t, o_t = "q_bucketed_lineitem", "q_bucketed_orders"
    write_orc_bucketed(
        load(spark, sf_dir, "lineitem"), li_t, "l_orderkey", n_buckets=8,
        sort_col="l_orderkey",
    )
    write_orc_bucketed(
        load(spark, sf_dir, "orders"), o_t, "o_orderkey", n_buckets=8,
        sort_col="o_orderkey",
    )
    li, o = spark.table(li_t), spark.table(o_t)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            dsum(revenue(), "revenue"),
        )
    )


@query(
    "op_tpch_q18_large_orders",
    oracle="""
        WITH big AS (
          SELECT l_orderkey
          FROM lineitem
          GROUP BY l_orderkey
          HAVING SUM(CAST(l_quantity AS BIGINT)) > 150
        )
        SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
               o.o_totalprice,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        JOIN big        ON o.o_orderkey = big.l_orderkey
        GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
                 o.o_totalprice
        ORDER BY o.o_totalprice DESC, o.o_orderkey
        LIMIT 50
    """,
    notes="TPC-H Q18 shape (large-volume orders): HAVING-filtered "
    "aggregate as a semi-join reducer back onto the fact join. The "
    "'big' subquery aggregates lineitem FIRST (map-side partial "
    "sums), so the expensive 3-way join only ever sees qualifying "
    "orderkeys — the aggregate-then-join ordering that matters at "
    "100 TB. l_quantity sums as exact integers on both engines.",
    tags=("join", "agg", "composite"),
)
def op_tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: customers with orders totalling > 150 units."""
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        li.join(big.withColumnRenamed("l_orderkey", "bk"),
                F.col("l_orderkey") == F.col("bk"))
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(hint_broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                 "o_totalprice")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(50)
    )


@query(
    "op_latest_by_key",
    oracle="""
        SELECT user_id, ts AS last_ts, event_type AS last_type,
               value AS last_value
        FROM (
          SELECT user_id, ts, event_type, value,
                 ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
          FROM events
        )
        WHERE rn = 1
    """,
    notes="Latest-record-per-key dedup (CDC 'last write wins' — the "
    "op every ingestion pipeline runs before serving a snapshot). "
    "row_number over (key ORDER BY ts DESC, event_id DESC) with the "
    "unique event_id tiebreak so both engines pick the same row when "
    "timestamps collide. Catalyst plans the rn=1 filter as "
    "WindowGroupLimit: each task emits one row per key BEFORE the "
    "exchange.",
    tags=("join", "window", "dedup"),
)
def op_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot view: each user's most recent event."""
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "events")
    rn = F.row_number().over(
        W.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
    )
    return (
        e.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
        )
    )


@query(
    "op_tpch_q13_order_counts",
    oracle="""
        SELECT n_orders, COUNT(*) AS n_customers
        FROM (
          SELECT c.c_custkey,
                 CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
          FROM customer c
          LEFT JOIN orders o ON c.c_custkey = o.o_custkey
          GROUP BY c.c_custkey
        )
        GROUP BY n_orders
    """,
    notes="TPC-H Q13 shape (customer order-count distribution): LEFT "
    "join so zero-order customers survive with n_orders=0, then a "
    "second aggregation over the first's output — the "
    "distribution-of-a-distribution pattern. First agg shuffles by "
    "custkey (AQE-coalesced), second is a tiny distinct-count "
    "exchange.",
    tags=("join", "agg", "composite"),
)
def op_tpch_q13_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many customers placed exactly N orders."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count("*").alias("n_customers")
    )


@query(
    "op_tpch_q7_nation_volume",
    oracle=f"""
        SELECT supp_nation, cust_nation, l_year,
               {sql_dsum("volume", "revenue")}
        FROM (
          SELECT ns.n_name AS supp_nation,
                 nc.n_name AS cust_nation,
                 CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
                 l.l_extendedprice * (1 - l.l_discount) AS volume
          FROM supplier s
          JOIN lineitem l ON s.s_suppkey = l.l_suppkey
          JOIN orders o   ON o.o_orderkey = l.l_orderkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
          JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
          WHERE ns.n_name <> nc.n_name
        )
        GROUP BY supp_nation, cust_nation, l_year
    """,
    notes="TPC-H Q7 shape (volume shipping between nation pairs): two "
    "fact joins plus four dims: nation hinted broadcast TWICE under "
    "different roles (supplier side vs "
    "customer side) — the self-referential dim pattern every star "
    "schema hits. The cross-nation filter is applied post-join on the "
    "two broadcast columns, costing nothing. Fact rows shuffle only "
    "for the lineitem-orders sort-merge and the final rollup.",
    tags=("join", "agg", "composite"),
)
def op_tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-nation trade volume by year (supplier nation != customer
    nation), the two-role dimension join."""
    s = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    ns = n.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = n.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(hint_broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(hint_broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(dsum(revenue(), "revenue"))
    )


@query(
    "op_tpch_q10_returned_items",
    oracle=f"""
        SELECT c.c_custkey, c.c_name,
               {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
               n.n_name, c.c_acctbal
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        WHERE l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
        ORDER BY revenue DESC, c.c_custkey
        LIMIT 20
    """,
    notes="TPC-H Q10 shape (returned-item revenue, top 20 customers): "
    "selective fact filter (returnflag='R' pushes to the lineitem "
    "scan) -> fact-fact join -> nation hinted broadcast + customer "
    "left to stats/AQE -> grouped rollup "
    "-> global top-20 via TakeOrderedAndProject (never a full sort). "
    "c_custkey tiebreak gives both engines the same row set.",
    tags=("join", "agg", "composite"),
)
def op_tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by revenue on returned items."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(hint_broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(dsum(revenue(), "revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name", "c_acctbal")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "op_tpch_q4_order_priority",
    oracle="""
        SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1996-04-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate)
        GROUP BY o.o_orderpriority
    """,
    notes="TPC-H Q4 shape (order-priority checking): a correlated "
    "EXISTS planned as a LEFT SEMI join — the fact side is reduced "
    "to matching order keys before any aggregation, and the date "
    "window pushes to the orders scan. The semi join never "
    "duplicates orders however many lineitems match (the bug a "
    "naive inner-join + distinct rewrite invites).",
    tags=("join", "agg", "composite"),
)
def op_tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with at least one late-shipped line, counted by
    priority."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    matched = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("order_count")
    )


@query(
    "op_tpch_q14_promo_share",
    oracle=f"""
        SELECT
            {sql_dsum("CASE WHEN p.p_type = 'PROMO' "
                      "THEN l.l_extendedprice * (1 - l.l_discount) "
                      "ELSE 0.0 END", "promo_revenue")},
            {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "total_revenue")}
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
          AND l.l_shipdate <  TIMESTAMP '1996-10-01'
    """,
    notes="TPC-H Q14 shape (promotion effect): a global conditional "
    "revenue split over a fact-dim join — part joins un-hinted (stats "
    "broadcast it locally; sort-merge at 100 TB), the month "
    "predicate pushes to the lineitem scan, and both sums ride the "
    "fixed-point decimal convention so the answer is bit-exact. The "
    "promo/total RATIO is left to the consumer: dividing two "
    "exact-integer-backed doubles is deterministic, but publishing "
    "both numerators keeps the oracle integer-exact.",
    tags=("join", "agg", "composite"),
)
def op_tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo vs total revenue for one ship month."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = F.when(
        F.col("p_type") == "PROMO", revenue()
    ).otherwise(F.lit(0.0))
    return (
        li.join(hint_broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            dsum(promo, "promo_revenue"),
            dsum(revenue(), "total_revenue"),
        )
    )


@query(
    "op_tpch_q19_disjunctive",
    oracle=f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
               {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity >= 1 AND l.l_quantity <= 20)
           OR (p.p_brand = 'Brand#7' AND p.p_size BETWEEN 10 AND 30
               AND l.l_quantity >= 5 AND l.l_quantity <= 30)
           OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 20 AND 50
               AND l.l_quantity >= 10 AND l.l_quantity <= 40)
    """,
    notes="TPC-H Q19 shape (disjunctive predicates): an OR of three "
    "brand/size/quantity conjunction groups spanning BOTH join "
    "sides. Catalyst cannot push the whole disjunction below the "
    "join, but it derives and pushes the per-side implied "
    "disjunctions (brand IN (...), size ranges on part; quantity "
    "range on lineitem) — the constraint-propagation behavior this "
    "op pins. Discount/shipmode clauses from the original are "
    "dropped (columns differ) but the optimizer-relevant structure "
    "is intact.",
    tags=("join", "composite"),
)
def op_tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-ANDs brand/size/quantity revenue."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    j = li.join(hint_broadcast(p), li.l_partkey == p.p_partkey)
    c1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    )
    c2 = (
        (F.col("p_brand") == "Brand#7")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(5, 30)
    )
    c3 = (
        (F.col("p_brand") == "Brand#13")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(10, 40)
    )
    return j.filter(c1 | c2 | c3).agg(
        F.count("*").cast("bigint").alias("n_items"),
        dsum(revenue(), "revenue"),
    )


@query(
    "op_join_fuzzy_blocked",
    oracle="""
        SELECT a.p_partkey AS key_a,
               b.p_partkey AS key_b,
               CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand
         AND a.p_size = b.p_size
         AND a.p_partkey < b.p_partkey
        WHERE abs(length(a.p_name) - length(b.p_name)) <= 6
          AND levenshtein(a.p_name, b.p_name) <= 6
    """,
    notes="Blocked fuzzy (edit-distance) self-join — the "
    "entity-resolution workhorse the set-similarity tiers "
    "(op_dedup_ngram_jaccard / minhash) don't cover: "
    "character-level typo matching. Quadratic blowup is contained "
    "by EQUI-JOIN blocking keys (p_brand, p_size) — Catalyst "
    "executes a plain shuffled hash/SMJ on the block key, so only "
    "within-block pairs are ever materialized (max block 7 rows at "
    "sf0.01; block-size skew is the knob to watch at 100 TB — salt "
    "or sub-block by a name prefix if a block outgrows memory). A "
    "length-band predicate (|len diff| <= k, implied by edit "
    "distance <= k) prunes pairs before the O(n*m) levenshtein "
    "kernel runs; the kernel itself is Spark's built-in JVM "
    "levenshtein(), identical definition to DuckDB's. "
    "p_partkey < p_partkey emits each unordered pair once.",
    tags=("join", "dedup"),
)
def op_join_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-block part-name pairs at edit distance <= 6."""
    p = load(spark, sf_dir, "part")
    a = p.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        "p_brand",
        "p_size",
    )
    b = p.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        "p_brand",
        "p_size",
    )
    pairs = a.join(b, ["p_brand", "p_size"]).filter(
        (F.col("key_a") < F.col("key_b"))
        & (
            F.abs(F.length("name_a") - F.length("name_b")) <= 6
        )
    )
    return pairs.select(
        "key_a",
        "key_b",
        F.levenshtein("name_a", "name_b").cast("bigint").alias("dist"),
    ).filter(F.col("dist") <= 6)


@query(
    "op_join_asof_nearest",
    oracle="""
        WITH ev AS (
          SELECT event_id, user_id,
                 DATE '1995-01-01' + CAST(event_id % 2400 AS INT)
                   AS anchor_day
          FROM events
        ),
        cand AS (
          SELECT e.event_id, e.user_id, e.anchor_day,
                 o.o_orderkey, o.o_totalprice,
                 ABS(datediff('day', o.o_orderdate, e.anchor_day))
                   AS day_diff,
                 o.o_orderdate
          FROM ev e
          JOIN orders o
            ON e.user_id = o.o_custkey
           AND ABS(datediff('day', o.o_orderdate, e.anchor_day)) <= 7
        ),
        best AS (
          SELECT event_id, o_orderkey, o_totalprice, day_diff FROM (
            SELECT *, ROW_NUMBER() OVER (
                     PARTITION BY event_id
                     ORDER BY day_diff, o_orderdate, o_orderkey) AS rn
            FROM cand
          ) WHERE rn = 1
        )
        SELECT e.event_id, e.user_id, e.anchor_day,
               b.o_orderkey AS nearest_orderkey,
               b.o_totalprice AS nearest_totalprice,
               CAST(b.day_diff AS BIGINT) AS day_diff
        FROM ev e LEFT JOIN best b USING (event_id)
    """,
    notes="NEAREST-with-tolerance as-of join — completes the as-of "
    "family next to op_join_asof's backward-only form: each event "
    "matches the order closest in time within ±7 days, in EITHER "
    "direction, and events with no order inside the tolerance keep a "
    "NULL row (sensor/trade alignment semantics; pandas merge_asof "
    "direction='nearest' + tolerance). FIXTURE-SHAPE NOTE: events "
    "(2024) and orders (1995-2001) occupy disjoint eras, so the "
    "event side joins on a documented derived anchor date "
    "(1995-01-01 + event_id % 2400 days) that spans the order era — "
    "the op's join/rank machinery is what's under test, exactly the "
    "derived-key pattern op_heavy_hitters_son established. "
    "Deterministic tie-break: "
    "smallest |Δdays|, then the EARLIER order date (backward "
    "preference), then lowest orderkey. Same scale shape as the "
    "backward form: the equi key (user) bounds the range join to "
    "per-user history, WindowGroupLimit trims to 1 row per event "
    "before the exchange, and the tolerance predicate prunes the "
    "candidate stream at the join — at 100 TB, time-bucket both "
    "sides to ±1-bucket lookups.",
    tags=("join", "streaming"),
)
def op_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT nearest-tolerance as-of: closest order within 7 days of
    each event's anchor date, NULL when none qualifies."""
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.date_add(
            F.lit("1995-01-01").cast("date"),
            F.pmod(F.col("event_id"), F.lit(2400)).cast("int"),
        ).alias("anchor_day"),
    )
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    day_diff = F.abs(F.datediff(F.col("anchor_day"), F.col("o_orderdate")))
    cand = e.join(
        o,
        (e.user_id == o.o_custkey) & (day_diff <= 7),
    ).withColumn("day_diff", day_diff)
    w = W.partitionBy("event_id").orderBy(
        "day_diff", "o_orderdate", "o_orderkey"
    )
    best = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            F.col("o_orderkey").alias("nearest_orderkey"),
            F.col("o_totalprice").alias("nearest_totalprice"),
            F.col("day_diff").cast("bigint").alias("day_diff"),
        )
    )
    return e.join(best, "event_id", "left").select(
        "event_id",
        "user_id",
        "anchor_day",
        "nearest_orderkey",
        "nearest_totalprice",
        "day_diff",
    )
