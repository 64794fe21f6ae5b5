"""Event-time windowed aggregations — SURVEY.md §2.J.

The reference's "store user event data … query billions of rows"
use-case (reference README.md:231-233) over the ``events`` fixture.
These run in batch mode here (oracle-checkable); the *same*
transformations execute incrementally under readStream — proven by
tests/test_streaming.py, which runs each through an availableNow
trigger and asserts result equality.

Exactness: window bounds are timestamp arithmetic (µs integers) and the
aggregates are counts + decimal sums — bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import events_ts, load
from ..plans.hints import hint_broadcast
from ..exprs import dsum, sql_dsum, sql_wide_to_double
from ..registry import query


def tumbling_agg(events: DataFrame) -> DataFrame:
    """1-hour tumbling windows per event type — shared by the batch
    query below and the streaming test harness."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum(F.col("value"), "sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "op_stream_tumbling",
    oracle=f"""
        SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
               time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
               event_type,
               COUNT(*) AS n_events,
               {sql_dsum("value", "sum_value")}
        FROM events
        GROUP BY 1, 2, 3
    """,
    tags=("streaming",),
)
def op_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation (epoch-aligned, same
    bucketing as the oracle's time_bucket)."""
    return tumbling_agg(load(spark, sf_dir, "events"))


@query(
    "op_stream_sliding",
    oracle=f"""
        SELECT time_bucket(INTERVAL 15 MINUTES, ts)
                   - k.k * INTERVAL 15 MINUTES AS window_start,
               time_bucket(INTERVAL 15 MINUTES, ts)
                   - k.k * INTERVAL 15 MINUTES + INTERVAL 1 HOUR AS window_end,
               event_type,
               COUNT(*) AS n_events
        FROM events, (VALUES (0), (1), (2), (3)) AS k(k)
        GROUP BY 1, 2, 3
    """,
    notes="A 1h/15m sliding window assigns each event to exactly 4 "
    "windows; the oracle enumerates them as bucket − k·slide.",
    tags=("streaming",),
)
def op_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 hour long, every 15 minutes)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


@query(
    "op_stream_session",
    oracle="""
        WITH flagged AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts - lag(ts) OVER w > INTERVAL 30 MINUTES
                      THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        numbered AS (
          SELECT user_id, ts,
                 SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sess_id
          FROM flagged
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTES AS session_end,
               COUNT(*) AS n_events
        FROM numbered
        GROUP BY user_id, sess_id
    """,
    notes="session_window end = last event + gap; the oracle is the "
    "classic gaps-and-islands rewrite.",
    tags=("streaming",),
)
def op_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute inactivity gap) per user. In
    streaming mode this is the stateful session operator; in batch mode
    Catalyst plans it as a sort + merge of adjacent intervals — no
    quadratic self-join."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "op_stream_availablenow",
    oracle=f"""
        SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
               time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
               event_type,
               COUNT(*) AS n_events,
               {sql_dsum("value", "sum_value")}
        FROM events
        GROUP BY 1, 2, 3
    """,
    notes="True Structured Streaming execution: readStream over the "
    "events parquet, availableNow trigger, complete-mode memory sink — "
    "and the incremental result still hash-matches the batch oracle.",
    tags=("streaming",),
)
def op_stream_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming version of the reference's conversion loop: a
    bounded backfill (availableNow) over the source directory, windowed
    state, results published atomically. Identical logical plan to
    op_stream_tumbling — batch/stream parity by construction."""
    from .runner import read_events_stream, run_available_now

    stream = read_events_stream(spark, sf_dir)
    # run_available_now (not a hand-rolled writeStream): it stops a
    # still-running query on timeout before cleanup and reclaims the
    # checkpoint dir — this op used to re-implement the sink and leak
    # one ckpt dir per call while silently returning a partial table
    # on timeout (review finding)
    return run_available_now(tumbling_agg(stream), output_mode="complete")


@query(
    "op_stream_watermark",
    oracle="""
        SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
               event_type,
               COUNT(*) AS n_events
        FROM events
        GROUP BY 1, 2
        HAVING time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR
               <= (SELECT max(ts) - INTERVAL 10 MINUTES FROM events)
    """,
    notes="withWatermark + windowed agg executed via availableNow in "
    "append mode: only windows whose end precedes the final watermark "
    "(max ts − 10 min) are emitted — the oracle's HAVING clause states "
    "exactly that emission rule, so even the withheld-window behavior "
    "is hash-checked. True late-data dropping is exercised in "
    "tests/test_streaming.py with a live two-batch stream.",
    tags=("streaming",),
)
def op_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling aggregation, streaming-executed: the state
    store evicts each window once the 10-minute watermark passes it —
    bounded state no matter how long the stream runs."""
    from .runner import read_events_stream, run_available_now

    stream = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events"
        )
    )
    return run_available_now(agg, output_mode="append")


@query(
    "op_stream_dedup",
    oracle="""
        SELECT event_id, user_id, event_type
        FROM events
    """,
    notes="Streaming dedup: the source is the events table unioned "
    "with itself (every event_id duplicated); dropDuplicates under a "
    "watermark must reconstruct exactly the original table — checked "
    "against the plain-events oracle.",
    tags=("streaming",),
)
def op_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup on event_id over a deliberately
    duplicated stream. Caveat the docs are explicit about: with plain
    ``dropDuplicates`` the watermark only evicts state when the
    event-time column is part of the dedup key — keyed on event_id
    alone (as here, the realistic key) the state store grows with the
    key space. The bounded-state form for exactly this case is
    ``op_stream_dedup_within_watermark`` below (Spark 3.5+
    dropDuplicatesWithinWatermark)."""
    from .runner import read_events_stream, run_available_now

    s1 = read_events_stream(spark, sf_dir)
    s2 = read_events_stream(spark, sf_dir)
    dup = s1.unionByName(s2)
    dedup = (
        dup.withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return run_available_now(dedup, output_mode="append")


@query(
    "op_stream_dedup_within_watermark",
    oracle="""
        SELECT event_id, user_id, event_type
        FROM events
    """,
    notes="BOUNDED-STATE streaming dedup — the Spark 3.5+ "
    "dropDuplicatesWithinWatermark operator, which evicts a key's "
    "state once the watermark passes its first-arrival time even "
    "though the event-time column is NOT part of the dedup key. That "
    "is the missing piece plain dropDuplicates has at 100 TB: keyed "
    "on a guid alone its state grows with the key space forever "
    "(op_stream_dedup documents the caveat); keyed on (guid, ts) it "
    "evicts but misses duplicates with differing timestamps. "
    "WithinWatermark guarantees dedup for duplicates arriving within "
    "the watermark delay of first arrival AND bounds state to the "
    "horizon — the correct contract for at-least-once event feeds "
    "where retries land seconds apart. Same doubled-source fixture "
    "as op_stream_dedup: the stream must reconstruct the original "
    "table exactly.",
    tags=("streaming", "scale"),
)
def op_stream_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bounded-state streaming dedup via dropDuplicatesWithinWatermark
    over a deliberately duplicated stream."""
    from .runner import read_events_stream, run_available_now

    s1 = read_events_stream(spark, sf_dir)
    s2 = read_events_stream(spark, sf_dir)
    dedup = (
        s1.unionByName(s2)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return run_available_now(dedup, output_mode="append")


@query(
    "op_stream_stateful",
    oracle=f"""
        SELECT user_id,
               COUNT(*) AS n_events,
               {sql_wide_to_double(
                   "SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT))"
               )}
                   / 1000000.0 AS value_sum,
               MAX(ts) AS last_seen
        FROM events
        GROUP BY user_id
    """,
    notes="Custom stateful operator (applyInPandasWithState): per-user "
    "state machine emitting updated state per micro-batch. Under "
    "availableNow the bounded source is one micro-batch, so the "
    "emitted state is the final state and the batch oracle applies "
    "exactly (fixed-point value sums, see exprs.py).",
    tags=("streaming", "udf"),
)
def op_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary per-key streaming state via applyInPandasWithState —
    the operator tier for semantics session_window/dropDuplicates
    can't express (counters, rate limiters, entity state machines)."""
    from .runner import read_events_stream, run_available_now
    from .stateful import user_activity_stateful

    stream = read_events_stream(spark, sf_dir)
    return run_available_now(
        user_activity_stateful(stream), output_mode="update"
    )


@query(
    "op_time_rollup",
    oracle="""
        SELECT * FROM (
          SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
                 'hour' AS resolution, event_type, COUNT(*) AS n_events
          FROM events GROUP BY 1, 3
          UNION ALL
          SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
                 'day' AS resolution, event_type, COUNT(*) AS n_events
          FROM events GROUP BY 1, 3
          UNION ALL
          SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS bucket,
                 'month' AS resolution, event_type, COUNT(*) AS n_events
          FROM events GROUP BY 1, 3
        )
    """,
    notes="Hypertable-style multi-resolution rollup (hour/day/month in "
    "one result). Implemented as a single scan with per-resolution "
    "partial aggregation; at 100 TB the hourly tier is materialized "
    "continuously (op_stream_tumbling) and day/month reaggregate the "
    "hourly table — this query is the batch definition of that "
    "cascade.",
    tags=("streaming", "agg"),
)
def op_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate cascade, batch form: counts per event type
    at hour/day/month resolutions. One scan; Spark unions the three
    grouped aggregates and AQE coalesces the tiny outputs."""
    e = load(spark, sf_dir, "events")

    def tier(unit: str) -> DataFrame:
        return (
            e.groupBy(
                F.date_trunc(unit, "ts").alias("bucket"), "event_type"
            )
            .agg(F.count("*").alias("n_events"))
            .select(
                "bucket",
                F.lit(unit).alias("resolution"),
                "event_type",
                "n_events",
            )
        )

    return tier("hour").unionByName(tier("day")).unionByName(tier("month"))


@query(
    "op_funnel",
    oracle="""
        WITH v AS (
          SELECT user_id, MIN(ts) AS t_view
          FROM events WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
          SELECT e.user_id, MIN(e.ts) AS t_click
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t_view
          GROUP BY e.user_id
        ),
        p AS (
          SELECT e.user_id, MIN(e.ts) AS t_purchase
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click
          GROUP BY e.user_id
        )
        SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
               CAST(p.user_id IS NOT NULL AS BOOLEAN) AS converted
        FROM v
        LEFT JOIN c ON v.user_id = c.user_id
        LEFT JOIN p ON c.user_id = p.user_id
    """,
    notes="Ordered funnel (view → click → purchase): each stage's "
    "timestamp is the first occurrence strictly after the previous "
    "stage. Three grouped MIN aggregations chained by joins — no "
    "row-by-row state, so it scales as three shuffles on user_id "
    "(co-partitioned, AQE reuses the exchange).",
    tags=("streaming", "agg"),
)
def op_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event funnel analysis — the canonical product-analytics query
    over the reference's 'user event data' use-case."""
    e = load(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            F.col("t_purchase").isNotNull().alias("converted"),
        )
    )


@query(
    "op_retention_cohorts",
    oracle="""
        WITH firsts AS (
          SELECT user_id,
                 CAST(date_trunc('day', MIN(ts)) AS DATE) AS cohort_date
          FROM events GROUP BY user_id
        )
        SELECT f.cohort_date,
               CAST(date_diff('day', f.cohort_date,
                              CAST(date_trunc('day', e.ts) AS DATE)) AS INT)
                   AS day_offset,
               COUNT(DISTINCT e.user_id) AS active_users
        FROM events e JOIN firsts f ON e.user_id = f.user_id
        GROUP BY 1, 2
    """,
    notes="Retention cohort matrix: users grouped by first-seen day, "
    "activity counted per day offset. first-seen is one agg; the "
    "matrix is one more — both shuffle only on user_id / tiny keys.",
    tags=("streaming", "agg"),
)
def op_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohorted retention — the second canonical event-analytics
    query."""
    e = load(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.to_date(F.date_trunc("day", F.min("ts"))).alias("cohort_date")
    )
    j = e.join(firsts, "user_id")
    return (
        j.select(
            "user_id",
            "cohort_date",
            F.datediff(F.to_date(F.date_trunc("day", "ts")), F.col("cohort_date"))
            .cast("int")
            .alias("day_offset"),
        )
        .groupBy("cohort_date", "day_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


def interval_join(views: DataFrame, purchases: DataFrame) -> DataFrame:
    """view → purchase attribution within 30 minutes, shared by the
    batch query below and the stream-stream join test. The time-range
    predicate is what lets Structured Streaming bound join state: with
    watermarks on both sides, matched rows age out of state once the
    30-minute window passes."""
    v = views.select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return v.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            < F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
    ).select("user_id", "view_id", "purchase_id", "view_ts", "purchase_ts")


@query(
    "op_stream_interval_join",
    oracle="""
        SELECT v.user_id,
               v.event_id AS view_id,
               p.event_id AS purchase_id,
               v.ts AS view_ts,
               p.ts AS purchase_ts
        FROM events v
        JOIN events p
          ON v.user_id = p.user_id
         AND p.ts >= v.ts
         AND p.ts < v.ts + INTERVAL 30 MINUTE
        WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
    notes="Stream-stream interval join (batch semantics, oracle-"
    "checked); tests/test_streaming.py runs the IDENTICAL "
    "transformation as a true two-stream watermarked join under "
    "availableNow and asserts result equality. The range predicate "
    "bounds streaming state to 30 minutes + watermark delay per side.",
    tags=("streaming", "join"),
)
def op_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution join: purchases within 30 minutes after a view by
    the same user. At scale both sides shuffle on user_id once; state
    per key is bounded by the interval, not the stream length."""
    e = load(spark, sf_dir, "events")
    return interval_join(
        e.filter(F.col("event_type") == "view"),
        e.filter(F.col("event_type") == "purchase"),
    )


@query(
    "op_stream_interval_join_outer",
    oracle="""
        SELECT v.user_id AS v_user,
               v.event_id AS view_id,
               p.event_id AS purchase_id
        FROM events v
        LEFT JOIN events p
          ON v.user_id = p.user_id
         AND p.event_type = 'purchase'
         AND p.ts >= v.ts
         AND p.ts < v.ts + INTERVAL 30 MINUTE
        WHERE v.event_type = 'view'
    """,
    notes="Stream-stream LEFT OUTER interval join, TRUE streaming "
    "execution — with the heartbeat pattern that makes outer "
    "emission complete: an unmatched left row only emits its NULL "
    "once the global watermark passes its join window, so a drained "
    "availableNow stream silently WITHHOLDS the tail (measured: 6 of "
    "1982 rows missing on this fixture without the fix — the classic "
    "production gotcha). The op re-stages the source as [real "
    "events, far-future heartbeat] files with maxFilesPerTrigger=1: "
    "the heartbeat batch advances each side's watermark past all "
    "real data, flushing every withheld NULL before termination — "
    "exactly the synthetic-heartbeat remedy streaming pipelines "
    "deploy; the heartbeat rows themselves (sentinel users -1/-2, "
    "mutually unjoinable) stay in state and never emit. Result must "
    "hash-match the batch LEFT JOIN oracle — completeness, not "
    "just no-dups. State per key is bounded by interval + watermark "
    "delay.",
    tags=("streaming", "join", "scale"),
)
def op_stream_interval_join_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """True streaming left-outer attribution join; heartbeat batch
    flushes the withheld tail before the stream drains."""
    out = _stream_interval_join_heartbeat(spark, sf_dir, "left_outer")
    return out.filter(F.col("v_user") >= 0).select(
        "v_user",
        F.col("v_id").alias("view_id"),
        F.col("p_id").alias("purchase_id"),
    )


def _stream_interval_join_heartbeat(
    spark: SparkSession, sf_dir: str, how: str
) -> DataFrame:
    """Shared machinery for the outer stream-stream interval joins:
    stage [real events, far-future heartbeat] files, run the
    watermarked two-stream join under availableNow, return the raw
    (v_user, v_id, p_user, p_id) emissions (heartbeat rows never
    emit — mutually unjoinable sentinel users)."""
    import os
    import shutil
    import tempfile
    from datetime import timedelta

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from .runner import run_available_now

    src = tempfile.mkdtemp(prefix="ssoj_")
    real = os.path.join(sf_dir, "events.parquet")
    real_copy = os.path.join(src, "a_events.parquet")
    shutil.copyfile(real, real_copy)
    # the file source processes oldest-modTime first: pin an explicit
    # 1-hour gap so the heartbeat can NEVER batch before the real
    # events (heartbeat-first would watermark-drop the whole fixture)
    past = os.path.getmtime(real_copy) - 3600
    os.utime(real_copy, (past, past))
    # heartbeat file: one far-future row PER SIDE (the global watermark
    # is the min over both sides' watermarks, each fed only by rows
    # passing its own type filter); distinct sentinel users so the two
    # heartbeats cannot join each other and never emit. The heartbeat
    # timestamp is DERIVED from the data — max(event ts) + a margin
    # comfortably past watermark delay (10 min) + join interval
    # (30 min) — not a fixed far-future date, so a fixture with any
    # event-time range flushes correctly instead of being silently
    # watermark-dropped by a heartbeat that lands in its past.
    schema = pq.read_schema(real)
    max_ts = pc.max(pq.read_table(real, columns=["ts"])["ts"]).as_py()
    if max_ts is None:
        # zero real events: nothing can ever join, and the heartbeat
        # has no data-derived timestamp to anchor to — empty emission
        # set with the raw join schema (empty-corpus audit,
        # r11-restart)
        shutil.rmtree(src, ignore_errors=True)
        return spark.createDataFrame(
            [], "v_user bigint, v_id bigint, p_user bigint, p_id bigint"
        )
    cols = {}
    for field in schema:
        if field.name == "ts":
            if pa.types.is_timestamp(field.type):
                hb = max_ts + timedelta(days=1)
                arr = pa.array([hb, hb], type=field.type)
            else:  # TIMESTAMP(NANOS) era fixtures surface as int64
                ns = int(max_ts) + 86_400 * 1_000_000_000
                arr = pa.array([ns, ns], type=field.type)
        elif field.name == "event_id":
            arr = pa.array([-1, -2], type=field.type)
        elif field.name == "user_id":
            arr = pa.array([-1, -2], type=field.type)
        elif field.name == "event_type":
            arr = pa.array(["view", "purchase"], type=field.type)
        else:
            arr = pa.array([None, None], type=field.type)
        cols[field.name] = arr
    pq.write_table(
        pa.table(cols, schema=schema),
        os.path.join(src, "z_heartbeat.parquet"),
    )

    # probe the physical ts flavor BEFORE any spark.read touches the
    # file: on a TIMESTAMP(NANOS)-era fixture a fresh session's schema
    # probe throws unless nanosAsLong is set (review finding — this
    # only worked when another events op had set the conf first)
    ts_field = schema.field("ts")
    if not pa.types.is_timestamp(ts_field.type):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch_schema = spark.read.parquet(real).schema
    stream = events_ts(
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )

    def side(typ: str, prefix: str) -> DataFrame:
        return (
            stream.filter(F.col("event_type") == typ)
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "10 minutes")
        )

    v, p = side("view", "v"), side("purchase", "p")
    j = v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") < F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
        how,
    )
    try:
        return run_available_now(
            j.select("v_user", "v_id", "p_user", "p_id"),
            output_mode="append",
            timeout_sec=180,
        )
    finally:
        # the memory sink is driver-resident once the stream drains;
        # the corpus-sized staging copy must not outlive the op (it
        # used to leak one events.parquet copy per invocation)
        shutil.rmtree(src, ignore_errors=True)


@query(
    "op_stream_interval_join_full",
    oracle="""
        SELECT v.user_id AS v_user,
               v.event_id AS view_id,
               p.user_id AS p_user,
               p.event_id AS purchase_id
        FROM (SELECT * FROM events WHERE event_type = 'view') v
        FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON v.user_id = p.user_id
         AND p.ts >= v.ts
         AND p.ts < v.ts + INTERVAL 30 MINUTE
    """,
    notes="The FULL-outer companion to op_stream_interval_join_outer "
    "(same heartbeat machinery, both NULL directions): unmatched "
    "views AND unmatched purchases each emit exactly once when the "
    "global watermark passes their join window, and the heartbeat "
    "batch guarantees the tail of BOTH state stores flushes before "
    "the availableNow stream drains. Must hash-match the batch FULL "
    "JOIN — proving neither side's withheld-NULL set leaks at "
    "termination. One user_id exchange per side; per-key state "
    "bounded by interval + watermark delay on both stores.",
    tags=("streaming", "join", "scale"),
)
def op_stream_interval_join_full(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """True streaming full-outer attribution join with heartbeat
    flush on both sides."""
    out = _stream_interval_join_heartbeat(spark, sf_dir, "full_outer")
    return out.filter(
        (F.coalesce(F.col("v_user"), F.lit(0)) >= 0)
        & (F.coalesce(F.col("p_user"), F.lit(0)) >= 0)
    ).select(
        "v_user",
        F.col("v_id").alias("view_id"),
        "p_user",
        F.col("p_id").alias("purchase_id"),
    )


@query(
    "op_time_gapfill",
    oracle=f"""
        WITH bounds AS (
          SELECT CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP) AS lo,
                 CAST(date_trunc('day', MAX(ts)) AS TIMESTAMP) AS hi
          FROM events
        ),
        cal AS (
          SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
          FROM bounds
        ),
        types AS (SELECT DISTINCT event_type FROM events),
        counts AS (
          SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                 event_type, COUNT(*) AS n,
                 {sql_dsum("value", "sum_value")}
          FROM events GROUP BY 1, 2
        )
        SELECT t.event_type, c.day,
               COALESCE(x.n, 0) AS n,
               COALESCE(x.sum_value, 0.0) AS sum_value
        FROM types t
        CROSS JOIN cal c
        LEFT JOIN counts x ON x.event_type = t.event_type AND x.day = c.day
    """,
    notes="Hypertable-style gap filling: the dense (event_type x day) "
    "grid with zero-filled missing days. The calendar is generated "
    "from the global [min,max] day via sequence()+explode (two tiny "
    "single-row aggregates broadcast into a cross join, never a "
    "driver-side loop), so a 10-year 100 TB table still builds its "
    "calendar distributed. DuckDB generate_series is the oracle "
    "equivalent.",
    tags=("streaming", "timeseries"),
)
def op_time_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-filled daily counts per event type over the full span."""
    e = load(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    counts = e.groupBy(
        day.alias("day"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        dsum(F.col("value"), "sum_value"),
    )
    bounds = e.agg(
        F.date_trunc("day", F.min("ts")).alias("lo"),
        F.date_trunc("day", F.max("ts")).alias("hi"),
    )
    cal = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    types = e.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(cal))
    return (
        grid.join(counts, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        )
    )


@query(
    "op_sessionize",
    oracle="""
        WITH flagged AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN LAG(ts) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                         > 1800 * 1000000
                      THEN 1 ELSE 0 END AS new_sess
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        numbered AS (
          SELECT user_id, ts,
                 SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_seq
          FROM flagged
        )
        SELECT user_id,
               CAST(session_seq AS BIGINT) AS session_seq,
               COUNT(*) AS n_events,
               MIN(ts) AS session_start,
               MAX(ts) AS session_end,
               CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT)
                   AS duration_us
        FROM numbered
        GROUP BY user_id, session_seq
    """,
    notes="Gap-based sessionization (30-minute inactivity closes a "
    "session): the lag-then-cumulative-sum window idiom, with the gap "
    "compared in integer MICROSECONDS on both engines so borderline "
    "events bucket identically (no float epoch drift). One shuffle on "
    "user_id serves both window passes and the final per-session "
    "aggregate — at 100 TB the whole op is a single exchange. The "
    "event_id tiebreak makes same-timestamp ordering deterministic. "
    "Complements op_stream_session (engine-native session_window): "
    "this variant materializes an explicit per-user session SEQUENCE "
    "NUMBER, which downstream funnel/attribution joins key on.",
    tags=("window", "timeseries", "streaming"),
)
def op_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session ids + per-session stats via lag/cumsum."""
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_sess = (
        F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0)
    )
    numbered = e.withColumn(
        "session_seq",
        F.sum(new_sess).over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return numbered.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (
            F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))
        ).alias("duration_us"),
    )


@query(
    "op_win_time_range",
    oracle=f"""
        SELECT user_id, ts, event_id,
               COUNT(*) OVER w AS n_7d,
               {{}}
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 7 DAYS PRECEDING
                           AND CURRENT ROW)
    """.format(
        sql_wide_to_double(
            "SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) OVER w"
        )
        + " / 1000000.0 AS sum_7d"
    ),
    notes="Time-interval RANGE frame: a 7-day trailing window per "
    "user, bounded by event TIME, not row count — the moving-metric "
    "idiom (trailing spend, rolling error rate) that rows-frames get "
    "wrong whenever event density varies. Spark expresses the frame "
    "in epoch seconds (rangeBetween over a cast ORDER BY key, "
    "value-identical to DuckDB's INTERVAL frame for microsecond "
    "timestamps); the fixed-point sum keeps the aggregate exact. "
    "Same-ts rows are PEERS in a range frame on both engines, so no "
    "tiebreak is needed for determinism.",
    tags=("window", "timeseries"),
)
def op_win_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day trailing count + exact sum per user, time-bounded."""
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    # rangeBetween needs a numeric ORDER BY key; unix_micros + a
    # microsecond bound makes the frame boundary exact for any
    # microsecond timestamp (both engines' bounds are inclusive)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-7 * 24 * 3600 * 1_000_000, 0)
    )
    scaled = F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("bigint")
    return e.select(
        "user_id",
        "ts",
        "event_id",
        F.count("*").over(w).alias("n_7d"),
        (F.sum(scaled).over(w).cast("double") / 1_000_000.0).alias("sum_7d"),
    )


@query(
    "op_stream_static_join",
    oracle=f"""
        SELECT n.n_name,
               COUNT(*) AS n_events,
               {{}}
        FROM events e
        JOIN customer c ON e.user_id = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    """.format(sql_dsum("e.value", "sum_value")),
    notes="Stream-STATIC join (the enrichment pattern: an unbounded "
    "fact stream decorated with slowly-changing dimensions): the "
    "events stream joins two batch tables — customer then nation. "
    "nation keeps its literal broadcast hint (25 rows, constant); "
    "customer grows with the corpus so it carries no static hint — "
    "at fixture scale stats still broadcast it per micro-batch, at "
    "100 TB the per-batch join plans shuffle-side. Either way a "
    "stream-static join needs NO state store (unlike stream-stream "
    "joins, which "
    "buffer both sides under watermarks). Executed availableNow with "
    "a complete-mode grouped rollup; hash-checked against the static "
    "three-table join.",
    tags=("streaming", "join"),
)
def op_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event stream enriched with customer->nation dims, rolled up per
    nation."""
    from ..catalog import load as load_batch
    from .runner import read_events_stream, run_available_now

    stream = read_events_stream(spark, sf_dir)
    c = load_batch(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_batch(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    enriched = stream.join(
        hint_broadcast(c), stream.user_id == c.c_custkey
    ).join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
    agg = enriched.groupBy("n_name").agg(
        F.count("*").alias("n_events"),
        dsum(F.col("value"), "sum_value"),
    )
    return run_available_now(agg, output_mode="complete")


@query(
    "op_stream_sessionize",
    oracle="""
        WITH flagged AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts - lag(ts) OVER w > INTERVAL 30 MINUTES
                      THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        numbered AS (
          SELECT user_id, ts,
                 SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sess_id
          FROM flagged
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTES AS session_end,
               COUNT(*) AS n_events
        FROM numbered
        GROUP BY user_id, sess_id
        HAVING MAX(ts) + INTERVAL 30 MINUTES
               <= (SELECT date_trunc('milliseconds', MAX(ts)) FROM events)
    """,
    notes="INCREMENTAL sessionization — the one SURVEY \u00a72.J shape "
    "that previously existed only in batch form. session_window "
    "aggregation runs as a TRUE multi-batch stream: the fixture is "
    "resharded into 4 contiguous time-range files whose mtimes force "
    "in-order delivery (maxFilesPerTrigger=1), a ZERO-DELAY watermark "
    "advances to each batch's max event time, and APPEND mode emits a "
    "session exactly once — when the watermark passes its end, i.e. "
    "its state has been finalized and EVICTED (update mode is "
    "unsupported for session windows; this is the eviction-exercising "
    "path anyway). The emission contract is part of the oracle: "
    "sessions whose end exceeds the final watermark (Spark truncates "
    "event-time watermarks to whole milliseconds — hence the "
    "date_trunc) are still open in the state store and correctly "
    "absent. At 100 TB this is the right shape outright: state is "
    "bounded by the sessions inside one watermark horizon, each "
    "micro-batch shuffles only its own events on user_id, and closed "
    "sessions leave the store the moment they are emitted. The "
    "time-ordered reshard is harness scaffolding standing in for a "
    "source that (like any log broker) delivers roughly in event "
    "order; out-of-order arrival WITHIN a batch is handled by the "
    "session merge, and tests/test_streaming.py asserts "
    "stream-vs-batch equality Spark-side on top of this DuckDB "
    "oracle.",
    tags=("streaming", "window", "timeseries"),
)
def op_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked append-mode session_window over a 4-batch stream."""
    import os
    import shutil

    from .runner import run_available_now
    from .sessionize_stream import sessionized_stream

    stream = sessionized_stream(spark, sf_dir)
    src = stream._sess_stream_src  # staging dir recorded by the builder
    try:
        return run_available_now(stream, output_mode="append")
    finally:
        # memory sink is driver-resident once drained: reclaim the
        # staged shard copies (they used to leak two events
        # projections per invocation — review finding; same pattern
        # as the heartbeat join's staging cleanup)
        shutil.rmtree(os.path.dirname(src), ignore_errors=True)


@query(
    "op_time_weighted_avg",
    oracle=f"""
        WITH seq AS (
          SELECT user_id, value,
                 epoch_us(ts) // 1000000 AS t_s,
                 LEAD(epoch_us(ts) // 1000000) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id)
                   AS t_next_s
          FROM events
        ),
        seg AS (
          SELECT user_id,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                   * (t_next_s - t_s) AS w,
                 t_next_s - t_s AS d
          FROM seq WHERE t_next_s IS NOT NULL
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) + 1 AS n_obs,
               CAST(SUM(d) AS BIGINT) AS span_s,
               {sql_wide_to_double("SUM(w)")}
                 / (100.0 * {sql_wide_to_double("SUM(d)")}) AS twa_value
        FROM seg
        GROUP BY user_id
        HAVING SUM(d) > 0
    """,
    notes="Time-weighted average (TimescaleDB time_weight('LOCF') "
    "equivalent): each observation's value holds until the next "
    "sample, so the mean is integral(v dt)/span, not AVG(v) — the "
    "correct answer for irregularly-sampled metrics where AVG "
    "over-weights chatty periods. One window pass (LEAD over the "
    "per-user time order, event_id tiebreak makes equal-timestamp "
    "pairing deterministic) + one per-user aggregate — both cluster "
    "on user_id, so Catalyst runs ONE exchange for the whole op. "
    "Exactness: durations are second-floored integers, values "
    "fixed-pointed at 1e-2, products summed wide (decimal(38,0) / "
    "HUGEINT) and divided once in double — bit-identical across "
    "engines, order-independent (the dsum discipline applied to a "
    "weighted sum). At 100 TB this is the same shape as sessionize: "
    "linear scan, key-partitioned window, no iteration.",
    tags=("timeseries", "window"),
)
def op_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF time-weighted mean of events.value per user."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t_s = (F.unix_micros("ts") / 1_000_000).cast("long")
    seq = e.select(
        "user_id",
        "value",
        t_s.alias("t_s"),
        F.lead(t_s).over(w).alias("t_next_s"),
    ).filter(F.col("t_next_s").isNotNull())
    seg = seq.select(
        "user_id",
        (
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
            * (F.col("t_next_s") - F.col("t_s"))
        )
        .cast("decimal(38,0)")
        .alias("w"),
        (F.col("t_next_s") - F.col("t_s")).alias("d"),
    )
    return (
        seg.groupBy("user_id")
        .agg(
            (F.count("*") + F.lit(1)).cast("bigint").alias("n_obs"),
            F.sum("d").cast("bigint").alias("span_s"),
            (
                F.sum("w").cast("double")
                / (F.lit(100.0) * F.sum("d").cast("double"))
            ).alias("twa_value"),
        )
        .filter(F.col("span_s") > 0)
    )


@query(
    "op_ewma",
    oracle="""
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_obs,
               list_reduce(list(value ORDER BY ts, event_id),
                           (acc, x) -> 0.3 * x + 0.7 * acc) AS ewma
        FROM events
        GROUP BY user_id
    """,
    notes="Exponentially-weighted moving average — a per-key "
    "RECURRENCE (s_i = a*v_i + (1-a)*s_{i-1}), which windowed SQL "
    "cannot express but a higher-order array fold can: collect the "
    "per-user series, array_sort on (ts, event_id) structs for a "
    "deterministic order, then aggregate() folds the smoothing "
    "recurrence left-to-right entirely JVM-side (no Python, no UDF). "
    "DuckDB's list_reduce seeds the accumulator with the first "
    "element, so the Spark fold seeds with element 1 and folds the "
    "tail — identical operation sequence in double, bit-identical "
    "result. Scale contract: one exchange on user_id; per-key state "
    "is the key's OWN history (fine for bounded per-key cardinality "
    "— the per-user event count here; for unbounded keys the "
    "streaming escalation is transformWithState, gated on protobuf "
    "in this container).",
    tags=("timeseries", "array"),
)
def op_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final EWMA (alpha=0.3) of events.value per user."""
    e = load(spark, sf_dir, "events")
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.unix_micros("ts").alias("t_us"),
                F.col("event_id").alias("eid"),
                F.col("value").alias("v"),
            )
        )
    )
    vals = F.transform(arr, lambda s: s["v"])
    tail = F.slice(
        vals, F.lit(2), F.greatest(F.size(vals) - 1, F.lit(0))
    )
    ewma = F.aggregate(
        tail,
        F.element_at(vals, 1),
        lambda acc, x: F.lit(0.3) * x + F.lit(0.7) * acc,
    )
    return e.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_obs"),
        ewma.alias("ewma"),
    )


@query(
    "op_scd2_build",
    oracle="""
        SELECT user_id,
               event_type AS attr_value,
               ts AS valid_from,
               LEAD(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS valid_to,
               CASE WHEN LEAD(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_current
        FROM events
    """,
    notes="Slowly-changing-dimension type 2 build: turn a change "
    "history into validity intervals — each observation is valid "
    "from its timestamp until the next change for the same key, the "
    "last one open-ended (NULL valid_to, is_current=1). One LEAD "
    "window over (key, time) — exactly one exchange, the standard "
    "warehouse dim-build primitive this engine's CDC family "
    "(op_stream_cdc_upsert keeps only latest-per-key) deliberately "
    "does NOT cover: SCD2 retains full history for point-in-time "
    "joins. event_id tiebreak makes equal-timestamp ordering "
    "deterministic across engines. At 100 TB the incremental "
    "refresh closes only the previously-open rows of keys touched "
    "by the new batch — same touched-keys discipline as the CDC "
    "bucket overwrite.",
    tags=("timeseries", "window", "cdc"),
)
def op_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validity-interval (SCD2) rows from the events change log."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return e.select(
        "user_id",
        F.col("event_type").alias("attr_value"),
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        F.when(nxt.isNull(), F.lit(1)).otherwise(F.lit(0)).alias(
            "is_current"
        ),
    )


@query(
    "op_join_interval_overlap",
    oracle="""
        WITH flagged AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts - lag(ts) OVER w > INTERVAL 30 MINUTES
                      THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        numbered AS (
          SELECT user_id, ts,
                 SUM(is_new) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sess_id
          FROM flagged
        ),
        sessions AS (
          SELECT user_id, sess_id, MIN(ts) AS s, MAX(ts) AS e
          FROM numbered GROUP BY user_id, sess_id
        )
        SELECT a.user_id AS user_a, b.user_id AS user_b,
               CAST(COUNT(*) AS BIGINT) AS n_overlaps
        FROM sessions a JOIN sessions b
          ON a.s <= b.e AND b.s <= a.e AND a.user_id < b.user_id
        GROUP BY a.user_id, b.user_id
    """,
    notes="Interval×interval OVERLAP join (co-presence: pairs of "
    "users whose activity sessions intersected in time) — the "
    "pattern point-in-interval joins (op_join_theta / "
    "op_join_range_bucketized) don't cover, because BOTH sides are "
    "ranges. Executed scalably by temporal bucketization: every "
    "session is exploded into the 1-hour buckets it spans (sessions "
    "are gap-bounded, so the replication factor is small and "
    "data-independent), the join is an EQUI-join on the bucket, the "
    "exact overlap predicate re-checks inside the bucket, and a "
    "distinct on session pairs removes multi-bucket double-counts "
    "before the pair rollup. The oracle states the same semantics "
    "as a direct range self-join (DuckDB plans it as an IEJoin). "
    "At 100 TB the bucket width is the knob: ~median interval "
    "length keeps replication ≈2× while bounding each bucket's "
    "all-pairs term.",
    tags=("join", "timeseries"),
)
def op_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-user overlapping-session pair counts, bucketized."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    flagged = e.withColumn(
        "is_new",
        F.when(
            gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1
        ).otherwise(0),
    )
    numbered = flagged.withColumn(
        "sess_id",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    sessions = numbered.groupBy("user_id", "sess_id").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    bucketed = sessions.withColumn(
        "h",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "s"),
                F.date_trunc("hour", "e"),
                F.expr("interval 1 hour"),
            )
        ),
    )
    a = bucketed.select(
        F.col("user_id").alias("ua"),
        F.col("sess_id").alias("sa"),
        F.col("s").alias("a_s"),
        F.col("e").alias("a_e"),
        "h",
    )
    b = bucketed.select(
        F.col("user_id").alias("ub"),
        F.col("sess_id").alias("sb"),
        F.col("s").alias("b_s"),
        F.col("e").alias("b_e"),
        "h",
    )
    pairs = (
        a.join(b, "h")
        .filter(
            (F.col("ua") < F.col("ub"))
            & (F.col("a_s") <= F.col("b_e"))
            & (F.col("b_s") <= F.col("a_e"))
        )
        .select("ua", "sa", "ub", "sb")
        .distinct()
    )
    return pairs.groupBy(
        F.col("ua").alias("user_a"), F.col("ub").alias("user_b")
    ).agg(F.count("*").cast("bigint").alias("n_overlaps"))


@query(
    "op_session_dynamic_gap",
    oracle="""
        WITH base AS (
          SELECT user_id, event_id, epoch_us(ts) AS t,
                 CASE WHEN event_type = 'click'
                      THEN 600000000 ELSE 1800000000 END AS gap_us
          FROM events
        ),
        m AS (
          SELECT *,
                 MAX(t + gap_us) OVER (
                   PARTITION BY user_id ORDER BY t, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_end
          FROM base
        ),
        flagged AS (
          SELECT *,
                 CASE WHEN prev_end IS NULL OR t >= prev_end
                      THEN 1 ELSE 0 END AS is_new
          FROM m
        ),
        numbered AS (
          SELECT *,
                 SUM(is_new) OVER (PARTITION BY user_id
                                   ORDER BY t, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sess_id
          FROM flagged
        )
        SELECT user_id,
               make_timestamp(MIN(t)) AS session_start,
               make_timestamp(MAX(t + gap_us)) AS session_end,
               COUNT(*) AS n_events
        FROM numbered
        GROUP BY user_id, sess_id
    """,
    notes="session_window with a DYNAMIC gap — the inactivity "
    "threshold is an expression of the row ('click' events hold the "
    "session open 10 minutes, everything else 30), which is the form "
    "real session logic takes (checkout pages get longer grace than "
    "scrolls) and a distinct engine surface from the fixed-gap "
    "op_stream_session: each event extends the session to ts+gap(ts), "
    "and sessions merge while the next event starts strictly before "
    "the RUNNING MAXIMUM of extended ends. The oracle mirrors exactly "
    "that with a cumulative-max gaps-and-islands rewrite in integer "
    "microseconds (the >= / < boundary and the running max are where "
    "naive lag-based rewrites silently diverge from the engine). "
    "Same scale posture as every session op: one user_id exchange, "
    "sort-and-merge within partitions, never a self-join.",
    tags=("streaming", "window"),
)
def op_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type dynamic-gap session windows per user."""
    e = load(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type") == "click", F.lit("10 minutes")
    ).otherwise(F.lit("30 minutes"))
    return (
        e.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "op_stream_interval_join_right",
    oracle="""
        SELECT v.user_id AS v_user,
               v.event_id AS view_id,
               p.user_id AS p_user,
               p.event_id AS purchase_id
        FROM (SELECT * FROM events WHERE event_type = 'view') v
        RIGHT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON v.user_id = p.user_id
         AND p.ts >= v.ts
         AND p.ts < v.ts + INTERVAL 30 MINUTE
    """,
    notes="Right-outer completes the heartbeat outer-join family "
    "(left r6, full r6): unmatched PURCHASES — conversions with no "
    "qualifying prior view, the attribution-gap rows — emit with "
    "NULL view columns once the watermark passes their window; the "
    "heartbeat batch flushes the tail exactly as in the siblings. "
    "Hash-match vs the batch RIGHT JOIN proves the right-side "
    "withheld-NULL set also drains completely.",
    tags=("streaming", "join", "scale"),
)
def op_stream_interval_join_right(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """True streaming right-outer attribution join with heartbeat
    flush."""
    out = _stream_interval_join_heartbeat(spark, sf_dir, "right_outer")
    return out.filter(
        (F.coalesce(F.col("v_user"), F.lit(0)) >= 0)
        & (F.col("p_user") >= 0)
    ).select(
        "v_user",
        F.col("v_id").alias("view_id"),
        "p_user",
        F.col("p_id").alias("purchase_id"),
    )
