"""Streaming execution helpers — run a batch-authored transformation
incrementally (availableNow) and land results in a memory table or an
ORC directory.

This is the reference's conversion loop, streaming-native
(op_stream_orc_sink in SURVEY.md §2.J): files appearing in a source
directory are discovered, transformed, and committed to ORC exactly
once, with progress tracked in a checkpoint instead of the reference's
"did *.orc appear" verification (data_to_orc_converter.sh:556-566).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import events_ts
from ..scratch import session_scratch

#: Shuffle/state-store partition count captured by a streaming query at
#: start. Structured Streaming creates one state-store instance (and
#: its checkpoint/commit files) PER partition PER stateful operator PER
#: micro-batch; a stream-stream join keeps four stores per partition.
#: With the batch default of 32 partitions over the KB-sized fixture
#: state, that machinery dominated every availableNow op (r15
#: measurement, op_stream_interval_join_outer warm: 15.5 s at 32 →
#: 3.9 s at 8, results identical — partition-count invariance is
#: sweep-proven for the whole registry). State partitions should track
#: STATE SIZE, not cluster width; cluster deploys with large keyed
#: state should raise SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS (the value
#: is pinned into the checkpoint at first start, as Spark requires).
STREAM_SHUFFLE_PARTITIONS = os.environ.get(
    "SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", "8"
)


#: Guards stream_partitions' set/restore of the session-global conf:
#: without it, two nested/overlapping stream starts could capture the
#: temporary streaming value as `prev` and pin the session there for
#: later batch queries (r15 ADVICE — the lost-restore race; the
#: read-side race was already documented as harmless).
_STREAM_PART_LOCK = threading.RLock()
_STREAM_PART_DEPTH = 0


@contextmanager
def stream_partitions(spark: SparkSession):
    """Scope the session's shuffle-partition conf to the streaming
    value around a stream start; the query captures it at start, so
    restoring immediately afterwards is safe. Reentrant and
    thread-serialized: nested uses restore the TRUE original value
    once, and concurrent starts cannot interleave set/restore. (Batch
    queries planned concurrently by another driver thread can still
    observe the narrow value — harmless: the registry is
    partition-count invariant, proven by
    scripts/conf_invariance_audit.py spark.sql.shuffle.partitions 5.)

    Wrap only the ``.start()`` call: the lock is held for the whole
    block, so anything else inside it (waiting on the query, reading
    its results) serializes every other stream start behind it, and a
    batch query planned inside it runs at the narrow value."""
    global _STREAM_PART_DEPTH
    key = "spark.sql.shuffle.partitions"
    with _STREAM_PART_LOCK:
        outermost = _STREAM_PART_DEPTH == 0
        if outermost:
            prev = spark.conf.get(key)
            spark.conf.set(key, STREAM_SHUFFLE_PARTITIONS)
        _STREAM_PART_DEPTH += 1
        try:
            yield
        finally:
            _STREAM_PART_DEPTH -= 1
            if outermost:
                spark.conf.set(key, prev)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events fixture with the SAME type-adaptive
    timestamp handling as catalog.load.

    readStream requires an explicit schema, so we probe it from a batch
    read of the same file rather than hard-coding one: parquet fixtures
    have shipped ``ts`` both as TIMESTAMP(NANOS) (surfaced as bigint
    under nanosAsLong) and as timestamp[us] (surfaced as timestamp
    directly), and a hard-coded ``ts long`` + ``DIV 1000`` silently
    collapses µs-typed data to ~1970. ``ts`` goes through the same
    ``catalog.events_ts`` rule as the batch loader."""
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch_schema = spark.read.parquet(
        os.path.join(sf_dir, "events.parquet")
    ).schema
    return events_ts(
        spark.readStream.schema(batch_schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )


def run_available_now(
    result: DataFrame,
    output_mode: str = "complete",
    timeout_sec: int = 120,
) -> DataFrame:
    """Execute a streaming DataFrame with an availableNow trigger into
    a memory sink; returns the sink table as a (batch) DataFrame."""
    spark = result.sparkSession
    name = f"sink_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        with stream_partitions(spark):
            q = (
                result.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        if not q.awaitTermination(timeout_sec):
            # timed out with the query STILL RUNNING: stop it before
            # the finally deletes its checkpoint (and before callers
            # delete staged sources) — otherwise the live query
            # crashes mid-batch on the vanished files and the partial
            # memory table is joined by executor error noise. Then
            # FAIL LOUDLY: returning the partial sink table would
            # surface later as a baffling oracle hash mismatch
            # (r7 advice)
            q.stop()
            q.awaitTermination(30)
            raise TimeoutError(
                f"availableNow stream did not drain within "
                f"{timeout_sec}s; memory sink {name!r} holds a "
                f"PARTIAL result — raise timeout_sec or shrink input"
            )
        return spark.table(name)
    finally:
        # the memory-sink table is driver-resident and the availableNow
        # query never resumes — the checkpoint is dead weight once the
        # stream drains (it used to leak one dir per invocation)
        shutil.rmtree(ckpt, ignore_errors=True)


def stream_to_orc(
    result: DataFrame,
    path: str,
    checkpoint: str | None = None,
    compression: str = "snappy",
    timeout_sec: int = 120,
) -> None:
    """Append-mode streaming ORC sink with exactly-once commits."""
    with stream_partitions(result.sparkSession):
        q = (
            result.writeStream.format("orc")
            .option("path", path)
            .option("compression", compression)
            .option(
                "checkpointLocation",
                checkpoint or session_scratch("ckpt_orc_"),
            )
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination(timeout_sec)


def stream_to_orc_foreach_batch(
    result: DataFrame,
    path: str,
    checkpoint: str | None = None,
    timeout_sec: int = 120,
) -> None:
    """foreachBatch ORC sink with idempotent per-batch commits.

    The pattern for sinks that need batch-scoped logic (merge, upsert,
    dynamic partition overwrite): each micro-batch lands in its own
    hive partition ``batch_id=N`` via dynamic partition overwrite, so
    a replayed batch overwrites itself instead of duplicating —
    exactly-once without sink-side transactions."""
    import tempfile

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .orc(path)
        )

    with stream_partitions(result.sparkSession):
        q = (
            result.writeStream.foreachBatch(write_batch)
            .option(
                "checkpointLocation",
                checkpoint or session_scratch("ckpt_fb_"),
            )
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination(timeout_sec)
