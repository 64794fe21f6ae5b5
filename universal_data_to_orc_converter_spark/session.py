"""SparkSession factory.

One place to encode the engine's execution posture:

* **AQE on** — runtime coalescing, skew-join splitting, and
  broadcast-join conversion replace every hand-rolled execution-strategy
  decision the reference makes (chunk sizing at
  ``data_to_orc_converter.sh:192``, thread pools at ``sh:260``).
* **UTC session timezone** — fixture timestamp columns have shipped in
  several physical parquet units across generations (``catalog.load``
  and ``streaming.runner.read_events_stream`` probe the observed dtype
  rather than assume one); a fixed zone keeps results comparable across
  engines (DuckDB oracle is zone-naive).
* **Arrow on** — pandas interchange at the API edges is vectorized.
* **shuffle.partitions** sized for the local test harness; on a real
  cluster AQE's ``coalescePartitions`` makes the initial number mostly
  a ceiling, so a larger value is safe at scale.
* **Arrow tables always cross to the JVM as an RDD**
  (``arrow.localRelationThreshold`` 0). Under Spark's 48 MB default a
  smaller ``createDataFrame(pyarrow.Table or pandas)`` becomes a
  driver-side ``LocalRelation``, and the optimizer then folds any
  projection over it (``sqldump.typed``'s ``try_cast``) row by row in
  the driver's interpreter. As an RDD, each Arrow batch is one
  partition decoded on the executors, and the projection runs in
  whole-stage codegen inside the job that consumes the frame (the ORC
  write). Lists of rows take another path and are unaffected.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
#: Split size for file scans. The cluster-right default is Spark's
#: 128 MB; the local harness reads ~10 MB fixture files on many cores,
#: so smaller splits keep the scan parallel. Cluster deploys should
#: export SPARK_GRAFT_MAX_PARTITION_BYTES=128m (or leave Spark's
#: default by setting it to "").
DEFAULT_MAX_PARTITION_BYTES = os.environ.get(
    "SPARK_GRAFT_MAX_PARTITION_BYTES", "1m"
)

#: The engine's runtime-settable posture: ``get_spark`` builds every
#: session with it and ``tune_session`` sets it on a session built
#: elsewhere. An empty value leaves Spark's default.
SESSION_CONF: dict[str, str] = {
    "spark.sql.shuffle.partitions": DEFAULT_SHUFFLE_PARTITIONS,
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.orc.filterPushdown": "true",
    "spark.sql.orc.enableVectorizedReader": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.files.maxPartitionBytes": DEFAULT_MAX_PARTITION_BYTES,
    "spark.sql.execution.arrow.localRelationThreshold": "0",
}


def _posture() -> dict[str, str]:
    return {k: v for k, v in SESSION_CONF.items() if v}


def get_spark(
    app_name: str = "universal_data_to_orc_converter_spark",
    extra_conf: "dict[str, str] | None" = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard
    config. ``extra_conf`` entries are applied last (pre-JVM settings
    like ``spark.eventLog.*`` only take effect when no session exists
    yet — the diagnostics scripts' use case)."""
    conf = {
        **_posture(),
        # Arrow changes how the session owner's toPandas converts
        # results, so it is set only on sessions built here
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        # no \r progress-bar spam in archived bench/driver logs
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        **(extra_conf or {}),
    }
    builder = SparkSession.builder.master(f"local[{DEFAULT_CPUS}]").appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable posture to an externally
    provided session (the driver hands ``queries()`` callables its own
    session; timezone and AQE are runtime-configurable, so we set them
    here instead of trusting the ambient config)."""
    for k, v in _posture().items():
        spark.conf.set(k, v)
    return spark
