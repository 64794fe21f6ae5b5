"""High-level conversion API — the reference's wizard surface
(data_to_orc_converter.sh:84-173), non-interactive.

One function per conversion type (mysql / sql dump / csv → ORC),
mirroring the generated converters' CLIs (sh:280-289, 403-415,
508-521) with the reference's bugs fixed: knobs actually wired,
deterministic scans, credentials out of argv, real parallelism via the
Spark scheduler.

Per-table progress. The reference logs per-chunk progress while
converting — e.g. ``Progress users: 500,000/10,458,327 rows``
(sh:249; its README.md:106-110 documents it as a feature) — because
its pandas loop owns a driver-side cursor. A Spark conversion is one
distributed write with no driver loop to hang a row counter on, so
``_write_tables`` narrates the honest distributed analogs:

* **in-flight**: task completion out of ``statusTracker()`` — a
  daemon thread polls the active stages under the write's job group
  and emits ``Progress <table>: K/N tasks`` lines whenever the count
  moves. Tasks, not rows: Spark cannot know the total row count
  before the scan finishes without paying a second pass, and at
  100 TB nobody should pay that pass for a log line.
* **per-table total**: an ``Observation`` (``df.observe``) riding the
  ORC write counts rows *during* the single pass — exact, zero extra
  scan. ``write_orc`` always runs one action on the observed frame,
  so the Observation always resolves.
"""

from __future__ import annotations

import glob as _glob
import os
import threading
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .sinks.orc import write_orc
from .sources.csv import read_csv
from .sources.jdbc import JdbcConfig, list_tables, partition_bounds, read_table
from .sources.sqldump import parse_dump

#: seconds between statusTracker polls while a table writes
_POLL_SEC = 0.5


def _poll_tasks(
    spark: SparkSession,
    say: Callable[[str], None],
    name: str,
    group: str,
    stop: threading.Event,
) -> None:
    # scoped to the write's own job group so concurrent table
    # conversions (Spark schedules them freely — op_parallel_tables)
    # never mix their task counts into each other's narration
    tracker = spark.sparkContext.statusTracker()
    last = -1
    while not stop.wait(_POLL_SEC):
        try:
            done = total = 0
            for jid in tracker.getJobIdsForGroup(group):
                job = tracker.getJobInfo(jid)
                if job is None:
                    continue
                for sid in job.stageIds:
                    info = tracker.getStageInfo(sid)
                    if info is not None:
                        done += info.numCompletedTasks
                        total += info.numTasks
        except Exception:  # tracker races with job teardown — benign
            continue
        if total and done != last:
            last = done
            say(f"Progress {name}: {done}/{total} tasks")


def _write_tables(
    spark: SparkSession,
    names: list[str],
    frame: Callable[[str], DataFrame],
    output_dir: str,
    compression: str,
    report: Callable[[str], None] | None,
) -> dict[str, str]:
    """The table loop of every conversion: ``frame(name)`` → the ORC
    directory ``output_dir/name``, one table after another, each frame
    built just before its write. ``report`` narrates each table (see
    the module docstring); None writes the frame as it is — no observe
    node, no poller thread."""
    sc = spark.sparkContext
    written = {}
    for i, name in enumerate(names, 1):
        written[name] = out = os.path.join(output_dir, name)
        df = frame(name)
        if report is None:
            write_orc(df, out, compression=compression)
            continue
        group = f"convert_{name}_{i}"
        obs = Observation(group)
        report(f"Converting {name} ({i}/{len(names)}) ...")
        # the job group is thread-local: hand the CALLER's back (a
        # caller may wrap a multi-table conversion in its own group)
        prev = (
            sc.getLocalProperty("spark.jobGroup.id"),
            sc.getLocalProperty("spark.job.description"),
        )
        stop = threading.Event()
        poller = threading.Thread(
            target=_poll_tasks,
            args=(spark, report, name, group, stop),
            daemon=True,
        )
        poller.start()
        sc.setJobGroup(group, f"convert {name} -> ORC")
        try:
            write_orc(
                df.observe(obs, F.count(F.lit(1)).alias("rows")),
                out,
                compression=compression,
            )
        finally:
            sc.setJobGroup(*prev)
            stop.set()
            poller.join(timeout=5)
        rows = obs.get["rows"]
        report(f"{name}: {rows:,} rows written ({i}/{len(names)} tables)")
    return written


def convert_csv(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    delimiter: str = ",",
    header: bool = True,
    infer_schema: bool = True,
    compression: str = "snappy",
    report: Callable[[str], None] | None = None,
) -> dict[str, str]:
    """CSV file/dir → ORC. A directory input becomes one table per CSV
    file (the reference's file-per-table CSV layout, sh:464-465 — note
    it diverges from the dir-per-table layout of the other paths; we
    keep dir-per-table uniformly)."""
    if os.path.isdir(input_path):
        files = sorted(_glob.glob(os.path.join(input_path, "*.csv")))
    else:
        files = [input_path]
    paths = {os.path.splitext(os.path.basename(f))[0]: f for f in files}
    return _write_tables(
        spark,
        list(paths),
        lambda name: read_csv(
            spark, paths[name], delimiter=delimiter, header=header,
            infer_schema=infer_schema,
        ),
        output_dir,
        compression,
        report,
    )


def convert_sql_dump(
    spark: SparkSession,
    dump_path: str,
    output_dir: str,
    compression: str = "snappy",
    tables: list[str] | None = None,
    report: Callable[[str], None] | None = None,
) -> dict[str, str]:
    """SQL dump → typed ORC tables (see sources/sqldump.py); the
    reference's EP3 (sql_dump_to_orc_converter.py, sh:403-415). A
    listed table the dump does not define is a ``ValueError``."""
    parsed = parse_dump(spark, dump_path, tables)
    return _write_tables(
        spark, list(parsed), parsed.__getitem__, output_dir, compression, report
    )


def convert_mysql(
    spark: SparkSession,
    cfg: JdbcConfig,
    output_dir: str,
    tables: list[str] | None = None,
    compression: str = "snappy",
    partition_columns: dict[str, str] | None = None,
    num_partitions: int = 8,
    report: Callable[[str], None] | None = None,
) -> dict[str, str]:
    """MySQL → ORC via range-partitioned JDBC (see sources/jdbc.py); the
    reference's EP2 (mysql_to_orc_converter.py, sh:280-289): every
    table, or the listed ones. A table in ``partition_columns`` is read
    in ``num_partitions`` key ranges between the column's MIN and MAX
    (the wizard passes its "Parallel workers" answer as
    ``num_partitions`` but names no partition column); an empty one
    is read whole. Spark schedules a table's partitions concurrently —
    no 4-thread pool."""
    if tables is None:
        tables = [r[0] for r in list_tables(spark, cfg).collect()]
    partition_columns = partition_columns or {}

    def frame(table: str) -> DataFrame:
        pc = partition_columns.get(table)
        bounds = pc and partition_bounds(spark, cfg, table, pc)
        if not bounds:
            return read_table(spark, cfg, table)
        return read_table(
            spark, cfg, table, pc, *bounds, num_partitions=num_partitions
        )

    return _write_tables(spark, tables, frame, output_dir, compression, report)
