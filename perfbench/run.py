"""The repository's benchmark: conversion to ORC beside the headline
queries, in one closed-loop client process.

    python3 perfbench/run.py --workload convert_csv --seed 1 --seconds 10 --trace 0

Run it from the repository root. Workloads: ``convert_csv``,
``convert_sqldump``, ``convert_jdbc``, ``query_headline`` (see
``perfbench/README.md``). One iteration starts only after the previous
one ended. Spark runs as ``local[nproc]``.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the Spark event log is on and it carries the
per-layer metrics instead (also written to
``.perfbench_work/trace-<workload>-<seed>.json``). Outputs are checked
outside the timed region; the exit code is 1 when any check fails and
2 when the package cannot be imported.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.getcwd()

#: untimed warm-up after the cold first iteration, at least this long
#: and this many iterations: the JIT keeps speeding iterations up for
#: several seconds, and a headline pass still sped up over its first
#: three passes
WARMUP_S = 3.0
WARMUP_ITERS = 2
#: the driver JVM's heap
HEAP = "2g"
#: read-back probes per run, spread over its rounds; ``readback_s`` is
#: their median
READBACKS = 16
#: the percentile ``iter_s_tail`` reads, by nearest rank
TAIL_PCT = 90

END_TO_END = {
    "setup_s": "s",
    "first_iter_s": "s",
    "iter_s_p50": "s",
    "iter_s_tail": "s",
    "rows_per_s": "rows/s",
    "input_mb_per_s": "MB/s",
    "orc_size_ratio": "ratio",
    "readback_s": "s",
    "py_peak_rss_mb": "MB",
    "jvm_peak_rss_mb": "MB",
}


def per_layer(headline: list[str]) -> dict[str, str]:
    """Per-layer metric names and units; ``operators.*`` follows
    ``bench.HEADLINE``."""
    return {
        "trace.iter_s_p50": "s",
        "sources.csv.read_csv_s": "s",
        "sources.csv.scan_s": "s",
        "sources.sqldump.split_s": "s",
        "sources.sqldump.insert_parse_s": "s",
        "sources.sqldump.parse_dump_s": "s",
        "sources.sqldump.to_spark_s": "s",
        "sources.sqldump_datasource.scan_s": "s",
        "sources.jdbc.list_tables_s": "s",
        "sources.jdbc.scan_s": "s",
        "sinks.orc.write_s": "s",
        "sinks.orc.commit_s": "s",
        "sinks.orc.files": "count",
        "sinks.orc.mean_file_mb": "MB",
        "progress.overhead_s": "s",
        **{
            f"operators.{q}.{m}": u
            for q in headline
            for m, u in (("construct_s", "s"), ("exec_s", "s"), ("jobs_at_construct", "count"))
        },
        "catalyst.analysis_s": "s",
        "catalyst.optimization_s": "s",
        "catalyst.planning_s": "s",
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.task_run_s": "s",
        "spark.task_cpu_s": "s",
        "spark.task_offcpu_s": "s",
        "spark.gc_s": "s",
        "spark.shuffle_write_mb": "MB",
        "spark.spill_mb": "MB",
        "spark.core_idle_share": "ratio",
        "jvm.heap_peak_mb": "MB",
        "jvm.old_gen_peak_mb": "MB",
    }


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def load1() -> float:
    return round(os.getloadavg()[0], 2)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat.
    Steal is time a hypervisor gave this machine's CPUs to others: a run
    with a high share of it was slowed from outside."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _status_kb(pid: int | str, field: str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return float(line.split()[1])
    return 0.0


def reset_peak_rss(pid: int | str) -> None:
    """Restart the kernel's peak-RSS (VmHWM) count for ``pid``."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def heap_pools(spark) -> list:
    """The JVM's heap memory pools (G1: eden, survivor, old gen)."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if str(p.getType()) == "Heap memory"]


def tail(samples: list[float]) -> float:
    """The ``TAIL_PCT`` percentile by nearest rank: its rank is a fixed
    share of the sample count, so it reads the same part of the
    distribution however many iterations fit in the run."""
    s = sorted(samples)
    return s[math.ceil(TAIL_PCT * len(s) / 100) - 1]


def stop_spark(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait
    for it (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the next session launches a fresh JVM
    SparkContext._gateway = None
    SparkContext._jvm = None


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    host = {"nproc": os.cpu_count(), "cpus": nproc(), "load1_before": load1()}
    ticks0 = cpu_ticks()
    # pin the package's knobs to this host before it reads them at import
    os.environ["SPARK_GRAFT_CPUS"] = str(host["cpus"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401
        import universal_data_to_orc_converter_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        return run(args, host, WORKLOADS[args.workload], work, ticks0)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, host: dict, cls, work: str, ticks0: tuple[int, int]) -> int:
    from bench import HEADLINE
    from universal_data_to_orc_converter_spark.session import get_spark

    import gen
    from spans import EventLog, Spans

    cpus = host["cpus"]
    work_root = os.path.dirname(work)
    # every file Spark, the JVM, Derby or Python writes stays under work
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the heap is sized at its maximum from the start: grown by G1's
        # GC-time heuristics instead, the same passes ran ~30% slower and
        # spread twice as much from one JVM to the next. It is not
        # pre-touched, so VmHWM still counts only the pages the run used.
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={work}"
        ),
    }
    eventlog_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(eventlog_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    errors: list[str] = []
    phases: dict[str, float] = {}
    setup_times, digests, firsts, samples = [], [], [], []
    readbacks, py_peaks, jvm_peaks, heap_peaks, old_peaks = [], [], [], [], []
    attempted = failed = 0
    spans = Spans()

    def lap(phase: str, t0: float) -> float:
        now = time.perf_counter()
        phases[phase] = phases.get(phase, 0.0) + now - t0
        return now

    t0 = T_START
    for r in range(cls.rounds):
        spark = None
        try:
            # -- set-up: a fresh JVM's session and the generated inputs.
            # The first round's is timed from process start, a later
            # one's from the end of the round before.
            spark = get_spark(f"perfbench-{args.workload}", conf)
            spark.sparkContext.setLogLevel("ERROR")
            wl = cls(args.seed)
            manifest = gen.Manifest()
            d = os.path.join(work, f"round{r}")
            os.makedirs(d)
            wl.prepare(spark, d, manifest)
            setup_times.append(lap("setup", t0) - t0)
            digests.append(manifest.digest())
            host["master"] = spark.sparkContext.master
            jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

            # -- the cold first iteration, warm-up, then the timed loop ---
            t0 = time.perf_counter()
            firsts.append(sum(wl.iterate(spark, 0)))
            done = [0]
            t0 = lap("first", t0)
            while len(done) <= WARMUP_ITERS or time.perf_counter() - t0 < WARMUP_S:
                wl.iterate(spark, len(done))
                done.append(len(done))
            attempted += len(done)
            gc.collect()
            reset_peak_rss("self")
            reset_peak_rss(jvm_pid)
            pools = heap_pools(spark)
            for p in pools:
                p.resetPeakUsage()
            t0 = lap("warmup", t0)
            loop_t0_ms = time.time() * 1000
            timed = 0
            while time.perf_counter() - t0 < args.seconds / cls.rounds:
                attempted += 1
                try:
                    got = wl.iterate(spark, len(done))
                except Exception:  # a failed iteration counts; the run goes on
                    failed += 1
                    traceback.print_exc()
                else:
                    samples.append(got)
                    done.append(len(done))
                    timed += 1
            loop = (loop_t0_ms, time.time() * 1000, timed)
            t0 = lap("loop", t0)
            py_peaks.append(_status_kb("self", "VmHWM") / 1024)
            jvm_peaks.append(_status_kb(jvm_pid, "VmHWM") / 1024)
            heap_peaks.append(sum(p.getPeakUsage().getUsed() for p in pools) / 2**20)
            old_peaks.append(
                sum(p.getPeakUsage().getUsed() for p in pools if "Old" in str(p.getName()))
                / 2**20
            )

            # -- outside the timed region: read-back, sizes, checks --------
            last = done[-1]
            readbacks += [wl.readback(spark, last) for _ in range(READBACKS // cls.rounds)]
            ratio = wl.output_bytes(last) / wl.size_base
            errors += wl.verify(spark, done)
            if args.trace and r == cls.rounds - 1:
                wl.probes(spark, spans)
                app_id = spark.sparkContext.applicationId
            t0 = lap("checks", t0)
        finally:
            if spark is not None:
                stop_spark(spark)
        t0 = lap("stop", t0)
    if len(set(digests)) != 1:
        errors.append(f"set-ups generated different inputs: {digests}")
    phases["total"] = time.perf_counter() - T_START

    if not samples:
        errors.append("no iteration completed in the timed loop")
        samples = [[float("nan")]]
    # an iteration's median is composed part by part (a headline pass:
    # each query's median), so one slow query in one pass moves it less
    p50 = sum(statistics.median(part) for part in zip(*samples))
    per_iter = [sum(parts) for parts in samples]
    tail_s = tail(per_iter)
    host["load1_after"] = load1()
    steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
    host["steal_share"] = round(steal / max(total, 1), 4)
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "host": host,
        "inputs_sha256": digests[0],
        "iterations": len(per_iter),
        "iter_s_tail_percentile": TAIL_PCT,
        "per_iteration_s": [round(x, 3) for x in per_iter],
        "setup_times_s": [round(x, 4) for x in setup_times],
        "phases_s": {k: round(v, 2) for k, v in phases.items()},
        "errors": errors[:10],
    }
    if args.trace:
        log = EventLog(os.path.join(eventlog_dir, app_id))
        spans.resolve(log)
        names = per_layer(HEADLINE)
        layers = {name: 0.0 for name in names}
        layers.update(spans.layers)
        layers.update(log.summary(*loop[:2], cpus, loop[2]))
        layers["trace.iter_s_p50"] = p50
        layers["jvm.heap_peak_mb"] = statistics.median(heap_peaks)
        layers["jvm.old_gen_peak_mb"] = statistics.median(old_peaks)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in names.items()}
        with open(os.path.join(work_root, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({**info, "metrics": metrics}, f, indent=1)
    else:
        values = {
            "setup_s": statistics.median(setup_times),
            "first_iter_s": statistics.median(firsts),
            "iter_s_p50": p50,
            "iter_s_tail": tail_s,
            "rows_per_s": wl.rows / p50,
            "input_mb_per_s": wl.input_bytes / 1e6 / p50,
            "orc_size_ratio": ratio,
            "readback_s": statistics.median(readbacks),
            "py_peak_rss_mb": statistics.median(py_peaks),
            "jvm_peak_rss_mb": statistics.median(jvm_peaks),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    correct = not errors and failed == 0
    print(json.dumps(info))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
