"""Spans around calls into the package, and the Spark event log that
attributes jobs, stages and tasks to them.

A span is a wall-clock interval (epoch milliseconds, the clock the event
log uses) recorded by the benchmark around one public call. Metrics that
need the event log — jobs launched inside a span, time between a
write's last task and its return — are deferred until the log is
complete, which is after the SparkContext stops.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    t0_ms: float = 0.0
    t1_ms: float = 0.0
    seconds: float = 0.0


class Spans:
    def __init__(self) -> None:
        self.layers: dict[str, float] = {}
        self._deferred: list[tuple[str, Span, str]] = []

    @contextmanager
    def span(self, name: str):
        s = Span(name, t0_ms=time.time() * 1000)
        p0 = time.perf_counter()
        try:
            yield s
        finally:
            s.seconds = time.perf_counter() - p0
            s.t1_ms = time.time() * 1000

    def defer(self, metric: str, span: Span, kind: str) -> None:
        """Fill ``metric`` from the event log later: ``jobs`` (jobs
        submitted inside the span) or ``after_last_task`` (seconds from
        the span's last task end to the span's end)."""
        self._deferred.append((metric, span, kind))

    def resolve(self, log: "EventLog") -> None:
        for metric, s, kind in self._deferred:
            jobs = log.jobs_between(s.t0_ms, s.t1_ms)
            if kind == "jobs":
                self.layers[metric] = len(jobs)
            else:
                ends = [t["end"] for t in log.tasks_of(jobs)]
                self.layers[metric] = (s.t1_ms - max(ends)) / 1000 if ends else 0.0


class EventLog:
    """The parts of a Spark JSON event log the benchmark reads."""

    def __init__(self, path: str) -> None:
        self.jobs: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        with open(path, encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    self.jobs[e["Job ID"]] = {
                        "submit": e["Submission Time"],
                        "stages": e["Stage IDs"],
                    }
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    info = e["Task Info"]
                    self.tasks[e["Stage ID"]].append({
                        "end": info["Finish Time"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        "spill": m.get("Disk Bytes Spilled", 0),
                    })

    def jobs_between(self, t0_ms: float, t1_ms: float) -> list[dict]:
        return [j for j in self.jobs.values() if t0_ms <= j["submit"] <= t1_ms]

    def tasks_of(self, jobs: list[dict]) -> list[dict]:
        stages = {s for j in jobs for s in j["stages"]}
        return [t for s in stages for t in self.tasks.get(s, ())]

    def summary(self, t0_ms: float, t1_ms: float, cores: int, iterations: int) -> dict:
        """``spark.*`` layer metrics of one window, per iteration."""
        jobs = self.jobs_between(t0_ms, t1_ms)
        stages = {s for j in jobs for s in j["stages"] if s in self.tasks}
        tasks = self.tasks_of(jobs)
        n = max(iterations, 1)
        run = sum(t["run_ms"] for t in tasks) / 1000
        cpu = sum(t["cpu_ns"] for t in tasks) / 1e9
        wall = (t1_ms - t0_ms) / 1000
        return {
            "spark.jobs": len(jobs) / n,
            "spark.stages": len(stages) / n,
            "spark.tasks": len(tasks) / n,
            "spark.task_run_s": run / n,
            "spark.task_cpu_s": cpu / n,
            "spark.task_offcpu_s": (run - cpu) / n,
            "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1000 / n,
            "spark.shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / 1e6 / n,
            "spark.spill_mb": sum(t["spill"] for t in tasks) / 1e6 / n,
            "spark.core_idle_share": 1 - run / (cores * wall) if wall > 0 else 0.0,
        }
