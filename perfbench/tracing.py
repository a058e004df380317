"""Tracing for the per-layer run: spans, per-op Spark job groups, and the
Spark event log joined to them.

Every span and job group is recorded by benchmark code around calls into
the package's public functions; nothing inside the package is changed.
Spans stay in memory until ``Tracer.write``. The untraced run uses
``NullTracer``, which sets no job group and records nothing.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-op-"


class NullTracer:
    enabled = False

    def start_op(self, name: str) -> str:
        return ""

    @contextmanager
    def span(self, name: str, op: str = ""):
        yield


class Tracer(NullTracer):
    """Spans are ``(name, op, start, end)`` with wall-clock epoch seconds,
    so they join to event-log timestamps (epoch milliseconds)."""

    enabled = True

    def __init__(self, spark_context) -> None:
        self._sc = spark_context
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()
        self.spans: list[dict] = []

    def start_op(self, name: str) -> str:
        """Tag the calling thread's next Spark jobs with a fresh group."""
        op = f"{GROUP_PREFIX}{next(self._ids)}"
        self._sc.setJobGroup(op, name, False)
        self._local.op = op
        return op

    def current_op(self) -> str:
        return getattr(self._local, "op", "")

    @contextmanager
    def patched(self, module, attr: str, span_name: str):
        """Record a span around every call of ``module.attr``, restoring the
        original on exit. Patches sharing a span name count only the
        outermost call, so nested builders are not counted twice."""
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            open_spans = self._local.__dict__.setdefault("open", set())
            if span_name in open_spans:
                return orig(*args, **kwargs)
            open_spans.add(span_name)
            try:
                with self.span(span_name, self.current_op()):
                    return orig(*args, **kwargs)
            finally:
                open_spans.discard(span_name)

        setattr(module, attr, wrapper)
        try:
            yield
        finally:
            setattr(module, attr, orig)

    @contextmanager
    def span(self, name: str, op: str = ""):
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            with self._lock:
                self.spans.append({"name": name, "op": op, "start": start, "end": end})

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class EventLog:
    """Jobs and task metrics read from an uncompressed Spark event log."""

    def __init__(self, log_dir: str) -> None:
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        stage_tasks: dict[int, list[dict]] = defaultdict(list)
        paths = [os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names]
        for path in sorted(paths):
            with open(path, encoding="utf-8") as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        jid = ev["Job ID"]
                        props = ev.get("Properties") or {}
                        self.jobs[jid] = {
                            "submit": ev["Submission Time"] / 1000.0,
                            "group": props.get("spark.jobGroup.id") or "",
                            "tasks": [],
                        }
                        for sid in ev["Stage IDs"]:
                            stage_job[sid] = min(jid, stage_job.get(sid, jid))
                    elif kind == "SparkListenerTaskEnd":
                        stage_tasks[ev["Stage ID"]].append(_task(ev))
        for sid, tasks in stage_tasks.items():
            if sid in stage_job:
                self.jobs[stage_job[sid]]["tasks"].extend(tasks)


def _task(ev: dict) -> dict:
    info = ev["Task Info"]
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    out = m.get("Output Metrics") or {}
    return {
        "launch": info["Launch Time"] / 1000.0,
        "failed": bool(info.get("Failed")),
        "run_s": m.get("Executor Run Time", 0) / 1000.0,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "output": out.get("Bytes Written", 0),
    }


def spark_metrics(log: EventLog, window: tuple[float, float], n_ops: int, cpus: int) -> dict:
    """``spark.*`` per-layer metrics over the jobs submitted in ``window``
    (an epoch interval), per op where the metric is a sum."""
    jobs = [j for j in log.jobs.values() if window[0] <= j["submit"] <= window[1]]
    tasks = [t for j in jobs for t in j["tasks"]]
    waits = [min(t["launch"] for t in j["tasks"]) - j["submit"] for j in jobs if j["tasks"]]
    task_s = sum(t["run_s"] for t in tasks)
    per_op = max(1, n_ops)
    wall = max(1e-9, window[1] - window[0])
    return {
        "spark.jobs": len(jobs) / per_op,
        "spark.tasks": len(tasks) / per_op,
        "spark.task_s": task_s / per_op,
        "spark.cpu_s": sum(t["cpu_s"] for t in tasks) / per_op,
        "spark.gc_s": sum(t["gc_s"] for t in tasks) / per_op,
        "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks) / per_op,
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks) / per_op,
        "spark.spill_bytes": sum(t["spill"] for t in tasks) / per_op,
        "spark.output_bytes": sum(t["output"] for t in tasks) / per_op,
        "spark.failed_tasks": sum(t["failed"] for t in tasks),
        "spark.busy_frac": task_s / (wall * cpus),
        "spark.sched_wait_s": statistics.fmean(waits) if waits else 0.0,
        "spark.untagged_jobs": sum(not j["group"].startswith(GROUP_PREFIX) for j in jobs),
    }


def jobs_in_spans(log: EventLog, spans: list[dict], span_name: str) -> dict[str, int]:
    """Per op: how many of its jobs were submitted while one of its spans
    named ``span_name`` was open."""
    by_group: dict[str, list[float]] = defaultdict(list)
    for j in log.jobs.values():
        by_group[j["group"]].append(j["submit"])
    counts: dict[str, int] = defaultdict(int)
    for s in spans:
        if s["name"] == span_name:
            # event-log times have millisecond resolution
            lo, hi = s["start"] - 0.001, s["end"] + 0.001
            counts[s["op"]] += sum(lo <= t <= hi for t in by_group.get(s["op"], ()))
    return counts


def durations(spans: list[dict], name: str) -> dict[str, float]:
    """Per op: total seconds inside spans named ``name``."""
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        if s["name"] == name:
            out[s["op"]] += s["end"] - s["start"]
    return out
