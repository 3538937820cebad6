"""Spans, Spark counters and summary statistics for the benchmark.

Spans are recorded by the benchmark's own code around its calls into the
program's modules (nothing inside the program is instrumented). With
tracing off, :class:`Tracer` records nothing and every ``span`` is a
no-op context manager, so the untraced run pays one attribute check per
boundary.
"""

from __future__ import annotations

import contextlib
import json
import math
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError


def median(xs):
    xs = sorted(xs)
    if not xs:
        return math.nan
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def percentile(xs, p):
    """Linear-interpolated percentile, ``p`` in 0..100."""
    xs = sorted(xs)
    if not xs:
        return math.nan
    k = (len(xs) - 1) * p / 100
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


class Tracer:
    """In-memory span recorder and per-layer counter accumulator.

    A span is ``(id, parent, name, start, end, run)``; times are
    ``perf_counter`` seconds. Counters are plain sums keyed by metric
    name (``exec.jobs``, ``cache.pinned`` ...); lists keyed the same way
    hold per-event samples whose median the rollup reports.
    """

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, label: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "label": label, "start": time.perf_counter(),
               "end": None, "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def record(self, name: str, start: float, end: float,
               parent: int | None = None, label: str | None = None) -> int:
        """Add a span rebuilt after the fact (e.g. from progress events)."""
        sid = len(self.spans)
        if self.enabled:
            self.spans.append({"id": sid, "parent": parent, "name": name, "label": label,
                               "start": start, "end": end, "run": self.run_id})
        return sid

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name] += value

    def sample(self, name: str, value: float) -> None:
        if self.enabled:
            self.samples[name].append(value)

    def _child_time(self) -> dict[int, float]:
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return child

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child = self._child_time()
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def child_cover(self, name: str) -> dict[str, list[float]]:
        """Per label of span ``name``: the time its direct children cover,
        one sample per span."""
        child = self._child_time()
        out: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            if s["name"] == name and s["end"] is not None:
                out[s["label"]].append(child[s["id"]])
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class SparkCounters:
    """Job, stage and task counters for one job group, read from the
    status tracker and the application status store after the group's
    jobs finished."""

    STAGE_FIELDS = {
        "tasks": ("numTasks", 1),
        "task_run_s": ("executorRunTime", 1e-3),
        "task_cpu_s": ("executorCpuTime", 1e-9),
        "gc_s": ("jvmGcTime", 1e-3),
        "input_bytes": ("inputBytes", 1),
        "shuffle_read_bytes": ("shuffleReadBytes", 1),
        "shuffle_write_bytes": ("shuffleWriteBytes", 1),
        "spill_bytes": ("diskBytesSpilled", 1),
    }

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()

    def group(self, group: str) -> dict[str, float]:
        jobs = self.tracker.getJobIdsForGroup(group)
        out = {"jobs": float(len(jobs)), "stages": 0.0}
        out.update({k: 0.0 for k in self.STAGE_FIELDS})
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # skipped stage: never ran, no record
                out["stages"] += 1
                for k, (attr, scale) in self.STAGE_FIELDS.items():
                    out[k] += getattr(sd, attr)() * scale
        return out


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM plus this process."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    total = 0
    for p in (pid, "self"):
        with open(f"/proc/{p}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024
