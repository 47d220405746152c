"""Measurement plumbing shared by the workloads: spans, Spark job and
task counters, storage walks, peak RSS and result statistics.

All of it observes the engine from outside, through public APIs only:
spans wrap the benchmark's own calls into the engine's modules, job
counts come from ``SparkContext.statusTracker()`` under a per-operation
job group, bytes and files from walking the lake directory, memory
from ``/proc``.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from contextlib import contextmanager

clock = time.perf_counter


class Tracer:
    """In-memory span recorder: (name, start, end, parent, op id).

    ``active`` toggles recording per operation, so one run can
    interleave traced and untraced operations. Spans are kept in a list
    and written out once, at exit."""

    def __init__(self) -> None:
        self.spans: "list[tuple[str, float, float, int, int]]" = []
        self.active = False
        self.op_id = -1
        self._stack: "list[int]" = []

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, clock(), 0.0, parent, self.op_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, t0, _, p, o = self.spans[idx]
            self.spans[idx] = (n, t0, clock(), p, o)

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""

        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return traced

    def durations(self, name: str) -> "dict[int, float]":
        """Per-operation total inclusive seconds of spans ``name``."""
        out: "dict[int, float]" = {}
        for n, t0, t1, _, o in self.spans:
            if n == name:
                out[o] = out.get(o, 0.0) + (t1 - t0)
        return out

    def self_times(self) -> "dict[str, float]":
        """Total self time per span name over the timed operations
        (op id >= 0): duration minus the time its direct children
        cover. The benchmark calls layers sequentially, so children of
        one span never overlap."""
        child: "dict[int, float]" = {}
        for _, t0, t1, p, _ in self.spans:
            if p >= 0:
                child[p] = child.get(p, 0.0) + (t1 - t0)
        out: "dict[str, float]" = {}
        for i, (n, t0, t1, _, o) in enumerate(self.spans):
            if o < 0:
                continue
            own = max(0.0, (t1 - t0) - child.get(i, 0.0))
            out[n] = out.get(n, 0.0) + own
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for n, t0, t1, p, o in self.spans:
                f.write(json.dumps({"name": n, "start": t0, "end": t1,
                                    "parent": p, "op": o}) + "\n")


class Context:
    """What a workload may touch besides the engine: its seed, the
    tracer, and sinks for per-layer samples (reported as their median)
    and values."""

    def __init__(self, seed: int, tracer: Tracer) -> None:
        self.seed = seed
        self.tracer = tracer
        self.samples: "dict[str, list[float]]" = {}
        self.values: "dict[str, float]" = {}

    def layer_sample(self, name: str, v: float) -> None:
        self.samples.setdefault(name, []).append(float(v))

    def layer_value(self, name: str, v: float) -> None:
        self.values[name] = float(v)


class SparkCounters:
    """Jobs and tasks an operation launched, read from the status
    tracker under a job group unique to the operation."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._n = 0

    def start(self) -> str:
        self._n += 1
        group = f"perfbench-op-{self._n}"
        self.sc.setJobGroup(group, group)
        return group

    def stop(self, group: str) -> "tuple[int, int]":
        self.sc.setJobGroup("perfbench-idle", "perfbench-idle")
        jobs = self.tracker.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for s in (info.stageIds if info else []):
                st = self.tracker.getStageInfo(s)
                if st is not None:
                    tasks += st.numTasks
        return len(jobs), tasks


def tree_usage(root: str) -> "tuple[int, int]":
    """(bytes, files) under ``root``."""
    size = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(d, n))
                files += 1
            except OSError:
                pass
    return size, files


def _hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python driver plus the Spark JVM."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (_hwm_kb("self") + _hwm_kb(jvm_pid)) / 1024.0


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (Lentz)."""
    tiny = 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c, d = 1.0, 1.0 - qab * x / qap
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        m2 = 2 * m
        for aa in (m * (b - m) * x / ((qam + m2) * (a + m2)),
                   -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))):
            d = 1.0 + aa * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + aa / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-12:
            break
    return h


def _beta_cdf(x: float, a: float, b: float) -> float:
    """Regularized incomplete beta I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln = (math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
          + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return math.exp(ln) * _betacf(a, b, x) / a
    return 1.0 - math.exp(ln) * _betacf(b, a, 1.0 - x) / b


def cpu_ticks() -> "tuple[int, int]":
    """(steal, total) CPU ticks of the whole machine so far."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def quantile(values: "list[float]", q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile: a Beta-weighted
    mean of all order statistics, far less jumpy than one order
    statistic when a run holds a few dozen operations."""
    v = sorted(values)
    n = len(v)
    if n == 1:
        return v[0]
    a, b = q * (n + 1), (1.0 - q) * (n + 1)
    cdf = [_beta_cdf(i / n, a, b) for i in range(n + 1)]
    return sum(x * (cdf[i + 1] - cdf[i]) for i, x in enumerate(v))


def median(values) -> float:
    return statistics.median(values) if values else 0.0


class OpLog:
    """Outcome of each timed operation."""

    def __init__(self) -> None:
        self.lat: "list[float]" = []
        self.kind: "list[str]" = []
        self.failed: "list[bool]" = []
        self.traced: "list[bool]" = []
        self.jobs: "list[int]" = []
        self.tasks: "list[int]" = []
        self.pair: "list[tuple[int, int]]" = []

    def add(self, kind, seconds, ok, traced, jobs, tasks, pair) -> None:
        self.kind.append(kind)
        self.lat.append(seconds)
        self.failed.append(not ok)
        self.traced.append(traced)
        self.jobs.append(jobs)
        self.tasks.append(tasks)
        self.pair.append(pair)

    def fail(self, i: int) -> None:
        self.failed[i] = True

    @property
    def n(self) -> int:
        return len(self.lat)

    def paired_overhead(self) -> "list[float]":
        """Traced minus untraced latency of each complete pair."""
        by: "dict[tuple[int, int], dict[bool, float]]" = {}
        for p, x, t in zip(self.pair, self.lat, self.traced):
            by.setdefault(p, {})[t] = x
        return [d[True] - d[False] for d in by.values() if len(d) == 2]

    def per_kind(self) -> "dict[str, list[float]]":
        """Latencies of the traced operations, by kind."""
        out: "dict[str, list[float]]" = {}
        for k, x, t in zip(self.kind, self.lat, self.traced):
            if t:
                out.setdefault(k, []).append(x)
        return out
