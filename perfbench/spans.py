"""Spans, percentiles and Spark monitoring-API counts for the traced run.

Spans are recorded by the benchmark around its own calls into the
engine's public functions: name, start, end, parent span and op id, kept
in memory and written out when the run ends.  In a traced run every span
sets its own Spark job group, so the jobs a layer starts can be read back
from the monitoring REST API and charged to that layer.
"""

from __future__ import annotations

import json
import math
import statistics
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

PERCENTILES = (50.0, 90.0, 99.0, 99.9)


def nearest_rank(values: list[float], p: float) -> float:
    """The ``p``-th percentile by the nearest-rank rule."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def tail_percentile(n: int) -> float | None:
    """Highest of :data:`PERCENTILES` with at least 10 of ``n`` samples beyond it."""
    best = None
    for p in PERCENTILES:
        if n * (1.0 - p / 100.0) >= 10.0 - 1e-9:
            best = p
    return best


def latency_summary(ms: list[float]) -> dict:
    """Median, the highest supported tail percentile, and the sample count."""
    out: dict = {"count": len(ms)}
    if ms:
        out["p50_ms"] = statistics.median(ms)
        p = tail_percentile(len(ms))
        if p is not None and p > 50.0:
            out[f"p{p:g}_ms"] = nearest_rank(ms, p)
    return out


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    group: str = ""
    counts: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover.

    Children are clipped to the parent and overlapping children are
    merged, so the result never goes below zero.
    """
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            kids.setdefault(s.parent, []).append((max(s.start, p.start), min(s.end, p.end)))
    out = []
    for i, s in enumerate(spans):
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted(kids.get(i, [])):
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out.append(max(0.0, (s.end - s.start) - covered))
    return out


class Tracer:
    """Records spans when enabled; a no-op context otherwise.

    ``spark`` is used only to set the job group of the innermost open
    span, so every Spark job is charged to exactly one span.
    """

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.persisted: list = []  # DataFrames a traced run materialized
        self._stack: list[int] = []

    def _set_group(self, group: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        idx = len(self.spans)
        span = Span(name, 0.0, parent=parent, op=op, group=f"perfbench-{idx}")
        self.spans.append(span)
        self._stack.append(idx)
        self._set_group(span.group)
        span.start = time.perf_counter()
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]].group if self._stack else None)

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s, st in zip(self.spans, selfs):
                f.write(json.dumps({**asdict(s), "self_s": st}) + "\n")


# -- Spark monitoring REST API -------------------------------------------

STAGE_FIELDS = {
    "tasks": "numTasks",
    "executor_run_ms": "executorRunTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "gc_ms": "jvmGcTime",
}


class SparkMonitor:
    """Reads job, stage and task metrics from the driver's REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self) -> list[dict]:
        return self._get("/jobs")

    def stage_totals(self, stage_ids: list[int]) -> dict:
        """Sums over every attempt of ``stage_ids``; scheduler delay per task."""
        tot = {k: 0 for k in (*STAGE_FIELDS, "stages", "spill_bytes", "scheduler_delay_ms")}
        for sid in stage_ids:
            for att in self._get(f"/stages/{sid}"):
                if att.get("status") == "SKIPPED":
                    continue
                tot["stages"] += 1
                for k, f in STAGE_FIELDS.items():
                    tot[k] += att.get(f, 0)
                tot["spill_bytes"] += att.get("memoryBytesSpilled", 0) + att.get("diskBytesSpilled", 0)
                tasks = self._get(f"/stages/{sid}/{att['attemptId']}/taskList?length=1000000")
                tot["scheduler_delay_ms"] += sum(t.get("schedulerDelay", 0) for t in tasks)
        return tot

    def totals_by_group(self, groups: set[str]) -> dict[str, dict]:
        """Per job group: job count plus :meth:`stage_totals`."""
        by: dict[str, list[dict]] = {}
        for j in self.jobs():
            g = j.get("jobGroup")
            if g in groups:
                by.setdefault(g, []).append(j)
        out = {}
        for g, jobs in by.items():
            stage_ids = sorted({s for j in jobs for s in j.get("stageIds", [])})
            out[g] = {"jobs": len(jobs), **self.stage_totals(stage_ids)}
        return out


def jvm_gc_ms(spark) -> int:
    """Total collection time of every JVM garbage collector, in ms."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans)
