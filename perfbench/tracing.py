"""Spans, counts, Spark stage counters and process-tree RSS.

``Tracer`` records a span (name, start, end, parent, trace id) around
each call the benchmark makes into a layer of the program, and counts
at the same boundaries. Spans stay in memory and are written out once,
when the run ends. A disabled tracer records nothing and costs one
attribute check per span, so the untraced run measures the program.

While a span is open, the Spark jobs the calling thread submits carry
the span's id as their job group; ``stage_counters`` reads the stages of
each group back from the Spark status REST API (UI on only in the
traced run) and sums them per span.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    trace_id: str
    start: float
    end: float = 0.0
    stages: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool, spark) -> None:
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self.trace_id = ""
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Time ``name`` as a child of the innermost open span."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        s = Span(
            span_id=len(self.spans),
            name=name,
            parent=self._stack[-1] if self._stack else None,
            trace_id=self.trace_id,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s.span_id)
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", f"span-{s.span_id}")
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", outer)

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + value

    def self_seconds(self) -> dict[str, float]:
        """Per span name: duration minus the union of its children's
        intervals (children of one span may overlap when threads run
        them), summed over all spans of that name."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, edge = 0.0, s.start
            for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
                lo, hi = max(c.start, edge), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[s.name] = out.get(s.name, 0.0) + s.seconds - covered
        return out

    def total_seconds(self, name: str) -> float:
        return sum(s.seconds for s in self.spans if s.name == name)

    def attach_stage_counters(self) -> None:
        """Sum Spark stage metrics into the span whose job group ran them."""
        if not self.spans:
            return
        per_group = stage_counters(self.spark)
        for s in self.spans:
            s.stages = per_group.get(f"span-{s.span_id}", {})

    def stage_totals(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            for k, v in s.stages.items():
                out[k] = out.get(k, 0.0) + v
        return out

    def dump(self, path: str, extra: dict) -> None:
        base = self.spans[0].start if self.spans else 0.0
        doc = {
            "spans": [
                {
                    "id": s.span_id,
                    "name": s.name,
                    "parent": s.parent,
                    "trace_id": s.trace_id,
                    "start_s": round(s.start - base, 6),
                    "end_s": round(s.end - base, 6),
                    "stages": s.stages,
                }
                for s in self.spans
            ],
            "self_s": self.self_seconds(),
            "counts": self.counts,
            **extra,
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)


_STAGE_FIELDS = {
    "tasks": ("numCompleteTasks", 1.0),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "shuffle_write_mb": ("shuffleWriteBytes", 1.0 / (1 << 20)),
    "shuffle_read_mb": ("shuffleReadBytes", 1.0 / (1 << 20)),
    "spill_mb": ("diskBytesSpilled", 1.0 / (1 << 20)),
    "memory_spill_mb": ("memoryBytesSpilled", 1.0 / (1 << 20)),
}


def _rest(base: str, path: str):
    with urllib.request.urlopen(f"{base}/api/v1/{path}", timeout=30) as r:
        return json.load(r)


def stage_counters(spark) -> dict[str, dict[str, float]]:
    """job group -> summed stage metrics (plus job and stage counts) from
    the status REST API of the local Spark UI."""
    sc = spark.sparkContext
    base = sc.uiWebUrl
    if not base:
        return {}
    app = sc.applicationId
    # the status store is updated by a listener thread: wait until every
    # submitted job has been recorded as finished
    for _ in range(50):
        jobs = _rest(base, f"applications/{app}/jobs")
        if all(j["status"] != "RUNNING" for j in jobs):
            break
        time.sleep(0.1)
    stages = {
        s["stageId"]: s
        for s in _rest(base, f"applications/{app}/stages?status=complete")
    }
    out: dict[str, dict[str, float]] = {}
    for j in jobs:
        group = j.get("jobGroup")
        if not group:
            continue
        acc = out.setdefault(group, {"jobs": 0.0, "stages": 0.0})
        acc["jobs"] += 1
        for sid in j.get("stageIds", []):
            st = stages.get(sid)
            if st is None:  # skipped (reused shuffle output)
                continue
            acc["stages"] += 1
            for name, (key, scale) in _STAGE_FIELDS.items():
                acc[name] = acc.get(name, 0.0) + st.get(key, 0) * scale
    return out


class RssSampler:
    """High-water resident set of this process and all its descendants
    (driver Python, the JVM, Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        parents: dict[int, int] = {}
        rss: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # the process exited while listing
                continue
            parents[int(entry)] = int(fields[1])
            rss[int(entry)] = int(fields[21]) * self._page
        root = os.getpid()
        total = 0
        for pid, r in rss.items():
            p = pid
            while p not in (root, 0, 1) and p in parents:
                p = parents[p]
            if p == root:
                total += r
        self.peak_bytes = max(self.peak_bytes, total)
