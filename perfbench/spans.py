"""Spans recorded by the benchmark around each call into an engine layer and
the Spark action that forces it.

A span has a name, start, end, parent and the trace id of its iteration.
Spans stay in memory and are written out when the run ends. With
``full=True`` (the traced run) each span also tags the Spark jobs it starts
with ``setJobGroup(span_id)``, so the event-log parser can attribute stage
metrics to it, and records /proc/stat deltas for the span.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

CPU_FIELDS = ("user", "nice", "system", "idle", "iowait", "irq", "softirq",
              "steal")


def cpu_times() -> dict[str, int]:
    """Aggregate jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = f.readline().split()[1:1 + len(CPU_FIELDS)]
    return dict(zip(CPU_FIELDS, map(int, vals)))


def cpu_share(before: dict[str, int], after: dict[str, int]) -> dict[str, float]:
    """user/sys/steal percentages of all jiffies between two samples."""
    d = {k: after[k] - before[k] for k in CPU_FIELDS}
    total = sum(d.values()) or 1
    return {"user_pct": 100.0 * (d["user"] + d["nice"]) / total,
            "sys_pct": 100.0 * (d["system"] + d["irq"] + d["softirq"]) / total,
            "steal_pct": 100.0 * d["steal"] / total}


class Tracer:
    def __init__(self, spark=None, full: bool = False):
        self.sc = spark.sparkContext if spark is not None else None
        self.full = full
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.trace_id = None

    def _tag(self, rec: dict | None) -> None:
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["id"], rec["name"])

    @contextmanager
    def span(self, name: str, trace_id: str | None = None):
        """Time ``name``; the yielded dict takes counts (rows, bytes, ...)."""
        parent = self._stack[-1] if self._stack else None
        rec = {"id": f"s{len(self.spans)}", "name": name,
               "parent": parent["id"] if parent else None,
               "trace": trace_id or (parent["trace"] if parent else None),
               "counts": {}}
        self.spans.append(rec)
        self._stack.append(rec)
        if self.full:
            self._tag(rec)
            rec["cpu0"] = cpu_times()
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec["counts"]
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            self._stack.pop()
            if self.full:
                rec["host"] = cpu_share(rec.pop("cpu0"), cpu_times())
                self._tag(self._stack[-1] if self._stack else None)


def self_times(spans: list[dict]) -> dict[str, float]:
    """span id -> duration minus the time its (sequential) children cover."""
    child = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["dur"]
    return {s["id"]: max(0.0, s["dur"] - child[s["id"]]) for s in spans}


def descendants(spans: list[dict]) -> dict[str, set[str]]:
    """span id -> ids of the span and everything below it."""
    kids: dict[str, list[str]] = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s["id"])
    out: dict[str, set[str]] = {}

    def walk(i: str) -> set[str]:
        if i not in out:
            acc = {i}
            for k in kids[i]:
                acc |= walk(k)
            out[i] = acc
        return out[i]

    for s in spans:
        walk(s["id"])
    return out
