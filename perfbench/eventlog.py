"""Spark event-log parser: per-span sums of stage metrics.

The traced run writes an uncompressed event log (Spark 4 rolling layout,
``eventlog_v2_<app>/events_<n>_<app>``). Every stage carries the job group
of the span that submitted it (``spark.jobGroup.id``), so stage metrics sum
per span without guessing.
"""

from __future__ import annotations

import glob
import json
import os

# event-log accumulable name -> (metric, scale to seconds/bytes)
STAGE_METRICS = {
    "data sent to Python workers": ("python_bytes_in", 1),
    "data returned from Python workers": ("python_bytes_out", 1),
    "time to run Python workers": ("python_run_s", 1e-3),
    "time to start Python workers": ("python_init_s", 1e-3),
    "time to initialize Python workers": ("python_init_s", 1e-3),
    "internal.metrics.executorRunTime": ("task_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.shuffle.read.fetchWaitTime": ("shuffle_fetch_wait_s", 1e-3),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
}
METRICS = sorted({m for m, _ in STAGE_METRICS.values()} | {"jobs", "tasks"})


def event_files(log_dir: str, app_id: str | None = None) -> list[str]:
    """Event files of one application (the newest when app_id is None),
    in write order."""
    pattern = f"eventlog_v2_{app_id}" if app_id else "eventlog_v2_*"
    apps = sorted(glob.glob(os.path.join(log_dir, pattern)),
                  key=os.path.getmtime)
    if not apps:
        return []

    def part(p: str) -> int:
        return int(os.path.basename(p).split("_")[1])

    return sorted(glob.glob(os.path.join(apps[-1], "events_*")), key=part)


def read_events(paths: list[str]):
    for p in paths:
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def per_group(events) -> dict[str, dict]:
    """job group -> {metric totals, jobs, tasks, job intervals (ms)}."""
    groups: dict[str, dict] = {}
    stage_group: dict[tuple[int, int], str | None] = {}
    job_group: dict[int, str | None] = {}
    job_start: dict[int, int] = {}

    def g(name: str | None) -> dict:
        return groups.setdefault(name, {**{m: 0.0 for m in METRICS},
                                        "intervals": []})

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            grp = (e.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[e["Job ID"]] = grp
            job_start[e["Job ID"]] = e["Submission Time"]
            g(grp)["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_start:
                g(job_group[jid])["intervals"].append(
                    (job_start[jid], e["Completion Time"]))
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = \
                (e.get("Properties") or {}).get("spark.jobGroup.id")
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            tot = g(stage_group.get((info["Stage ID"],
                                     info["Stage Attempt ID"])))
            tot["tasks"] += info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables", []):
                hit = STAGE_METRICS.get(acc.get("Name"))
                if hit is None:
                    continue
                try:
                    val = float(acc.get("Value", 0))
                except (TypeError, ValueError):
                    continue
                tot[hit[0]] += val * hit[1]
    return groups


def covered_ms(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(spans: list[dict], groups: dict[str, dict],
              subtree: dict[str, set[str]]) -> dict[str, dict]:
    """span id -> its own stage-metric totals, plus the share of its wall
    time (own jobs and its children's) that no Spark job covers."""
    out = {}
    for s in spans:
        own = groups.get(s["id"])
        rec = {m: (own[m] if own else 0.0) for m in METRICS}
        lo, hi = s["start"] * 1e3, s["end"] * 1e3
        ivs = [(max(a, lo), min(b, hi)) for sid in subtree[s["id"]]
               for a, b in groups.get(sid, {}).get("intervals", [])
               if b > lo and a < hi]
        wall_ms = s["dur"] * 1e3
        rec["unattributed_share"] = (max(0.0, 1.0 - covered_ms(ivs) / wall_ms)
                                     if wall_ms > 0 else 0.0)
        out[s["id"]] = rec
    return out
