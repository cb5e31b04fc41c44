"""One benchmark run in its own process (run.py starts it and samples its
memory from outside): set-up rounds, untimed warm-up, a closed measured
loop with one client, then the traced extras. Writes result.json into the
work directory.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

import numpy as np

import eventlog
import kernels
import spans as tracing
from stats import summary
from workloads import WORKLOADS

SETUP_ROUNDS = 3
MIN_SAMPLES = 2

LAYER_COUNTS = (("sparkops.udfs.encode", "bytes_out", "sparkops.udfs.encode_bytes_out"),
                ("store.tilestore.write", "bytes_written",
                 "store.tilestore.bytes_written"),
                ("sparkops.udfs.decode", "rows_out", "sparkops.udfs.decode_rows_out"))


def unit_of(name: str) -> str:
    if name.endswith(("_us_per_vertex", "_us_per_feature")):
        return "us"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s") or name.startswith("query_s."):
        return "s"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("_mb"):
        return "MB"
    if "bytes" in name:
        return "B"
    if name.endswith(("_frac", "_share")):
        return "ratio"
    return "count"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def warm_workers(spark, cores: int) -> None:
    """Start the Python worker daemon and one worker per slot, each
    importing the codec, as bench.py's warm-up does."""
    from pyspark.sql import functions as F
    spark.range(100000).select(F.sum("id")).collect()

    def touch(batches):
        from vector_tile_go_spark.codec import decode, encode_fast  # noqa: F401
        yield from batches

    spark.range(64 * cores, numPartitions=2 * cores).mapInPandas(
        touch, "id long").count()


def set_up(workload, cores: int):
    """SETUP_ROUNDS rounds of session + worker pool + inputs. The first round
    launches the JVM; later rounds stop the session and start a fresh one
    (new SparkContext, worker daemon and inputs) in the same JVM."""
    from vector_tile_go_spark.session import get_spark
    spark, rounds = None, []
    for k in range(SETUP_ROUNDS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{workload.name}", cores=cores)
        t1 = time.perf_counter()
        warm_workers(spark, cores)
        t2 = time.perf_counter()
        workload.load(spark)
        t3 = time.perf_counter()
        rounds.append({"session_s": t1 - t0, "workers_s": t2 - t1,
                       "inputs_s": t3 - t2})
        log(f"set-up round {k}: " + ", ".join(
            f"{n}={v:.3f}" for n, v in rounds[-1].items()))
    warm_session = float(np.median([r["session_s"] for r in rounds[1:]]))
    jvm_launch = max(0.0, rounds[0]["session_s"] - warm_session)
    totals = [(warm_session if k == 0 else r["session_s"])
              + r["workers_s"] + r["inputs_s"] for k, r in enumerate(rounds)]
    setup = {"setup_s": jvm_launch + float(np.median(totals)),
             "jvm_launch_s": jvm_launch, "rounds": rounds}
    return spark, setup


def layer_metrics(spans: list[dict], traced_ids: set[str], groups, cores: int,
                  layer_spans: tuple[str, ...]):
    """Per-layer metrics from the traced iterations (medians across them)
    and the per-span attribution for the report."""
    subtree = tracing.descendants(spans)
    selfs = tracing.self_times(spans)
    attr = eventlog.attribute(spans, groups, subtree)
    by_trace: dict[str, list[dict]] = {}
    for s in spans:
        if s["trace"] in traced_ids:
            by_trace.setdefault(s["trace"], []).append(s)
    per_iter: list[dict] = []
    for tid, ss in by_trace.items():
        m = {f"{n}_s": 0.0 for n in layer_spans}
        m.update({out: 0.0 for _, _, out in LAYER_COUNTS})
        for s in ss:
            if s["name"] in layer_spans:
                m[f"{s['name']}_s"] += selfs[s["id"]]
            for span_name, key, out in LAYER_COUNTS:
                if s["name"] == span_name:
                    m[out] += s["counts"].get(key, 0)
        root = next(s for s in ss if s["parent"] is None)
        tot = {k: sum(attr[s["id"]][k] for s in ss) for k in eventlog.METRICS}
        for k in eventlog.METRICS:
            if k != "task_run_s":
                m[f"spark.{k}"] = tot[k]
        m["spark.task_busy_frac"] = tot["task_run_s"] / (root["dur"] * cores)
        m["spark.unattributed_share"] = attr[root["id"]]["unattributed_share"]
        for k, v in root.get("host", {}).items():
            m[f"host.{k}"] = v
        m["trace.job_s"] = root["dur"]
        per_iter.append(m)
    metrics = {k: float(np.median([m[k] for m in per_iter])) for k in per_iter[0]}
    report = [{"span": s["name"], "id": s["id"], "trace": s["trace"],
               "wall_s": s["dur"], "self_s": selfs[s["id"]], **s["counts"],
               **attr[s["id"]],
               **s.get("host", {})}
              for s in spans if s["trace"] in traced_ids]
    return metrics, report


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    args = ap.parse_args()

    cores = len(os.sched_getaffinity(0))
    workload = WORKLOADS[args.workload](args.seed, args.work)
    spark, setup = set_up(workload, cores)
    t_ref = time.perf_counter()
    workload.reference(spark)
    log(f"reference outputs in {time.perf_counter() - t_ref:.3f}s")

    tr = tracing.Tracer(spark, full=False)
    attempted = failed = 0
    samples: dict[str, list[float]] = {"plain": [], "traced": []}
    measured_ids: dict[str, set[str]] = {"plain": set(), "traced": set()}
    n_iter = 0

    def one(kind: str, measured: bool, record: bool = False) -> None:
        nonlocal attempted, failed, n_iter
        tid = f"t{n_iter}"
        n_iter += 1
        tr.full = kind == "traced"
        t0 = time.perf_counter()
        try:
            a, f = workload.iterate(spark, tr, tid, record_properties=record)
        except Exception:  # noqa: BLE001 - a failed job is a failed run step
            traceback.print_exc()
            a, f = workload.operations, workload.operations
        dt = time.perf_counter() - t0
        workload.cleanup(spark)
        attempted += a
        failed += f
        if measured and f == 0:
            samples[kind].append(dt)
            measured_ids[kind].add(tid)
        log(f"{'measured' if measured else 'warm-up'} {kind} iteration "
            f"{dt:.3f}s failed={f}/{a}")

    for i in range(workload.warmup_iterations):
        one("plain", False, record=i == 0)

    cpu0 = tracing.cpu_times()
    t_start = time.perf_counter()
    while (time.perf_counter() - t_start < args.seconds
           or n_iter - workload.warmup_iterations < MIN_SAMPLES):
        kind = "traced" if args.trace and (n_iter - workload.warmup_iterations) % 2 == 0 \
            else "plain"
        one(kind, True)
    measured_s = time.perf_counter() - t_start
    host = tracing.cpu_share(cpu0, tracing.cpu_times())

    kernel_check = None
    per_layer = {}
    if args.trace:
        kmetrics, kernel_check = kernels.run(args.seed)
        attempted += kernel_check["checked"]
        failed += kernel_check["mismatched"]
        per_layer.update(kmetrics)
    app_id = spark.sparkContext.applicationId
    spark.stop()

    result = {"workload": args.workload, "seed": args.seed, "cores": cores,
              "attempted": attempted, "failed": failed,
              "setup": setup, "properties": workload.properties,
              "measured_s": measured_s, "host": host}
    job = samples["plain"]
    if not job:
        raise SystemExit("no verified iteration completed")
    job_s = float(np.median(job))
    result["job_s"] = summary(job)
    spans = tr.spans
    plain_ids, traced_ids = measured_ids["plain"], measured_ids["traced"]
    by_name: dict[str, list[float]] = {}
    for s in spans:
        if s["trace"] in plain_ids and s["parent"] is not None:
            by_name.setdefault(s["name"], []).append(s["dur"])
    result["stage_s"] = {n: summary(v) for n, v in by_name.items()}

    last = {s["name"]: s["counts"] for s in spans
            if s["parent"] is not None and s["trace"] in plain_ids}
    e2e = {"setup_s": setup["setup_s"], "job_s": job_s,
           "features_per_s": workload.n_features / job_s,
           **workload.throughput(job_s, last, result["stage_s"])}
    result["metrics"] = {k: {"value": v, "unit": unit_of(k)} for k, v in e2e.items()}
    result["error_rate"] = failed / max(1, attempted)

    if args.trace:
        groups = eventlog.per_group(eventlog.read_events(eventlog.event_files(
            os.path.join(args.work, "eventlog"), app_id)))
        lm, span_report = layer_metrics(spans, traced_ids, groups, cores,
                                        workload.layer_spans)
        per_layer.update(lm)
        result["metrics"] = {k: {"value": v, "unit": unit_of(k)}
                             for k, v in sorted(per_layer.items())}
        result["spans"] = span_report
        result["kernel_check"] = kernel_check
        traced_job = float(np.median(samples["traced"]))
        result["trace_overhead_s"] = traced_job - job_s
        result["traced_job_s"] = summary(samples["traced"])

    with open(os.path.join(args.work, "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
