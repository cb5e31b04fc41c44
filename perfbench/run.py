"""Repository benchmark: one workload, one run.

    python3 perfbench/run.py --workload point_firehose --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads: point_firehose, polygon_tiles,
join_dedup (see perfbench/README.md). The engine runs at local[nproc] in a
child process (worker.py). This process samples the child's process tree
(worker.py, the JVM and the Python workers) for peak RSS, then prints a
summary, one JSON report line and, last, the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (spans, event-log attribution, codec kernel timings). Everything the
run writes goes under ``.perfbench_run/`` in the repository root and is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 150.0  # the run, plus stopping, must end within 180 s
SAMPLE_EVERY_S = 0.2
PAGE = os.sysconf("SC_PAGE_SIZE")

def fail(msg: str, code: int = 2) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


def proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, state) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(name)] = (int(fields[1]), fields[0])
    return out


def tree(root: int, table: dict[int, tuple[int, str]]) -> set[int]:
    """root and all its descendants. The Python worker daemon moves to its
    own process group, so the tree goes by parent."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out.add(pid)
            todo.extend(kids.get(pid, ()))
    return out


def rss_bytes(pids) -> dict[str, int]:
    """Resident bytes of the given processes, split JVM / Python."""
    out = {"jvm": 0, "python": 0}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as f:
                kind = "jvm" if f.read().strip() == "java" else "python"
            with open(f"/proc/{pid}/statm") as f:
                out[kind] += int(f.read().split()[1]) * PAGE
        except OSError:
            pass
    return out


def become_subreaper() -> None:
    """Orphaned descendants (the JVM, the worker daemon) re-parent to this
    process instead of init, so stop_tree still finds them."""
    import ctypes
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_tree() -> None:
    """Terminate every remaining descendant, reap it and wait until all have
    ended (SIGTERM first, SIGKILL after 5 s)."""
    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + 5.0
        while True:
            try:
                while os.waitpid(-1, os.WNOHANG)[0] > 0:
                    pass
            except ChildProcessError:
                pass
            table = proc_table()
            # a zombie counts until it is reaped, but needs no signal
            alive = [pid for pid in tree(me, table) if pid != me]
            if not alive or time.monotonic() > deadline:
                break
            for pid in alive:
                if table[pid][1] != "Z":
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
            time.sleep(0.2)
        if not alive:
            return


def expected_metrics(workload: str, trace: bool) -> set[str] | None:
    """Metric names BENCHMARK.json lists for a listed workload, else None."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    if workload not in {w["name"] for w in spec["workloads"]}:
        return None
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def spark_defaults(work: str, trace: bool) -> str:
    lines = [
        "spark.ui.showConsoleProgress false",
        f"spark.driver.defaultJavaOptions -Djava.io.tmpdir={work}/tmp "
        "-XX:-UsePerfData",
        # relative to the repository root (the JVM's working directory):
        # keeps socket paths short whatever the checkout path is
        f"spark.python.unix.domain.socket.dir {os.path.relpath(work, ROOT)}/sock",
        f"spark.sql.warehouse.dir {work}/warehouse",
    ]
    if trace:
        lines += ["spark.eventLog.enabled true",
                  f"spark.eventLog.dir file://{work}/eventlog",
                  "spark.eventLog.compress false"]
    return "\n".join(lines) + "\n"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "vector_tile_go_spark", "session.py")):
        return fail(f"engine package vector_tile_go_spark not found under {ROOT}")

    base = os.path.join(ROOT, ".perfbench_run")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    for d in ("conf", "tmp", "eventlog", "spark-local", "warehouse", "sock"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    with open(os.path.join(work, "conf", "spark-defaults.conf"), "w") as f:
        f.write(spark_defaults(work, bool(args.trace)))

    env = dict(os.environ)
    env.update({
        # the preloaded worker daemon imports the engine by module name
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_CONF_DIR": os.path.join(work, "conf"),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # spark-submit's launcher JVM reads this, not the JVM options above
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
        # as session.py pins them, but before this process tree starts, so
        # the in-process kernel timings see the same allocator settings
        "ARROW_DEFAULT_MEMORY_POOL": "system",
        "MALLOC_MMAP_THRESHOLD_": "268435456",
        "MALLOC_TRIM_THRESHOLD_": "268435456",
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work]
    # a terminated run still stops its process tree (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    become_subreaper()
    t0 = time.monotonic()
    child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr,
                             start_new_session=True)
    peak, peak_by = 0, {"jvm": 0, "python": 0}
    try:
        while child.poll() is None:
            rss = rss_bytes(tree(child.pid, proc_table()))
            peak = max(peak, sum(rss.values()))
            peak_by = {k: max(v, rss[k]) for k, v in peak_by.items()}
            if time.monotonic() - t0 > TIMEOUT_S:
                print("perfbench: run timed out", file=sys.stderr)
                break
            time.sleep(SAMPLE_EVERY_S)
        result_path = os.path.join(work, "result.json")
        result = None
        if child.returncode == 0 and os.path.isfile(result_path):
            with open(result_path) as f:
                result = json.load(f)
    finally:
        if child.poll() is None:
            child.terminate()
            try:
                child.wait(5)
            except subprocess.TimeoutExpired:
                child.kill()
                child.wait()
        stop_tree()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it
    if result is None:
        return fail(f"worker exited with code {child.returncode}", 1)

    metrics = result.pop("metrics")
    result["peak_rss_mb"] = {"total": peak / 2**20,
                             **{k: v / 2**20 for k, v in peak_by.items()}}
    if args.trace:
        # memory varies too much run to run (G1 heap growth) to gate on, so
        # it is a per-layer figure
        for k, v in result["peak_rss_mb"].items():
            name = "process.peak_rss_mb" if k == "total" else f"process.{k}_peak_rss_mb"
            metrics[name] = {"value": v, "unit": "MB"}
        metrics = dict(sorted(metrics.items()))
    listed = expected_metrics(args.workload, bool(args.trace))
    if listed is not None and listed != set(metrics):
        return fail("metrics differ from BENCHMARK.json: "
                    f"{sorted(listed ^ set(metrics))}", 1)
    for name, m in metrics.items():
        print(f"{name:45s} {m['value']:16.8g} {m['unit']}")
    job = result["job_s"]
    print(f"job_s: samples={job['n']} median={job['median']:.4f} "
          f"q1={job['q1']:.4f} q3={job['q3']:.4f} "
          f"p{job['tail_pct']}={job['tail']}  error_rate={result['error_rate']}")
    print(json.dumps({"report": result}))
    print(json.dumps({"correct": result["failed"] == 0,
                      "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
