"""cuttana_spark benchmark: one workload, one seed, one fresh Spark process.

    python3 perfbench/run.py --workload graph_pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. The harness generates the seeded inputs and
their references (cached under perfbench/_cache), starts ``job.py`` in a new
process at local[nproc] with the repository on PYTHONPATH (so Spark's Python
workers can import cuttana_spark), samples the RSS of that process tree
(driver Python, JVM, Python workers), and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records the host (nproc, RAM, heap, Spark and Python versions).

``--trace 0`` times one cold execution of the workload and reports the
end-to-end metrics of BENCHMARK.json. A quality metric the workload does not
compute reads as the constant 1.0. ``--trace 1`` enables the event log, then
alternates untraced and traced warm executions for ``--seconds`` and reports
the per-layer metrics. A failed op (exception, timeout, mismatch against a
referee, leftover store or arena file) makes ``correct`` false and the exit
code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from spans import LAYER_METRICS  # noqa: E402
BUDGET_S = 155  # the Spark process, start to exit
QUALITY = ("edge_cut_ratio", "partition_balance", "near_dup_recall", "ann_recall_at_10")

PARAMS = {
    "graph_pipeline": {
        "n_conv": 1000, "k": 32, "batch_size": 4096, "alpha": 0.85,
        "pr_iters": 4, "pr_interval": 2, "lpa_iters": 2,
    },
    "corpus_curate": {
        "n_docs": 6000, "num_hashes": 16, "bands": 4, "threshold": 0.5,
        "n_vec": 30_000, "dim": 64, "n_clusters": 300, "noise": 0.04,
        "query_mod": 97, "n_cells": 64, "nprobe": 8, "k": 10,
    },
}


def host() -> dict:
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
    heap_mb = max(1024, min(2048, mem_kb // 1024 // 8))
    return {"nproc": nproc, "ram_mb": mem_kb // 1024, "heap_mb": heap_mb}


def tree_rss_mb(root_pid: int) -> float:
    """Summed RSS of ``root_pid`` and all its descendants, from /proc."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in tree:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total / 2**20


def stop_group(proc: subprocess.Popen) -> None:
    """Kill the job's process group and wait until every member is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        t = time.time() + 10
        while time.time() < t:
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.1)
        else:
            continue
        break
    proc.wait()


def leftovers(run_dir: str) -> list[str]:
    found = []
    for sub in ("stores", "arena"):
        d = os.path.join(run_dir, sub)
        if os.path.isdir(d):
            found += [os.path.join(sub, f) for f in os.listdir(d)]
    return found


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(PARAMS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "cuttana_spark")):
        print(f"cuttana_spark not found beside {HERE}", file=sys.stderr)
        return 2
    import inputs

    params = PARAMS[args.workload]
    input_dir = inputs.ensure(os.path.join(HERE, "_cache"), args.workload, args.seed, params)

    h = host()
    run_dir = os.path.join(HERE, "_runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse", "stores", "arena"):
        os.makedirs(os.path.join(run_dir, sub))
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in [env.get("PYTHONPATH")] if p]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(h["nproc"]),
        "SPARK_GRAFT_DRIVER_MEM": f"{h['heap_mb']}m",
        "CUTTANA_BLOCK_ARENA": os.path.join(run_dir, "arena"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",  # no hsperfdata files in /tmp
    })
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
              "NUMEXPR_NUM_THREADS"):
        env[v] = "1"
    cfg_path = os.path.join(run_dir, "config.json")
    spawn = time.time()
    with open(cfg_path, "w") as fh:
        json.dump({
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "params": params, "input_dir": input_dir,
            "run_dir": run_dir, "nproc": h["nproc"], "spawn_time": spawn,
            "budget_s": BUDGET_S - 30,
        }, fh)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "job.py"), cfg_path],
        cwd=run_dir, env=env, start_new_session=True,
        stdout=sys.stderr, stderr=sys.stderr,
    )
    peak, timed_out = 0.0, False
    while proc.poll() is None:
        peak = max(peak, tree_rss_mb(proc.pid))
        if time.time() - spawn > BUDGET_S:
            timed_out = True
            break
        time.sleep(0.25)
    stop_group(proc)

    res = {"attempted": 0, "failed": 0, "errors": []}
    try:
        with open(os.path.join(run_dir, "result.json")) as fh:
            res = json.load(fh)
    except (OSError, ValueError):
        res["errors"].append("timeout" if timed_out else f"job exited with {proc.returncode}")
        res["attempted"] += 1
        res["failed"] += 1
    left = leftovers(run_dir)
    res["attempted"] += 1
    if left:
        res["failed"] += 1
        res["errors"].append(f"left behind: {left[:5]}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        os.rmdir(os.path.join(HERE, "_runs"))
    except OSError:
        pass

    attempted, failed = res["attempted"], res["failed"]
    for e in res["errors"]:
        print("FAILED:", e, file=sys.stderr)
    if args.trace:
        layers = res.get("layers", {})
        metrics = {k: {"value": layers.get(k, 0.0), "unit": unit_of(k)} for k in LAYER_METRICS}
    else:
        # A quality metric the workload does not compute reads as the
        # constant 1.0 (see BENCHMARK.json).
        q = {**dict.fromkeys(QUALITY, 1.0), **res.get("quality", {})}
        input_s = res.get("input_s") or [0.0]
        e2e = {
            "setup_s": res.get("session_s", 0.0) + input_s[0],
            "cold_job_s": res.get("cold_s") or 0.0,
            "peak_rss_mb": peak,
            "ok_frac": (attempted - failed) / max(attempted, 1),
            **{k: q[k] for k in QUALITY},
        }
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in e2e.items()}
    print(json.dumps({
        "host": {**h, **res.get("host", {})}, "workload": args.workload, "seed": args.seed,
        "params": params,
    }))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


def unit_of(name: str) -> str:
    for suffix, unit in (("per_s", "1/s"), ("_s", "s"), ("_mb", "MB"), ("_ratio", "ratio"),
                         ("_frac", "ratio"), ("recall", "ratio"), ("_at_10", "ratio"),
                         ("balance", "ratio"), ("coverage", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main())
