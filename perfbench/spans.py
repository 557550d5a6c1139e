"""Spans recorded from the benchmark's own code, and their Spark task metrics.

A span is a named set of wall-clock intervals. While a span is open its id
is the Spark job group, so every task the span caused can be found in the
event log. Spans nest: a span's Spark metrics include its children's.

The library is not modified. Its inner calls are traced by replacing module
attributes for the duration of a traced execution: the library imports
``ensure_block_store``, ``write_block_store`` and the adjacency iterators
inside function bodies, so the replacement is what it calls.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

SPARK_SUFFIXES = ("wall_s", "task_s", "gc_s", "python_s", "shuffle_write_mb",
                  "fetch_wait_s", "driver_s")
# Spans that run Spark jobs report every suffix; driver-only spans their wall.
SPARK_SPANS = (
    "edges.transcript_edges", "edges.adjacency", "partition.ingest",
    "blockstore.write_block_store", "pagerank.pagerank_csr",
    "labelprop.label_propagation_csr", "components.connected_components",
    "triangles.triangle_count", "text.signals", "dedup.exact_dedup", "dedup.minhash_pairs",
    "ivf.ivf_index_gemm", "ivf.ivf_probe_gemm", "similarity.brute_force_topk_gemm",
)
COUNTS = (
    "edges.edges_out", "edges.vertices_out", "edges.hash_collisions",
    "partition.vertices_per_s", "partition.refine_moves",
    "blockstore.ensure_calls", "blockstore.packs_written", "blockstore.reuse_ratio",
    "pagerank.supersteps", "pagerank.superstep_s", "pagerank.pre_superstep_s",
    "labelprop.supersteps", "components.rounds", "components.round_first_s",
    "components.round_last_s", "components.sig_s", "dedup.pairs_out", "ivf.queries",
    "spark.failed_tasks", "spark.spill_mb", "trace.overhead_s", "trace.warm_job_s",
    "trace.coverage",
)
# Every per-layer metric, in BENCHMARK.json order. A layer the workload
# does not run reads 0. The partition span's Spark work is all in its ingest,
# so it carries only its wall and driver time.
LAYER_METRICS = (
    [f"{s}.{x}" for s in SPARK_SPANS for x in SPARK_SUFFIXES]
    + ["partition.cuttana_partition_df_batched.wall_s",
       "partition.cuttana_partition_df_batched.driver_s",
       "session.get_spark.wall_s", "partition.add_batch.wall_s", "partition.finish.wall_s"]
    + list(COUNTS)
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple] = []
        self.counts: dict[str, float] = {}

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["gid"], rec["name"])

    def _open(self, name: str, reuse: bool) -> dict:
        parent = self._stack[-1] if self._stack else None
        if reuse:
            for rec in reversed(self.spans):
                if rec["name"] == name and rec["parent"] == (parent and parent["gid"]):
                    return rec
        rec = {"name": name, "gid": f"perfbench-{len(self.spans)}",
               "parent": parent and parent["gid"], "iv": []}
        self.spans.append(rec)
        return rec

    @contextmanager
    def span(self, name: str, reuse: bool = False):
        """Open a span; ``reuse`` adds an interval to the current parent's
        latest span of that name (for calls made once per batch)."""
        if not self.enabled:
            yield
            return
        rec = self._open(name, reuse)
        self._stack.append(rec)
        self._set_group(rec)
        t0 = time.time()
        try:
            yield
        finally:
            rec["iv"].append((t0, time.time()))
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def count(self, name: str) -> None:
        self.counts[name] = self.counts.get(name, 0) + 1

    # ---------------------------------------------------------- patching --

    def _patch(self, owner, attr: str, repl) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, repl)

    def install(self) -> None:
        """Wrap the library's inner layer boundaries."""
        from cuttana_spark.analytics import blockstore
        from cuttana_spark.partition import batched, core

        tr = self
        ensure, write = blockstore.ensure_block_store, blockstore.write_block_store

        def ensure_block_store(*a, **k):
            tr.count("blockstore.ensure_calls")
            return ensure(*a, **k)

        def write_block_store(*a, **k):
            tr.count("blockstore.packs_written")
            with tr.span("blockstore.write_block_store"):
                return write(*a, **k)

        self._patch(blockstore, "ensure_block_store", ensure_block_store)
        self._patch(blockstore, "write_block_store", write_block_store)

        def ingest(fn):
            def wrapper(*a, **k):
                if tr._stack and tr._stack[-1]["name"] == "partition.ingest":
                    yield from fn(*a, **k)  # merged iterator calling the plain one
                    return
                it = fn(*a, **k)
                while True:
                    with tr.span("partition.ingest", reuse=True):
                        try:
                            item = next(it)
                        except StopIteration:
                            return
                    yield item

            return wrapper

        for name in ("iter_adjacency_batches", "iter_merged_adjacency_batches"):
            self._patch(core, name, ingest(getattr(core, name)))

        cls = batched.BatchedCuttanaPartitioner
        for meth in ("add_batch", "finish"):
            def method(self_, *a, _fn=getattr(cls, meth), _n=f"partition.{meth}", **k):
                with tr.span(_n, reuse=True):
                    return _fn(self_, *a, **k)

            self._patch(cls, meth, method)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


# --------------------------------------------------------------- event log --


def read_event_log(log_dir: str) -> dict:
    """Per job group: summed task metrics and task intervals. Also the
    run-wide failed task count and spill."""
    stage_group: dict[int, str | None] = {}
    groups: dict[str | None, dict] = {}
    failed, spill = 0, 0
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, gid)
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    if info.get("Failed") or info.get("Killed"):
                        failed += 1
                    spill += m.get("Disk Bytes Spilled", 0)
                    g = groups.setdefault(stage_group.get(ev["Stage ID"]), {
                        "task_s": 0.0, "gc_s": 0.0, "python_s": 0.0,
                        "shuffle_write_mb": 0.0, "fetch_wait_s": 0.0, "iv": []})
                    g["task_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") == "time to run Python workers":
                            g["python_s"] += float(acc.get("Update") or 0) / 1e3
                    g["iv"].append((info["Launch Time"] / 1e3, info["Finish Time"] / 1e3))
    return {"groups": groups, "failed_tasks": failed, "spill_mb": spill / 1e6}


def _covered(intervals: list, window: tuple) -> float:
    """Length of the union of ``intervals`` clipped to ``window``."""
    lo, hi = window
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, end = 0.0, lo
    for a, b in clipped:
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total


def span_metrics(spans: list[dict], log: dict) -> dict[str, dict]:
    """Inclusive metrics per span name, summed over its records."""
    children: dict[str, list[str]] = {}
    for rec in spans:
        children.setdefault(rec["parent"], []).append(rec["gid"])

    def subtree(gid):
        out = [gid]
        for c in children.get(gid, []):
            out += subtree(c)
        return out

    out: dict[str, dict] = {}
    for rec in spans:
        agg = out.setdefault(rec["name"], {s: 0.0 for s in SPARK_SUFFIXES})
        tasks = []
        for gid in subtree(rec["gid"]):
            g = log["groups"].get(gid)
            if g is None:
                continue
            for key in ("task_s", "gc_s", "python_s", "shuffle_write_mb", "fetch_wait_s"):
                agg[key] += g[key]
            tasks += g["iv"]
        for iv in rec["iv"]:
            agg["wall_s"] += iv[1] - iv[0]
            agg["driver_s"] += (iv[1] - iv[0]) - _covered(tasks, iv)
    return out
