"""One benchmark run inside a fresh Spark process (started by run.py).

Reads its configuration from the JSON file named by argv[1], runs the
workload once cold and then warm until the measuring time is used, checks
every execution against the referees, and writes result.json into the
run directory. Spark-side scratch (local dirs, warehouse, block stores,
arenas, event log) lives under the run directory.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
from spans import SPARK_SUFFIXES, Tracer, read_event_log, span_metrics  # noqa: E402


class Checks:
    """Ops attempted and failed: one per execution and one per check."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def op(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{name}: {detail}"[:500])
        return ok


def _error_line(exc: BaseException) -> str:
    """The first ``...Error: message`` line of the traceback (for a Python
    worker failure, the worker's own error), which is also printed whole."""
    text = "".join(traceback.format_exception(exc))
    print(text, file=sys.stderr)
    errors = [ln for ln in text.splitlines() if "Error:" in ln]
    return (errors[0] if errors else text.strip().splitlines()[-1]).strip()


# ------------------------------------------------------------- workloads --


class GraphPipeline:
    """Edges, adjacency and the Cuttana partition (graph build), then
    PageRank, LPA, CC and triangles over the derived graph (analytics)."""

    def __init__(self, spark, cfg, tracer):
        self.spark, self.cfg, self.tr, self.p = spark, cfg, tracer, cfg["params"]
        self.stores: list[str] = []

    def load_inputs(self):
        t = self.spark.read.parquet(os.path.join(self.cfg["input_dir"], "transcripts.parquet"))
        self.transcripts = t.cache()
        self.transcripts.count()

    def run(self) -> dict:
        from cuttana_spark.analytics.components import connected_components
        from cuttana_spark.analytics.labelprop import label_propagation_csr
        from cuttana_spark.analytics.pagerank import pagerank_csr
        from cuttana_spark.analytics.triangles import triangle_count
        from cuttana_spark.operators import edges as E
        from cuttana_spark.partition.batched import cuttana_partition_df_batched

        spark, p, tr, out = self.spark, self.p, self.tr, {}
        with tr.span("edges.transcript_edges"):
            nodes, eids = E.transcript_edges(self.transcripts, mode="hash")
            out["collisions"] = E.check_hash_collisions(nodes)
            eids = eids.cache()
            out["n_edges"] = eids.count()
        with tr.span("edges.adjacency"):
            adj = E.adjacency(eids).cache()
            adj.count()
        with tr.span("partition.cuttana_partition_df_batched"):
            t0 = time.monotonic()
            out["partition"] = cuttana_partition_df_batched(
                adj, p["k"], batch_size=p["batch_size"])
            out["partition_s"] = time.monotonic() - t0
        run_dir, hp = self.cfg["run_dir"], self.cfg["nproc"]
        pr_store = os.path.join(run_dir, "stores", "pagerank")
        su_store = os.path.join(run_dir, "stores", "sym_unit")
        self.stores = [pr_store, su_store]
        with tr.span("pagerank.pagerank_csr"):
            t0, walls = time.monotonic(), []
            out["pagerank"] = pagerank_csr(
                spark, E.symmetrize(eids), None, alpha=p["alpha"], max_iter=p["pr_iters"],
                tol=0.0, checkpoint_interval=p["pr_interval"], iter_walls=walls,
                hash_partitions=hp, block_store=pr_store).toPandas()
            out["pagerank_s"], out["iter_walls"] = time.monotonic() - t0, walls
        with tr.span("labelprop.label_propagation_csr"):
            out["labels"] = label_propagation_csr(
                spark, eids, None, max_iter=p["lpa_iters"], hash_partitions=hp,
                block_store=su_store).toPandas()
        with tr.span("components.connected_components"):
            walls = []
            out["components"] = connected_components(spark, eids, round_walls=walls).toPandas()
            out["round_walls"] = walls
        with tr.span("triangles.triangle_count"):
            out["triangles"] = int(triangle_count(spark, eids.select("src", "dst")).first()[0])
        out["nodes"], out["eids"] = nodes, eids
        return out

    def check(self, out: dict, ck: Checks, ref: dict) -> dict:
        k = self.p["k"]
        e = out["eids"].toPandas()
        got = set(zip(e.src.tolist(), e.dst.tolist()))
        want = set(zip(ref["src"].tolist(), ref["dst"].tolist()))
        ck.op("edges", got == want and len(e) == len(want) and bool((e.weight == 1).all()),
              f"{len(got ^ want)} edges differ")
        nodes = out["nodes"].toPandas()
        ck.op("nodes", out["collisions"] == 0
              and dict(zip(nodes.node_key, nodes.vid.tolist())) == ref["node_ids"],
              f"collisions={out['collisions']}")
        res = out["partition"]
        verts = np.asarray(res.vertices, np.int64)
        parts = np.asarray(res.partitions, np.int64)
        ok = (verts.size == ref["vertices"].size
              and np.array_equal(np.sort(verts), ref["vertices"])
              and parts.min() >= 0 and parts.max() < k)
        ck.op("partition", ok, "vertex assignment is not a total, unique map")
        quality = {}
        if ok:
            order = np.argsort(verts)
            pid = parts[order]
            ps = pid[np.searchsorted(verts[order], ref["src"])]
            pd_ = pid[np.searchsorted(verts[order], ref["dst"])]
            quality["edge_cut_ratio"] = float(np.mean(ps != pd_))
            quality["partition_balance"] = float(
                np.bincount(pid, minlength=k).max() / (verts.size / k))
        pr = out["pagerank"].sort_values("vertex")
        ck.op("pagerank", np.array_equal(pr.vertex.to_numpy(), ref["vertices"])
              and np.allclose(pr.score.to_numpy(), ref["pagerank"], rtol=1e-6, atol=0),
              "scores differ from the numpy power iteration")
        lb = out["labels"]
        ck.op("labelprop", dict(zip(lb.vertex.tolist(), lb.label.tolist())) == ref["labels"],
              "labels differ from label_propagation_oracle")
        cc = out["components"]
        ck.op("components",
              dict(zip(cc.vertex.tolist(), cc.component.tolist())) == ref["components"],
              "components differ from union-find")
        ck.op("triangles", out["triangles"] == ref["triangles"],
              f"{out['triangles']} != {ref['triangles']}")
        return quality

    def layer_counts(self, out: dict) -> dict:
        res, p = out["partition"], self.p
        walls = out["iter_walls"]
        windows, cur = [], []
        for i, w in enumerate(walls):
            cur.append(w)
            if (i + 1) % p["pr_interval"] == 0 or i + 1 == len(walls):
                windows.append(sum(cur) / len(cur))
                cur = []
        rw = out["round_walls"]
        return {
            "edges.edges_out": out["n_edges"],
            "edges.vertices_out": len(res.vertices),
            "edges.hash_collisions": out["collisions"],
            "partition.vertices_per_s": res.vertex_count / out["partition_s"],
            "partition.refine_moves": len(res.moves),
            "pagerank.supersteps": len(walls),
            "pagerank.superstep_s": statistics.median(windows),
            "pagerank.pre_superstep_s": out["pagerank_s"] - sum(walls),
            "labelprop.supersteps": p["lpa_iters"],
            "components.rounds": len(rw),
            "components.round_first_s": rw[0]["wall"],
            "components.round_last_s": rw[-1]["wall"],
            "components.sig_s": sum(r["sig_wall"] for r in rw),
        }


class CorpusCurate:
    """Text signals, exact and MinHash dedup, IVF build and probe, and the
    exact GEMM top-k, over generated documents and clustered embeddings."""

    def __init__(self, spark, cfg, tracer):
        self.spark, self.cfg, self.tr, self.p = spark, cfg, tracer, cfg["params"]
        self.stores: list[str] = []

    def load_inputs(self):
        d, n = self.cfg["input_dir"], self.cfg["nproc"]
        self.docs = self.spark.read.parquet(os.path.join(d, "documents.parquet")).cache()
        self.docs.count()
        emb = self.spark.read.parquet(os.path.join(d, "embeddings.parquet"))
        self.emb = emb.repartition(n).cache()
        self.emb.count()
        self.queries = self.emb.filter(f"vec_id % {self.p['query_mod']} = 0").cache()
        self.n_queries = self.queries.count()

    def run(self) -> dict:
        from cuttana_spark.operators import text as T
        from cuttana_spark.operators.dedup import exact_dedup, minhash_pairs
        from cuttana_spark.operators.ivf import ivf_index_gemm, ivf_probe_gemm
        from cuttana_spark.operators.similarity import brute_force_topk_gemm

        p, tr, out = self.p, self.tr, {}
        with tr.span("text.signals"):
            sig = T.with_repetition(T.with_language(T.with_quality(self.docs)))
            out["signals"] = sig.select(
                "doc_id", "quality", "lang_pred", "dup_word_ratio", "top_bigram_ratio",
                "mean_word_len", "symbol_ratio", "passes_gopher").toPandas()
        with tr.span("dedup.exact_dedup"):
            out["exact"] = exact_dedup(self.docs).toPandas()
        with tr.span("dedup.minhash_pairs"):
            out["pairs"] = minhash_pairs(
                self.docs, num_hashes=p["num_hashes"], bands=p["bands"],
                threshold=p["threshold"]).toPandas()
        with tr.span("ivf.ivf_index_gemm"):
            cells, cents = ivf_index_gemm(self.emb, n_cells=p["n_cells"])
            cells = cells.cache()
            cells.count()
        with tr.span("ivf.ivf_probe_gemm"):
            out["ivf"] = ivf_probe_gemm(
                cells, cents, self.queries, nprobe=p["nprobe"], k=p["k"]).toPandas()
        with tr.span("similarity.brute_force_topk_gemm"):
            out["brute"] = brute_force_topk_gemm(self.queries, self.emb, k=p["k"]).toPandas()
        out["cells"] = cells
        return out

    def check(self, out: dict, ck: Checks, ref: dict) -> dict:
        docs, ann, p = ref["docs"], ref["ann"], self.p
        s = out["signals"]
        want = docs["signals"]
        bad = 0
        for r in s.itertuples(index=False):
            w = want.get(r.doc_id)
            g = (r.quality, r.lang_pred, r.dup_word_ratio, r.top_bigram_ratio,
                 r.mean_word_len, r.symbol_ratio, bool(r.passes_gopher))
            if w is None or g[1] != w[1] or g[6] != w[6] or not np.allclose(
                    [g[0], *g[2:6]], [w[0], *w[2:6]], rtol=1e-9, atol=1e-12):
                bad += 1
        ck.op("signals", bad == 0 and len(s) == len(want), f"{bad} documents differ")
        ex = out["exact"]
        ck.op("exact_dedup",
              dict(zip(ex.doc_id.tolist(), ex.canonical_id.tolist())) == docs["exact"],
              "canonical ids differ")
        pairs, truth = out["pairs"], docs["pairs"]
        got = {(int(a), int(b)): j for a, b, j in pairs[["doc_a", "doc_b", "jaccard"]].itertuples(index=False)}
        wrong = [k for k, j in got.items() if k not in truth or abs(truth[k] - j) > 1e-12]
        ck.op("minhash_pairs", not wrong and len(got) == len(pairs),
              f"{len(wrong)} pairs below threshold or with a wrong Jaccard")
        qpos = {int(q): i for i, q in enumerate(ann["qids"])}
        bf = out["brute"].sort_values(["query_id", "rank"])
        ok = set(bf.query_id.unique().tolist()) == set(qpos) and len(bf) == len(qpos) * p["k"]
        if ok:
            ids = bf.match_id.to_numpy().reshape(-1, p["k"])
            cos = bf.cosine.to_numpy().reshape(-1, p["k"])
            qs = bf.query_id.to_numpy()[:: p["k"]]
            rows = np.array([qpos[int(q)] for q in qs])
            same = ids == ann["ids"][rows]
            # a differing id is accepted only at an exact tie of the 10th score
            tie = np.isclose(ann["cos"][rows][:, -1], ann["next"][rows], rtol=0, atol=1e-12)
            ok = bool(np.all(same | tie[:, None])) and np.allclose(
                cos, ann["cos"][rows], rtol=0, atol=1e-9)
        ck.op("brute_force_topk_gemm", ok, "top-k differs from numpy's exact top-k")
        ivf = out["ivf"]
        truth_sets = {int(q): set(ann["ids"][i].tolist()) for q, i in qpos.items()}
        per_q = ivf.groupby("query_id").size()
        ok = bool((per_q <= p["k"]).all()) and set(per_q.index) <= set(qpos) and not bool(
            (ivf.query_id == ivf.match_id).any())
        ck.op("ivf_probe_gemm", ok, "malformed IVF top-k")
        hits = sum(len(truth_sets[int(q)] & set(g.match_id.tolist()))
                   for q, g in ivf.groupby("query_id"))
        cells = out["cells"].select("match_id", "cell").toPandas().sort_values("match_id")
        n_vec = p["n_vec"]
        ok = len(cells) == n_vec and np.array_equal(cells.match_id.to_numpy(), np.arange(n_vec))
        ck.op("ivf_index_gemm", ok, "cells are not a total map of the corpus")
        return {
            "near_dup_recall": len(got) / max(len(truth), 1),
            "ann_recall_at_10": hits / ann["ids"].size,
        }

    def layer_counts(self, out: dict) -> dict:
        return {"dedup.pairs_out": len(out["pairs"]), "ivf.queries": self.n_queries}


WORKLOADS = {"graph_pipeline": GraphPipeline, "corpus_curate": CorpusCurate}


# ------------------------------------------------------------------ run --


def reset(spark, wl, baseline: int) -> None:
    """Drop everything the previous execution made: cached data, block
    stores (and their arenas), leftover persistent RDDs."""
    from cuttana_spark.analytics.blockstore import drop_block_store

    spark.catalog.clearCache()
    for s in wl.stores:
        drop_block_store(s)
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(jmap.keys()):
        jmap[rid].unpersist(True)
    n = len(spark.sparkContext._jsc.getPersistentRDDs())
    if n != baseline:
        raise RuntimeError(f"{n} persistent RDDs remain, expected {baseline}")


def main() -> None:
    with open(sys.argv[1]) as fh:
        cfg = json.load(fh)
    run_dir, trace_on = cfg["run_dir"], bool(cfg["trace"])
    ck = Checks()
    conf = {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace_on:
        os.makedirs(os.path.join(run_dir, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from cuttana_spark.session import get_spark

    spark = get_spark(app=f"perfbench-{cfg['workload']}", master=f"local[{cfg['nproc']}]",
                      shuffle_partitions=cfg["nproc"], extra=conf)
    session_s = time.time() - cfg["spawn_time"]
    spark.sparkContext.setLogLevel("ERROR")
    host = {"spark": spark.version, "python": sys.version.split()[0]}
    tr = Tracer(spark, enabled=False)
    wl = WORKLOADS[cfg["workload"]](spark, cfg, tr)
    ref = inputs.load_ref(cfg["input_dir"])
    baseline = len(spark.sparkContext._jsc.getPersistentRDDs())

    input_s, walls, traced_walls, traces = [], [], [], []
    quality, counts = {}, {}

    def execute(traced: bool) -> bool:
        """One execution and its checks; False stops the run."""
        nonlocal quality
        tr.spans, tr.counts, tr.enabled = [], {}, traced
        try:
            if input_s:
                reset(spark, wl, baseline)
            t0 = time.monotonic()
            wl.load_inputs()
            input_s.append(time.monotonic() - t0)
            if traced:
                tr.install()
            t0 = time.monotonic()
            out = wl.run()
            wall = time.monotonic() - t0
        except Exception as exc:  # noqa: BLE001 - an exception is a failed op
            return ck.op("execution", False, _error_line(exc))
        finally:
            tr.uninstall()
        ck.op("execution", True)
        (traced_walls if traced else walls).append(wall)
        try:
            quality = wl.check(out, ck, ref)
            if traced:
                traces.append((wall, tr.spans, {**tr.counts, **wl.layer_counts(out)}))
        except Exception as exc:  # noqa: BLE001
            return ck.op("check", False, _error_line(exc))
        return True

    # Untraced runs measure the cold execution only. Traced runs then
    # alternate untraced and traced warm executions for ``seconds``.
    deadline = cfg["spawn_time"] + cfg["budget_s"]
    ok = execute(False)
    cold_s = walls[0] if walls else None
    walls.clear()
    t_loop = time.time()
    while ok and trace_on:
        traced = len(traced_walls) < len(walls)
        ok = execute(traced)
        last = (traced_walls if traced else walls)[-1] if ok else 0
        enough = time.time() - t_loop >= cfg["seconds"] and walls and traced_walls
        if enough or time.time() + 1.2 * last > deadline:
            break
    try:
        reset(spark, wl, baseline)
    except Exception as exc:  # noqa: BLE001
        ck.op("reset", False, _error_line(exc))
    if trace_on:
        spark.stop()  # flushes the event log; untraced, run.py stops the JVM

    if trace_on and traces:
        log = read_event_log(os.path.join(run_dir, "eventlog"))
        per_rep = []
        for wall, spans, cnt in traces:
            m = {f"{name}.{suf}": v[suf] for name, v in span_metrics(spans, log).items()
                 for suf in SPARK_SUFFIXES}
            top = sum(iv[1] - iv[0] for s in spans if s["parent"] is None for iv in s["iv"])
            m["trace.coverage"] = top / wall
            m.update(cnt)
            per_rep.append(m)
        keys = set().union(*per_rep)
        counts = {k: statistics.median([r.get(k, 0.0) for r in per_rep]) for k in keys}
        ensures = counts.get("blockstore.ensure_calls", 0)
        counts["blockstore.reuse_ratio"] = (
            1 - counts.get("blockstore.packs_written", 0) / ensures if ensures else 0.0)
        counts["spark.failed_tasks"] = log["failed_tasks"]
        counts["spark.spill_mb"] = log["spill_mb"]
        if walls:
            counts["trace.warm_job_s"] = statistics.median(walls)
            counts["trace.overhead_s"] = (statistics.median(traced_walls)
                                          - statistics.median(walls))
        counts["session.get_spark.wall_s"] = session_s
    result = {
        "host": host,
        "session_s": session_s,
        "input_s": input_s,
        "cold_s": cold_s,
        "quality": quality,
        "layers": counts,
        "attempted": ck.attempted,
        "failed": ck.failed,
        "errors": ck.errors,
    }
    with open(os.path.join(run_dir, "result.json"), "w") as fh:
        json.dump(result, fh)
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    main()
