"""Seeded inputs and independent referees for the benchmark workloads.

Everything here runs without Spark, in the harness process, before the
Spark process starts. Inputs and references are cached per seed and
generator parameters under ``perfbench/_cache`` so a repeated seed skips
generation. The referees never call the library code under test: they use
numpy, networkx, ``transcripts.expected_edges`` (the fixture generator's
pure-Python edge oracle) and ``labelprop.label_propagation_oracle``.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import re
import shutil

import numpy as np

# Vocabulary of the sf ``documents`` table (its 30 words; the table itself
# is fixed at seed 42, so the benchmark draws its own documents from it).
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
PUNCT = [",", ".", "!", ";", ":"]


def ensure(root: str, workload: str, seed: int, params: dict) -> str:
    """Generate (once per seed and parameters) and return the input dir."""
    tag = hashlib.sha1(json.dumps(params, sort_keys=True).encode()).hexdigest()[:10]
    d = os.path.join(root, f"{workload}-s{seed}-{tag}")
    if os.path.exists(os.path.join(d, "DONE")):
        return d
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    GENERATORS[workload](tmp, seed, params)
    with open(os.path.join(tmp, "params.json"), "w") as fh:
        json.dump({"seed": seed, **params}, fh)
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d


def load_ref(d: str):
    with open(os.path.join(d, "ref.pkl"), "rb") as fh:
        return pickle.load(fh)


def _save_ref(d: str, ref) -> None:
    with open(os.path.join(d, "ref.pkl"), "wb") as fh:
        pickle.dump(ref, fh, protocol=pickle.HIGHEST_PROTOCOL)


# ---------------------------------------------------------------- graph ----


_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5, _M = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5, (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxhash64(s: str, seed: int = 42) -> int:
    """XXH64 of the UTF-8 bytes as a signed long: Spark's ``xxhash64``."""
    b = s.encode()
    n, i = len(b), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M, (seed - _P1) & _M]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(b[i + 8 * j : i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(b[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(b[i : i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (b[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >= 1 << 63 else h


def _gen_graph(d: str, seed: int, p: dict) -> None:
    from cuttana_spark import transcripts as T

    T.write_parquet(os.path.join(d, "transcripts.parquet"), n_conv=p["n_conv"], seed=seed)
    _save_ref(d, graph_referee(T.expected_edges(p["n_conv"], seed), p))


def graph_referee(key_edges: set, p: dict) -> dict:
    """References for the graph workload from the expected key-level edge
    set, with vertex ids computed as the library documents them (xxhash64
    of the node key)."""
    import networkx as nx

    from cuttana_spark.analytics.labelprop import label_propagation_oracle

    keys = sorted({k for e in key_edges for k in e})
    vid = {k: xxhash64(k) for k in keys}
    ea = np.array([vid[a] for a, _ in key_edges], np.int64)
    eb = np.array([vid[b] for _, b in key_edges], np.int64)
    src, dst = np.minimum(ea, eb), np.maximum(ea, eb)
    verts = np.unique(np.concatenate([src, dst]))
    n = verts.size
    si, di = np.searchsorted(verts, src), np.searchsorted(verts, dst)

    # PageRank: networkx semantics (teleport (1-a)/N, uniform dangling
    # redistribution) over the symmetrized unit-weight graph, fixed supersteps
    a = p["alpha"]
    s2 = np.concatenate([si, di])
    d2 = np.concatenate([di, si])
    deg = np.bincount(s2, minlength=n).astype(np.float64)
    x = np.full(n, 1.0 / n)
    for _ in range(p["pr_iters"]):
        contrib = np.bincount(d2, weights=x[s2] / deg[s2], minlength=n)
        x = (1 - a) / n + a * (contrib + x[deg == 0].sum() / n)

    adj: dict[int, list[int]] = {int(v): [] for v in verts}
    for u, v in zip(src.tolist(), dst.tolist()):
        adj[u].append(v)
        adj[v].append(u)
    labels = label_propagation_oracle(adj, max_iter=p["lpa_iters"])

    root = np.arange(n)

    def find(i: int) -> int:
        while root[i] != i:
            root[i] = root[root[i]]
            i = root[i]
        return i

    for a, b in zip(si.tolist(), di.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            root[max(ra, rb)] = min(ra, rb)  # positions are in id order: root = min id
    comp = {int(v): int(verts[find(i)]) for i, v in enumerate(verts.tolist())}

    g = nx.Graph()
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    return {
        "node_ids": vid,
        "src": src,
        "dst": dst,
        "vertices": verts,
        "pagerank": x,
        "labels": labels,
        "components": comp,
        "triangles": sum(nx.triangles(g).values()) // 3,
    }


# --------------------------------------------------------------- corpus ----


def _gen_corpus(d: str, seed: int, p: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cuttana_spark import embeddings as EMB

    rng = np.random.RandomState(seed)
    texts: list[str] = []
    while len(texts) < p["n_docs"]:
        base = list(rng.choice(VOCAB, size=rng.randint(8, 80)))
        texts.append(" ".join(base))
        for _ in range(rng.randint(0, 5)):
            if rng.rand() < 0.2:  # exact duplicate up to case and punctuation
                w = list(base)
                w[0] = w[0].upper()
                w[-1] += PUNCT[rng.randint(len(PUNCT))]
            else:  # near duplicate: word substitutions at a per-copy rate
                rate = rng.uniform(0.0, 0.2)
                w = [rng.choice(VOCAB) if rng.rand() < rate else t for t in base]
                if rng.rand() < 0.3:
                    w.insert(rng.randint(len(w) + 1), str(rng.randint(1000)))
            texts.append(" ".join(w))
    texts = texts[: p["n_docs"]]
    doc_id = rng.permutation(len(texts)).astype(np.int64)
    pq.write_table(
        pa.table({"doc_id": doc_id, "text": pa.array(texts, pa.string())}),
        os.path.join(d, "documents.parquet"),
    )
    emb_path = os.path.join(d, "embeddings.parquet")
    EMB.write_parquet(
        emb_path, n=p["n_vec"], dim=p["dim"], n_clusters=p["n_clusters"],
        noise=p["noise"], seed=seed,
    )
    X = EMB.clustered_embeddings(p["n_vec"], p["dim"], p["n_clusters"], p["noise"], seed)
    _save_ref(d, {"docs": corpus_referee(doc_id, texts, p), "ann": ann_referee(X, p)})


def _normalized(t: str) -> str:
    return re.sub(r"[^a-z0-9]+", " ", t.lower()).strip()


def _shingles(t: str, n: int = 3) -> set:
    w = _normalized(t).split(" ")
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)} - {""}


_SYM = re.compile(r"[^A-Za-z0-9\s]")


def _signals(t: str) -> tuple:
    """text.with_quality / with_language / with_repetition, per document."""
    from cuttana_spark.operators.text import STOPWORDS  # the operator's spec

    stop_re = {k: re.compile(r"\b(" + "|".join(v) + r")\b") for k, v in STOPWORDS.items()}
    n_chars = len(t)
    n_punct = len(_SYM.findall(t))
    n_digit = len(re.findall(r"[0-9]", t))
    n_words = len(re.findall(r"[A-Za-z]+", t))
    hits = {k: len(r.findall(t.lower())) for k, r in stop_re.items()}
    sc, sw = max(n_chars, 1), max(n_words, 1)
    pr, dr, sr = n_punct / sc, n_digit / sc, hits["en"] / sw
    quality = (
        min(n_chars / 500.0, 1.0) * 0.4
        + (1.0 - min(pr * 4.0, 1.0)) * 0.2
        + (1.0 - min(dr * 4.0, 1.0)) * 0.2
        + min(sr * 5.0, 1.0) * 0.2
    )
    best = max(hits.values())
    lang = "und" if best == 0 else next(k for k in STOPWORDS if hits[k] == best)
    words = [w for w in _normalized(t).split(" ") if w]
    nw = max(len(words), 1)
    big: dict[str, int] = {}
    for a, b in zip(words, words[1:]):
        big[a + " " + b] = big.get(a + " " + b, 0) + 1
    top = max(big.values()) / sum(big.values()) if big else 0.0
    dup = 1.0 - len(set(words)) / nw
    mwl = sum(len(w) for w in words) / nw
    sym = n_punct / nw
    gopher = dup <= 0.5 and top <= 0.2 and 2.0 <= mwl <= 12.0 and sym <= 1.0
    return (quality, lang, dup, top, mwl, sym, gopher)


def corpus_referee(doc_id: np.ndarray, texts: list, p: dict) -> dict:
    ids = doc_id.tolist()
    canon: dict[str, int] = {}
    for i, t in zip(ids, texts):
        k = _normalized(t)
        canon[k] = min(canon.get(k, i), i)
    exact = {i: canon[_normalized(t)] for i, t in zip(ids, texts)}
    sh = {i: _shingles(t) for i, t in zip(ids, texts)}
    post: dict[str, list[int]] = {}
    for i, s in sh.items():
        for g in s:
            post.setdefault(g, []).append(i)
    inter: dict[tuple, int] = {}
    for docs in post.values():
        docs.sort()
        for x in range(len(docs)):
            for y in range(x + 1, len(docs)):
                k = (docs[x], docs[y])
                inter[k] = inter.get(k, 0) + 1
    pairs = {}
    for (a, b), c in inter.items():
        j = c / (len(sh[a]) + len(sh[b]) - c)
        if j >= p["threshold"]:
            pairs[(a, b)] = j
    return {
        "exact": exact,
        "pairs": pairs,
        "signals": {i: _signals(t) for i, t in zip(ids, texts)},
    }


def ann_referee(X: np.ndarray, p: dict) -> dict:
    """Exact cosine top-k (self excluded, ties by id) for vec_id % 97 == 0."""
    Xn = X.astype(np.float64)
    Xn /= np.maximum(np.linalg.norm(Xn, axis=1, keepdims=True), 1e-12)
    qids = np.arange(0, X.shape[0], p["query_mod"])
    k = p["k"]
    top_ids = np.empty((qids.size, k), np.int64)
    top_cos = np.empty((qids.size, k))
    kth_next = np.empty(qids.size)
    for q0 in range(0, qids.size, 64):
        q = qids[q0 : q0 + 64]
        s = Xn[q] @ Xn.T
        s[np.arange(q.size), q] = -np.inf
        part = np.argpartition(-s, kth=k, axis=1)[:, : k + 1]
        pc = np.take_along_axis(s, part, axis=1)
        order = np.lexsort((part, -pc), axis=1)
        part = np.take_along_axis(part, order, axis=1)
        pc = np.take_along_axis(pc, order, axis=1)
        top_ids[q0 : q0 + q.size] = part[:, :k]
        top_cos[q0 : q0 + q.size] = pc[:, :k]
        kth_next[q0 : q0 + q.size] = pc[:, k]
    return {"qids": qids, "ids": top_ids, "cos": top_cos, "next": kth_next}


GENERATORS = {"graph_pipeline": _gen_graph, "corpus_curate": _gen_corpus}
