"""Independent reference implementations for the benchmark's output checks.

None of these call into ``louvain_spark``: they recompute each operator's
contract from the raw inputs with pandas, numpy, networkx or ``re``.
Results that depend only on the inputs are cached per seed next to the
inputs (``refs.json`` / ``refs.npz``); results that depend on an
operator's own output (the modularity of the returned partition, the
components of the materialized near-dup pairs) are recomputed per check.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter

import networkx as nx
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

# -- linkgraph ----------------------------------------------------------------


def induce(transcripts_path: str, window: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(vertices(id, name), edges(src, dst, weight)) of the windowed
    co-occurrence graph: entities are ``tool:``, ``role:`` and ``conv:``
    per turn; ids are ranks of the sorted entity names; an edge's weight
    is the number of conversations in which its endpoints occur within
    ``window`` turns of each other."""
    t = pq.read_table(transcripts_path, columns=["conv_id", "turn_idx", "role", "tool"]).to_pandas()
    occ = [
        pd.DataFrame({"conv_id": t.conv_id, "turn_idx": t.turn_idx, "name": "conv:" + t.conv_id}),
        pd.DataFrame({"conv_id": t.conv_id, "turn_idx": t.turn_idx, "name": "role:" + t.role}),
    ]
    tl = t[t.tool.notna()]
    occ.append(pd.DataFrame({"conv_id": tl.conv_id, "turn_idx": tl.turn_idx, "name": "tool:" + tl.tool}))
    m = pd.concat(occ, ignore_index=True)
    names = np.array(sorted(m.name.unique()))
    m["id"] = np.searchsorted(names, m.name.to_numpy())
    m = m[["conv_id", "turn_idx", "id"]].drop_duplicates()
    p = m.merge(m, on="conv_id")
    p = p[(p.id_x < p.id_y) & ((p.turn_idx_x - p.turn_idx_y).abs() <= window)]
    e = (
        p[["conv_id", "id_x", "id_y"]]
        .drop_duplicates()
        .groupby(["id_x", "id_y"])
        .size()
        .reset_index(name="weight")
        .rename(columns={"id_x": "src", "id_y": "dst"})
    )
    e["weight"] = e.weight.astype(float)
    verts = pd.DataFrame({"id": np.arange(len(names)), "name": names})
    return verts, e.sort_values(["src", "dst"]).reset_index(drop=True)


def graph(n: int, edges: pd.DataFrame) -> nx.Graph:
    g = nx.Graph()
    g.add_nodes_from(range(n))
    g.add_weighted_edges_from(edges[["src", "dst", "weight"]].itertuples(index=False))
    return g


def components(g: nx.Graph) -> dict[int, int]:
    """id -> smallest id in its connected component."""
    out = {}
    for comp in nx.connected_components(g):
        lo = min(comp)
        out.update(dict.fromkeys(comp, lo))
    return out


def pagerank(n: int, edges: pd.DataFrame, iters: int, damping: float = 0.85) -> np.ndarray:
    """Weighted undirected power iteration from the uniform vector,
    dangling mass spread uniformly — exactly ``iters`` steps."""
    src = np.concatenate([edges.src.to_numpy(), edges.dst.to_numpy()])
    dst = np.concatenate([edges.dst.to_numpy(), edges.src.to_numpy()])
    w = np.concatenate([edges.weight.to_numpy(), edges.weight.to_numpy()])
    out_w = np.bincount(src, weights=w, minlength=n)
    dangling = out_w == 0
    frac = w / out_w[src]
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        c = np.bincount(dst, weights=frac * r[src], minlength=n)
        r = (1.0 - damping) / n + damping * (c + r[dangling].sum() / n)
    return r


def label_propagation(n: int, edges: pd.DataFrame, iters: int) -> np.ndarray:
    """Synchronous weighted LPA: each vertex takes the neighbor label of
    largest summed weight, ties to the smallest label; stops early once
    no label moves."""
    nbrs: list[list[tuple[int, float]]] = [[] for _ in range(n)]
    for s, d, w in edges[["src", "dst", "weight"]].itertuples(index=False):
        nbrs[s].append((d, w))
        nbrs[d].append((s, w))
    lab = list(range(n))
    for _ in range(iters):
        new = lab[:]
        for v in range(n):
            if not nbrs[v]:
                continue
            hist: dict[int, float] = {}
            for u, w in nbrs[v]:
                hist[lab[u]] = hist.get(lab[u], 0.0) + w
            new[v] = min(hist, key=lambda k: (-hist[k], k))
        moved = new != lab
        lab = new
        if not moved:
            break
    return np.array(lab)


def linkgraph_refs(transcripts_path: str, shape: dict, ref_dir: str) -> dict:
    """Input-only references for the linkgraph pipeline, cached in ref_dir."""
    jpath, npath = os.path.join(ref_dir, "refs.json"), os.path.join(ref_dir, "refs.npz")
    if os.path.isfile(jpath) and os.path.isfile(npath):
        with open(jpath) as fh:
            refs = json.load(fh)
        arrs = np.load(npath)
        refs.update({k: arrs[k] for k in arrs.files})
        return refs
    verts, edges = induce(transcripts_path, shape["window"])
    n = len(verts)
    g = graph(n, edges)
    comp = components(g)
    arrs = {
        "edges": edges[["src", "dst", "weight"]].to_numpy(),
        "component": np.array([comp[i] for i in range(n)]),
        "pagerank": pagerank(n, edges, shape["pr_iter"]),
        "lpa": label_propagation(n, edges, shape["lpa_iter"]),
    }
    refs = {
        "n_vertices": n,
        "n_edges": len(edges),
        "triangles": sum(nx.triangles(g).values()) // 3,
        "nx_louvain_modularity": float(
            np.median(
                [
                    nx.community.modularity(
                        g, nx.community.louvain_communities(g, weight="weight", seed=s), weight="weight"
                    )
                    for s in range(3)
                ]
            )
        ),
    }
    np.savez(npath, **arrs)
    with open(jpath, "w") as fh:
        json.dump(refs, fh)
    refs.update(arrs)
    return refs


def modularity(n: int, edges: np.ndarray, community: np.ndarray) -> float:
    """Weighted modularity (resolution 1) of a partition of 0..n-1."""
    g = nx.Graph()
    g.add_nodes_from(range(n))
    g.add_weighted_edges_from((int(s), int(d), float(w)) for s, d, w in edges)
    groups: dict[int, list[int]] = {}
    for v, c in enumerate(community):
        groups.setdefault(int(c), []).append(v)
    return nx.community.modularity(g, groups.values(), weight="weight")


# -- ann ------------------------------------------------------------------------


def exact_topk(vecs: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """(ids, sims) of each row's k most cosine-similar other rows."""
    v = vecs.astype(np.float64)
    ids, out = [], []
    for lo in range(0, len(v), 1024):
        sims = v[lo : lo + 1024] @ v.T
        rows = np.arange(sims.shape[0])
        sims[rows, rows + lo] = -np.inf
        idx = np.argsort(-sims, axis=1, kind="stable")[:, :k]
        ids.append(idx)
        out.append(np.take_along_axis(sims, idx, axis=1))
    return np.concatenate(ids), np.concatenate(out)


def recall_at_k(approx: dict[int, set], exact_ids: np.ndarray) -> float:
    hits = [len(approx.get(q, set()) & set(row.tolist())) for q, row in enumerate(exact_ids)]
    return float(np.mean(hits)) / exact_ids.shape[1]


# -- curation --------------------------------------------------------------------

TOKEN_RE = re.compile(r"[A-Za-z0-9_']+")
PII = (
    ("email", re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"), "<EMAIL>"),
    ("ipv4", re.compile(r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"), "<IP>"),
    ("phone", re.compile(r"\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b"), "<PHONE>"),
)


def curation_refs(docs_path: str, top_k: int, min_df: int, k_terms: int, ref_dir: str) -> dict:
    """Input-only references for the text spans, cached in ref_dir."""
    jpath = os.path.join(ref_dir, "refs.json")
    if os.path.isfile(jpath):
        with open(jpath) as fh:
            return json.load(fh)
    texts = pq.read_table(docs_path, columns=["text"]).column("text").to_pylist()
    refs: dict = {"n_docs": len(texts)}
    toks = [[t.lower() for t in TOKEN_RE.findall(x)] for x in texts]
    refs["n_words"] = sum(len(TOKEN_RE.findall(x)) for x in texts)
    refs["n_tokens"] = sum(len(t) for t in toks)
    for name, pat, _ in PII:
        refs[f"n_{name}"] = sum(len(pat.findall(x)) for x in texts)
    clean_len = 0
    for x in texts:
        for _, pat, repl in PII:
            x = pat.sub(repl, x)
        clean_len += len(x)
    refs["clean_chars"] = clean_len
    tf = Counter(t for ts in toks for t in ts)
    df = Counter(t for ts in toks for t in set(ts))
    vocab = sorted((t for t in tf if df[t] >= min_df), key=lambda t: (-tf[t], t))[:top_k]
    refs["vocab"] = [[i, t, tf[t], df[t]] for i, t in enumerate(vocab)]
    n = len(texts)
    score_sum, rows = 0.0, 0
    for ts in toks:
        c = Counter(ts)
        scores = sorted(
            (round(c[t] * (np.log((n + 1) / (df[t] + 1)) + 1), 6) for t in c), reverse=True
        )[:k_terms]
        score_sum += sum(scores)
        rows += len(scores)
    refs["tfidf_rows"] = rows
    refs["tfidf_score_sum"] = score_sum
    with open(jpath, "w") as fh:
        json.dump(refs, fh)
    return refs


def near_dup_groups(pairs: np.ndarray) -> dict[int, tuple[int, int]]:
    """doc_id -> (group_id, group_size) over the connected components of
    the candidate pairs; group_id is the smallest doc id in the group."""
    g = nx.Graph()
    g.add_edges_from(map(tuple, pairs.tolist()))
    out = {}
    for comp in nx.connected_components(g):
        lo, size = min(comp), len(comp)
        out.update(dict.fromkeys(comp, (lo, size)))
    return out
