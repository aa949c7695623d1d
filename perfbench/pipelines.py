"""The benchmark's workloads: one closed-loop pass each, split into spans.

A pass calls each operator through the library's public API and
materializes its result (``toPandas``, an aggregate ``collect``, or a
parquet write that later operators read). Each call runs inside a span
(``Tracer.span``) that sets a unique Spark job group, so the event log of
a traced run can be attributed to it. Output checks run after the pass,
outside every timed region, against the independent references in
``oracles``.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

import numpy as np
import pyarrow.parquet as pq

import inputs
import oracles

SPANS = {
    "linkgraph": ("induce", "cc", "pagerank", "lpa", "triangles", "louvain"),
    "ann_curation": (
        "similarity.lsh",
        "similarity.ivf",
        "similarity.blocked",
        "dedup.minhash",
        "dedup.near_dup",
        "textstats",
        "curation",
        "webstats",
        "encoding",
    ),
}
ALL_SPANS = tuple(s for spans in SPANS.values() for s in spans)

COUNTERS = (
    "induce.edges_out",
    "cc.rounds",
    "pagerank.supersteps",
    "loop.checkpoint_mb",
    "dedup.pairs_out",
    "dedup.clusters_out",
    "similarity.lsh.results",
)
QUALITY = ("quality.modularity", "quality.lsh_recall_at_10", "quality.ivf_recall_at_10")

# Quality floors, checked like any other output. They vary with the seed,
# so they gate gross regressions only: Louvain's modularity against the
# median of three seeded networkx Louvain runs on the same graph (the
# engine measured 0.94-1.04 of it over seeds 31-40), and the ANN recalls
# against exact top-k (measured 0.54-0.61 LSH, 0.95-0.96 IVF).
MODULARITY_FLOOR = 0.85
RECALL_FLOOR = {"lsh": 0.45, "ivf": 0.85}


class Tracer:
    """Times spans on the driver and tags their Spark jobs."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.pass_no = 0

    @contextmanager
    def span(self, name: str):
        group = f"perfbench:{name}:{self.pass_no}"
        self.sc.setJobGroup(group, name)
        t0_ms, t0 = time.time() * 1000.0, time.perf_counter()
        ok = False
        try:
            yield
            ok = True
        finally:
            wall = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(
                {
                    "name": name,
                    "pass": self.pass_no,
                    "group": group,
                    "t0_ms": int(t0_ms),
                    "t1_ms": int(t0_ms + wall * 1000.0),
                    "wall_s": wall,
                    "ok": ok,
                }
            )


def _dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total / 1e6


class Check:
    """Collects per-span output mismatches."""

    def __init__(self):
        self.failures: list[str] = []

    def __call__(self, span: str, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append(f"{span}: {what}")

    def failed_spans(self) -> set[str]:
        return {f.split(":", 1)[0] for f in self.failures}


# -- linkgraph ------------------------------------------------------------------


class Linkgraph:
    """transcripts → co-occurrence edges → CC → PageRank → LPA →
    triangles → Louvain: the paper's core plus the north-star operators."""

    name = "linkgraph"
    shape = inputs.LINKGRAPH
    items = inputs.LINKGRAPH["n_conv"]  # input conversations per pass

    def prepare(self, cache_root: str, seed: int) -> None:
        self.dir = inputs.transcripts(cache_root, seed)
        self.refs = oracles.linkgraph_refs(
            os.path.join(self.dir, "transcripts.parquet"), self.shape, self.dir
        )

    def run_pass(self, spark, tr: Tracer, work: str) -> dict:
        from louvain_spark.operators.cc import connected_components
        from louvain_spark.operators.induce import cooccurrence_edges
        from louvain_spark.operators.louvain import louvain
        from louvain_spark.operators.lpa import label_propagation
        from louvain_spark.operators.pagerank import pagerank
        from louvain_spark.operators.triangles import triangle_count
        from louvain_spark.plans.loop import SuperstepRunner
        from louvain_spark.schema import TRANSCRIPTS

        sh, p = self.shape, tr.pass_no
        base = os.path.join(work, f"linkgraph-{p}")
        ckpt = os.path.join(base, "ckpt")
        out: dict = {"edges_path": os.path.join(base, "edges")}
        t = spark.read.schema(TRANSCRIPTS).parquet(os.path.join(self.dir, "transcripts.parquet"))
        with tr.span("induce"):
            verts, edges = cooccurrence_edges(t, window=sh["window"])
            vpath = os.path.join(base, "vertices")
            edges.write.parquet(out["edges_path"])
            verts.write.parquet(vpath)
            edges = spark.read.parquet(out["edges_path"])
            verts = spark.read.parquet(vpath)
            out["edges_out"] = edges.count()
        ids = verts.select("id")
        with tr.span("cc"):
            runner = SuperstepRunner(
                spark, f"perfbench-cc-{p}", "cc",
                checkpoint_dir=os.path.join(ckpt, "cc"), checkpoint_every=4,
            )
            out["cc"] = connected_components(spark, edges, vertices=ids, runner=runner).toPandas()
            out["cc_rounds"] = runner.superstep + 1
        with tr.span("pagerank"):
            runner = SuperstepRunner(
                spark, f"perfbench-pr-{p}", "pagerank",
                checkpoint_dir=os.path.join(ckpt, "pagerank"), checkpoint_every=4,
            )
            out["pagerank"] = pagerank(
                spark, edges, vertices=ids, max_iter=sh["pr_iter"], tol=0.0,
                steps_per_action=2, runner=runner,
            ).toPandas()
            out["pr_supersteps"] = runner.superstep
        with tr.span("lpa"):
            out["lpa"] = label_propagation(
                spark, edges, vertices=ids, max_iter=sh["lpa_iter"]
            ).toPandas()
        with tr.span("triangles"):
            out["triangles"] = triangle_count(edges)
        with tr.span("louvain"):
            assign, mod = louvain(spark, edges, vertices=ids, mode="auto")
            out["louvain"] = assign.toPandas()
            out["modularity"] = mod
        out["checkpoint_mb"] = _dir_mb(ckpt)
        out["vertices"] = pq.read_table(vpath, columns=["id", "name"]).to_pandas()
        return out

    def check(self, out: dict, chk: Check) -> None:
        refs, n = self.refs, self.refs["n_vertices"]
        e = pq.read_table(out["edges_path"], columns=["src", "dst", "weight"]).to_pandas()
        got = e.sort_values(["src", "dst"]).to_numpy()
        chk("induce", out["edges_out"] == refs["n_edges"], f"{out['edges_out']} edges, want {refs['n_edges']}")
        chk("induce", got.shape == refs["edges"].shape and np.array_equal(got, refs["edges"]), "edge table differs")
        v = out["vertices"].sort_values("id")
        chk("induce", len(v) == n and np.array_equal(v.id.to_numpy(), np.arange(n)), "vertex ids")

        def by_id(df, col):
            df = df.sort_values("id")
            if len(df) != n or not np.array_equal(df.id.to_numpy(), np.arange(n)):
                return None
            return df[col].to_numpy()

        comp = by_id(out["cc"], "component")
        chk("cc", comp is not None and np.array_equal(comp, refs["component"]), "components")
        pr = by_id(out["pagerank"], "score")
        chk(
            "pagerank",
            pr is not None and np.allclose(pr, refs["pagerank"], rtol=1e-6, atol=1e-12),
            "scores",
        )
        lab = by_id(out["lpa"], "community")
        chk("lpa", lab is not None and np.array_equal(lab, refs["lpa"]), "labels")
        chk("triangles", out["triangles"] == refs["triangles"], f"{out['triangles']} != {refs['triangles']}")
        com = by_id(out["louvain"], "community")
        ok = com is not None and set(np.unique(com)) == set(range(len(np.unique(com))))
        chk("louvain", ok, "communities are not labeled 0..k-1 over all vertices")
        if ok:
            q = oracles.modularity(n, refs["edges"], com)
            chk("louvain", abs(q - out["modularity"]) <= 1e-6, f"modularity {out['modularity']} vs {q}")
        floor = MODULARITY_FLOOR * refs["nx_louvain_modularity"]
        chk("louvain", out["modularity"] >= floor, f"modularity {out['modularity']:.5f} < {floor:.5f}")

    def quality(self, out: dict) -> dict:
        return {"quality.modularity": out["modularity"]}

    def counters(self, out: dict) -> dict:
        return {
            "induce.edges_out": out["edges_out"],
            "cc.rounds": out["cc_rounds"],
            "pagerank.supersteps": out["pr_supersteps"],
            "loop.checkpoint_mb": out["checkpoint_mb"],
        }


# -- ann + curation ---------------------------------------------------------------


class AnnCuration:
    """Arrow-cell ANN top-k (LSH, IVF, exact blocked) followed by the
    curation chain: MinHash pairs → near-dup clusters (CC on a sparse
    forest) → repetition + PII → vocabulary + TF-IDF → encode + bigram LM."""

    name = "ann_curation"
    items = inputs.ANN["n_vec"] + inputs.CURATION["n_docs"]  # queries + documents

    def prepare(self, cache_root: str, seed: int) -> None:
        self.ann_dir = inputs.ann(cache_root, seed)
        self.doc_dir = inputs.docs(cache_root, seed)
        k = inputs.ANN["k"]
        ref = os.path.join(self.ann_dir, "refs.npz")
        if not os.path.isfile(ref):
            _, v = inputs.read_vectors(os.path.join(self.ann_dir, "vectors.parquet"))
            _, e = inputs.read_vectors(os.path.join(self.ann_dir, "embeddings.parquet"))
            vi, vs = oracles.exact_topk(v, k)
            ei, es = oracles.exact_topk(e, k)
            np.savez(ref, vec_ids=vi, vec_sims=vs, emb_ids=ei, emb_sims=es)
        self.ann_refs = np.load(ref)
        self.text_refs = oracles.curation_refs(
            os.path.join(self.doc_dir, "docs.parquet"), 5000, 2, 3, self.doc_dir
        )

    def run_pass(self, spark, tr: Tracer, work: str) -> dict:
        from pyspark.sql import functions as F

        from louvain_spark.operators.curation import pii_scrub
        from louvain_spark.operators.dedup import minhash_lsh_pairs, near_dup_clusters
        from louvain_spark.operators.encoding import bigram_lm_scores, encode_documents
        from louvain_spark.operators.similarity import (
            cosine_topk_blocked,
            cosine_topk_ivf,
            cosine_topk_lsh,
        )
        from louvain_spark.operators.textstats import repetition_scores
        from louvain_spark.operators.webstats import build_vocab, tfidf_top_terms

        a, k = inputs.ANN, inputs.ANN["k"]
        out: dict = {}
        vecs = spark.read.parquet(os.path.join(self.ann_dir, "vectors.parquet"))
        emb = spark.read.parquet(os.path.join(self.ann_dir, "embeddings.parquet"))
        docs = spark.read.parquet(os.path.join(self.doc_dir, "docs.parquet"))
        cols = ["query_id", "item_id", "sim"]
        with tr.span("similarity.lsh"):
            out["lsh"] = cosine_topk_lsh(
                spark, vecs, vecs, k=k, dim=a["dim"], n_planes=10, n_tables=4, max_bucket=128
            ).select(*cols).toPandas()
        with tr.span("similarity.ivf"):
            out["ivf"] = cosine_topk_ivf(
                spark, vecs, vecs, k=k, dim=a["dim"], n_lists=64, n_probe=8
            ).select(*cols).toPandas()
        with tr.span("similarity.blocked"):
            out["blocked"] = cosine_topk_blocked(spark, emb, emb, k=k).select(*cols).toPandas()
        with tr.span("dedup.minhash"):
            ppath = os.path.join(work, f"pairs-{tr.pass_no}")
            minhash_lsh_pairs(docs, num_hashes=16, bands=4, n=3).write.parquet(ppath)
            pairs = spark.read.parquet(ppath)
            out["pairs_out"] = pairs.count()
        with tr.span("dedup.near_dup"):
            out["near_dup"] = near_dup_clusters(spark, pairs).toPandas()
        with tr.span("textstats"):
            out["rep"] = repetition_scores(docs).agg(
                F.count(F.lit(1)), F.sum("n_words"), F.sum("dup_5gram_frac"),
                F.sum("top_bigram_char_frac"), F.sum("dup_line_char_frac"),
            ).collect()[0]
        with tr.span("curation"):
            out["pii"] = pii_scrub(docs).agg(
                F.count(F.lit(1)), F.sum("n_email"), F.sum("n_ipv4"), F.sum("n_phone"),
                F.sum(F.length("clean_text")),
            ).collect()[0]
        with tr.span("webstats"):
            vocab = build_vocab(docs, top_k=5000, min_df=2)
            out["vocab"] = vocab.toPandas()
            out["tfidf"] = tfidf_top_terms(docs, k=3).agg(
                F.count(F.lit(1)), F.sum("score")
            ).collect()[0]
        with tr.span("encoding"):
            out["enc"] = encode_documents(docs, vocab).agg(
                F.count(F.lit(1)), F.sum("n_tokens"), F.sum(F.size("token_ids"))
            ).collect()[0]
            out["lm"] = bigram_lm_scores(docs).agg(
                F.count(F.lit(1)), F.sum("sum_nll_u"), F.sum("score")
            ).collect()[0]
        out["pairs"] = pq.read_table(ppath, columns=["src", "dst"]).to_pandas().to_numpy()
        return out

    def _check_topk(self, span: str, df, vecs: np.ndarray, k: int, chk: Check) -> None:
        chk(span, not (df.query_id == df.item_id).any(), "returned a query as its own neighbour")
        chk(span, df.groupby("query_id").size().max() <= k, f"more than {k} results for a query")
        dots = np.einsum("ij,ij->i", vecs[df.query_id.to_numpy()], vecs[df.item_id.to_numpy()])
        chk(span, np.allclose(df.sim.to_numpy(), dots, atol=1e-5), "sim is not the cosine")

    def check(self, out: dict, chk: Check) -> None:
        k, r, t = inputs.ANN["k"], self.ann_refs, self.text_refs
        _, v = inputs.read_vectors(os.path.join(self.ann_dir, "vectors.parquet"))
        _, e = inputs.read_vectors(os.path.join(self.ann_dir, "embeddings.parquet"))
        v, e = v.astype(np.float64), e.astype(np.float64)
        for span, key in (("similarity.lsh", "lsh"), ("similarity.ivf", "ivf")):
            self._check_topk(span, out[key], v, k, chk)
            found = {q: set(g.item_id.tolist()) for q, g in out[key].groupby("query_id")}
            out[f"{key}_recall"] = oracles.recall_at_k(found, r["vec_ids"])
            floor = RECALL_FLOOR[key]
            chk(span, out[f"{key}_recall"] >= floor, f"recall@{k} {out[f'{key}_recall']:.3f} < {floor}")
        b = out["blocked"].sort_values(["query_id", "sim"], ascending=[True, False])
        self._check_topk("similarity.blocked", b, e, k, chk)
        sims = b.sim.to_numpy()
        chk(
            "similarity.blocked",
            len(b) == e.shape[0] * k and np.allclose(sims.reshape(-1, k), r["emb_sims"], atol=1e-5),
            "exact top-k differs from numpy",
        )
        pairs = out["pairs"]
        chk("dedup.minhash", len(pairs) == out["pairs_out"] and bool((pairs[:, 0] < pairs[:, 1]).all()), "pairs not canonical")
        chk("dedup.minhash", len(np.unique(pairs, axis=0)) == len(pairs), "duplicate pairs")
        groups = oracles.near_dup_groups(pairs)
        nd = out["near_dup"]
        got = {int(d): (int(g), int(s)) for d, g, s in nd[["doc_id", "group_id", "group_size"]].itertuples(index=False)}
        chk("dedup.near_dup", got == groups, "clusters differ from networkx components of the pairs")
        chk("dedup.near_dup", bool((nd.is_canonical == (nd.doc_id == nd.group_id)).all()), "canonical flag")
        out["clusters_out"] = len(set(g for g, _ in groups.values()))
        rep, pii = out["rep"], out["pii"]
        chk("textstats", rep[0] == t["n_docs"] and rep[1] == t["n_words"], f"rows/words {rep[0]}/{rep[1]}")
        chk(
            "curation",
            list(pii) == [t["n_docs"], t["n_email"], t["n_ipv4"], t["n_phone"], t["clean_chars"]],
            f"pii aggregates {list(pii)}",
        )
        voc = out["vocab"].sort_values("term_id")[["term_id", "term", "tf", "df"]]
        chk("webstats", voc.values.tolist() == t["vocab"], "vocabulary differs")
        tf = out["tfidf"]
        chk(
            "webstats",
            tf[0] == t["tfidf_rows"] and abs(tf[1] - t["tfidf_score_sum"]) <= 1e-6 * tf[0],
            f"tf-idf aggregates {list(tf)}",
        )
        enc, lm = out["enc"], out["lm"]
        chk("encoding", list(enc) == [t["n_docs"], t["n_tokens"], t["n_tokens"]], f"encode aggregates {list(enc)}")
        chk("encoding", lm[0] == t["n_docs"] and np.isfinite(lm[1]) and np.isfinite(lm[2]), f"lm aggregates {list(lm)}")

    def quality(self, out: dict) -> dict:
        return {
            "quality.lsh_recall_at_10": out.get("lsh_recall", 0.0),
            "quality.ivf_recall_at_10": out.get("ivf_recall", 0.0),
        }

    def counters(self, out: dict) -> dict:
        return {
            "dedup.pairs_out": out["pairs_out"],
            "dedup.clusters_out": out["clusters_out"],
            "similarity.lsh.results": len(out["lsh"]),
        }


WORKLOADS = {w.name: w for w in (Linkgraph, AnnCuration)}
