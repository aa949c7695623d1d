"""Seeded benchmark inputs, generated without Spark and cached per seed.

Every generator is a pure function of (shape, seed): the same seed gives
byte-identical parquet files. Files land in ``<cache>/<workload>-<key>/``
and are reused by later runs with the same seed and shape, so generation
time (reported as ``gen_s``) never reaches ``setup_s`` or ``wall_s``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Shapes. Every operator here is dominated by fixed per-job and per-task
# costs, and each run also pays ~11-25 s of session set-up, so shapes and
# iteration counts are kept small enough that one cold pass per run fits a
# budget of about a minute per run even when the shared host runs 1.8x
# slower than usual (measured on 4 cores).
LINKGRAPH = {"n_conv": 600, "window": 8, "pr_iter": 2, "lpa_iter": 2}
ANN = {"n_vec": 2000, "dim": 64, "n_clusters": 50, "n_blocked": 1000, "k": 10}
CURATION = {"n_docs": 1000, "n_families": 50, "doc_words": 40, "vocab": 4000}

_WORDS_RNG_SEED = 7  # the word list is part of the shape, not the seed


def _cached(cache_root: str, name: str, shape: dict, seed: int, build) -> str:
    """Directory holding the inputs; built once per (shape, seed)."""
    key = hashlib.sha1(json.dumps(shape, sort_keys=True).encode()).hexdigest()[:10]
    d = os.path.join(cache_root, f"{name}-{key}-seed{seed}")
    if os.path.isfile(os.path.join(d, "_DONE")):
        return d
    tmp = d + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp, shape, seed)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d


# -- linkgraph: transcripts -------------------------------------------------


def _build_transcripts(d: str, shape: dict, seed: int) -> None:
    from louvain_spark.synth import transcripts_pandas

    pdf = transcripts_pandas(n_conv=shape["n_conv"], seed=seed)
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    # Spark reads parquet timestamps at microsecond precision
    tbl = tbl.set_column(
        tbl.schema.get_field_index("ts"),
        "ts",
        tbl.column("ts").cast(pa.timestamp("us", tz="UTC")),
    )
    pq.write_table(tbl, os.path.join(d, "transcripts.parquet"))


def transcripts(cache_root: str, seed: int) -> str:
    return _cached(cache_root, "linkgraph", LINKGRAPH, seed, _build_transcripts)


# -- ann: clustered unit vectors + an unclustered embeddings table ----------


def _unit(x: np.ndarray) -> np.ndarray:
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def _write_vectors(path: str, vecs: np.ndarray) -> None:
    n, dim = vecs.shape
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    col = pa.ListArray.from_arrays(pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat)
    pq.write_table(pa.table({"id": pa.array(np.arange(n, dtype=np.int64)), "vec": col}), path)


def _build_ann(d: str, shape: dict, seed: int) -> None:
    rng = np.random.default_rng(seed)
    n, dim, nc = shape["n_vec"], shape["dim"], shape["n_clusters"]
    cent = _unit(rng.standard_normal((nc, dim)))
    member = rng.random(n) < 0.8
    label = rng.integers(0, nc, n)
    tight = cent[label] + 0.04 * rng.standard_normal((n, dim))
    background = rng.standard_normal((n, dim))
    _write_vectors(os.path.join(d, "vectors.parquet"), _unit(np.where(member[:, None], tight, background)))
    _write_vectors(
        os.path.join(d, "embeddings.parquet"),
        _unit(rng.standard_normal((shape["n_blocked"], dim))),
    )


def ann(cache_root: str, seed: int) -> str:
    return _cached(cache_root, "ann", ANN, seed, _build_ann)


def read_vectors(path: str) -> tuple[np.ndarray, np.ndarray]:
    t = pq.read_table(path)
    ids = t.column("id").to_numpy()
    flat = t.column("vec").combine_chunks().flatten().to_numpy()
    return ids, flat.reshape(len(ids), -1)


# -- curation: near-duplicate document families with injected PII ----------


def _build_docs(d: str, shape: dict, seed: int) -> None:
    words = np.array(
        [
            "".join(chr(97 + c) for c in w)
            for w in np.random.default_rng(_WORDS_RNG_SEED).integers(
                0, 26, (shape["vocab"], 7)
            )
        ]
    )
    rng = np.random.default_rng(seed)
    n, nf, nw = shape["n_docs"], shape["n_families"], shape["doc_words"]
    # Zipf-ish word frequencies so the vocabulary has a real head and tail
    p = 1.0 / np.arange(1, len(words) + 1)
    p /= p.sum()
    fam_text = rng.choice(len(words), size=(nf, nw), p=p)
    in_family = rng.random(n) < 0.8
    family = rng.integers(0, nf, n)
    own = rng.choice(len(words), size=(n, nw), p=p)
    toks = np.where(in_family[:, None], fam_text[family], own)
    # family members differ from their family text in two random slots
    flip = rng.integers(0, nw, (n, 2))
    toks[np.arange(n)[:, None], flip] = rng.choice(len(words), size=(n, 2), p=p)
    pii = rng.random((n, 3))
    texts = []
    for i in range(n):
        parts = list(words[toks[i]])
        parts.append(f"doc{i}")
        if pii[i, 0] < 0.1:
            parts.insert(5, f"user{i}@example.org")
        if pii[i, 1] < 0.05:
            parts.insert(9, f"10.{i % 250}.{(i * 7) % 250}.{(i * 13) % 250}")
        if pii[i, 2] < 0.05:
            parts.insert(13, f"555-{100 + i % 900}-{1000 + (i * 37) % 9000}")
        texts.append(" ".join(parts))
    pq.write_table(
        pa.table({"doc_id": pa.array(np.arange(n, dtype=np.int64)), "text": texts}),
        os.path.join(d, "docs.parquet"),
    )


def docs(cache_root: str, seed: int) -> str:
    return _cached(cache_root, "curation", CURATION, seed, _build_docs)
