"""Check the engine's contract constants at the bench shape, seed 42.

    python3 perfbench/contract.py

The timed workloads in ``run.py`` are scaled down to fit a per-run time
budget; this script runs the full bench-shape graph pipeline once and
checks the published constants of that shape:

- 599,917 transcript turns and 215,815 co-occurrence edges (window 8);
- 3 connected-components rounds;
- 941,203 triangles;
- Louvain (``mode="auto"``) modularity 0.058187, which also has to match
  the networkx modularity of the returned partition within 1e-6.

It uses the session settings the bench record uses (64 shuffle
partitions and default parallelism, 8 MB file splits), because the
Louvain block layout derives from the default parallelism. Prints one
JSON line and exits 0 if every constant holds. Takes a few minutes on 4
cores.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as bench  # noqa: E402

EXPECT = {
    "turns": 599_917,
    "edges": 215_815,
    "cc_rounds": 3,
    "triangles": 941_203,
    "modularity": 0.058187,
}


def main() -> int:
    sys.path.insert(0, bench.ROOT)
    run_dir = os.path.join(bench.WORK_ROOT, f"contract-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        bench._isolate(run_dir)
        got = _measure(run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    fails = [
        k for k, v in EXPECT.items()
        if (round(got[k], 6) != v if k == "modularity" else got[k] != v)
    ]
    if abs(got["modularity"] - got["modularity_oracle"]) > 1e-6:
        fails.append("modularity_oracle")
    print(json.dumps({"ok": not fails, "failed": fails, "expected": EXPECT, "got": got}))
    return 0 if not fails else 1


def _measure(run_dir: str) -> dict:
    import oracles
    import pyarrow.parquet as pq

    from louvain_spark import get_spark
    from louvain_spark.operators.cc import connected_components
    from louvain_spark.operators.induce import cooccurrence_edges
    from louvain_spark.operators.louvain import louvain
    from louvain_spark.operators.triangles import triangle_count
    from louvain_spark.plans.loop import SuperstepRunner
    from louvain_spark.synth import transcripts_df

    conf = bench._spark_conf(run_dir, trace=False)
    conf.update(
        {
            "spark.sql.shuffle.partitions": "64",
            "spark.default.parallelism": "64",
            "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
        }
    )
    spark = get_spark("perfbench-contract", master="local[4]", extra_conf=conf)
    got: dict = {}
    t0 = time.perf_counter()
    try:
        tpath = os.path.join(run_dir, "transcripts")
        transcripts_df(spark, preset="bench", seed=42).repartition(64).write.parquet(tpath)
        t = spark.read.parquet(tpath)
        got["turns"] = t.count()
        verts, edges = cooccurrence_edges(t, window=8)
        epath, vpath = os.path.join(run_dir, "edges"), os.path.join(run_dir, "vertices")
        edges.write.parquet(epath)
        verts.write.parquet(vpath)
        edges, verts = spark.read.parquet(epath), spark.read.parquet(vpath)
        got["edges"] = edges.count()
        ids = verts.select("id").persist()
        runner = SuperstepRunner(
            spark, "contract-cc", "cc",
            checkpoint_dir=os.path.join(run_dir, "ckpt-cc"), checkpoint_every=4,
        )
        connected_components(spark, edges, vertices=ids, runner=runner).count()
        got["cc_rounds"] = runner.superstep + 1
        got["triangles"] = triangle_count(edges)
        assign, mod = louvain(spark, edges, vertices=ids, mode="auto")
        com = assign.toPandas().sort_values("id")
        got["modularity"] = mod
    finally:
        bench._stop(spark)
    got["spark_s"] = time.perf_counter() - t0
    e = pq.read_table(epath, columns=["src", "dst", "weight"]).to_pandas().to_numpy()
    n = int(max(e[:, 0].max(), e[:, 1].max(), com.id.max())) + 1
    labels = [0] * n
    for i, c in zip(com.id.tolist(), com.community.tolist()):
        labels[i] = c
    got["modularity_oracle"] = oracles.modularity(n, e, labels)
    return got


if __name__ == "__main__":
    sys.exit(main())
