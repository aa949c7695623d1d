"""Benchmark of the louvain_spark engine on the local host.

    python3 perfbench/run.py --workload linkgraph --seed 42 --seconds 10 --trace 0

Run from the root of a source checkout. One run:

1. makes the workload's inputs from ``--seed`` (cached per seed under
   ``.perfbench/cache``; the time is reported as ``gen_s``);
2. builds the Spark session with ``get_spark`` at ``local[<nproc>]`` and
   times it as ``setup_s`` (JVM launch plus the library's warm-up);
3. runs closed-loop passes of the workload, each call waiting for the
   previous one, until ``--seconds`` have passed (at least one pass);
4. checks every pass's outputs against independent references, outside
   the timed regions;
5. prints one JSON object as the last line of stdout and exits 0 if
   every check passed, 1 otherwise.

``--trace 0`` reports the end-to-end metrics (medians over passes).
``--trace 1`` turns on Spark's event log, attributes it to per-module
spans, and reports the per-layer metrics instead. Run context (host,
thread settings, versions, a serial CPU sentinel before and after, the
named quality figures and ``gen_s``) goes to the line before the result.

Every file the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate(run_dir: str) -> None:
    """Point every temp/scratch location of this process, the JVM and the
    Python workers into run_dir, and make the checkout importable by the
    workers."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "spark-local")
    # the short-lived JVM spark-submit runs to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def _spark_conf(run_dir: str, trace: bool) -> dict:
    conf = {
        "spark.local.dir": os.environ["SPARK_GRAFT_LOCAL_DIR"],
        "spark.driver.extraJavaOptions": (
            f'"-Djava.io.tmpdir={os.environ["TMPDIR"]}" -XX:-UsePerfData'
        ),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                # zstd is Spark 4's default codec, and no zstd reader is
                # guaranteed on the Python side
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def _stop(spark) -> None:
    """Stop Spark, then the JVM, then wait for every process below it."""
    import host
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = host.descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    for pid in host.wait_gone(tree, 15):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    host.wait_gone(tree, 5)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def run(args, run_dir: str) -> tuple[dict, dict]:
    import host
    import pipelines

    if args.workload not in pipelines.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(pipelines.WORKLOADS)}")
    wl = pipelines.WORKLOADS[args.workload]()
    import louvain_spark
    from louvain_spark import get_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(louvain_spark.__file__))) != ROOT:
        raise SystemExit(f"louvain_spark imported from outside the checkout: {louvain_spark.__file__}")
    master = f"local[{host.nproc()}]"
    info: dict = {"workload": wl.name, "seed": args.seed, "trace": args.trace}
    info["context"] = host.context(master)
    info["sentinel_pre_ms"] = host.sentinel_ms()

    t0 = time.perf_counter()
    wl.prepare(os.path.join(WORK_ROOT, "cache"), args.seed)
    info["gen_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = get_spark(
        f"perfbench-{wl.name}", master=master, extra_conf=_spark_conf(run_dir, args.trace)
    )
    setup_s = time.perf_counter() - t0

    tr = pipelines.Tracer(spark)
    chk = pipelines.Check()
    walls, outs, attempted = [], [], 0
    start = time.perf_counter()
    jvm_pid = spark.sparkContext._gateway.proc.pid
    try:
        while not outs or time.perf_counter() - start < args.seconds:
            attempted += len(pipelines.SPANS[wl.name])
            t0 = time.perf_counter()
            try:
                out = wl.run_pass(spark, tr, run_dir)
            except Exception as exc:  # an operator raised: the run fails
                ok = {s["name"] for s in tr.spans if s["pass"] == tr.pass_no and s["ok"]}
                for name in pipelines.SPANS[wl.name]:
                    if name not in ok:
                        chk(name, False, f"not completed: {type(exc).__name__}: {exc}")
                break
            walls.append(time.perf_counter() - t0)
            try:
                wl.check(out, chk)
            except Exception as exc:  # malformed output
                chk("check", False, f"{type(exc).__name__}: {exc}")
            outs.append(out)
            tr.pass_no += 1
            gc.collect()
        rss = host.peak_rss_mb(jvm_pid)
        info["peak_rss_mb"] = rss
    finally:
        t0 = time.perf_counter()
        _stop(spark)
        info["stop_s"] = time.perf_counter() - t0
    info["sentinel_post_ms"] = host.sentinel_ms()
    info["passes"] = len(walls)
    info["span_wall_s"] = {s["name"]: s["wall_s"] for s in tr.spans if s["pass"] == 0}
    info["failures"] = chk.failures[:20]

    failed = len(chk.failed_spans())
    wall_s = _median(walls)
    result = {"correct": failed == 0 and bool(outs), "attempted": attempted, "failed": failed}
    if not outs:
        return info, result
    quality = {k: _median([wl.quality(o)[k] for o in outs]) for k in wl.quality(outs[0])}
    info["quality"] = quality
    if not args.trace:
        result["metrics"] = {
            "wall_s": {"value": wall_s, "unit": "s"},
            "items_per_s": {"value": wl.items / wall_s, "unit": "1/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "worker_peak_rss_mb": {"value": rss["workers"], "unit": "MB"},
        }
        return info, result

    import eventlog

    rows = eventlog.span_table(eventlog.find_log(os.path.join(run_dir, "eventlog")), tr.spans)
    metrics = {}
    for name in pipelines.ALL_SPANS:
        mine = [r for r in rows if r["name"] == name]
        for m in eventlog.SPAN_METRICS:
            unit = "count" if m == "tasks" else ("MB" if m.endswith("_mb") else "s")
            metrics[f"{name}.{m}"] = {"value": _median([r[m] for r in mine]), "unit": unit}
    for k in pipelines.COUNTERS:
        v = _median([wl.counters(o)[k] for o in outs if k in wl.counters(o)])
        metrics[k] = {"value": v, "unit": "MB" if k.endswith("_mb") else "count"}
    for k in pipelines.QUALITY:
        metrics[k] = {"value": quality.get(k, 0.0), "unit": "ratio"}
    metrics["trace.wall_s"] = {"value": wall_s, "unit": "s"}
    span_sum = _median(
        [sum(r["wall_s"] for r in rows if r["pass"] == p) for p in range(len(walls))]
    )
    metrics["trace.span_coverage"] = {"value": span_sum / wall_s if wall_s else 0.0, "unit": "ratio"}
    result["metrics"] = metrics
    return info, result


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "louvain_spark", "__init__.py")):
        print(f"perfbench: no louvain_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        _isolate(run_dir)
        info, result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(info, default=str))
    if "metrics" not in result:
        print("perfbench: no pass completed", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
