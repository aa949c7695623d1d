"""Pins the event-log attribution used by ``run.py --trace 1``.

    python3 -m pytest perfbench/tests -q

The first test feeds the parser a hand-written log; the second runs two
tiny spans through a real local Spark session with the event log on and
checks that the parsed table accounts for them.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import eventlog  # noqa: E402


def _task(stage, deser, run, cpu_ns, shuffle):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Deserialize Time": deser,
            "Executor Run Time": run,
            "Executor CPU Time": cpu_ns,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def test_span_table_on_a_synthetic_log(tmp_path):
    g = {"spark.jobGroup.id": "perfbench:a:0"}
    events = [
        {"Event": "SparkListenerApplicationStart", "Timestamp": 0},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_100,
         "Stage IDs": [0, 1], "Properties": g},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}, "Properties": g},
        _task(0, 10, 500, 200_000_000, 1_000_000),
        _task(0, 30, 700, 100_000_000, 2_000_000),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_600},
        # a job outside every span: ignored
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1_700,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2}, "Properties": {}},
        _task(2, 99, 99, 99, 99),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_800},
        # two overlapping jobs of the same span count once toward busy time
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1_200,
         "Stage IDs": [3], "Properties": g},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1_500},
    ]
    log = tmp_path / "app"
    log.write_text("".join(json.dumps(e, separators=(",", ":")) + "\n" for e in events))
    spans = [{"name": "a", "pass": 0, "group": "perfbench:a:0", "t0_ms": 1_000, "t1_ms": 2_000},
             {"name": "b", "pass": 0, "group": "perfbench:b:0", "t0_ms": 2_000, "t1_ms": 2_500}]
    a, b = eventlog.span_table(eventlog.find_log(str(tmp_path)), spans)
    assert a["tasks"] == 2
    assert a["wall_s"] == pytest.approx(1.0)
    assert a["task_deser_s"] == pytest.approx(0.04)
    assert a["jvm_cpu_s"] == pytest.approx(0.3)
    assert a["non_jvm_s"] == pytest.approx(1.2 - 0.3)
    assert a["shuffle_write_mb"] == pytest.approx(3.0)
    assert a["driver_gap_s"] == pytest.approx(0.5)  # busy 1.1s..1.6s of 1.0s..2.0s
    assert b["tasks"] == 0 and b["driver_gap_s"] == pytest.approx(0.5)


def test_rolled_log_directory_is_read_in_order(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for i in (10, 2, 1):
        (d / f"events_{i}_local-1").write_text("")
    (d / "appstatus_local-1").write_text("")
    names = [os.path.basename(p) for p in eventlog.find_log(str(tmp_path))]
    assert names == ["events_1_local-1", "events_2_local-1", "events_10_local-1"]


@pytest.fixture(scope="module")
def traced_spark(tmp_path_factory):
    pyspark = pytest.importorskip("pyspark")  # noqa: F841
    sys.path.insert(0, ROOT)
    from louvain_spark import get_spark

    base = tmp_path_factory.mktemp("perfbench-trace")
    log_dir = base / "eventlog"
    log_dir.mkdir()
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    spark = get_spark(
        "perfbench-eventlog-test",
        master="local[2]",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + str(log_dir),
            "spark.eventLog.compress": "false",
            "spark.local.dir": str(base / "local"),
        },
    )
    yield spark, str(log_dir)
    spark.stop()


def test_tiny_traced_run_is_attributed_to_its_spans(traced_spark):
    import pipelines
    from louvain_spark.operators.cc import connected_components
    from louvain_spark.operators.induce import cooccurrence_edges
    from louvain_spark.synth import transcripts_df

    spark, log_dir = traced_spark
    tr = pipelines.Tracer(spark)
    t = transcripts_df(spark, preset="tiny")
    with tr.span("induce"):
        verts, edges = cooccurrence_edges(t, window=3)
        edges = edges.localCheckpoint()
        n_edges = edges.count()
    spark.range(10).count()  # outside every span
    with tr.span("cc"):
        comps = connected_components(spark, edges, vertices=verts.select("id")).collect()
    assert n_edges > 0 and comps
    spark.sparkContext.setJobGroup("perfbench:end:0", "end")
    spark.stop()  # flushes and closes the log

    rows = {r["name"]: r for r in eventlog.span_table(eventlog.find_log(log_dir), tr.spans)}
    assert set(rows) == {"induce", "cc"}
    sums, _ = eventlog.read_groups(eventlog.find_log(log_dir))
    total_tasks = sum(s["tasks"] for s in sums.values())
    for name, r in rows.items():
        assert r["tasks"] > 0, name
        assert r["jvm_cpu_s"] > 0, name
        assert r["non_jvm_s"] >= 0 and r["task_deser_s"] >= 0
        assert 0 <= r["driver_gap_s"] <= r["wall_s"], name
    # every task run inside a span is attributed to exactly one span
    assert rows["induce"]["tasks"] + rows["cc"]["tasks"] == total_tasks
    assert rows["induce"]["shuffle_write_mb"] > 0
