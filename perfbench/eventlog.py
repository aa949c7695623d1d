"""Attribute a Spark event log to the benchmark's spans.

A span is one call into a module's public operator plus the action that
materializes its result. The driver sets a unique Spark job group for the
span (``spark.jobGroup.id``), and Spark copies that local property onto
every job and stage the span submits, including AQE query stages and
broadcast builds. This module reads the uncompressed JSON-lines event log
and sums, per span:

- ``tasks``            finished tasks;
- ``task_deser_s``     executor deserialize time;
- ``jvm_cpu_s``        executor CPU time (JVM threads only);
- ``non_jvm_s``        executor run time minus JVM CPU time: time a task
                       spent off the JVM's CPU, which in the Arrow/pandas
                       cells is mostly the Python worker;
- ``shuffle_write_mb`` shuffle bytes written (MB = 1e6 bytes);
- ``driver_gap_s``     span wall time during which none of its jobs ran.

Only the event types named in ``_WANTED`` are decoded; SQL plan events,
which are most of the log's bytes, are skipped by a prefix test.
"""

from __future__ import annotations

import json
import os

SPAN_METRICS = (
    "wall_s",
    "tasks",
    "task_deser_s",
    "jvm_cpu_s",
    "non_jvm_s",
    "shuffle_write_mb",
    "driver_gap_s",
)

_WANTED = (
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageSubmitted",
    "SparkListenerTaskEnd",
)
_PREFIXES = tuple(f'{{"Event":"{e}"'.encode() for e in _WANTED)

GROUP_PROP = "spark.jobGroup.id"


def find_log(log_dir: str) -> list[str]:
    """The event files of the single application logged under ``log_dir``,
    in write order. Spark 4 writes a directory of rolled ``events_<n>_*``
    files (``eventlog_v2_*``) unless rolling is off, then one plain file."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    path = os.path.join(log_dir, names[0])
    if not os.path.isdir(path):
        return [path]
    parts = [n for n in os.listdir(path) if n.startswith("events_")]
    return [os.path.join(path, n) for n in sorted(parts, key=lambda n: int(n.split("_")[1]))]


def _union_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def _lines(paths: list[str]):
    for path in paths:
        with open(path, "rb") as fh:
            yield from fh


def read_groups(paths: list[str]) -> tuple[dict, dict]:
    """Per job group: task sums, and the list of (start_ms, end_ms) jobs."""
    stage_group: dict[int, str | None] = {}
    job_group: dict[int, str | None] = {}
    job_start: dict[int, int] = {}
    jobs: dict[str, list[tuple[int, int]]] = {}
    sums: dict[str, dict[str, float]] = {}
    for line in _lines(paths):
        if not line.startswith(_PREFIXES):
            continue
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if group is None or not m:
                continue
            s = sums.setdefault(
                group,
                {"tasks": 0, "deser_ms": 0, "run_ms": 0, "cpu_ns": 0, "shuffle_b": 0},
            )
            s["tasks"] += 1
            s["deser_ms"] += m.get("Executor Deserialize Time", 0)
            s["run_ms"] += m.get("Executor Run Time", 0)
            s["cpu_ns"] += m.get("Executor CPU Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            s["shuffle_b"] += sw.get("Shuffle Bytes Written", 0)
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            stage_group[ev["Stage Info"]["Stage ID"]] = props.get(GROUP_PROP)
        elif kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_PROP)
            job_group[ev["Job ID"]] = group
            job_start[ev["Job ID"]] = ev["Submission Time"]
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        else:  # SparkListenerJobEnd
            jid = ev["Job ID"]
            group = job_group.get(jid)
            if group is not None:
                jobs.setdefault(group, []).append(
                    (job_start[jid], ev["Completion Time"])
                )
    return sums, jobs


def span_table(paths: list[str], spans: list[dict]) -> list[dict]:
    """One row per span: its name, pass and the SPAN_METRICS.

    ``spans`` holds dicts with ``name``, ``pass``, ``group`` and the
    driver-side ``t0_ms``/``t1_ms`` wall-clock bounds of the span.
    """
    sums, jobs = read_groups(paths)
    rows = []
    for sp in spans:
        s = sums.get(sp["group"], {})
        lo, hi = sp["t0_ms"], sp["t1_ms"]
        busy = _union_ms(jobs.get(sp["group"], []), lo, hi)
        cpu_s = s.get("cpu_ns", 0) / 1e9
        rows.append(
            {
                "name": sp["name"],
                "pass": sp["pass"],
                "wall_s": (hi - lo) / 1000.0,
                "tasks": s.get("tasks", 0),
                "task_deser_s": s.get("deser_ms", 0) / 1000.0,
                "jvm_cpu_s": cpu_s,
                "non_jvm_s": max(0.0, s.get("run_ms", 0) / 1000.0 - cpu_s),
                "shuffle_write_mb": s.get("shuffle_b", 0) / 1e6,
                "driver_gap_s": max(0, hi - lo - busy) / 1000.0,
            }
        )
    return rows
