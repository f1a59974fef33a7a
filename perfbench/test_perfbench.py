"""Tests of the benchmark itself. From the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider

``test_smoke`` runs every workload and a traced run on tiny inputs (a few
minutes); the others are pure-Python checks of the event-log folding.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from layers import LADDER, LADDER_PASSES, _ladder  # noqa: E402
from tracing import Span, _union_ms, span_stats  # noqa: E402
from workloads import exact_percentile, frame_diff, settle_ties  # noqa: E402


def test_union_of_job_intervals():
    assert _union_ms([]) == 0
    assert _union_ms([(0, 10), (5, 15), (20, 25)]) == 20
    assert _union_ms([(0, 10), (2, 3)]) == 10


def _write_log(path, events):
    with open(path, "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")


def _task(stage, launch, finish, cpu_ns=0, shuffle_read=0, shuffle_write=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns, "JVM GC Time": 0, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle_read},
            "Output Metrics": {"Bytes Written": 0},
        },
    }


def test_span_stats_attributes_jobs_stages_and_skew(tmp_path):
    events = [
        # job 0: tagged with span "a"; stage 0 maps, stage 1 reads a shuffle
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "a"}},
        _task(0, 1000, 1100, cpu_ns=2e9, shuffle_write=3e6),
        _task(1, 1100, 1110, shuffle_read=1),
        _task(1, 1100, 1110, shuffle_read=1),
        _task(1, 1100, 1150, shuffle_read=1),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1200},
        # job 1: untagged (a pipeline thread), submitted inside span "b";
        # it lists stage 1 again as skipped
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2100,
         "Stage IDs": [1, 2], "Properties": {}},
        _task(2, 2100, 2200),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2300},
    ]
    log = tmp_path / "log"
    log.mkdir()
    _write_log(log / "app", events)
    spans = {"a": Span("a", 900, 1500), "b": Span("b", 2000, 2500)}
    st = span_stats(str(log), spans)
    assert st["a"]["jobs"] == 1 and st["a"]["stages"] == 2
    assert st["a"]["task_cpu_s"] == pytest.approx(2.0)
    assert st["a"]["shuffle_write_mb"] == pytest.approx(3.0)
    assert st["a"]["task_skew"] == pytest.approx(50 / 10)
    assert st["a"]["driver_idle_s"] == pytest.approx(0.4)
    assert st["b"]["jobs"] == 1 and st["b"]["stages"] == 1
    assert st["b"]["task_skew"] == 1.0
    assert st["b"]["driver_idle_s"] == pytest.approx(0.3)


def test_ladder_self_time_is_a_within_pass_difference():
    # cumulative prefix times of three passes; pass 1 is slow throughout
    prefix = [[1.0, 1.5, 3.0, 4.0, 5.0, 7.0],
              [9.0, 9.5, 12.0, 14.0, 15.0, 17.0],
              [1.0, 1.2, 2.6, 3.2, 4.5, 6.0]]
    names = LADDER + ["lake.write_routed"]
    assert LADDER_PASSES == len(prefix)
    st = {f"{n}#{i}": {"s": t, "mb": 2 * t} for i, ts in enumerate(prefix) for n, t in zip(names, ts)}
    info = {}
    out = _ladder(st, info)
    assert st == {}
    # dedup: differences 0.5, 0.5, 0.2 in their own pass; not min(1.5, 9.5, 1.2) - min(1.0, 9.0, 1.0)
    assert out["dedup.add_ingest_ordinal"]["self_s"] == pytest.approx(0.5)
    assert out["lake.write_routed"]["self_s"] == pytest.approx(2.0)
    assert out["lake.scan"]["mb"] == pytest.approx(2.0)
    assert info["ladder_self_s_by_pass"]["skew.salted_parse_sync"] == [1.5, 2.5, 1.4]


def test_exact_percentile_interpolates_like_numpy():
    import numpy as np
    from fractions import Fraction

    xs = [7, 1, 4, 10, 3, 8]
    for q in (50, 95, 99):
        assert float(exact_percentile(xs, Fraction(q, 100))) == pytest.approx(np.percentile(xs, q))
    assert exact_percentile([1, 2], Fraction(1, 2)) == Fraction(3, 2)


def test_rounding_tie_accepts_either_rounding_and_nothing_else():
    import pandas as pd

    cols = ["role", "p50_latency_sec", "p95_latency_sec", "p99_latency_sec"]
    got = pd.DataFrame([["a", 0.98805, 1.0, 2.0], ["b", 1.030231, 1.0, 2.0],
                        ["c", 0.500003, 1.0, 2.0]], columns=cols)
    want = pd.DataFrame([["a", 0.988051, 1.0, 2.0], ["b", 1.030232, 1.0, 2.0],
                         ["c", 0.500001, 1.0, 2.0]], columns=cols)
    exact = pd.DataFrame([
        ["agg_role_latency", "a", "p50_latency_sec", "1976101/2000000"],  # 0.9880505: a tie
        ["agg_role_latency", "b", "p50_latency_sec", "128779/125000"],    # 1.030232: no tie
        ["agg_role_latency", "c", "p50_latency_sec", "1000001/2000000"],  # 0.5000005: a tie
    ], columns=["table", "key", "column", "exact"])
    notes = settle_ties("agg_role_latency", got, want, exact)
    assert len(notes) == 1 and notes[0].startswith("agg_role_latency.p50_latency_sec[a]")
    assert want.loc[0, "p50_latency_sec"] == 0.98805
    # b is no tie and c's value is neither rounding of its tie: both still differ
    assert frame_diff(got.iloc[1:], want.iloc[1:], ["role"]) is not None
    assert frame_diff(got.iloc[2:], want.iloc[2:], ["role"]) is not None


def test_smoke():
    """Every workload and a traced run: correct, and exactly the metric
    names BENCHMARK.json lists."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=1500,
    )
    assert out.returncode == 0, out.stdout + out.stderr[-4000:]


def test_refuses_to_run_without_the_package(tmp_path):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "batch_bulk",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0 and out.stdout == ""
