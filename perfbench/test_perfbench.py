"""The benchmark's own tests. They start no Spark session:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import inputs, report
from perfbench.answers import same_topk
from perfbench.trace import (
    GroupStats,
    Span,
    _covered,
    leaf_seconds,
    self_time,
    span_layers,
)
from perfbench.worker import _compact_steps

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = inputs.make_inputs(5, str(tmp_path / "a"))
    b = inputs.make_inputs(5, str(tmp_path / "b"))
    c = inputs.make_inputs(6, str(tmp_path / "c"))
    assert inputs.digest(a) == inputs.digest(b)
    assert inputs.digest(a) != inputs.digest(c)
    # whole conversations, just past the turn targets
    assert 0 <= a.base_turns - inputs.BASE_TURNS < 40
    assert 0 <= a.delta_turns - inputs.DELTA_TURNS < 40


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in _bench()["workloads"]] == list(report.WORKLOADS)


def _fake_record(trace: bool) -> dict:
    """A measurement record shaped like worker.run's, with made-up values."""
    build = {
        "stages": {s: {"wall_sec": 1.0} for s in
                   ("vocab", "docs", "doc_map", "tf", "stats")}
        | {"postings/group=0": {"wall_sec": 2.0, "segments": 7}},
        "total": {"bytes": 2_000_000, "postings_written": 100,
                  "skew_ratio": 3.0},
    }
    rec = {
        "trace": trace, "workload": "ingest", "attempted": 12, "failed": 0,
        "errors": [], "setup_s": 30.0, "build_s": 20.0, "base_turns": 4000,
        "phase_s": 10.0, "phase_timed_s": 10.0,
        "phase_steps_s": [5.5, 1.5, 3.0], "candidates_per_query": 120.0,
        "batch_queries": 64, "index_mb": 0.4, "recall_at_10": 0.6,
        "peak_rss_mb": 1500.0, "build_report": build,
    }
    if trace:
        one = {f: 1.0 for f in (*report.SPAN_FIELDS, "self_s")}
        rec["layers"] = {s: [one] for s in
                         (*report.SPARK_SPANS, *report.SMALL_SPANS)}
        rec["span_s"] = 40.0
    return rec


@pytest.mark.parametrize("trace,section", [(False, "end_to_end"),
                                           (True, "per_layer")])
def test_emitted_metrics_equal_benchmark_json(trace, section):
    res = report.result(_fake_record(trace))
    declared = {m["name"]: m["unit"] for m in _bench()[section]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == declared
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    json.dumps(res)


def test_end_to_end_values():
    m = report.end_to_end(_fake_record(False))
    assert m["build_turns_per_s"] == pytest.approx(200.0)
    assert m["phase_s"] == 10.0


def test_compact_steps_split_the_compact_wall():
    rep = {"stages": {"docs": {"wall_sec": 0.0}, "stats": {"wall_sec": 1.5},
                      "postings/group=0": {"wall_sec": 2.0},
                      "postings/group=1": {"wall_sec": 1.0}}}
    assert _compact_steps(rep, 10.0) == pytest.approx([5.5, 1.5, 3.0])
    # a failed compact() returns no report: all of its wall is unattributed
    assert _compact_steps(None, 2.0) == [2.0, 0.0, 0.0]
    m = report.per_layer(_fake_record(True))
    assert [m[k] for k in report.PHASE_STEPS] == [5.5, 1.5, 3.0]


def test_covered_merges_overlaps_and_clips():
    assert _covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert _covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    assert _covered([], 0, 1) == 0


def test_self_time_subtracts_children():
    spans = [Span("a", "root", 0.0, 10.0), Span("b", "x", 1.0, 4.0, "a"),
             Span("c", "y", 3.0, 6.0, "a")]
    assert self_time(spans) == {"a": 5.0, "b": 3.0, "c": 3.0}
    assert leaf_seconds(spans) == 6.0


def test_span_layers_driver_gap_and_busy_frac():
    g = GroupStats(jobs=2, tasks=4, task_s=8.0,
                   stage_intervals=[(1.0, 3.0), (2.0, 4.0)])
    out = span_layers([Span("s0", "index.build", 0.0, 5.0)], {"s0": g},
                      cores=4)
    rec = out["index.build"][0]
    assert rec["driver_gap_s"] == pytest.approx(2.0)
    assert rec["busy_frac"] == pytest.approx(8.0 / 20.0)
    assert rec["jobs"] == 2


def test_span_layers_cover_the_subtree():
    spans = [Span("p", "phase", 0.0, 10.0),
             Span("a", "query.wand_topk", 1.0, 4.0, "p", udf_py_s=0.5),
             Span("b", "query.doc_norms", 5.0, 6.0, "p", udf_py_s=0.25)]
    groups = {"a": GroupStats(jobs=2, task_s=6.0,
                              stage_intervals=[(1.0, 3.0)]),
              "b": GroupStats(jobs=1, task_s=2.0,
                              stage_intervals=[(5.0, 6.0)])}
    rec = span_layers(spans, groups, cores=4)["phase"][0]
    assert rec["jobs"] == 3 and rec["task_s"] == 8.0
    assert rec["driver_gap_s"] == pytest.approx(7.0)
    assert rec["udf_py_s"] == pytest.approx(0.75)
    assert rec["self_s"] == pytest.approx(6.0)


def test_run_without_the_engine_fails_without_a_result(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch", "--seed",
         "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout == ""


def test_same_topk_tie_groups():
    want = [("a", 3.0), ("b", 2.0), ("c", 2.0), ("d", 1.0), ("e", 1.0)]
    assert same_topk([("a", 3.0), ("b", 2.0), ("c", 2.0)], want, 3)
    # a tie swapped by a last-ulp difference is the same answer
    assert same_topk([("a", 3.0), ("c", 2.0 + 4e-16), ("b", 2.0)], want, 3)
    # a tie group cut by k may hold any of its members
    assert same_topk([("a", 3.0), ("b", 2.0), ("c", 2.0), ("e", 1.0)], want, 4)
    assert not same_topk([("a", 3.0), ("b", 2.0), ("d", 2.0)], want, 3)
    assert not same_topk([("a", 3.0), ("b", 2.0), ("c", 2.1)], want, 3)
    assert not same_topk([("a", 3.0), ("b", 2.0)], want, 3)
    assert not same_topk([("a", 3.0), ("b", 2.0), ("b", 2.0)], want, 3)
    assert same_topk([], [], 10)
