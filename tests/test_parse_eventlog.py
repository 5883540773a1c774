"""tools/parse_eventlog.py over a single event-log file and over a rolling
event-log directory (events_<n>_<app> files, read in index order)."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

_TOOL = os.path.join(os.path.dirname(__file__), os.pardir, "tools",
                     "parse_eventlog.py")


@pytest.fixture(scope="module")
def tool():
    spec = importlib.util.spec_from_file_location("parse_eventlog", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _events():
    scope = json.dumps({"id": "7", "name": "FlatMapGroupsInPandas"})
    first = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage Infos": [{"Stage ID": 3}],
         "Properties": {"spark.job.description": "wand batch"}},
    ] + [
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
         "Task Metrics": {"Executor Run Time": 100, "JVM GC Time": 5,
                          "Shuffle Read Metrics": {"Local Bytes Read": 2e6}}}
        for _ in range(3)
    ]
    second = [
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
         "Task Metrics": {"Executor Run Time": 100}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 3, "Stage Name": "collect at query.py:1",
            "Number of Tasks": 4, "Submission Time": 1000,
            "Completion Time": 1500,
            "RDD Info": [{"Scope": scope}, {"Name": "ShuffledRowRDD"}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 1600},
    ]
    return first, second


def _write(path, events):
    with open(path, "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")


def _stage_line(out: str) -> list[str]:
    line = next(ln for ln in out.splitlines() if ln.split()[:1] == ["3"])
    return line.split()


def test_rolling_directory_read_in_index_order(tool, tmp_path, capsys,
                                               monkeypatch):
    first, second = _events()
    roll = tmp_path / "eventlog_v2_local-1"
    roll.mkdir()
    # index 10 sorts before 2 as text: the files must be ordered by number
    _write(roll / "events_2_local-1", first)
    _write(roll / "events_10_local-1", second)
    (roll / "appstatus_local-1").write_text("")
    monkeypatch.setattr("sys.argv", ["parse_eventlog.py", str(roll)])
    assert tool.main() == 0
    out = capsys.readouterr().out
    stage, wall, tasks, ran = _stage_line(out)[:4]
    assert (wall, tasks, ran) == ("500", "4", "4")
    assert "[FlatMapGroupsInPandas] collect at query.py:1" in out
    # the job's start and end sit in different files
    assert f"{0:>4} {600:>8}  wand batch" in out


def test_single_file(tool, tmp_path, capsys, monkeypatch):
    first, second = _events()
    log = tmp_path / "local-1"
    _write(log, first + second)
    monkeypatch.setattr("sys.argv", ["parse_eventlog.py", str(log)])
    assert tool.main() == 0
    assert _stage_line(capsys.readouterr().out)[2:4] == ["4", "4"]



def test_zstd_rolling_file(tool, tmp_path, capsys, monkeypatch):
    """Spark 4 compresses event logs with zstd by default."""
    import pyarrow as pa

    first, second = _events()
    roll = tmp_path / "eventlog_v2_local-1"
    roll.mkdir()
    with pa.CompressedOutputStream(
            str(roll / "events_1_local-1.zstd"), "zstd") as f:
        for ev in first + second:
            f.write((json.dumps(ev) + "\n").encode())
    monkeypatch.setattr("sys.argv", ["parse_eventlog.py", str(roll)])
    assert tool.main() == 0
    assert _stage_line(capsys.readouterr().out)[2:4] == ["4", "4"]
