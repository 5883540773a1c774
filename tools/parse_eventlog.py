#!/usr/bin/env python3
"""Summarize a Spark event log: per-job wall/desc, per-stage task count,
task time and shuffle bytes.

    python tools/parse_eventlog.py <eventlog>

<eventlog> is a single event-log file, or the directory of a rolling event
log (`eventlog_v2_<app>/events_<n>_<app>`, what Spark writes unless
spark.eventLog.rolling.enabled=false), whose files are read in index order.
Uncompressed and zstd-compressed logs (Spark 4's default event-log codec)
are read; for another codec, set spark.eventLog.compress=false.
"""

from __future__ import annotations

import io
import json
import os
import re
import sys
from collections import defaultdict


def event_files(path: str) -> list[str]:
    """The file(s) of one event log, in event order."""
    if not os.path.isdir(path):
        return [path]
    parts = []
    for name in os.listdir(path):
        m = re.fullmatch(r"events_(\d+)_.+", name)
        if m:
            parts.append((int(m.group(1)), os.path.join(path, name)))
    if not parts:
        raise SystemExit(f"{path}: no events_<n>_<app> files in directory")
    return [p for _, p in sorted(parts)]


def _lines(fp: str):
    if fp.endswith(".zstd"):
        import pyarrow as pa

        with pa.CompressedInputStream(pa.OSFile(fp), "zstd") as f:
            yield from io.TextIOWrapper(f, encoding="utf-8")
    elif fp.endswith((".lz4", ".lzf", ".snappy")):
        raise SystemExit(f"{fp}: event-log codec not supported; write the "
                         "log with spark.eventLog.compress=false")
    else:
        with open(fp) as f:
            yield from f


def events(path: str):
    """Every JSON event of the log, in order."""
    for fp in event_files(path):
        for line in _lines(fp):
            try:
                yield json.loads(line)
            except json.JSONDecodeError:
                continue


def python_ops(stage_info: dict) -> list[str]:
    """Python-UDF operators a stage runs (its RDD scopes such as
    FlatMapGroupsInPandas or MapInArrow): each of its tasks starts a
    Python worker, so these are the stages whose task count the engine
    sizes."""
    names = set()
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            name = json.loads(scope).get("name", "")
            if re.search(r"Pandas|Arrow|Python", name):
                names.add(name)
    return sorted(names)


def main() -> int:
    path = sys.argv[1]
    jobs = {}
    stages = {}
    stage_tasks = defaultdict(lambda: {"n": 0, "task_ms": 0, "gc_ms": 0,
                                       "sh_read": 0, "sh_write": 0,
                                       "input": 0})
    for ev in events(path):
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "desc": ev.get("Properties", {}).get(
                    "spark.job.description", ""),
                "t0": ev["Submission Time"],
                "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
            }
        elif e == "SparkListenerJobEnd":
            j = jobs.get(ev["Job ID"])
            if j:
                j["wall_ms"] = ev["Completion Time"] - j["t0"]
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            ops = python_ops(si)
            name = si["Stage Name"].split("\n")[0][:90]
            stages[si["Stage ID"]] = {
                "name": (f"[{','.join(ops)}] " if ops else "") + name,
                "wall_ms": si.get("Completion Time", 0)
                - si.get("Submission Time", 0),
                "n_tasks": si["Number of Tasks"],
            }
        elif e == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            m = ev.get("Task Metrics") or {}
            st = stage_tasks[sid]
            st["n"] += 1
            st["task_ms"] += m.get("Executor Run Time", 0)
            st["gc_ms"] += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            st["sh_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0)
            st["sh_write"] += sw.get("Shuffle Bytes Written", 0)
            im = m.get("Input Metrics") or {}
            st["input"] += im.get("Bytes Read", 0)

    print(f"{'job':>4} {'wall_ms':>8}  desc")
    for jid in sorted(jobs):
        j = jobs[jid]
        print(f"{jid:>4} {j.get('wall_ms', -1):>8}  {j['desc'][:70]}")
    print()
    # tasks: the stage's partition count; ran: task attempts that ended
    print(f"{'stage':>5} {'wall':>7} {'tasks':>5} {'ran':>5} {'taskms':>8} "
          f"{'gc':>6} {'shR_MB':>7} {'shW_MB':>7} {'in_MB':>7}  name")
    for sid in sorted(stages):
        s = stages[sid]
        t = stage_tasks[sid]
        print(
            f"{sid:>5} {s['wall_ms']:>7} {s['n_tasks']:>5} {t['n']:>5} "
            f"{t['task_ms']:>8} {t['gc_ms']:>6} {t['sh_read']/1e6:>7.1f} "
            f"{t['sh_write']/1e6:>7.1f} {t['input']/1e6:>7.1f}  {s['name']}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
