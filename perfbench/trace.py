"""Spans recorded around the engine's public calls, and the Spark event-log
reader that turns them into per-layer figures.

A span carries a name, start, end, parent and run id. Spans stay in memory
and are written out once, when the run ends. In a traced run every span also
sets a Spark job group, so the event log can be grouped by span; the
``perf`` UDF profiler's results are drained after each span, so Python UDF
time is attributed to it as well.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import pstats
import shutil
import tempfile
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: str
    name: str
    start: float          # epoch seconds, comparable with event-log times
    end: float = 0.0
    parent: str | None = None
    run_id: str = ""
    udf_py_s: float = 0.0


@dataclass
class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op, so
    untraced runs measure the engine alone."""

    run_id: str
    enabled: bool = False
    spark: object = None   # set once the session exists
    spans: list[Span] = field(default_factory=list)
    _open: list[Span] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=itertools.count)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        s = Span(id=f"s{next(self._ids)}", name=name, start=time.time(),
                 parent=self._open[-1].id if self._open else None,
                 run_id=self.run_id)
        self._open.append(s)
        self._set_job_group()
        try:
            yield
        finally:
            s.end = time.time()
            self._open.pop()
            if self.spark is not None:
                self._set_job_group()
                s.udf_py_s = _drain_udf_profiles(self.spark)
            self.spans.append(s)

    def _set_job_group(self) -> None:
        """Jobs run from here on belong to the innermost open span."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if self._open:
            sc.setJobGroup(self._open[-1].id, self._open[-1].name)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id,
                       "spans": [asdict(s) for s in self.spans], **extra},
                      f, indent=1)


def _drain_udf_profiles(spark) -> float:
    """Seconds of Python UDF time the ``perf`` profiler collected since the
    last drain, then clear it. Read through the public dump API."""
    d = tempfile.mkdtemp(prefix="udfprof_")
    try:
        spark.profile.dump(d, type="perf")
        total = sum(pstats.Stats(p).total_tt
                    for p in glob.glob(os.path.join(d, "*.pstats")))
    finally:
        shutil.rmtree(d, ignore_errors=True)
    spark.profile.clear(type="perf")
    return total


def subtree(spans: list[Span], root_id: str) -> list[Span]:
    """The span root_id and every span below it."""
    kids: dict[str, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent:
            kids[s.parent].append(s)
    out = [s for s in spans if s.id == root_id]
    for s in out:   # grows while it is walked: breadth first
        out.extend(kids[s.id])
    return out


def leaf_seconds(spans: list[Span]) -> float:
    """Total duration of the spans that have no child span."""
    parents = {s.parent for s in spans}
    return sum(s.end - s.start for s in spans if s.id not in parents)


def self_time(spans: list[Span]) -> dict[str, float]:
    """Span id -> duration minus the part its child spans cover."""
    kids: dict[str, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent:
            kids[s.parent].append(s)
    return {s.id: s.end - s.start - _covered(
        [(c.start, c.end) for c in kids[s.id]], s.start, s.end)
        for s in spans}


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    input_mb: float = 0.0
    spill_mb: float = 0.0
    stage_intervals: list = field(default_factory=list)


def read_event_log(path: str) -> dict[str, GroupStats]:
    """Job group -> Spark work done under it: jobs, tasks, task/CPU/GC
    seconds, shuffle/input/spill MB, and each stage's run interval (epoch
    seconds) for the driver-gap computation."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g is None:
                    continue
                groups[g].jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                if g is None:
                    continue
                m = ev.get("Task Metrics") or {}
                st = groups[g]
                sr = m.get("Shuffle Read Metrics") or {}
                st.tasks += 1
                st.task_s += m.get("Executor Run Time", 0) / 1e3
                st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                st.gc_s += m.get("JVM GC Time", 0) / 1e3
                st.shuffle_read_mb += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0)) / 1e6
                st.shuffle_write_mb += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0) / 1e6
                st.input_mb += (m.get("Input Metrics") or {}).get(
                    "Bytes Read", 0) / 1e6
                st.spill_mb += m.get("Disk Bytes Spilled", 0) / 1e6
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                g = stage_group.get(si["Stage ID"])
                if g is not None and "Submission Time" in si:
                    groups[g].stage_intervals.append(
                        (si["Submission Time"] / 1e3,
                         si.get("Completion Time", si["Submission Time"]) / 1e3))
    return dict(groups)


SPARK_FIELDS = ("jobs", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_read_mb",
                "shuffle_write_mb", "input_mb", "spill_mb")


def span_layers(spans: list[Span], groups: dict[str, GroupStats],
                cores: int) -> dict[str, list[dict]]:
    """Span name -> one figure dict per span instance: wall_s, self_s, the
    event-log fields of the job groups of the span and every span below it,
    driver_gap_s (wall not covered by any of those running stages),
    busy_frac (task_s / (wall x cores)) and udf_py_s (also summed over the
    subtree, since each span drains the profiler when it ends)."""
    out: dict[str, list[dict]] = defaultdict(list)
    own = self_time(spans)
    for s in spans:
        tree = subtree(spans, s.id)
        g = GroupStats()
        for t in tree:
            tg = groups.get(t.id)
            if tg is None:
                continue
            for k in SPARK_FIELDS:
                setattr(g, k, getattr(g, k) + getattr(tg, k))
            g.stage_intervals += tg.stage_intervals
        wall = s.end - s.start
        rec = {"wall_s": wall, "self_s": own[s.id],
               **{k: getattr(g, k) for k in SPARK_FIELDS}}
        rec["driver_gap_s"] = wall - _covered(g.stage_intervals, s.start, s.end)
        rec["busy_frac"] = g.task_s / (wall * cores) if wall > 0 else 0.0
        rec["udf_py_s"] = sum(t.udf_py_s for t in tree)
        out[s.name].append(rec)
    return dict(out)
