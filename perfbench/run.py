#!/usr/bin/env python3
"""Benchmark entry point. From the repository root:

    python3 perfbench/run.py --workload batch|ingest --seed N --seconds S --trace 0|1

Runs one measurement in a fresh worker process with its own work directory
(index, SPARK_LOCAL_DIRS, TMPDIR), removes that directory afterwards, and
stops every process the run started. Prints each metric as
``name = value unit``, then, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. A traced run (--trace 1)
reports per-layer metrics and writes its spans to
.perfbench_out/trace-<workload>-<seed>.json.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# every run must end well inside three minutes, clean-up included
WORKER_TIMEOUT_S = 160
PR_SET_CHILD_SUBREAPER = 36


def _children() -> list[int]:
    me = str(os.getpid())
    kids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = f.read().rsplit(")", 1)[1].split()[1]
        except OSError:
            continue
        if ppid == me:
            kids.append(int(pid))
    return kids


def _reap_all() -> None:
    """Kill and wait for every remaining descendant. As a child subreaper
    this process inherits the orphans of the worker (the JVM, the Python
    UDF daemon and its workers), so waiting here really waits for them."""
    deadline = time.monotonic() + 15
    while time.monotonic() < deadline:
        kids = _children()
        if not kids:
            return
        for pid in kids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        for pid in kids:
            try:
                os.waitpid(pid, 0)
            except ChildProcessError:
                pass


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.report import WORKLOADS, result

    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "document_retrieval_spark")):
        print("perfbench: the document_retrieval_spark package is not in "
              f"{ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    record = os.path.join(work, "record.json")
    trace_out = os.path.join(ROOT, ".perfbench_out",
                             f"trace-{args.workload}-{args.seed}.json")
    env = dict(os.environ,
               PYTHONPATH=os.pathsep.join(
                   [ROOT] + [p for p in os.environ.get("PYTHONPATH", "")
                             .split(os.pathsep) if p]),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"),
               TMPDIR=os.path.join(work, "tmp"))
    cmd = [sys.executable, "-m", "perfbench.worker",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--record", record, "--trace-out", trace_out]
    # a termination request unwinds through the finally below, so the worker
    # tree and the work directory go too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    rec, proc = None, None
    try:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: worker exceeded {WORKER_TIMEOUT_S} s",
                  file=sys.stderr)
            code = None
        if code == 0:
            with open(record) as f:
                rec = json.load(f)
    finally:
        if proc is not None:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
        _reap_all()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if rec is None:
        print("perfbench: the run failed before it could report",
              file=sys.stderr)
        return 1

    res = result(rec)
    for name, m in res["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(f"failed_ops_frac = {res['failed'] / res['attempted']:.6g} ratio "
          f"({res['failed']} of {res['attempted']} ops)")
    print(f"# phases: inputs {rec['inputs_s']:.1f} s, "
          f"setup {rec['setup_s']:.1f} s, {rec['workload']} phase "
          f"{rec['phase_timed_s']:.1f} s (steps "
          f"{', '.join(f'{x:.2f}' for x in rec['phase_steps_s'])}), "
          f"worker {rec['wall_s']:.1f} s")
    print(f"# batch: {rec['batch_queries']} queries, "
          f"{rec['candidates_per_query']:.1f} candidate docs per query")
    for e in rec["errors"]:
        print(f"failed op: {e}")
    print(json.dumps(res), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
