"""One benchmark run in a fresh process: set-up (session, cold index build,
load), then the workload's phase (ingest: compaction; batch: the three
scorers), each answer checked against the NumPy oracle outside the timed
regions. Started by perfbench/run.py, which owns the process tree and the
work directory; writes its measurement record as JSON.

    python3 -m perfbench.worker --workload batch --seed 1 --seconds 1 \
        --trace 0 --work <dir> --record <file>
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

from document_retrieval_spark.config import (
    REFERENCE_PROFILE,
    BM25Config,
    EngineConfig,
    IndexConfig,
)
from document_retrieval_spark.index import IndexBuilder, load_index
from document_retrieval_spark.oracle import oracle_metrics
from document_retrieval_spark.query import (
    bm25_score_exhaustive,
    choose_scorer,
    cosine_topk,
    prepare_query_terms,
)
from document_retrieval_spark.query.cosine import doc_norms
from document_retrieval_spark.query.wand import wand_topk
from document_retrieval_spark.session import get_spark

from . import answers, inputs
from .report import WORKLOADS
from .trace import (
    Tracer,
    leaf_seconds,
    read_event_log,
    span_layers,
    subtree,
)

# The index shape of a small deployment: one shard group (one posting job),
# as many term shards as cores. The other settings are the engine defaults.
INDEX = IndexConfig(n_shards=os.cpu_count() or 4, n_shard_groups=1)


class Ledger:
    """Operations attempted and failed, with the first error of each kind."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)


def _timed(fn):
    """(result, seconds, exception) of fn(); exceptions are returned, not
    raised, so a failed operation is counted and the run goes on."""
    t0 = time.perf_counter()
    try:
        out, err = fn(), None
    except Exception as e:  # noqa: BLE001 — every engine failure is counted
        out, err = None, e
    return out, time.perf_counter() - t0, err


def _err(what: str, e: Exception) -> str:
    return f"{what}: {type(e).__name__}: {str(e).splitlines()[0][:200]}"


def _dir_bytes(path: str, skip=()) -> int:
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if os.path.join(root, d) not in skip]
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _published_bytes(out: str) -> int:
    """On-disk bytes of the index version load_index resolves: every file
    except the stats/postings versions the CURRENT.json pointer does not
    name."""
    with open(os.path.join(out, "CURRENT.json")) as f:
        cur = f"v={json.load(f)['version']}"
    skip = {os.path.join(out, fam, d)
            for fam in ("stats", "postings")
            for d in os.listdir(os.path.join(out, fam)) if d != cur}
    return _dir_bytes(out, skip)


def _jvm_hwm_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def run(args) -> dict:
    work = args.work
    cores = os.cpu_count() or 4
    rec: dict = {"trace": bool(args.trace), "workload": args.workload}
    t_start = time.perf_counter()
    inp = inputs.make_inputs(args.seed, os.path.join(work, "inputs"))
    # what the index holds at the end of the run: ingest compacts the delta
    oidx = inputs.oracle_index(inp, with_delta=args.workload == "ingest")
    bm25 = BM25Config()
    ledger = Ledger()
    tracer = Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}",
                    enabled=bool(args.trace))
    # a 1 GB heap is ample for this corpus and keeps the run small on a
    # shared machine; without the cap the heap grows with GC timing and
    # peak_rss_mb spreads by up to 0.26 of its median between runs, against
    # 0.05-0.14 with it. The work dir holds every file Spark writes.
    conf = {
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    events = os.path.join(work, "events")
    if args.trace:
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.sql.pyspark.udf.profiler": "perf",
        })
    out = os.path.join(work, "index")
    cfg = EngineConfig(tokenizer=REFERENCE_PROFILE, bm25=bm25, index=INDEX)

    # ---- set-up: session, cold build, load -------------------------------
    rec["inputs_s"] = time.perf_counter() - t_start
    t0 = time.perf_counter()
    with tracer.span("setup"):
        with tracer.span("session.get_spark"):
            spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                              shuffle_partitions=cores, extra_conf=conf,
                              warmup=False)
        tracer.spark = spark
        base_df = spark.read.parquet(inp.base_path)
        t1 = time.perf_counter()
        with tracer.span("index.build"):
            build_rep = IndexBuilder(spark, cfg, out).build(base_df)
        t_build = time.perf_counter() - t1
        ledger.op(True, "build")
        with tracer.span("index.load_index"):
            idx = load_index(spark, out)
        ledger.op(True, "load_index")
    rec["setup_s"] = time.perf_counter() - t0
    rec["build_s"] = t_build
    rec["build_report"] = build_rep
    fp = idx.bm25_fingerprint
    bm25 = BM25Config(**fp) if fp else bm25

    batch = inp.batch
    text_of = dict(zip(batch["query_id"], batch["query"]))
    qt = prepare_query_terms(
        spark.createDataFrame(batch[["query_id", "query"]]),
        REFERENCE_PROFILE, bm25)

    def call_wand():
        with tracer.span("query.wand_topk"):
            return wand_topk(qt, idx.postings, idx.doc_map, idx.coll, bm25,
                             k=inputs.K,
                             term_dict=idx.term_stats.select("term", "term_id")
                             ).collect()

    def call_exhaustive():
        with tracer.span("query.bm25_score_exhaustive"):
            return bm25_score_exhaustive(
                qt, idx.tf.select("term", "docid", "tf"), idx.term_stats,
                idx.doc_map.select("docid", "dl"), bm25, k=inputs.K).collect()

    def call_cosine():
        tf = idx.tf.select("term", "docid", "tf")
        # the index persists no norms: every batch computes them, and
        # doc_norms' contract is to persist them for cosine_topk
        with tracer.span("query.doc_norms"):
            dn = doc_norms(tf, idx.term_stats).persist()
            dn.count()
        try:
            with tracer.span("query.cosine_topk"):
                return cosine_topk(qt, tf, idx.term_stats, k=inputs.K,
                                   doc_norm=dn).collect()
        finally:
            dn.unpersist()

    def check(name: str, rows, err) -> None:
        """Every answer of one scorer call against the oracle over what the
        index holds."""
        if err is not None:
            ledger.op(False, _err(name, err))
            return
        got = answers.ranked(rows)
        bad = [q for q in text_of if not (
            answers.cosine_ok(oidx, text_of[q], got.get(q, []), inputs.K)
            if name == "cosine" else
            answers.bm25_ok(oidx, text_of[q], got.get(q, []), bm25, inputs.K))]
        ledger.op(not bad, f"{name}: {len(bad)} of {len(text_of)} answers "
                           f"differ from the oracle, e.g. {bad[:3]}")

    def recall(rows) -> float:
        got = answers.ranked(rows or [])
        retrieved = {q: [d for d, _ in got.get(q, [])] for q in text_of}
        return oracle_metrics(
            retrieved, dict(zip(batch["query_id"], batch["positive_docs"])),
            ks=(inputs.K,))[f"recall@{inputs.K}"]

    # ---- the workload's phase; answers are checked after it ---------------
    if args.workload == "ingest":
        delta_df = spark.read.parquet(inp.delta_path)

        def call_compact():
            with tracer.span("phase"):
                with tracer.span("index.compact"):
                    return IndexBuilder(spark, cfg, out).compact(delta_df)

        report, dt, err = _timed(call_compact)
        rec["phase_steps_s"] = _compact_steps(report, dt)
        rec["phase_timed_s"] = dt
        ledger.op(err is None, "" if err is None else _err("compact", err))
        # the check: the compacted index, read back as a reader would, must
        # answer the batch as the oracle over base + delta does
        idx, _, err = _timed(lambda: load_index(spark, out))
        ledger.op(err is None,
                  "" if err is None else _err("load_index after compact", err))
        rows, _, err = (_timed(call_exhaustive) if idx is not None
                        else (None, 0.0, err))
        rec["recall_at_10"] = recall(rows)
        check("exhaustive after compact", rows, err)
    else:
        plan = choose_scorer(fp, n_queries=len(batch),
                             n_docs=len(oidx.doc_ids),
                             parallelism=spark.sparkContext.defaultParallelism)
        # a batch of more queries than cores is planned as WAND; another
        # plan is a change of behaviour, counted as a failed op (the batch
        # still runs every scorer)
        ledger.op(plan == "wand", f"choose_scorer planned {plan!r}, not 'wand'")
        calls: dict[str, list] = {}
        with tracer.span("phase"):
            for name, fn in (("wand", call_wand),
                             ("exhaustive", call_exhaustive),
                             ("cosine", call_cosine)):
                # each scorer runs the batch at least once and until
                # --seconds have passed; at this corpus size one call
                # outlasts a 1 s run
                calls[name] = []
                t_loop = time.perf_counter()
                while (not calls[name]
                       or time.perf_counter() - t_loop < args.seconds):
                    calls[name].append(_timed(fn))
                    if calls[name][-1][2] is not None:
                        break
        rec["recall_at_10"] = recall(calls["wand"][0][0])
        for name, results in calls.items():
            for rows, _, err in results:
                check(name, rows, err)
        rec["phase_steps_s"] = [statistics.median(dt for _, dt, _ in calls[n])
                                for n in ("wand", "exhaustive", "cosine")]
        rec["phase_calls"] = [len(calls[n])
                              for n in ("wand", "exhaustive", "cosine")]
        rec["phase_timed_s"] = sum(dt for c in calls.values() for _, dt, _ in c)
    rec["phase_s"] = sum(rec["phase_steps_s"])

    rec["batch_queries"] = len(batch)
    rec["candidates_per_query"] = inputs.candidates_per_query(
        oidx, batch["query"])
    rec["index_mb"] = _published_bytes(out) / 1e6
    rec["base_turns"] = inp.base_turns
    rec["peak_rss_mb"] = _jvm_hwm_mb(spark)
    rec["wall_s"] = time.perf_counter() - t_start
    spark.stop()

    rec["attempted"] = ledger.attempted
    rec["failed"] = ledger.failed
    rec["errors"] = ledger.errors
    if args.trace:
        logs = [p for p in os.listdir(events) if not p.startswith(".")]
        groups = read_event_log(os.path.join(events, logs[0]))
        rec["layers"] = span_layers(tracer.spans, groups, cores)
        # the timed regions are the set-up and the phase; the ingest check
        # after the phase is not timed
        rec["span_s"] = sum(leaf_seconds(subtree(tracer.spans, sp.id))
                            for sp in tracer.spans
                            if sp.name in ("setup", "phase"))
        tracer.write(args.trace_out, {"layers": rec["layers"]})
    return rec


def _compact_steps(report: dict | None, wall: float) -> list[float]:
    """[append, stats, postings] seconds of one compact() call. compact()
    rebuilds stats and postings through build(), whose manifests carry their
    walls; the appends' manifests record only the commit, so the append
    work is the rest of the compact wall."""
    rebuilt = {"stats": 0.0, "postings": 0.0}
    for stage, man in (report or {"stages": {}})["stages"].items():
        fam = stage.split("/")[0]
        if fam in rebuilt:
            rebuilt[fam] += float(man.get("wall_sec", 0.0))
    return [wall - rebuilt["stats"] - rebuilt["postings"],
            rebuilt["stats"], rebuilt["postings"]]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--record", required=True)
    ap.add_argument("--trace-out", default=None)
    args = ap.parse_args(argv)
    try:
        rec = run(args)
    except Exception:  # noqa: BLE001 — a set-up failure ends the run
        traceback.print_exc()
        return 1
    with open(args.record, "w") as f:
        json.dump(rec, f, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
