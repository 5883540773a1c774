"""The workloads and metrics BENCHMARK.json declares, and how a run's
measurement record turns into them: end-to-end metrics for untraced runs,
per-layer metrics for traced ones."""

from __future__ import annotations

import statistics

# ingest: cold build, then IndexBuilder.compact of a delta (the phase);
# batch: cold build, then one batch through the three scorers (the phase)
WORKLOADS = ("batch", "ingest")

# name -> unit
END_TO_END = {
    "setup_s": "s",
    "build_turns_per_s": "turns/s",
    "phase_s": "s",
    "index_mb": "MB",
    "recall_at_10": "ratio",
    "peak_rss_mb": "MB",
}

# `phase` is the parent of the workload's timed engine calls: index.compact
# on ingest; query.wand_topk, query.bm25_score_exhaustive, query.doc_norms
# and query.cosine_topk on batch. Its figures cover all of them.
SPARK_SPANS = ("index.build", "phase")
SPAN_FIELDS = {
    "wall_s": "s", "jobs": "count", "tasks": "count", "task_s": "s",
    "cpu_s": "s", "gc_s": "s", "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB", "input_mb": "MB", "spill_mb": "MB",
    "driver_gap_s": "s", "busy_frac": "ratio", "udf_py_s": "s",
}
# spans that run no Spark stage of their own keep only what they can move;
# `setup` encloses the set-up's engine calls, and its self time is the
# client-side work between them
SMALL_SPANS = {"session.get_spark": ("wall_s",),
               "index.load_index": ("wall_s", "jobs", "driver_gap_s"),
               "setup": ("self_s",)}
BUILD_STAGES = ("vocab", "docs", "doc_map", "tf", "stats", "postings")
REPORT_FIELDS = {
    **{f"index.build.{s}_s": "s" for s in BUILD_STAGES},
    "index.build.bytes_mb": "MB",
    "index.build.postings_written": "count",
    "index.build.segments": "count",
    "index.build.skew_ratio": "ratio",
}
# the phase's three steps: ingest: compact's append, stats and postings
# work; batch: the wand_topk, bm25_score_exhaustive and doc_norms +
# cosine_topk calls
PHASE_STEPS = ("phase.step1_s", "phase.step2_s", "phase.step3_s")
RUN_FIELDS = {"run.timed_s": "s", "run.unattributed_s": "s"}


def _per_layer_units() -> dict[str, str]:
    units = {}
    for span, fields in SMALL_SPANS.items():
        units.update({f"{span}.{f}": {**SPAN_FIELDS, "self_s": "s"}[f]
                      for f in fields})
    for span in SPARK_SPANS:
        units.update({f"{span}.{f}": u for f, u in SPAN_FIELDS.items()})
    units.update(REPORT_FIELDS)
    units.update({k: "s" for k in PHASE_STEPS})
    units.update(RUN_FIELDS)
    units.update({f"traced.{k}": u for k, u in END_TO_END.items()})
    return units


PER_LAYER = _per_layer_units()


def end_to_end(rec: dict) -> dict[str, float]:
    return {
        "setup_s": rec["setup_s"],
        "build_turns_per_s": rec["base_turns"] / rec["build_s"],
        "phase_s": rec["phase_s"],
        "index_mb": rec["index_mb"],
        "recall_at_10": rec["recall_at_10"],
        "peak_rss_mb": rec["peak_rss_mb"],
    }


def per_layer(rec: dict) -> dict[str, float]:
    m: dict[str, float] = {}
    layers = rec["layers"]
    for span, fields in SMALL_SPANS.items():
        inst = layers.get(span, [])
        m.update({f"{span}.{f}": _median(inst, f) for f in fields})
    for span in SPARK_SPANS:
        inst = layers.get(span, [])
        m.update({f"{span}.{f}": _median(inst, f) for f in SPAN_FIELDS})
    build = rec["build_report"]
    walls: dict[str, float] = {}
    for stage, man in build["stages"].items():
        fam = stage.split("/")[0]   # the posting groups are summed
        walls[fam] = walls.get(fam, 0.0) + float(man.get("wall_sec", 0.0))
    groups = [man for s, man in build["stages"].items()
              if s.startswith("postings/")]
    m.update({f"index.build.{s}_s": walls.get(s, 0.0) for s in BUILD_STAGES})
    m["index.build.bytes_mb"] = build["total"]["bytes"] / 1e6
    m["index.build.postings_written"] = build["total"]["postings_written"]
    m["index.build.segments"] = sum(g["segments"] for g in groups)
    m["index.build.skew_ratio"] = build["total"]["skew_ratio"]
    m.update(zip(PHASE_STEPS, rec["phase_steps_s"]))
    timed = rec["setup_s"] + rec["phase_timed_s"]
    m["run.timed_s"] = timed
    m["run.unattributed_s"] = timed - rec["span_s"]
    m.update({f"traced.{k}": v for k, v in end_to_end(rec).items()})
    return m


def _median(instances: list[dict], field: str) -> float:
    """Median over a span's instances (one per call)."""
    return statistics.median(i[field] for i in instances) if instances else 0.0


def result(rec: dict) -> dict:
    """The run's final JSON object."""
    if rec["trace"]:
        values, units = per_layer(rec), PER_LAYER
    else:
        values, units = end_to_end(rec), END_TO_END
    return {
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in values.items()},
    }
