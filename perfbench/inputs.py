"""Seeded benchmark inputs and their NumPy-oracle answers.

The engine only ever sees what this module generates: a base and a delta
transcripts parquet table and the query batch. The same seed gives
byte-identical inputs (perfbench/test_perfbench.py checks it).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import pandas as pd

from document_retrieval_spark.config import REFERENCE_PROFILE
from document_retrieval_spark.fixtures import gen_queries, gen_transcripts
from document_retrieval_spark.oracle import (
    OracleIndex,
    build_oracle_index,
    oracle_tokenize,
)

# Corpus and query sizes. Every run pays a cold Spark session and a cold
# index build, so the corpus is small: the fixed per-job cost, not the data,
# dominates at this size, and that is the cost users of a fresh session see.
#
# The base table and the delta that compaction folds in are whole
# conversations, taken in id order until they hold this many turns (about
# 150 and 15 conversations): the base turns are the denominator of
# build_turns_per_s, and the delta turns are the work of ingest's phase.
# Fixed conversation counts would vary them by 0.04 and 0.15 between seeds.
BASE_TURNS = 1000
DELTA_TURNS = 100
# recall@10 over 100 queries spreads by 0.05-0.10 of its median across
# seeds (about 0.05 at 200 queries, which would lengthen every run)
BATCH_QUERIES = 100
K = 10


@dataclass
class Inputs:
    base_path: str
    delta_path: str
    base_turns: int
    delta_turns: int
    batch: pd.DataFrame   # (query_id, query, positive_docs)


def _docs(tr: pd.DataFrame) -> list[tuple[str, str]]:
    """[(docid, text)] in docid order, turns joined in turn order — the
    oracle's view of an assembled conversation."""
    by = tr.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    return list(by.groupby("conv_id", sort=True)["text"].agg(" ".join).items())


def _n_convs(turns: pd.Series, target: int) -> int:
    """How many of the leading conversations it takes to hold target
    turns."""
    n = int((turns.cumsum() < target).sum()) + 1
    if n > len(turns):
        raise ValueError(f"{len(turns)} conversations hold fewer than "
                         f"{target} turns")
    return n


def make_inputs(seed: int, out_dir: str) -> Inputs:
    """Generate and write the run's inputs under out_dir. Both workloads
    get the same inputs for a seed; they differ in what they run on them."""
    # a conversation has about 6.5 turns: this is twice what the tables need
    every = gen_transcripts(2 * BASE_TURNS // 6, seed=seed)
    turns = every.groupby("conv_id").size().sort_index()
    n_base = _n_convs(turns, BASE_TURNS)
    n_delta = _n_convs(turns.iloc[n_base:], DELTA_TURNS)
    base = every[every["conv_id"].isin(turns.index[:n_base])]
    delta = every[every["conv_id"].isin(turns.index[n_base:n_base + n_delta])]
    # every query's positive document is in the base index
    q = gen_queries(base, BATCH_QUERIES, seed=seed + 1)
    q = q[["query_id", "query", "positive_docs"]]
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, part in (("base", base), ("delta", delta)):
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        # microsecond timestamps: Spark's parquet reader rejects ns INT64
        part.to_parquet(paths[name], index=False, coerce_timestamps="us",
                        allow_truncated_timestamps=True)
    return Inputs(
        base_path=paths["base"], delta_path=paths["delta"],
        base_turns=len(base), delta_turns=len(delta),
        batch=q.reset_index(drop=True),
    )


def digest(inp: Inputs) -> str:
    """sha256 over every input the engine sees: the transcripts parquet
    files and the query tables."""
    h = hashlib.sha256()
    for path in (inp.base_path, inp.delta_path):
        with open(path, "rb") as f:
            h.update(f.read())
    h.update(inp.batch.to_csv(index=False).encode())
    return h.hexdigest()


def oracle_index(inp: Inputs, with_delta: bool) -> OracleIndex:
    """The oracle over the base corpus, or over base + delta: what the
    index holds before and after compaction."""
    parts = [pd.read_parquet(inp.base_path)]
    if with_delta:
        parts.append(pd.read_parquet(inp.delta_path))
    return build_oracle_index(_docs(pd.concat(parts)), REFERENCE_PROFILE)


def candidates_per_query(oidx: OracleIndex, queries) -> float:
    """Mean number of documents that share at least one term with a query:
    the candidates a scorer has to consider. Describes the workload; the
    engine is not involved."""
    sizes = [len(set().union(*(oidx.inverted.get(t, ())
                               for t in oracle_tokenize(q, REFERENCE_PROFILE))))
             for q in queries]
    return sum(sizes) / len(sizes)
