"""Compare engine answers with the NumPy oracle.

Answers are compared rank by rank: scores to 1e-6, docids in the engine's
tie order (score desc, docid asc). Docs whose oracle scores tie (within
1e-9) form a tie group and are compared as a set, as the repository's
rank-identity tests do: a scorer that sums term scores in another order may
leave two tied docs one ulp apart, which swaps them. A tie group cut by the
k-th rank only has to hold members of that group, so the oracle list is
read past k.
"""

from __future__ import annotations

from collections import defaultdict

from document_retrieval_spark.config import REFERENCE_PROFILE, BM25Config
from document_retrieval_spark.oracle import (
    OracleIndex,
    oracle_cosine_topk,
    oracle_topk,
)

TOL = 1e-6
TIE = 1e-9
# oracle ranks read past k, to see the whole tie group at the cut
EXTRA = 10


def ranked(rows) -> dict[str, list[tuple[str, float]]]:
    """Collected (query_id, rank, docid, score) rows -> per-query lists in
    rank order."""
    by_q: dict[str, list] = defaultdict(list)
    for r in rows:
        by_q[r["query_id"]].append((r["rank"], r["docid"], r["score"]))
    return {q: [(d, s) for _, d, s in sorted(v)] for q, v in by_q.items()}


def same_topk(got: list[tuple[str, float]], want: list[tuple[str, float]],
              k: int) -> bool:
    """got: the engine's top-k; want: the oracle's ranking, read past k."""
    if len(got) != min(k, len(want)) or len({d for d, _ in got}) != len(got):
        return False
    group_of, members = [], defaultdict(set)
    for p, (d, s) in enumerate(want):
        gid = group_of[-1] + (want[p - 1][1] - s > TIE) if p else 0
        group_of.append(gid)
        members[gid].add(d)
    return all(abs(gs - ws) <= TOL and gd in members[group_of[p]]
               for p, ((gd, gs), (_, ws)) in enumerate(zip(got, want)))


def bm25_ok(oidx: OracleIndex, query: str, got, bm25: BM25Config,
            k: int) -> bool:
    return same_topk(
        got, oracle_topk(oidx, query, REFERENCE_PROFILE, bm25, k + EXTRA), k)


def cosine_ok(oidx: OracleIndex, query: str, got, k: int) -> bool:
    return same_topk(
        got, oracle_cosine_topk(oidx, query, REFERENCE_PROFILE, k + EXTRA), k)
