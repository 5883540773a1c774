"""WAND scorer differential tests: block-max WAND over the compressed index
must be rank-identical to the exhaustive join scorer AND the NumPy oracle
(SURVEY.md §7 M3 — 'exhaustive scorer kept as the differential-testing twin')."""

from __future__ import annotations

import math

import pytest

from document_retrieval_spark.config import (
    REFERENCE_PROFILE,
    BM25Config,
    IndexConfig,
)
from document_retrieval_spark.operators import assemble_documents
from document_retrieval_spark.operators.postings import (
    assign_doc_ordinals,
    build_postings,
)
from document_retrieval_spark.operators.stats import (
    build_term_stats,
    collection_stats,
    term_frequencies,
    tokenize_documents,
)
from document_retrieval_spark.oracle import oracle_topk
from document_retrieval_spark.query import bm25_score_exhaustive, prepare_query_terms
from document_retrieval_spark.query.wand import wand_topk

K = 10


@pytest.fixture(scope="module")
def built(spark, transcripts_df):
    docs = tokenize_documents(assemble_documents(transcripts_df), REFERENCE_PROFILE)
    docs_ord = assign_doc_ordinals(docs.select("docid", "dl"))
    docs_ord.cache().count()
    tf = term_frequencies(docs)
    coll = collection_stats(docs)
    stats = build_term_stats(tf, coll)
    # tiny blocks/segments so multi-block and multi-segment paths execute
    cfg = IndexConfig(n_shards=8, salt_df_threshold=10, n_salts=4, block_size=8)
    postings = build_postings(
        tf.join(docs_ord, "docid"), stats, cfg, BM25Config(), seg_postings=32
    )
    postings.cache().count()
    return docs, docs_ord, tf, coll, stats, postings


def _collect_topk(df):
    return _by_query(df.collect())


def _by_query(rows):
    out = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append((r["rank"], r["docid"], r["score"]))
    return {q: [(d, s) for _, d, s in sorted(v)] for q, v in out.items()}


def test_wand_equals_exhaustive_and_oracle(
    built, queries_df, queries_pdf, oracle_index
):
    docs, docs_ord, tf, coll, stats, postings = built
    bm25 = BM25Config()
    qt = prepare_query_terms(queries_df, REFERENCE_PROFILE, bm25)
    wand = _collect_topk(wand_topk(qt, postings, docs_ord, coll, bm25, k=K))
    exh = _collect_topk(
        bm25_score_exhaustive(qt, tf, stats, docs.select("docid", "dl"), bm25, k=K)
    )
    assert set(wand) == set(exh)
    for qid in exh:
        w, e = wand[qid], exh[qid]
        assert len(w) == len(e), qid
        for (wd, ws), (ed, es) in zip(w, e):
            assert math.isclose(ws, es, rel_tol=1e-9, abs_tol=1e-12), qid
        assert {d for d, _ in w} == {d for d, _ in e}, qid
    # and against the oracle directly
    for _, row in queries_pdf.iterrows():
        want = oracle_topk(oracle_index, row["query"], REFERENCE_PROFILE, bm25, k=K)
        got = wand.get(row["query_id"], [])
        assert len(got) == len(want), row["query_id"]
        for (gd, gs), (wd, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-6, abs_tol=1e-9), row["query_id"]


def test_wand_k1_and_k100(built, queries_df):
    """Bounded heap respects k; k larger than candidate count returns all."""
    docs, docs_ord, tf, coll, stats, postings = built
    bm25 = BM25Config()
    qt = prepare_query_terms(queries_df.limit(5), REFERENCE_PROFILE, bm25)
    r1 = _collect_topk(wand_topk(qt, postings, docs_ord, coll, bm25, k=1))
    r100 = _collect_topk(wand_topk(qt, postings, docs_ord, coll, bm25, k=100))
    exh100 = _collect_topk(
        bm25_score_exhaustive(qt, tf, stats, docs.select("docid", "dl"), bm25, k=100)
    )
    for qid, lst in r1.items():
        assert len(lst) == 1
        assert lst[0][0] == r100[qid][0][0]
    for qid in exh100:
        assert [d for d, _ in r100[qid]] == [d for d, _ in exh100[qid]], qid


def test_wand_duplicate_query_terms_are_deduped(built, queries_df):
    """Duplicate (query_id, term) rows (e.g. unique_query_terms=False or a
    caller bypassing prepare_query_terms) must not corrupt the sorted-cursor
    invariant: wand_topk dedupes internally, so results equal the clean run."""
    docs, docs_ord, tf, coll, stats, postings = built
    bm25 = BM25Config()
    qt = prepare_query_terms(queries_df.limit(10), REFERENCE_PROFILE, bm25)
    dup = qt.union(qt).union(qt)  # every term 3x
    clean = _collect_topk(wand_topk(qt, postings, docs_ord, coll, bm25, k=K))
    dirty = _collect_topk(wand_topk(dup, postings, docs_ord, coll, bm25, k=K))
    assert clean == dirty


def test_wand_explicit_term_list_short_circuits_collect(built, queries_df):
    """Passing the already-local term list must give identical results (and
    skips the driver-side distinct().collect())."""
    docs, docs_ord, tf, coll, stats, postings = built
    bm25 = BM25Config()
    qt = prepare_query_terms(queries_df.limit(10), REFERENCE_PROFILE, bm25)
    terms = [r["term"] for r in qt.select("term").distinct().collect()]
    a = _collect_topk(wand_topk(qt, postings, docs_ord, coll, bm25, k=K))
    b = _collect_topk(
        wand_topk(qt, postings, docs_ord, coll, bm25, k=K, terms=terms)
    )
    assert a == b


def test_wand_semijoin_prune_above_pushdown_cap(built, queries_df):
    """Above max_pushdown_terms the IN-literal pushdown is replaced by a
    broadcast semi-join prune (NOT no pruning at all); results identical."""
    docs, docs_ord, tf, coll, stats, postings = built
    bm25 = BM25Config()
    qt = prepare_query_terms(queries_df, REFERENCE_PROFILE, bm25)
    a = _collect_topk(wand_topk(qt, postings, docs_ord, coll, bm25, k=K))
    b = _collect_topk(
        wand_topk(qt, postings, docs_ord, coll, bm25, k=K, max_pushdown_terms=2)
    )
    assert a == b


def test_docpart_equals_per_query_wand(built, queries_df, queries_pdf):
    """Doc-partitioned WAND (latency layout) must be EXACTLY rank- and
    score-identical to the per-query layout: disjoint doc ranges mean every
    doc's score is computed whole, in one bucket, with the same float ops."""
    from document_retrieval_spark.query.wand import wand_topk, wand_topk_docpart

    docs, docs_ord, tf, coll, stats, postings = built
    bm25 = BM25Config()
    qt = prepare_query_terms(queries_df, REFERENCE_PROFILE, bm25)
    base = {(r["query_id"], r["rank"], r["docid"], r["score"])
            for r in wand_topk(qt, postings, docs_ord, coll, bm25, k=K).collect()}
    for n_buckets in (1, 3, 7):
        dp = {(r["query_id"], r["rank"], r["docid"], r["score"])
              for r in wand_topk_docpart(qt, postings, docs_ord, coll, bm25,
                                         k=K, n_buckets=n_buckets).collect()}
        assert dp == base, n_buckets
    # serving-layer scalar pass-throughs (avgdl/n_docs floor cuts) must not
    # change a single bit of the result
    avgdl = float(coll.select("avgdl").first()["avgdl"])
    n_docs = docs_ord.count()
    fast = {(r["query_id"], r["rank"], r["docid"], r["score"])
            for r in wand_topk_docpart(qt, postings, docs_ord, coll, bm25,
                                       k=K, n_docs=n_docs,
                                       avgdl=avgdl).collect()}
    assert fast == base
    fast_pq = {(r["query_id"], r["rank"], r["docid"], r["score"])
               for r in wand_topk(qt, postings, docs_ord, coll, bm25, k=K,
                                  avgdl=avgdl).collect()}
    assert fast_pq == base


def test_wand_refuses_negative_idf(spark, built, queries_df):
    """A variant-3/5 stats table (idf without the +1 goes negative for
    df > N/2) must make WAND raise, not silently mis-prune: negative idf
    turns the block-max upper bounds into lower bounds."""
    from pyspark.sql import functions as F
    from pyspark.sql.utils import PythonException

    from document_retrieval_spark.operators.postings import build_postings
    from document_retrieval_spark.query.wand import wand_topk

    docs, docs_ord, tf, coll, stats, _ = built
    neg_stats = stats.withColumn(
        "idf",
        F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)),
    )
    cfg = IndexConfig(n_shards=8, salt_df_threshold=10, n_salts=4, block_size=8)
    neg_postings = build_postings(
        tf.join(docs_ord, "docid"), neg_stats, cfg, BM25Config(), seg_postings=32
    )
    bm25 = BM25Config()
    qt = prepare_query_terms(queries_df, REFERENCE_PROFILE, bm25)
    with pytest.raises(PythonException, match="negative idf"):
        wand_topk(qt, neg_postings, docs_ord, coll, bm25, k=K).collect()


def test_docpart_refuses_lang_partitioned_coll(built, queries_df):
    """ADVICE r3: wand_topk_docpart routes on GLOBAL doc ordinals; handed a
    language-partitioned stats table it would score every language's
    segments against an arbitrary avgdl. It must raise, not mis-score."""
    from pyspark.sql import functions as F

    from document_retrieval_spark.query.wand import wand_topk_docpart

    docs, docs_ord, tf, coll, stats, postings = built
    bm25 = BM25Config()
    qt = prepare_query_terms(queries_df, REFERENCE_PROFILE, bm25)
    lang_coll = coll.withColumn("lang", F.lit("en")).select(
        "lang", "n_docs", "avgdl"
    )
    with pytest.raises(ValueError, match="partition column"):
        wand_topk_docpart(qt, postings, docs_ord, lang_coll, bm25, k=K)
    # and a multi-row coll without a partition column (defensive second net)
    two_row = coll.unionByName(coll)
    with pytest.raises(ValueError, match="2 rows"):
        wand_topk_docpart(qt, postings, docs_ord, two_row, bm25, k=K)


# ---- kernel-exchange sizing ------------------------------------------------


def _shared_vocab_batch(transcripts_pdf, n_queries, n_words, seed):
    """n_queries queries of 2-3 words drawn from the n_words most frequent
    corpus words (the hot, salted terms of the `built` index) -> (query
    pdf, the batch's distinct terms)."""
    from collections import Counter

    import numpy as np
    import pandas as pd

    from document_retrieval_spark.oracle.bm25 import oracle_tokenize

    counts, word_of = Counter(), {}
    for text in transcripts_pdf["text"]:
        for w in text.split():
            toks = oracle_tokenize(w, REFERENCE_PROFILE)
            if len(toks) == 1:
                counts[toks[0]] += 1
                word_of.setdefault(toks[0], w)
    hot = [t for t, _ in counts.most_common(n_words)]
    rng = np.random.default_rng(seed)
    queries = [
        " ".join(word_of[t] for t in rng.choice(
            hot, size=int(rng.integers(2, 4)), replace=False))
        for _ in range(n_queries)
    ]
    pdf = pd.DataFrame({"query_id": [f"s{i:03d}" for i in range(n_queries)],
                        "query": queries})
    terms = sorted({t for q in queries
                    for t in oracle_tokenize(q, REFERENCE_PROFILE)})
    return pdf, terms


def _assert_matches_oracle(got, oracle_index, pdf, bm25):
    for _, row in pdf.iterrows():
        want = oracle_topk(oracle_index, row["query"], REFERENCE_PROFILE,
                           bm25, k=K)
        g = got.get(row["query_id"], [])
        assert len(g) == len(want), row["query_id"]
        for (_, gs), (_, ws) in zip(g, want):
            assert math.isclose(gs, ws, rel_tol=1e-6, abs_tol=1e-9), row["query_id"]
        if want:  # above the boundary tie group the members must agree
            cut = want[-1][1] + 1e-9
            assert ({d for d, s in g if s > cut}
                    == {d for d, s in want if s > cut}), row["query_id"]


def _kernel_stage(spark, group):
    """(tasks, tasks that received rows) of the one applyInPandas kernel
    stage run under job group `group`: the task count from the status
    tracker, the stage found by its FlatMapGroupsInPandas operator and the
    fed tasks by their shuffle-read records in the status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    graph = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph
    stage_ids = {sid for jid in tracker.getJobIdsForGroup(group)
                 for sid in tracker.getJobInfo(jid).stageIds}
    found = []
    for sid in sorted(stage_ids):
        info = tracker.getStageInfo(sid)
        if info is None or info.numCompletedTasks == 0:
            continue  # skipped: its output was reused from an earlier job
        dot = graph.makeDotFile(store.operationGraphForStage(sid))
        if "FlatMapGroupsInPandas" not in dot:
            continue
        tasks = store.taskList(sid, info.currentAttemptId, 1_000_000)
        fed = sum(
            1 for i in range(tasks.size())
            if tasks.apply(i).taskMetrics().get().shuffleReadMetrics()
            .recordsRead() > 0
        )
        found.append((info.numTasks, fed))
    assert len(found) == 1, found
    return found[0]


def _run_in_group(spark, group, df):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_kernel_parts_rule():
    """One wave below the measured crossover, eight waves past it, never
    more buckets than queries; an unknown count caps nothing and an
    unknown corpus counts as small."""
    from document_retrieval_spark.query.plan import DOCPART_MIN_DOCS
    from document_retrieval_spark.query.wand import _kernel_parts

    assert _kernel_parts(200, 1_000, 4) == 4
    assert _kernel_parts(200, DOCPART_MIN_DOCS, 4) == 32
    assert _kernel_parts(3, DOCPART_MIN_DOCS, 4) == 3
    assert _kernel_parts(1, None, 4) == 1
    assert _kernel_parts(None, None, 4) == 4
    assert _kernel_parts(None, 10**12, 4) == 32
    assert _kernel_parts(0, 1_000, 4) == 1  # all-OOV batch


def test_queries_seen_from_capped_id_lists():
    from document_retrieval_spark.query.wand import _queries_seen

    rows = [{"qids": ["a", "b"]}, {"qids": ["b", "c"]}, {"qids": ["a"]}]
    assert _queries_seen(rows, max_terms=3) == 3
    assert _queries_seen(rows, max_terms=2) is None  # collect hit its limit
    assert _queries_seen([], max_terms=5) == 0


def test_small_vocab_batch_fills_one_wave(
    spark, built, transcripts_pdf, oracle_index
):
    """A 200-query batch over <= 64 shared terms, with the term list passed,
    must spread its kernel over at least min(queries, parallelism) tasks
    (an AQE-coalesced exchange would put it in one), with oracle answers."""
    docs, docs_ord, tf, coll, stats, postings = built
    bm25 = BM25Config()
    pdf, terms = _shared_vocab_batch(transcripts_pdf, 200, 40, seed=11)
    assert len(terms) <= 64
    qt = prepare_query_terms(spark.createDataFrame(pdf), REFERENCE_PROFILE, bm25)
    rows = _run_in_group(spark, "wand-small-vocab", wand_topk(
        qt, postings, docs_ord, coll, bm25, k=K, terms=terms))
    n_tasks, fed = _kernel_stage(spark, "wand-small-vocab")
    par = spark.sparkContext.defaultParallelism
    assert n_tasks >= min(len(pdf), par), n_tasks
    assert fed >= 2, fed  # the batch really spread, not one fat task
    _assert_matches_oracle(_by_query(rows), oracle_index, pdf, bm25)


def test_one_query_kernel_runs_in_one_task(
    spark, built, transcripts_pdf, oracle_index
):
    """A one-query call with the term list passed keeps its latency shape:
    the whole query is scored in one kernel task, at most one wave of
    (empty) buckets around it."""
    docs, docs_ord, tf, coll, stats, postings = built
    bm25 = BM25Config()
    pdf, terms = _shared_vocab_batch(transcripts_pdf, 1, 40, seed=12)
    qt = prepare_query_terms(spark.createDataFrame(pdf), REFERENCE_PROFILE, bm25)
    rows = _run_in_group(spark, "wand-one-query", wand_topk(
        qt, postings, docs_ord, coll, bm25, k=K, terms=terms))
    n_tasks, fed = _kernel_stage(spark, "wand-one-query")
    assert fed == 1
    assert n_tasks <= spark.sparkContext.defaultParallelism
    _assert_matches_oracle(_by_query(rows), oracle_index, pdf, bm25)


def test_answers_invariant_to_kernel_partitioning(
    spark, built, transcripts_pdf
):
    """The bucket count only packs whole queries into tasks: the default
    and 1, parallelism and 8 x parallelism buckets give bit-identical
    docids, ranks and scores on a batch that shares hot terms."""
    docs, docs_ord, tf, coll, stats, postings = built
    bm25 = BM25Config()
    pdf, _ = _shared_vocab_batch(transcripts_pdf, 60, 12, seed=13)
    qt = prepare_query_terms(spark.createDataFrame(pdf), REFERENCE_PROFILE, bm25)
    par = spark.sparkContext.defaultParallelism

    def run(n_query_parts):
        return sorted(
            (r["query_id"], r["rank"], r["docid"], r["score"])
            for r in wand_topk(qt, postings, docs_ord, coll, bm25, k=K,
                               n_query_parts=n_query_parts).collect()
        )

    base = run(None)
    assert len(base) > 0
    for n in (1, par, 8 * par):
        assert run(n) == base, n

