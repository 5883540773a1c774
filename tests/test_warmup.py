"""Session warm-up failure path: a warm-up that raises part-way must leave
no temp dir and no pinned cache behind, and say so once at WARN."""

from __future__ import annotations

import logging
import os
import tempfile

from document_retrieval_spark.session import _warmup_session


def test_failed_warmup_releases_dir_and_cache(spark, monkeypatch, caplog,
                                              tmp_path):
    import document_retrieval_spark.operators.postings as postings_mod

    sc = spark.sparkContext
    # the warm-up's temp dir lands here, so no other process's dirs count
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    pinned_before = sc._jsc.getPersistentRDDs().size()
    at_failure = {}

    def failing_build_postings(*args, **kwargs):
        # by now the temp dir is written and the collection stats job has
        # materialized the first persisted frames
        at_failure["dirs"] = os.listdir(tmp_path)
        at_failure["pinned"] = sc._jsc.getPersistentRDDs().size()
        raise RuntimeError("injected warm-up failure")

    monkeypatch.setattr(postings_mod, "build_postings", failing_build_postings)
    caplog.set_level(logging.WARNING, logger="document_retrieval_spark")

    _warmup_session(spark)  # must not raise

    assert any(d.startswith("spark_graft_warmup_") for d in at_failure["dirs"])
    assert at_failure["pinned"] > pinned_before
    assert not [d for d in os.listdir(tmp_path)
                if d.startswith("spark_graft_warmup_")]
    assert sc._jsc.getPersistentRDDs().size() == pinned_before
    warns = [r for r in caplog.records
             if r.name == "document_retrieval_spark"
             and r.levelno == logging.WARNING]
    assert len(warns) == 1, warns
    assert "injected warm-up failure" in caplog.text
