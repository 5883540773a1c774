"""Benchmark of the document_retrieval_spark engine through its public calls.

Run ``python3 perfbench/run.py --workload batch --seed 1 --seconds 1 --trace 0``
from the repository root; see perfbench/README.md.
"""
