"""Benchmark of the EVM indexing engine; run ``perfbench/run.py``."""
