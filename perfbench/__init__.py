"""Benchmark of the waterdata-spark engine; run ``python3 perfbench/run.py``."""
