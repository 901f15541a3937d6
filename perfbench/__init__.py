"""Benchmark of arcon_spark's public functions; run ``perfbench/run.py``."""
