"""Benchmark of the engine: seeded inputs, three workloads, output checks and
a traced per-layer run. Entry point: ``python3 perfbench/run.py``."""
