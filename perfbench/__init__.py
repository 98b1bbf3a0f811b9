"""Benchmark harness for the engine: seeded workloads, DuckDB output
checks and a traced per-layer run.  Entry point: ``perfbench/run.py``."""
