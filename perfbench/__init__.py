"""Benchmark for geomesa_spark: closed-loop workloads, output checks
and a traced per-layer breakdown. Run ``python3 perfbench/run.py --help``."""
