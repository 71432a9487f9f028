"""Benchmark for the admarus_spark engine; entry point: perfbench/run.py."""
