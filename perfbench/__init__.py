"""Benchmark of the datacompy_spark engine; see run.py."""
