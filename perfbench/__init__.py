"""Benchmark for the docetl_spark engine; see README.md."""
