"""Benchmark for the leaf_spark engine; see README.md."""
