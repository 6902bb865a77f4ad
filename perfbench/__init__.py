"""Benchmark for furchild_spark; see README.md."""
