"""Benchmark of the extraction pipeline; see README.md."""
