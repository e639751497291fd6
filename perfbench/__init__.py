"""Benchmark for the cminer_spark link-graph engine; see README.md."""
