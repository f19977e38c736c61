"""Benchmark of the catalog plane and the Spark query plane (README.md)."""
