"""Benchmark of the link-graph engine; see README.md and run.py."""
