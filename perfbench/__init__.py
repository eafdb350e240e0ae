"""Benchmark of the link-graph engine; run.py is the entry point."""
