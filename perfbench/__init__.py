"""Benchmark of the engine; see README.md and run.py."""
