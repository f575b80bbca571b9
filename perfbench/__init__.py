"""Benchmark of the package: see run.py."""
