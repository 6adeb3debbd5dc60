"""Benchmark of the contacts engine; see run.py and README.md."""
