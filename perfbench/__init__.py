"""Benchmark for canal-spark; see run.py."""
