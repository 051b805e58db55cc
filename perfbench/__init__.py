"""Benchmark for impresso_ta; see README.md."""
