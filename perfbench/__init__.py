"""Benchmark of the profitscout engine; see README.md."""
