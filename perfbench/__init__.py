"""Benchmark of the in-situ loop and the declared-query panel."""
