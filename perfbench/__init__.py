"""Benchmark of the transcript extraction job (see README.md)."""
