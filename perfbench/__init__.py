"""Benchmark of the engine: see README.md in this directory."""
