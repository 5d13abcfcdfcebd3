"""Benchmark of the spatial-join, tiling, kNN and render paths; see run.py."""
