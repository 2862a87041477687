"""Benchmark of the validation engine's user-level paths (see run.py)."""
