"""Tiling benchmark (see run.py)."""
