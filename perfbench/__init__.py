"""Standalone end-to-end and per-layer benchmark of the package (see run.py)."""
