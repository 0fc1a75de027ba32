"""Seeded benchmark of the CDC engine; run with ``python3 perfbench/run.py``."""
