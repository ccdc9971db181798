"""Seeded benchmark for the extraction engine; run ``python3 sparkbench/run.py``."""
