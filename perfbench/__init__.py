"""Seeded benchmark of the KG pipeline; run ``python3 perfbench/run.py``."""
