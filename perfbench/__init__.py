"""Seeded benchmark of the engine; run ``python3 perfbench/run.py --help``."""
