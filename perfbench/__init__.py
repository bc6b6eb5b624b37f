"""Seeded, layered benchmark for the query catalog and the lakehouse
write path. Entry point: ``python3 perfbench/run.py --help``."""
