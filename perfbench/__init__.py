"""Crawl benchmark: seeded workloads run through the engine's public API,
checked against a reference, with an optional traced run that attributes
time to the engine's layers from outside them. Entry point: ``run.py``."""
