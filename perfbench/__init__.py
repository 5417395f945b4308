"""Seeded benchmark of the engine: three workloads, end-to-end and per-layer metrics."""
