"""Benchmark for the pipeline engine: seeded ingest and serve workloads
with end-to-end and per-layer metrics (see README.md)."""
