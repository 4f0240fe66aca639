"""Seeded workloads and per-layer tracing for the engine; see README.md."""
