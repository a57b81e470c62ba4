"""Lakehouse engine benchmark: seeded workloads, layer tracing and gates."""
