"""Warehouse benchmark: seeded inputs, workloads, checks and tracing."""
