"""Benchmark of the engine: workloads, traced runs and their metrics."""
