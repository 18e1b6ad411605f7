"""Benchmark for the repository: seeded workloads, output checks, traces."""
