"""Seeded workload benchmark for the inverted-index engine (see README.md)."""
