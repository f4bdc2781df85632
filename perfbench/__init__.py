"""Seeded benchmark harness for hllspark (see perfbench/README.md)."""
