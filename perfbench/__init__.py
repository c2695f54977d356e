"""Benchmark for the persisted rollup cascade (see perfbench/README.md)."""
