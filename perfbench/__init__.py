"""Benchmark for the fruits_spark rollup engine (see BENCHMARK.md)."""
