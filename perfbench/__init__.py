"""Benchmark for the trend-analytics engine; see perfbench/README.md."""
