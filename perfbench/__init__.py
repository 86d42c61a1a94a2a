"""Benchmark for laion_spark: see perfbench/README.md."""
