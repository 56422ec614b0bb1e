"""Benchmark of the terrier_spark IR engine (see perfbench/README.md)."""
