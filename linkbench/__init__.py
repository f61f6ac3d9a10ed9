"""Benchmark for the unarxive_spark engine; see README.md."""
