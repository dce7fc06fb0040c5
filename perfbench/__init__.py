"""Benchmark for quickwit_spark: see README.md."""
