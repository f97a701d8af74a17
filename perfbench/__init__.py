"""Benchmark of go_fish_spark: see README.md."""
