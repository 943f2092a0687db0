"""Benchmark of map_reduce_go_spark; see README.md."""
