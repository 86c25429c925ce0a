"""Benchmark of the hearthstats_spark engine; see perfbench/README.md."""
