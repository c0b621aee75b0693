"""Benchmark of record for spark_extension_spark; run perfbench/run.py."""
