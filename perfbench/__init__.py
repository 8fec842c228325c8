"""Benchmark of the bigdata_homed_spark engine; entry point: run.py."""
