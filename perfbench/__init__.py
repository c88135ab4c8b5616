"""Benchmark of flink_assignment_spark; entry point ``perfbench/run.py``."""
